package graft

import org.apache.spark.sql.functions._

/** Substring-level exact dedup (the Lee et al. 2022 rolling-window
  * pass). The property that justifies it alongside dedup_span_exact:
  * templated boilerplate that CROSSES a sentence boundary is invisible
  * to sentence-granularity dedup (no complete sentence repeats), but
  * every w-token window inside the boilerplate still collides.
  */
class DedupSubstringSpec extends SparkSpecBase {

  // 12 tokens of boilerplate with a period in the MIDDLE of it: the
  // shared region spans a sentence boundary, so neither of its two
  // sentence fragments repeats as a complete sentence once embedded in
  // different surroundings.
  private val boiler =
    "subscribe to our newsletter today. unsubscribe any time via the account page"

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, s"alpha bravo charlie delta echo $boiler foxtrot golf hotel india"),
      (2L, s"one two three four five six seven $boiler eight nine ten"),
      (3L, "completely unrelated words that never repeat anywhere in this corpus at all")
    ).toDF("doc_id", "text")
  }

  test("cross-sentence boilerplate is caught as a merged span in both docs") {
    val spans = graft.operators.DedupSuite.substringDupSpans(corpus, 8)
      .orderBy("doc_id", "start_tok").collect()
    // only the two boilerplate carriers are flagged; the clean doc is not
    assert(spans.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // doc 1: boilerplate occupies tokens 6..17 (1-based); with w=8 the
    // colliding windows are exactly those fully inside it (starts 6..10),
    // merged into ONE maximal span [6, 17]
    val d1 = spans(0)
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(3)) === ((6L, 17L, 5L)))
    // doc 2: same 12 tokens starting at token 8
    val d2 = spans(1)
    assert((d2.getLong(1), d2.getLong(2), d2.getLong(3)) === ((8L, 19L, 5L)))
  }

  test("sentence-level dedup misses the same boilerplate (the gap this operator closes)") {
    // the dedup_span_exact shape at its own granularity: split on '. ',
    // hash complete spans, flag spans appearing in >1 doc. The
    // boilerplate's two fragments each carry different surrounding
    // words, so NO span repeats.
    val spans = corpus
      .select(col("doc_id"), explode(split(lower(col("text")), "\\. ")).as("span"))
      .groupBy("span").agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
    assert(spans.count() === 0L)
  }

  test("apply: canonical first occurrence survives, later carriers lose exactly the boilerplate") {
    val out = graft.operators.DedupSuite.substringDedupApply(corpus, 8)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // doc 1 holds the corpus-canonical first occurrence of every
    // boilerplate window (lowest (doc_id, pos) per hash): fully intact
    assert(out(0).getLong(2) === 0L)
    assert(out(0).getString(1) ===
      s"alpha bravo charlie delta echo $boiler foxtrot golf hotel india")
    // doc 2 loses exactly the 12 boilerplate tokens (positions 8..19)
    assert(out(1).getLong(2) === 12L)
    assert(out(1).getString(1) === "one two three four five six seven eight nine ten")
    // the clean doc passes through untouched
    assert(out(2).getLong(2) === 0L)
  }

  test("flagged windows overlapping with a gap (starts differing by 2..w-1) merge into one span") {
    val s = spark
    import s.implicits._
    // doc 1 = t1..t10; doc 2 repeats windows t1..t8 and t3..t10 but NOT
    // t2..t9 (an 'x' breaks it), so doc 1's flagged window starts are
    // {1, 3}: start 2 is unique corpus-wide, yet windows 1 and 3 still
    // overlap (gap 2 <= w-1 = 7) — the maximal duplicated region is ONE
    // span [1, 10], not two overlapping ones
    val a = (1 to 10).map(i => s"t$i").mkString(" ")
    val b = ((1 to 8).map(i => s"t$i") ++ Seq("x") ++ (3 to 10).map(i => s"t$i"))
      .mkString(" ")
    val spans = graft.operators.DedupSuite
      .substringDupSpans(Seq((1L, a), (2L, b)).toDF("doc_id", "text"), 8)
      .orderBy("doc_id", "start_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc 2's flagged starts {1, 10} have gap 9 > w-1: two islands
    assert(spans === Seq((1L, 1L, 10L, 2L), (2L, 1L, 8L, 1L), (2L, 10L, 17L, 1L)))
  }

  test("stream_dedup_substring: N micro-batch probes equal one bulk probe; mutated spans start at 2") {
    import graft.operators.DedupSuite
    import graft.sources.{Scratch, Tables}
    val streamed = graft.streaming.CdcStream.queries("stream_dedup_substring")(spark, sf)
      .collect()
    // the probe is stateless given the standing index, so the 4 folded
    // micro-batches must equal ONE bulk (arriving × standing) pass
    val w = DedupSuite.SubstringW
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val idxDir = Scratch.dir("sub_bulk_idx")
    DedupSuite.substringIndexSave(docs, w, idxDir)
    val arriving = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("zzzmutation "), col("text")).as("text"))
    val bulk = DedupSuite.substringProbeBatch(spark, idxDir, arriving, w)
      .orderBy("doc_id", "start_tok").collect()
    assert(streamed.nonEmpty &&
      streamed.map(_.toString).toSeq === bulk.map(_.toString).toSeq)
    // the prepended novel token means window 1 is genuinely new
    // content: every detected span starts at token 2 — the probe found
    // standing boilerplate EMBEDDED in new material, not a degenerate
    // whole-doc match
    assert(streamed.forall(_.getLong(1) === 2L))
    // consumed as exactly the 4 metered one-file micro-batches
    val prog = graft.streaming.CdcStream.progressLog("stream_dedup_substring")
    val dataBatches = prog.filter(_._1 > 0)
    assert(dataBatches.length == 4,
      s"expected 4 one-file micro-batch probes, got ${dataBatches.length}")
    assert(dataBatches.map(_._1).sum === arriving.count())
  }

  test("the standing index grows by segments: probes see appended hashes, compaction and replays are safe") {
    import graft.operators.DedupSuite
    import graft.sources.Scratch
    val s = spark
    import s.implicits._
    val w = 8
    val standingDoc = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val newDoc = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val dir = Scratch.dir("sub_seg_idx")
    // base index knows only standingDoc
    DedupSuite.substringIndexSave(Seq((1L, standingDoc)).toDF("doc_id", "text"), w, dir)
    // an arriving copy of newDoc is invisible to the base...
    val arriving = Seq((100L, "zzz " + newDoc)).toDF("doc_id", "text")
    assert(DedupSuite.substringProbeBatch(spark, dir, arriving, w).count() === 0L)
    // ...until newDoc's hashes land as a committed append segment
    assert(DedupSuite.substringIndexAppend(
      Seq((2L, newDoc)).toDF("doc_id", "text"), w, dir, batchId = 0L))
    val spans = DedupSuite.substringProbeBatch(spark, dir, arriving, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spans === Seq((100L, 2L, 11L)),
      s"probe missed the appended doc's boilerplate: $spans")
    // a doc whose hashes enter through BOTH base and a second segment
    // flags once, not twice (the probe dedups its flagged set)
    assert(DedupSuite.substringIndexAppend(
      Seq((3L, standingDoc)).toDF("doc_id", "text"), w, dir, batchId = 1L))
    val arrStanding = Seq((200L, "zzz " + standingDoc)).toDF("doc_id", "text")
    val spans2 = DedupSuite.substringProbeBatch(spark, dir, arrStanding, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(spans2 === Seq((200L, 2L, 11L, 3L)))
    // compaction folds the segments into a distinct base generation
    // without changing what probes see
    assert(DedupSuite.HashStore.compact(spark, dir))
    assert(DedupSuite.HashStore.load(spark, dir)
      .groupBy("h").count().filter(col("count") > 1).count() === 0L,
      "compaction left duplicate hashes in the folded base")
    assert(DedupSuite.substringProbeBatch(spark, dir, arriving, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((100L, 2L, 11L)))
    // a replay of a folded batch is a no-op (the manifest watermark)
    assert(!DedupSuite.substringIndexAppend(
      Seq((2L, newDoc)).toDF("doc_id", "text"), w, dir, batchId = 1L))
  }

  test("windows shorter than w and unique docs produce no spans") {
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, "too short"), (2L, "too short")).toDF("doc_id", "text")
    // both docs identical but under w tokens: no window exists, no flag
    assert(graft.operators.DedupSuite.substringDupSpans(tiny, 8).count() === 0L)
  }
}
