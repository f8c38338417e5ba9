package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnSuite
import graft.sources.{Scratch, Tables}

/** PQ serving persistence (the ivfSave/ivfLoad twins for the
  * quantized family): train once, parquet-persist codebook + codes,
  * reload in a FRESH session, serve query batches by ADC with no
  * retraining and no corpus access beyond the codes — plus the IVFADC
  * composition's core claim, that probing coarse cells first changes
  * WHAT is scanned, never what a scanned candidate scores.
  */
class PqPersistSpec extends SparkSpecBase {

  private val (m, dsub, ksub) = (8, 8, 16)

  test("persisted PQ index serves identically to the fused train+serve") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fused = AnnSuite.pqSearch(e, queries, m, dsub, ksub, topK = 5)
      .orderBy("query_id", "rk").collect()
    assert(fused.nonEmpty)

    val dir = Scratch.dir("pq_persist_spec")
    val book = AnnSuite.pqTrain(e, m, dsub, ksub)
    AnnSuite.pqSave(
      AnnSuite.PqIndex(book, AnnSuite.pqEncode(e, book, m, dsub), m, dsub), dir)

    val fresh = spark.newSession()
    val loaded = AnnSuite.pqLoad(fresh, dir)
    // m/dsub re-derive from the book row itself
    assert(loaded.m === m && loaded.dsub === dsub)
    val fromLoaded = AnnSuite.pqQuery(loaded,
      Tables.embeddings(fresh, sf).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding")),
      topK = 5).orderBy("query_id", "rk").collect()
    assert(fromLoaded.map(_.toString).toSeq === fused.map(_.toString).toSeq)
  }

  test("serving from a loaded PQ index never rescans the corpus or retrains") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir("pq_noscan_spec")
    val book = AnnSuite.pqTrain(e, m, dsub, ksub)
    AnnSuite.pqSave(
      AnnSuite.PqIndex(book, AnnSuite.pqEncode(e, book, m, dsub), m, dsub), dir)
    val loaded = AnnSuite.pqLoad(spark, dir)
    val servePlan = AnnSuite.pqQuery(loaded,
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding")),
        topK = 5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the only embeddings access is the (tiny) query side; the
    // training explode (posexplode of subspace slices) must be absent
    assert(!servePlan.contains("posexplode"),
      s"serving plan retrains the codebook:\n$servePlan")
    assert(!servePlan.contains("CartesianProduct"))
  }

  test("code-store tombstones mask IVFADC serving at once; ivfPqCompact purges them") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivfpq_delete_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e, "vec_id", "embedding",
      kCoarse = AnnSuite.IvfK, m = m, dsub = dsub, ksub = ksub), dir)
    val doomed = e.filter(col("vec_id") % 11 === 5).select("vec_id")
    val nDoomed = doomed.count()
    assert(nDoomed > 0)
    assert(AnnSuite.CodesStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))
    def served() = AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      nprobe = AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk").collect().map(_.toString).toSeq
    // masked immediately — no deleted id in the code view or the top-k
    assert(AnnSuite.pqLoad(spark, dir).codes
      .filter(col("cand_id") % 11 === 5).count() === 0L)
    assert(AnnSuite.pqLoad(spark, dir).codes.count() === e.count() - nDoomed)
    val masked = served()
    assert(masked.nonEmpty)
    // purge: the compacted code base physically excludes them and the
    // delete channel resets; the served top-k is unchanged
    assert(AnnSuite.CodesStore.compact(spark, dir), "deletes-only compaction must fold")
    val lay = AnnSuite.CodesStore.resolve(spark, dir)
    assert(lay.gen === 1)
    assert(spark.read.parquet(s"$dir/${lay.base}")
      .filter(col("cand_id") % 11 === 5).count() === 0L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes_deletes_v1.parquet")))
    assert(served() === masked)
    // the folded delete's batchId is under the watermark → replay no-ops
    assert(!AnnSuite.CodesStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))
  }

  test("ivfPqRetrain swaps the serving quadruple atomically; torn retrains invisible; appends use the new book") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivfpq_retrain_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m = m, dsub = dsub, ksub = ksub), dir)
    AnnSuite.ivfPqAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    def served() = AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      nprobe = AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk").collect().map(_.toString).toSeq
    val stale = served()

    // torn retrain: codes/centroids/book/flags all landed versioned,
    // but no manifest — readers keep the OLD quadruple bit-identically
    assert(!AnnSuite.ivfPqRetrain(spark, dir, e, "vec_id", "embedding",
      crashBeforeCommit = true))
    assert(AnnSuite.CodesStore.resolve(spark, dir).gen === 0)
    assert(AnnSuite.CodesStore.sidecarPath(spark, dir, "book")
      .endsWith("/book.parquet"),
      "a torn retrain's book leaked into the serving path")
    assert(served() === stale)

    // the redo commits: the swapped index equals a fresh full-corpus
    // build (the oracle's claim, asserted engine-side)
    assert(AnnSuite.ivfPqRetrain(spark, dir, e, "vec_id", "embedding"))
    assert(AnnSuite.CodesStore.sidecarPath(spark, dir, "book")
      .endsWith("book_v1.parquet"))
    val freshDir = Scratch.dir("ivfpq_retrain_fresh")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e, "vec_id", "embedding",
      AnnSuite.IvfK, m = m, dsub = dsub, ksub = ksub), freshDir)
    val fresh = AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoad(spark, freshDir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      nprobe = AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk").collect().map(_.toString).toSeq
    assert(served() === fresh)

    // the retrain folded batch 0 → replay refused; a fresh append
    // lands and its codes equal an encode at the NEW book
    assert(!AnnSuite.ivfPqAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L))
    val novel = e.filter(col("vec_id") === 7L)
      .withColumn("vec_id", col("vec_id") + 8000000L)
      .select("vec_id", "embedding")
    assert(AnnSuite.ivfPqAppend(spark, dir, novel, "vec_id", "embedding",
      batchId = 1L))
    val (book1, m1, d1) = AnnSuite.pqBookLoad(spark, dir)
    assert(AnnSuite.pqBookLoad(spark, dir)._1.inputFiles
      .exists(_.contains("book_v1.parquet")))
    val expect = AnnSuite.ivfPqEncodeBatch(spark, dir, novel,
      "vec_id", "embedding", book1, m1, d1,
      AnnSuite.ivfPqResidualFlag(spark, dir))
      .select("cand_id", "codes").collect().map(_.toString).toSeq
    val got = AnnSuite.pqLoad(spark, dir).codes
      .filter(col("cand_id") === 8000007L)
      .select("cand_id", "codes")
      .collect().map(_.toString).toSeq
    assert(got === expect)
  }

  test("carried attributes ride the code store through append/compact/retrain; filter pushes to the code scan") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivfpq_carry_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m = m, dsub = dsub, ksub = ksub,
      carry = Seq("label")), dir)
    assert(AnnSuite.CodesStore.carryOf(spark, dir) === Seq("label"))
    // appends derive the carry list from the base codes' schema
    assert(AnnSuite.ivfPqAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L))
    assert(AnnSuite.CodesStore.compact(spark, dir))
    val loaded = AnnSuite.pqLoad(spark, dir, carry = Seq("label"))
    assert(loaded.codes.columns.toSeq === Seq("cand_id", "codes", "cell", "label"))
    assert(loaded.codes.count() === e.count())
    // carried labels must MATCH the corpus rows they rode in with
    val mismatch = loaded.codes.select(col("cand_id").as("vec_id"),
        col("label").as("got"))
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .filter(col("got") =!= col("label")).count()
    assert(mismatch === 0L)
    // the attribute predicate reaches the code scan as a pushed filter
    val p = loaded.codes.filter(col("label") === 3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.linesIterator.filter(_.trim.startsWith("PushedFilters"))
      .mkString("\n").contains("label"),
      s"label predicate was not pushed to the code scan:\n$p")
    // a retrain rebuilds codes from the source corpus and keeps carry
    assert(AnnSuite.ivfPqRetrain(spark, dir, e, "vec_id", "embedding"))
    val re = AnnSuite.pqLoad(spark, dir, carry = Seq("label"))
    assert(re.codes.columns.toSeq === Seq("cand_id", "codes", "cell", "label"))
    assert(re.codes.count() === e.count())
  }

  test("a completed purge survives an ivfPqRetrain driven from the raw lake frame") {
    // right-to-be-forgotten durability: delete → compact (physical
    // purge, channel cleared) → retrain from the LAKE corpus, which
    // still carries the deleted rows. The cumulative purged record the
    // compaction wrote must keep them out of the rebuilt codes —
    // without it the retrain would quietly undo a completed purge.
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir("pq_purge_retrain_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e, "vec_id", "embedding",
      AnnSuite.IvfK, m, dsub, ksub), dir)
    val doomed = e.filter(col("vec_id") % 11 === 5).select("vec_id")
    assert(doomed.count() > 0)
    assert(AnnSuite.CodesStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))
    assert(AnnSuite.CodesStore.compact(spark, dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/codes_deletes_v1.parquet")),
      "matched tombstones must purge with the channel")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes_purged.parquet")),
      "the compaction must record the purged keys durably")
    // the retrain's corpus is the RAW lake frame (deleted rows present)
    assert(AnnSuite.ivfPqRetrain(spark, dir, e, "vec_id", "embedding"))
    val codes = AnnSuite.pqLoad(spark, dir).codes
    assert(codes.filter(col("cand_id") % 11 === 5).count() === 0L,
      "the retrain re-indexed rows whose purge had completed")
    assert(codes.count() === e.count() - doomed.count())
  }

  test("LWW code store: an update of a live id supersedes its encoding; one row per id") {
    // the quantized upsert discipline end-to-end: u of a live id lands
    // a re-encoded segment row; pqLoadLww serves exactly one code row
    // per cand_id with the NEW encoding; a delete-then-reinsert
    // revives; the stream twin equals this bulk formulation
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir("pq_lww_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m, dsub, ksub), dir)
    val ups = e.filter(col("vec_id") % 7 =!= 3 && col("vec_id") % 5 === 1)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val nUps = ups.count()
    assert(nUps > 0)
    assert(AnnSuite.ivfPqAppend(spark, dir, ups, "vec_id", "embedding", batchId = 0L))
    // terminal read would now DUPLICATE the updated ids; the LWW read
    // serves one row per id, and it is the re-encoded one
    val lww = AnnSuite.pqLoadLww(spark, dir).codes
    assert(lww.groupBy("cand_id").count().filter(col("count") > 1).count() === 0L,
      "LWW code view served a duplicated cand_id")
    assert(lww.count() === e.filter(col("vec_id") % 7 =!= 3).count())
    val freshCodes = AnnSuite.ivfPqEncodeBatch(spark, dir, ups,
      "vec_id", "embedding", AnnSuite.pqBookLoad(spark, dir)._1, m, dsub,
      residual = false)
      .select("cand_id", "codes").collect().map(_.toString).sorted.toSeq
    val served = lww.join(ups.select(col("vec_id").as("cand_id")), Seq("cand_id"))
      .select("cand_id", "codes").collect().map(_.toString).sorted.toSeq
    assert(served === freshCodes, "a live-id update did not supersede its encoding")
    // the upsert fold keeps exactly the LWW view and carries no tombstones
    assert(AnnSuite.CodesStore.delete(spark, dir,
      e.filter(col("vec_id") === 1).select("vec_id"), "vec_id", batchId = 1L))
    assert(AnnSuite.CodesStore.upsertCompact(spark, dir))
    val folded = AnnSuite.pqLoadLww(spark, dir).codes
    assert(folded.filter(col("cand_id") === 1).count() === 0L)
    assert(folded.count() === lww.count() - 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/codes_deletes_v1.parquet")),
      "an LWW fold must not carry tombstones")
    // post-fold re-insert supersedes the folded tombstone
    assert(AnnSuite.ivfPqAppend(spark, dir,
      e.filter(col("vec_id") === 1), "vec_id", "embedding", batchId = 2L))
    assert(AnnSuite.pqLoadLww(spark, dir).codes
      .filter(col("cand_id") === 1).count() === 1L)
  }

  test("IVFADC scores equal flat ADC on every candidate it scans (pruning changes coverage, not scores)") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 5)
    // flat ADC over everything, wide enough to cover all candidates
    val n = e.count().toInt
    val flat = AnnSuite.pqSearch(e,
        queries.select(col("vec_id").as("query_id"), col("embedding")),
        m, dsub, ksub, topK = n)
      .select("query_id", "cand_id", "adist_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val composed = AnnSuite.ivfPqQuery(
        AnnSuite.ivfPqBuild(e, "vec_id", "embedding",
          AnnSuite.IvfK, m, dsub, ksub),
        queries, "vec_id", "embedding", AnnSuite.IvfNProbe, topK = 5)
      .collect()
    assert(composed.nonEmpty)
    composed.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(flat.get(key).contains(r.getAs[Long]("adist_e6")),
        s"IVFADC re-quantized candidate $key differently from flat ADC")
    }
  }
}
