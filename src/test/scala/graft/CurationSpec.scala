package graft

import graft.operators.{CdcSuite, CurationSuite}
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpecBase {

  test("chunk_split: geometry covers every document with the right stride") {
    val rows = CurationSuite.queries("text_chunk_split")(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == docs.keySet,
      "every document must produce at least one chunk")
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, cs) =>
      val n = docs(id)
      val sorted = cs.sortBy(_.getAs[Int]("chunk_idx"))
      // chunk starts advance by exactly the stride
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Long]("start_off") == i * 150L)
      }
      // chunks cover the tail: last chunk reaches n_chars
      val last = sorted.last
      assert(last.getAs[Long]("start_off") + last.getAs[Long]("chunk_len") == n || n == 0)
      // one more chunk would start past the end
      assert(sorted.length == 1 || (sorted.length - 1) * 150L < n)
      // all non-final chunks are full-width
      sorted.dropRight(1).foreach(c => assert(c.getAs[Long]("chunk_len") == 200L))
    }
  }

  test("dedup_incremental finds each injected copy against the corpus only") {
    val rows = CurationSuite.queries("dedup_incremental")(spark, sf).collect()
    assert(rows.nonEmpty, "injected +1000000 copies must near-dup their originals")
    rows.foreach { r =>
      val newId = r.getAs[Long]("new_id")
      val dupOf = r.getAs[Long]("dup_of")
      assert(newId >= 1000000L, "left side must be the new batch")
      assert(dupOf < 1000000L, "right side must be the standing corpus")
      assert(r.getAs[Double]("jaccard") >= 0.7)
    }
    // every injected exact copy long enough to shingle is rediscovered
    val found = rows.map(r => r.getAs[Long]("new_id") -> r.getAs[Long]("dup_of")).toSet
    val expected = graft.operators.DedupSuite.shingleSets(spark, sf)
      .filter(col("doc_id") >= 1000000L).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    expected.foreach { id =>
      assert(found.contains(id -> (id - 1000000L)), s"copy $id must match its original")
    }
  }

  test("span dedup: injected copies make every span of a copied doc cross-doc") {
    val rows = CurationSuite.queries("dedup_span_exact")(spark, sf).collect()
    assert(rows.nonEmpty, "injected exact copies must share spans")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("first_doc") < 1000000L,
        "first_doc is the corpus-side original (min doc_id)")
    }
    // span hashes are distinct rows
    val hs = rows.map(_.getAs[Long]("span_h"))
    assert(hs.distinct.length == hs.length)
  }

  test("containment: exact copies contain each other fully; values bounded") {
    val rows = CurationSuite.queries("dedup_containment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ab, ba) = (r.getAs[Double]("c_ab"), r.getAs[Double]("c_ba"))
      assert(ab >= 0.0 && ab <= 1.0 && ba >= 0.0 && ba <= 1.0)
      assert(math.max(ab, ba) >= 0.8)
    }
    // an injected exact copy has containment 1.0 in both directions
    val exact = rows.filter(r => r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L)
    assert(exact.nonEmpty)
    exact.foreach { r =>
      assert(r.getAs[Double]("c_ab") == 1.0 && r.getAs[Double]("c_ba") == 1.0)
    }
  }

  test("fuzzy levenshtein dedup: exact copies at distance 0, ordered pairs") {
    val rows = CurationSuite.queries("dedup_fuzzy_levenshtein")(spark, sf).collect()
    assert(rows.nonEmpty, "injected exact copies must collide and verify at distance 0")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Int]("edit_dist") >= 0 && r.getAs[Int]("edit_dist") <= 30)
    }
    // every injected copy pair (identical text) must appear with dist 0
    val zero = rows.filter(_.getAs[Int]("edit_dist") == 0)
      .map(r => r.getAs[Long]("doc_a") -> r.getAs[Long]("doc_b")).toSet
    val injected = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0).select("doc_id").collect().map(_.getLong(0))
    injected.foreach { id =>
      assert(zero.contains(id -> (id + 1000000L)), s"copy pair for $id missing")
    }
  }

  test("quality-weighted sampling is deterministic and quality-monotone in aggregate") {
    val q = CurationSuite.queries("sample_quality_weighted")(spark, sf)
    val a = q.collect()
    val b = q.collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "no RNG — identical re-runs")
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(a.length > 0 && a.length < total, "acceptance sampling keeps a strict subset")
    a.foreach(r => assert(r.getAs[Double]("q") >= 0.0 && r.getAs[Double]("q") <= 1.0))
  }

  test("tolerant rowlevel: sub-tolerance float drift absorbed, real drift flagged") {
    val rows = graft.operators.ReconSuite.queries("recon_rowlevel_tolerant")(spark, sf).collect()
    assert(rows.nonEmpty)
    val flagged = rows.map(_.getAs[Long]("o_orderkey")).toSet
    // exactly the +0.01 keys, never the +1e-10 keys
    assert(flagged.forall(_ % 17 == 0))
    val all17 = graft.sources.Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 17 === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(flagged == all17, "every beyond-tolerance key must be flagged")
  }

  test("repair script: transactional frame, grouped sections, every statement present") {
    val lines = graft.operators.ReconSuite.queries("recon_repair_script")(spark, sf)
      .collect().map(_.getAs[String]("line"))
    assert(lines.head == "-- Repair script for orders")
    assert(lines.contains("BEGIN;") && lines.last == "COMMIT;")
    assert(lines.indexOf("BEGIN;") < lines.indexWhere(_.startsWith("INSERT")))
    // statement grouping: all INSERTs before all DELETEs before all UPDATEs
    val verbs = lines.filter(l => l.startsWith("INSERT") || l.startsWith("DELETE")
      || l.startsWith("UPDATE")).map(_.take(6)).toSeq
    assert(verbs == verbs.sortBy(Seq("INSERT", "DELETE", "UPDATE").indexOf(_)))
    // count banners agree with the statements they announce
    val nIns = verbs.count(_ == "INSERT")
    assert(lines.contains(s"-- Insert $nIns missing rows"))
    // statement set identical to recon_repair's
    val flat = graft.operators.ReconSuite.queries("recon_repair")(spark, sf)
      .collect().map(_.getAs[String]("repair_sql")).toSet
    assert(lines.filter(l => l.startsWith("INSERT") || l.startsWith("DELETE")
      || l.startsWith("UPDATE")).toSet == flat)
  }

  test("dlq routing quarantines exactly the corrupted keys") {
    val rows = CdcSuite.queries("cdc_dlq_route")(spark, sf).collect()
      .map(r => r.getAs[String]("route") -> r).toMap
    assert(rows.keySet == Set("ok", "dlq"))
    assert(rows("dlq").getAs[Long]("min_id") % 19 == 0)
    assert(rows("dlq").getAs[Long]("max_id") % 19 == 0)
    val total = rows("ok").getAs[Long]("n_events") + rows("dlq").getAs[Long]("n_events")
    val logSize = graft.sources.Tables.orders(spark, sf).count() // seq-1 creates
    assert(total > logSize, "all three log generations must be routed")
  }

  test("compact log replays to the same state as the full log") {
    val compacted = CdcSuite.queries("cdc_compact_log")(spark, sf).collect()
    // tombstones survive compaction with a nulled payload
    val tombs = compacted.filter(_.getAs[String]("op") == "d")
    assert(tombs.nonEmpty)
    tombs.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("custkey")) && r.isNullAt(r.fieldIndex("status")))
      assert(r.getAs[Long]("id") % 13 == 0)
    }
    // replaying the compacted log (drop tombstones) == apply_latest state
    val replay = compacted.filter(_.getAs[String]("op") != "d")
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("custkey"), r.getAs[String]("status")))
      .toSet
    val state = CdcSuite.queries("cdc_apply_latest")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("custkey"), r.getAs[String]("status")))
      .toSet
    assert(replay == state)
  }

  test("stream_compact_log equals the batch compaction row-for-row") {
    val stream = graft.streaming.CdcStream.queries("stream_compact_log")(spark, sf)
      .collect().map(_.toSeq)
    val batch = CdcSuite.queries("cdc_compact_log")(spark, sf).collect().map(_.toSeq)
    assert(stream.length == batch.length && stream.toSeq == batch.toSeq,
      "streaming compaction must converge to the batch compacted log")
  }

  test("stream_scd2 equals the batch SCD2 build row-for-row") {
    val stream = graft.streaming.CdcStream.queries("stream_scd2")(spark, sf)
      .collect().map(_.toSeq)
    val batch = CdcSuite.queries("cdc_scd2_build")(spark, sf).collect().map(_.toSeq)
    assert(stream.length == batch.length)
    assert(stream.toSeq == batch.toSeq,
      "streaming state machine must converge to the batch dimension")
  }

  test("stream_dedup_cdc equals its bulk batch formulation (appends banded, deletes tombstoned)") {
    import graft.operators.DedupSuite
    org.apache.spark.sql.graft.Bridge.register(spark)
    val streamed = graft.streaming.CdcStream.queries("stream_dedup_cdc")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    // the bulk twin: same base index, one band append of all c ops, one
    // tombstone batch of all d keys, the same probe batch
    val sh = DedupSuite.shingleSets(spark, sf).localCheckpoint()
    val dir = graft.sources.Scratch.dir("dedup_cdc_bulk_twin")
    DedupSuite.bandIndexSave(
      DedupSuite.minhashBands(sh.filter(col("doc_id") < 1000000L)), dir)
    DedupSuite.bandIndexAppend(DedupSuite.minhashBands(
      sh.filter(col("doc_id") >= 1000000L && col("doc_id") % 20 === 0)), dir, 0L)
    DedupSuite.BandStore.delete(spark, dir, sh.filter(
        (col("doc_id") < 1000000L && col("doc_id") % 20 === 0) ||
        (col("doc_id") >= 1000000L && col("doc_id") % 40 === 0)).select("doc_id"),
      "doc_id", batchId = 1L)
    val batchBands = DedupSuite.gateHotBuckets(
      DedupSuite.minhashBands(sh.filter(
        col("doc_id") >= 1000000L && col("doc_id") % 20 === 10)),
      Seq("band", "bucket"))
    val cands = batchBands.as("n")
      .join(DedupSuite.BandStore.load(spark, dir).as("c"),
        col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
      .dropDuplicates("new_id", "dup_of")
    val bulk = CurationSuite.verifyCands(cands, sh)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed === bulk)
  }

  test("scd2 versions: contiguous validity, one current version per live key") {
    val rows = CdcSuite.queries("cdc_scd2_build")(spark, sf).collect()
    val byKey = rows.groupBy(_.getAs[Long]("id"))
    byKey.foreach { case (id, vs) =>
      val sorted = vs.sortBy(_.getAs[Long]("valid_from"))
      // intervals chain: each version's valid_to is the next's valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"))
        case _ =>
      }
      val open = vs.count(_.getAs[Boolean]("is_current"))
      if (id % 13 == 0) assert(open == 0, "deleted keys have no open version")
      else assert(open == 1, "live keys have exactly one open version")
      // updated keys carry two versions, the current one with status U
      if (id % 7 == 0 && id % 13 != 0) {
        assert(vs.length == 2)
        assert(sorted.last.getAs[String]("status") == "U")
      }
    }
  }
}
