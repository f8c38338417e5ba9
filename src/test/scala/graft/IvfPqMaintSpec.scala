package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnSuite
import graft.sources.{Scratch, Tables}

/** The quantized living index (IVFADC maintenance): appending at the
  * persisted index's FIXED coarse centroids + FIXED codebook must cost
  * ∝ batch, equal the bulk formulation row-for-row, fold crash-safely,
  * and refuse replays a compaction already folded — plus the residual
  * variant's persisted round-trip.
  */
class IvfPqMaintSpec extends SparkSpecBase {

  private val (m, dsub, ksub) = (8, 8, 16)

  test("ivfPqAppend encodes only the batch and never reads the standing codes") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val base = e.filter(col("vec_id") % 7 =!= 3)
    val batch = e.filter(col("vec_id") % 7 === 3)
    val dir = Scratch.dir("ivfpq_append_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(base, "vec_id", "embedding",
      AnnSuite.IvfK, m, dsub, ksub), dir)
    val baseCodes = spark.read.parquet(s"$dir/codes.parquet").count()

    // cost ∝ batch: the encode plan reads the batch leg, the (tiny)
    // centroids table, and the one-row book — and must NOT touch the
    // standing cell-partitioned codes
    val (book, bm, bdsub) = AnnSuite.pqBookLoad(spark, dir)
    val plan = AnnSuite.ivfPqEncodeBatch(spark, dir, batch,
        "vec_id", "embedding", book, bm, bdsub, residual = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("codes.parquet"),
      s"append plan rescans the standing codes:\n$plan")
    val scans = plan.linesIterator.count(
      _.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 3,
      s"append plan should scan batch + centroids + book only, got $scans scans:\n$plan")

    assert(AnnSuite.ivfPqAppend(spark, dir, batch, "vec_id", "embedding",
      batchId = 0L))
    val loaded = AnnSuite.ivfPqLoad(spark, dir)
    assert(loaded.pq.codes.count() === baseCodes + batch.count())
    // the appended codes equal a full-corpus assign+encode at the SAME
    // fixed centroids and codebook — the invariant the oracle leans on
    val truth = AnnSuite.ivfPqEncodeBatch(spark, dir, e,
        "vec_id", "embedding", book, bm, bdsub, residual = false)
      .collect().map(_.toString).sorted.toSeq
    val got = loaded.pq.codes
      .select(col("cand_id"), col("codes"), col("cell"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === truth)
  }

  test("N batch folds equal one bulk append; compaction folds codes without changing the served set") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val held = e.filter(col("vec_id") % 7 === 3)
    val dir = Scratch.dir("ivfpq_fold_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m, dsub, ksub), dir)
    // two micro-batch folds (even/odd split) instead of one bulk
    AnnSuite.ivfPqAppend(spark, dir, held.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.ivfPqAppend(spark, dir, held.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", batchId = 1L)
    def served() = AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk").collect().map(_.toString).toSeq
    val twoFolds = served()
    // per-row assignment + encoding at fixed parameters is independent
    // of batching, so the split folds equal the registry's one-bulk
    // append entry byte-for-byte
    val bulk = AnnSuite.queries("ann_ivfpq_append")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(twoFolds.nonEmpty && twoFolds === bulk)

    // a torn compaction is invisible (readers stay on generation 0)
    assert(!AnnSuite.CodesStore.compact(spark, dir, crashBeforeCommit = true))
    assert(served() === twoFolds, "torn code compaction leaked into the served view")
    // the redo commits; the served set is unchanged and the code rows
    // are exactly-once
    assert(AnnSuite.CodesStore.compact(spark, dir))
    assert(served() === twoFolds, "code compaction changed the served top-k")
    val codes = AnnSuite.ivfPqLoad(spark, dir).pq.codes
    assert(codes.groupBy("cand_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count() === 0L)
    assert(codes.count() === e.count())

    // replays of folded batches are no-ops (the manifest watermark)
    assert(!AnnSuite.ivfPqAppend(spark, dir, held.limit(3),
      "vec_id", "embedding", batchId = 1L))
    assert(AnnSuite.ivfPqLoad(spark, dir).pq.codes.count() === e.count())
  }

  test("stream_ivfpq_append: N micro-batch folds equal the batch twin") {
    // the streaming twin folds the held-out rows in as 4 one-file
    // micro-batches (foreachBatch → ivfPqAppend); fixed-parameters
    // algebra says the result must equal ann_ivfpq_append's one bulk
    // append — row-for-row, rank-for-rank
    val streamed = graft.streaming.CdcStream.queries("stream_ivfpq_append")(spark, sf)
      .collect().map(_.toString).toSeq
    val batch = AnnSuite.queries("ann_ivfpq_append")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
    val prog = graft.streaming.CdcStream.progressLog("stream_ivfpq_append")
    val dataBatches = prog.filter(_._1 > 0)
    assert(dataBatches.length == 4,
      s"expected 4 one-file micro-batch folds, got ${dataBatches.length}")
    val heldOut = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 7 === 3).count()
    assert(dataBatches.map(_._1).sum === heldOut)
  }

  test("stream_ivfpq_cdc equals its bulk batch formulation (inserts appended, deletes tombstoned)") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val streamed = graft.streaming.CdcStream.queries("stream_ivfpq_cdc")(spark, sf)
      .collect().map(_.toString).toSeq
    // the bulk twin: one append of all streamed inserts, one tombstone
    // batch of all streamed deletes, same base build
    val dir = Scratch.dir("ivfpq_cdc_bulk_twin")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m, dsub, ksub), dir)
    AnnSuite.ivfPqAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.CodesStore.delete(spark, dir,
      e.filter(col("vec_id") % 13 === 2).select("vec_id"), "vec_id", batchId = 1L)
    val bulk = AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk").collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === bulk)
  }

  test("stream_ivfpq_upsert: an update of a live id supersedes; the stream equals its bulk twin") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val streamed = graft.streaming.CdcStream.queries("stream_ivfpq_upsert")(spark, sf)
      .collect().map(_.toString).toSeq
    // bulk twin: same base build, ONE append of all c/u rows (updates
    // carried with their mutated vectors), one tombstone batch
    val dir = Scratch.dir("ivfpq_upsert_bulk_twin")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m, dsub, ksub), dir)
    val updated = col("vec_id") % 7 =!= 3 && col("vec_id") % 5 === 1
    val deleted = col("vec_id") % 13 === 2 &&
      col("vec_id") % 5 =!= 1 && col("vec_id") % 7 =!= 3
    val ups = e.filter(updated)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val ins = e.filter(col("vec_id") % 7 === 3)
    AnnSuite.ivfPqAppend(spark, dir, ups.unionByName(ins),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.CodesStore.delete(spark, dir,
      e.filter(deleted).select("vec_id"), "vec_id", batchId = 1L)
    val idx = AnnSuite.ivfPqLoadLww(spark, dir)
    // every updated id serves exactly one code row
    assert(idx.pq.codes.groupBy("cand_id").count()
      .filter(col("count") > 1).count() === 0L)
    // queries probe the corpus's final per-id state
    val fin = e.filter(!deleted)
      .withColumn("embedding",
        when(updated, reverse(col("embedding"))).otherwise(col("embedding")))
    val bulk = AnnSuite.ivfPqQuery(idx, fin.filter(col("vec_id") < 5),
      "vec_id", "embedding", AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk").collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === bulk)
  }

  test("persisted residual index round-trips: reload serves the fused residual chain identically") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 5)
    val fused = AnnSuite.ivfPqResidualSearch(e, queries,
        AnnSuite.IvfK, AnnSuite.IvfNProbe, m, dsub, ksub, topK = 5)
      .orderBy("query_id", "rk").collect()
    assert(fused.nonEmpty)
    val dir = Scratch.dir("ivfpq_residual_persist")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e, "vec_id", "embedding",
      AnnSuite.IvfK, m, dsub, ksub, residual = true), dir)
    val fresh = spark.newSession()
    val loaded = AnnSuite.ivfPqLoad(fresh, dir)
    // the flags row survives the round-trip — a loaded index knows its
    // codes are residual and derives (query, cell)-keyed ADC tables
    assert(loaded.residual)
    val fromLoaded = AnnSuite.ivfPqQuery(loaded,
        Tables.embeddings(fresh, sf).filter(col("vec_id") < 5),
        "vec_id", "embedding", AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk").collect()
    assert(fromLoaded.map(_.toString).toSeq === fused.map(_.toString).toSeq)
  }

  test("residual append encodes the batch's residuals at the fixed book (flags-aware)") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir("ivfpq_residual_append")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m, dsub, ksub, residual = true), dir)
    assert(AnnSuite.ivfPqAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L))
    val loaded = AnnSuite.ivfPqLoad(spark, dir)
    // appended codes equal the full-corpus RESIDUAL encode at the same
    // fixed centroids + book — the residual flag routed the append
    val (book, bm, bdsub) = AnnSuite.pqBookLoad(spark, dir)
    val truth = AnnSuite.ivfPqEncodeBatch(spark, dir, e,
        "vec_id", "embedding", book, bm, bdsub, residual = true)
      .collect().map(_.toString).sorted.toSeq
    val got = loaded.pq.codes
      .select(col("cand_id"), col("codes"), col("cell"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === truth)
  }
}
