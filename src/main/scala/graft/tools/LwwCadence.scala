package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AnnSuite
import graft.sources.Tables

/** Ops measurement behind `bench/lww_cadence.json` — the steady-state
  * cost of the LAST-WRITE-WINS serving read as CDC traffic accumulates
  * between compactions, and what a compaction buys back. Drives
  * `nBatches` update+delete batches into a persisted IVF store (the
  * stream_ivf_upsert discipline: updates of live ids + tombstones),
  * and after EACH batch measures, on the same fixed query set:
  *
  *   - `lww_serve_ms` — ivfQuery over [[AnnSuite.ivfLoadLww]] (the
  *     upsert view: per-key winner groupBys over the delta + one
  *     broadcast anti-join of touched keys against the base);
  *   - `terminal_serve_ms` — ivfQuery over [[AnnSuite.ivfLoad]] (the
  *     terminal-delete view: union + one broadcast tombstone
  *     anti-join) on the SAME store — the committed price comparison
  *     for loadLww's "same price as the terminal mask" claim;
  *   - the accumulated segment/tombstone rows and distinct touched
  *     keys — the observables recon_index_lww exposes
  *     (`superseded_rows`, `append_segments`), so the curve maps them
  *     to serving cost.
  *
  * Then one `AnnSuite.IvfStore.upsertCompact` and the post-fold reads —
  * the recovery a deployment sizes its compaction cadence from.
  * Timings are medians of 3 noop-sink materializations (the Bench
  * convention: every output column evaluates, no filesystem cost).
  * Usage:
  *
  *   runMain graft.tools.LwwCadence [sfDir] [nBatches]
  *
  * Prints one JSON line.
  */
object LwwCadence {
  def main(args: Array[String]): Unit = {
    val dir0 = args.lift(0).getOrElse("/root/repo/data/sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(12)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.Bridge.register(spark)

    val e = Tables.embeddings(spark, dir0)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val idxDir = graft.sources.Scratch.dir("lww_cadence")
    AnnSuite.ivfSave(
      AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), idxDir)
    val queries = e.filter(col("vec_id") < 64).select("vec_id", "embedding")
      .localCheckpoint()

    def mat(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeMs(f: => Unit): Long = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1000000L
    }
    def med3(f: => Unit): Long = Seq.fill(3)(timeMs(f)).sorted.apply(1)
    def lwwServe(): Unit = mat(AnnSuite.ivfQuery(
      AnnSuite.ivfLoadLww(spark, idxDir), queries,
      "vec_id", "embedding", AnnSuite.IvfNProbe, 10))
    def terminalServe(): Unit = mat(AnnSuite.ivfQuery(
      AnnSuite.ivfLoad(spark, idxDir), queries,
      "vec_id", "embedding", AnnSuite.IvfNProbe, 10))

    // JVM/codegen warm-up (steady-state costs, not session setup)
    spark.range(1000000).selectExpr("sum(id)").collect()
    lwwServe(); terminalServe()
    val base = s"""{"batch":-1,"seg_rows":0,"tomb_rows":0,""" +
      s""""touched_keys":0,"lww_serve_ms":${med3(lwwServe())},""" +
      s""""terminal_serve_ms":${med3(terminalServe())}}"""

    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def channelRows(): (Long, Long, Long) = {
      val lay = AnnSuite.IvfStore.resolve(spark, idxDir)
      val ap = new org.apache.hadoop.fs.Path(s"$idxDir/${lay.appends}")
      val dp = new org.apache.hadoop.fs.Path(s"$idxDir/deletes.parquet")
      val segs =
        if (fs.exists(ap)) Some(spark.read.parquet(ap.toString)) else None
      val tombs =
        if (fs.exists(dp)) Some(spark.read.parquet(dp.toString)) else None
      val touched = (segs.map(_.select("cand_id")).toSeq ++
        tombs.map(_.select("cand_id")).toSeq)
        .reduceOption(_ unionByName _).map(_.distinct().count()).getOrElse(0L)
      (segs.map(_.count()).getOrElse(0L), tombs.map(_.count()).getOrElse(0L),
        touched)
    }

    val steps = (0 until nBatches).map { b =>
      // updates of live ids (vector reversed) + tombstones — disjoint
      // slices per batch within each family, realistic overlap across
      AnnSuite.ivfAppend(spark, idxDir,
        e.filter(col("vec_id") % 41 === b)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", batchId = 2L * b)
      AnnSuite.IvfStore.delete(spark, idxDir,
        e.filter(col("vec_id") % 83 === b).select("vec_id"),
        "vec_id", batchId = 2L * b + 1)
      val (segRows, tombRows, touched) = channelRows()
      s"""{"batch":$b,"seg_rows":$segRows,"tomb_rows":$tombRows,""" +
        s""""touched_keys":$touched,"lww_serve_ms":${med3(lwwServe())},""" +
        s""""terminal_serve_ms":${med3(terminalServe())}}"""
    }

    val compactMs = timeMs(AnnSuite.IvfStore.upsertCompact(spark, idxDir))
    val postLww = med3(lwwServe())
    val postTerm = med3(terminalServe())
    println(s"""{"metric":"lww_cadence","sf_dir":"$dir0",""" +
      s""""n_queries":64,"top_k":10,"n_batches":$nBatches,""" +
      s""""steps":${(base +: steps).mkString("[", ",", "]")},""" +
      s""""compact_ms":$compactMs,"post_compact_lww_serve_ms":$postLww,""" +
      s""""post_compact_terminal_serve_ms":$postTerm}""")
    spark.stop()
  }
}
