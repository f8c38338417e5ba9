package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnSuite
import graft.sources.{ParquetMeta, Scratch, Tables}

/** r17 optimization internals: driver-side metadata reads (the flag /
  * geometry of a persisted quantized index must cost a metadata read,
  * not a Spark job) and the once-per-entry [[AnnSuite.PqMeta]] reuse —
  * both must be value-identical to the Spark-job paths they replace —
  * plus [[graft.functions.Par]]'s job-property propagation (overlapped
  * blocks must attribute to the caller's description/group, not to
  * whatever a pooled thread ran last).
  */
class StoreMetaSpec extends SparkSpecBase {

  test("headBoolean matches a Spark head() on the one-row flags table") {
    val s = spark
    import s.implicits._
    val dir = Scratch.dir("meta_flag_spec")
    for (v <- Seq(true, false)) {
      Seq(v).toDF("residual").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/flags.parquet")
      val viaJob = spark.read.parquet(s"$dir/flags.parquet").head().getBoolean(0)
      assert(ParquetMeta.headBoolean(spark, s"$dir/flags.parquet", "residual")
        === Some(viaJob) && viaJob === v)
    }
    // an absent table degrades to None; a column neither the file nor
    // its path carries throws
    assert(ParquetMeta.headBoolean(spark, s"$dir/nope.parquet", "residual").isEmpty)
    intercept[IllegalStateException](
      ParquetMeta.headBoolean(spark, s"$dir/flags.parquet", "no_such"))
  }

  test("headBoolean finds a flags file under a subdirectory, matching head()") {
    val s = spark
    import s.implicits._
    val dir = Scratch.dir("meta_flag_nested_spec")
    for (v <- Seq(true, false)) {
      // partitioned: the one data file lands under p=0/
      Seq((v, 0)).toDF("residual", "p").coalesce(1)
        .write.mode("overwrite").partitionBy("p").parquet(s"$dir/part.parquet")
      val viaJob = spark.read.parquet(s"$dir/part.parquet").head()
        .getAs[Boolean]("residual")
      assert(ParquetMeta.headBoolean(spark, s"$dir/part.parquet", "residual")
        === Some(viaJob) && viaJob === v)
    }
  }

  test("headBoolean reads a flags table partitioned BY the flag from its path, matching head()") {
    val s = spark
    import s.implicits._
    val dir = Scratch.dir("meta_flag_partcol_spec")
    for (v <- Seq(true, false)) {
      // the value lives only in the residual=<v>/ directory name (which
      // partition inference reads back as the string "true"/"false")
      Seq((v, 1L)).toDF("residual", "n").coalesce(1)
        .write.mode("overwrite").partitionBy("residual").parquet(s"$dir/flags.parquet")
      val viaJob = spark.read.parquet(s"$dir/flags.parquet").head()
        .getAs[Any]("residual").toString.toBoolean
      assert(ParquetMeta.headBoolean(spark, s"$dir/flags.parquet", "residual")
        === Some(viaJob) && viaJob === v)
    }
  }

  test("headBoolean throws when data files carry the column nowhere") {
    val s = spark
    import s.implicits._
    val dir = Scratch.dir("meta_flag_missing_spec")
    Seq((true, 0)).toDF("other", "p").coalesce(1)
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/flags.parquet")
    val e = intercept[IllegalStateException](
      ParquetMeta.headBoolean(spark, s"$dir/flags.parquet", "residual"))
    assert(e.getMessage.contains("residual"))
  }

  test("rowCountDriver matches count() incl. partitioned layouts and hidden files") {
    val dir = Scratch.dir("meta_count_spec")
    val df = Tables.embeddings(spark, sf).select(col("vec_id"),
      (col("vec_id") % 3).as("p"))
    df.write.mode("overwrite").partitionBy("p").parquet(s"$dir/t")
    // _SUCCESS markers and partition dirs are in place — the driver-side
    // footer sum must agree with what a read of the table sees
    assert(ParquetMeta.rowCountDriver(spark, s"$dir/t")
      === spark.read.parquet(s"$dir/t").count())
    assert(ParquetMeta.rowCountDriver(spark, s"$dir/absent") === 0L)
  }

  test("ivfPqLoad with a reused PqMeta serves identically to the self-reading load") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir("meta_reuse_spec")
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e, "vec_id", "embedding",
      kCoarse = 4, m = 8, dsub = 8, ksub = 16), dir)
    val meta = AnnSuite.pqMetaLoad(spark, dir)
    // the quadruple equals the per-call derivations it replaces
    assert(meta.m === 8 && meta.dsub === 8 && !meta.residual &&
      meta.carry.isEmpty)
    val queries = e.filter(col("vec_id") < 3)
    def serve(idx: AnnSuite.IvfPqIndex) =
      AnnSuite.ivfPqQuery(idx, queries, "vec_id", "embedding",
        nprobe = 2, topK = 3).orderBy("query_id", "rk")
        .collect().map(_.toString).toSeq
    assert(serve(AnnSuite.ivfPqLoad(spark, dir, meta = Some(meta)))
      === serve(AnnSuite.ivfPqLoad(spark, dir)))
    // append with the reused meta: the landed segment equals what a
    // self-reading append lands (same batch, same fixed parameters)
    AnnSuite.ivfPqAppend(spark, dir, e.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", batchId = 0L, meta = Some(meta))
    val withMeta = serve(AnnSuite.ivfPqLoad(spark, dir, meta = Some(meta)))
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e, "vec_id", "embedding",
      kCoarse = 4, m = 8, dsub = 8, ksub = 16), dir)
    AnnSuite.ivfPqAppend(spark, dir, e.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", batchId = 0L)
    assert(serve(AnnSuite.ivfPqLoad(spark, dir)) === withMeta)
  }

  test("Par blocks inherit the caller's job description and group") {
    val sc = spark.sparkContext
    sc.setJobGroup("meta-spec-group", "meta-spec-desc")
    try {
      val got = graft.functions.Par.all(
        () => sc.getLocalProperty("spark.jobGroup.id"),
        () => sc.getLocalProperty("spark.jobGroup.id"))
      assert(got === Seq("meta-spec-group", "meta-spec-group"))
      val (a, b) = graft.functions.Par.inParallel(
        sc.getLocalProperty("spark.job.description"),
        sc.getLocalProperty("spark.job.description"))
      assert(a === "meta-spec-desc" && b === "meta-spec-desc")
    } finally sc.clearJobGroup()
  }
}
