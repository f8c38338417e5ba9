package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.AnnSuite
import graft.sources.Tables

/** Dev tool: print the EXECUTED plan of serving shapes that don't
  * surface as registry entries (the registry entries wrap them in
  * driver-composed audits or collect scalars). Currently: the LWW
  * serving read — ivfQuery over [[AnnSuite.ivfLoadLww]] on a store
  * with live segments and tombstones (the docs/PLANS.md evidence for
  * the loadLww plan shape PlanShapeSpec pins). Usage:
  *
  *   runMain graft.tools.PlanDump [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val dir = graft.sources.Scratch.dir("lww_plan_dump")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), dir)
    AnnSuite.ivfAppend(spark, dir,
      e.filter(col("vec_id") % 5 === 1)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.IvfStore.delete(spark, dir,
      e.filter(col("vec_id") % 13 === 2).select("vec_id"), "vec_id", batchId = 1L)
    val q = AnnSuite.ivfQuery(AnnSuite.ivfLoadLww(spark, dir),
      e.filter(col("vec_id") < 3).select("vec_id", "embedding"),
      "vec_id", "embedding", AnnSuite.IvfNProbe, 5)
    q.collect() // run it so AQE finalizes the executed plan
    println("=== LWW SERVING READ: EXECUTED PLAN (AQE final) ===")
    println(q.queryExecution.executedPlan.toString)
    println("=== END ===")
    spark.stop()
  }
}
