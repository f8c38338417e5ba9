package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AnnSuite
import graft.sources.Tables

/** Dev tool: plans of registry entries and of serving shapes that do
  * not surface as registry entries. Two modes:
  *
  *   runMain graft.tools.Plans <outDir> <tag> <sfDir> <target>...
  *     writes `.explain("formatted")` of each target to
  *     `<outDir>/<target>_<tag>.txt` — the before/after plan evidence an
  *     optimization round commits (plans/r17/).
  *   runMain graft.tools.Plans --executed <sfDir> <target>...
  *     runs each target and prints its final AQE executed plan.
  *
  * A target is a registry entry name or one of [[Extra]]; with no
  * target named, every registry entry.
  */
object Plans {
  /** Serving shapes that registry entries wrap in audits or scalar
    * collects. `lww_serving_read`: ivfQuery over [[AnnSuite.ivfLoadLww]]
    * on a store with live segments and tombstones (the loadLww plan
    * shape PlanShapeSpec pins).
    */
  private val Extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lww_serving_read" -> { (spark, sfDir) =>
      val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      val dir = graft.sources.Scratch.perLake("lww_serving_read", sfDir)
      AnnSuite.ivfSave(AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), dir)
      AnnSuite.ivfAppend(spark, dir,
        e.filter(col("vec_id") % 5 === 1)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", batchId = 0L)
      AnnSuite.IvfStore.delete(spark, dir,
        e.filter(col("vec_id") % 13 === 2).select("vec_id"), "vec_id", batchId = 1L)
      AnnSuite.ivfQuery(AnnSuite.ivfLoadLww(spark, dir),
        e.filter(col("vec_id") < 3).select("vec_id", "embedding"),
        "vec_id", "embedding", AnnSuite.IvfNProbe, 5)
    })

  def main(args: Array[String]): Unit = {
    val executed = args.headOption.contains("--executed")
    val (outDir, tag, sfDir, named) =
      if (executed) ("", "", args(1), args.drop(2).toSeq)
      else (args(0), args(1), args(2), args.drop(3).toSeq)
    val names = if (named.nonEmpty) named else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Session.local(graft.Session.cpus)
    if (!executed) Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = (graft.SparkEntry.queries ++ Extra)(n)(spark, sfDir)
      if (executed) {
        df.collect() // run it so AQE finalizes the executed plan
        println(s"=== $n: executed plan (AQE final) ===")
        println(df.queryExecution.executedPlan.toString)
      } else {
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${n}_$tag.txt"), txt.getBytes("UTF-8"))
        println(s"wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
      }
    }
    spark.stop()
  }
}
