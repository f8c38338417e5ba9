package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, the tools and the specs
  * build their session here, so all of them plan a registry entry under
  * the same engine settings.
  */
object Session {
  /** Local cores for an entry point: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time, a
    * 64 MB broadcast threshold (the bench's long-standing value), no UI
    * and WARN logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
