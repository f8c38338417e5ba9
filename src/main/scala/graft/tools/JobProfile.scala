package graft.tools

import graft.WorkMeter

/** Dev tool: per-JOB wall-time attribution for registry queries — which
  * driver ACTIONS (parquet writes, localCheckpoints, counts, broadcast
  * builds, the final noop sink) a query's wall is made of. Each entry
  * runs once warm, then once metered under job group `<entry>`, and its
  * jobs print by call site and by job group: AQE stage jobs land on an
  * anonymous site, and streaming micro-batch jobs carry their query's
  * runId group, so the group view keeps them as their own rows. Usage:
  *
  *   runMain graft.tools.JobProfile <sfDir> <query>...
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("recon_index")
    val spark = graft.Session.local(graft.Session.cpus)

    names.foreach { name =>
      def run(): Unit = graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

      run() // warm: codegen + scratch-layout steady state
      val meter = new WorkMeter
      spark.sparkContext.addSparkListener(meter)
      spark.catalog.clearCache(); System.gc()
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try run() finally spark.sparkContext.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain so the last job's end event is folded in
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(meter)
      val done = meter.jobs.filter(_.end >= 0)
      println(f"===== $name%s: wall $wall%.2f s, ${done.size}%d jobs =====")
      Seq[(String, WorkMeter.Job => String)]("call site" -> (_.site), "job group" -> (_.group))
        .foreach { case (title, key) =>
          println(s"-- by $title")
          done.groupBy(key).map { case (k, js) => (k, js.size, js.map(_.ms).sum / 1e3) }
            .toSeq.sortBy(-_._3).take(15)
            .foreach { case (k, n, sec) => println(f"$sec%8.3f s  x$n%-3d  $k%s") }
        }
      println(f"job-covered: ${done.map(_.ms).sum / 1e3}%.2f s of $wall%.2f s " +
        "(gap = driver planning/IO)")
    }
    spark.stop()
  }
}
