package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.Scratch

/** `Verify.run` on the shared session: one `verify_status.jsonl` line
  * per entry beside `oracle_sql.json`, and each entry's dump equal to
  * the entry's own result.
  */
class VerifySpec extends SparkSpecBase {

  test("Verify.run dumps each entry and records one status line per entry") {
    val names = Seq("q1_pricing_summary", "q3_top_orders")
    val out = Scratch.dir("verify_spec")
    Verify.run(spark, sf, out, names.toSet)
    assert(!spark.sparkContext.isStopped)
    assert(Files.isRegularFile(Paths.get(s"$out/oracle_sql.json")))
    val lines = Files.readAllLines(Paths.get(s"$out/verify_status.jsonl")).asScala.toSeq
    assert(lines.size == names.size, lines.mkString("\n"))
    names.foreach { n =>
      val line = lines.find(_.startsWith(s"""{"name":"$n","""))
      assert(line.exists(_.contains(""""status":"ok",""")), lines.mkString("\n"))
      assert(line.exists(l => l.matches(""".*"wall_ms":\d+,"error":null\}""")), line)
      val dumped = spark.read.parquet(s"$out/$n")
      val direct = SparkEntry.queries(n)(spark, sf)
      assert(dumped.columns.toSeq == direct.columns.toSeq)
      assert(dumped.collect().map(_.toString).sorted.toSeq ==
        direct.collect().map(_.toString).sorted.toSeq)
    }
  }
}
