package graft

import scala.jdk.CollectionConverters._

/** Guards the driver contract itself against drift. */
class ContractSpec extends SparkSpecBase {

  private val rowsOnly = Set("q_approx_distinct", "plan_advisor")
  private val streaming = Set("cdc_stream_apply", "stream_windowed_agg", "stream_dedup_exact")

  test("every query is oracle-checked or a documented rows-only op") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet -- rowsOnly,
      s"undocumented rows-only: ${SparkEntry.queries.keySet -- rowsOnly -- SparkEntry.oracleSql.keySet}; " +
        s"orphan oracles: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}")
  }

  /** Output column names of every non-streaming entry, built once and
    * shared by the two schema checks below (each entry's eager fixture
    * work is the cost of this suite).
    */
  private lazy val schemas: Map[String, Seq[String]] =
    SparkEntry.queries.filterNot(q => streaming(q._1)).map { case (name, fn) =>
      name -> fn(spark, sf).schema.fieldNames.toSeq
    }

  test("result schemas: lowercase, distinct, no spark-illegal column names") {
    schemas.foreach { case (name, cols) =>
      assert(cols.distinct.length == cols.length, s"$name has duplicate columns")
      cols.foreach { c =>
        assert(c == c.toLowerCase || c == "__deleted",
          s"$name column '$c' is not lowercase (driver sorts/hashes by name)")
      }
    }
  }

  test("shuffle budget covers exactly the headline bench set") {
    // the deterministic regression gate only guards queries with a
    // budget line — a headline addition without one would silently go
    // ungated, and a stale line would flag a ghost
    val budget = scala.io.Source.fromFile("/root/repo/bench/shuffle_budget.txt", "UTF-8")
      .getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")(0)).toSet
    val headline = Bench.Headline.toSet
    assert(budget == headline,
      s"unbudgeted headline: ${headline -- budget}; stale budget lines: ${budget -- headline}")
    assert(headline.subsetOf(SparkEntry.queries.keySet))
  }

  test("every session is built by graft.Session, with no hardcoded local master") {
    // needles assembled at runtime so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val master = ("local" + """\[\d+\]""").r
    val files = Seq("src/main", "src/test").flatMap { d =>
      val ps = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try ps.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally ps.close()
    }
    assert(files.size > 50, s"scanned only ${files.size} files from ${sys.props("user.dir")}")
    val src = files.map(p => p.toString -> java.nio.file.Files.readString(p))
    assert(src.collect { case (p, t) if t.contains(builder) => p } ==
      Seq("src/main/scala/graft/Session.scala"))
    assert(src.collect { case (p, t) if master.findFirstIn(t).nonEmpty => p }.isEmpty)
  }

  test("Session.local(4) carries the shared engine settings") {
    val cpus = 4
    val s = Session.local(cpus)
    assert(s.sparkContext.master == s"local[$cpus]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == (64L * 1024 * 1024).toString)
    assert(s.sparkContext.uiWebUrl.isEmpty)
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }

  test("oracle SQL mentions every output column name of its query") {
    // cheap guard for alias drift: each Spark column name should appear
    // verbatim in the oracle text (as alias or source column)
    SparkEntry.oracleSql.filterNot(q => streaming(q._1)).foreach { case (name, sql) =>
      schemas(name).foreach { c =>
        assert(sql.toLowerCase.contains(c.toLowerCase),
          s"$name: column '$c' not found in oracle SQL")
      }
    }
  }
}
