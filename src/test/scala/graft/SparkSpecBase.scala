package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs; sf0.001 keeps actions fast. */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local(4)
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = SparkTestSession.spark
  def sf: String = SparkTestSession.sf

  /** Block-scoped session confs: set, run, ALWAYS restore — the test
    * session is shared across suites, so a conf leaked past one block
    * would silently change every later suite's engine. Use this for a
    * single test body; use [[WithSessionConfs]] for suite-wide confs.
    */
  def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** The production streaming state backend: RocksDB keeps per-key state
  * off-heap and on local disk (the heap-backed default holds EVERY key
  * in executor memory — the first thing to fall over on an unbounded
  * CDC feed), and changelog checkpointing ships per-batch deltas to the
  * checkpoint instead of full SST snapshots. Suites mix in
  * [[WithSessionConfs]] with these to prove the twins + recovery paths
  * hold on the backend a real 100 TB deployment would run.
  */
object RocksDbConfs {
  val confs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
}

/** Sets session confs for the duration of one suite and restores the
  * previous values after — the test session is shared across suites, so
  * a leaked conf would silently change every later suite's engine.
  */
trait WithSessionConfs extends org.scalatest.BeforeAndAfterAll { this: SparkSpecBase =>
  def sessionConfs: Map[String, String]
  private var saved: Map[String, Option[String]] = Map.empty
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    saved = sessionConfs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
  }
  override protected def afterAll(): Unit = {
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    super.afterAll()
  }
}
