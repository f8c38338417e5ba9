package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY on a small fixed pool (guide §2.6: actions
  * are sequential only because driver code calls them sequentially; one
  * query's jobs back-fill executors idled by another's trigger waits,
  * broadcast builds and driver-side planning — the streaming twins in
  * particular spend most of their wall waiting on micro-batch
  * machinery, not CPU). Every query remains self-contained (own scratch
  * dirs, own streaming checkpoint/queryName, deterministic output), so
  * results are unchanged — the one exception is entries sharing an
  * on-disk fixture, which are chained below.
  */
object Verify {
  /** Entries that rebuild the SAME stable fixture dirs (two writers
    * racing on one SegmentStore would corrupt it): run each group's
    * members sequentially on one pool thread. recon_index and
    * recon_index_report both (re)build reconIndexFixture's two stores
    * (recon_index_ivf / recon_index_ivfpq). Every other entry's stable
    * scratch paths are prefixed with its own name (audited r17).
    */
  private val ConflictGroups = Seq(Seq("recon_index", "recon_index_report"))

  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict to the named queries (local iteration
    // aid; the driver always invokes with exactly two)
    val spark = Session.local(Session.cpus)
    try run(spark, args(0), args(1), args.drop(2).toSet)
    finally spark.stop()
  }

  /** Dumps every entry (or the `only` names) to `<outDir>/<name>`, plus
    * `oracle_sql.json` and `verify_status.jsonl`: one `{"name", "status":
    * "ok"|"failed", "jobs", "wall_ms", "error"}` line appended per
    * finished entry, so a failure is on disk even when a tail capture
    * drops stderr. Each entry runs under job group `<name>` (Par carries
    * it to its pool threads); `jobs` counts the [[WorkMeter]] jobs of
    * that group, dump write included, read after the listener bus
    * drains. A streaming entry's micro-batch jobs carry their query's
    * own runId group, so they are not in its count.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String]): Unit = {
    // hoist the per-entry session setup: register the native functions
    // once here, so the 59 in-entry Bridge.register calls become no-ops
    // (idempotence guard in Bridge) instead of 59 × 11 re-registrations
    org.apache.spark.sql.graft.Bridge.register(spark)
    new java.io.File(outDir).mkdirs()
    val status = Files.newBufferedWriter(Paths.get(s"$outDir/verify_status.jsonl"))
    val meter = new WorkMeter
    spark.sparkContext.addSparkListener(meter)

    def runOne(name: String): Unit = {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobGroup(name, name)
      val err =
        try {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(e.toString)
        } finally spark.sparkContext.clearJobGroup()
      val wallMs = (System.nanoTime() - t0) / 1000000
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val jobs = meter.jobs.count(_.group == name)
      val line = s"""{"name":${q(name)},"status":"${if (err.isEmpty) "ok" else "failed"}",""" +
        s""""jobs":$jobs,"wall_ms":$wallMs,"error":${err.map(q).getOrElse("null")}}"""
      status.synchronized { status.write(line); status.newLine(); status.flush() }
      // pipeline exit: drop any persists the query registered so cached
      // intermediates don't accumulate across the 230-query run (main
      // code holds no persists — localCheckpoint blocks are unaffected —
      // so a concurrent clear can only force a recompute, never change
      // a result)
      spark.catalog.clearCache()
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.isEmpty || only(name))
    val chained = ConflictGroups.flatten.toSet
    // one unit = what a single pool thread runs in order; longest work
    // first (streaming twins and the fixture-heavy chains) so the pool's
    // tail is short queries, not a 7 s twin started last
    val units: Seq[Seq[String]] =
      (ConflictGroups.map(_.filter(names.contains)).filter(_.nonEmpty) ++
        names.filterNot(chained).map(Seq(_)))
        .sortBy { u =>
          val n = u.head
          if (u.length > 1 || n.startsWith("stream_") ||
            n.startsWith("cdc_stream") || n.startsWith("ann_") ||
            n.startsWith("recon_index")) 0 else 1
        }
    // default 8 measured best at sf0.01 (316 s sequential → 136 s at 4
    // → 111 s at 8 → 127 s at 12, same 228/228 oracle PASS); override
    // with SPARK_GRAFT_VERIFY_PAR — a one-thread pool runs the units in
    // the sequential loop's order
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt.max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try units.map { u =>
      pool.submit(new Runnable { def run(): Unit = u.foreach(runOne) })
    }.foreach(_.get()) // runOne never throws; .get() surfaces pool errors
    finally {
      pool.shutdown(); status.close()
      spark.sparkContext.removeSparkListener(meter)
    }
    // LSH hot-bucket diagnostic: the Spark-side gate caps buckets at
    // MaxBucket while the oracles run uncapped — surface the observed
    // occupancy at THIS scale factor so a corpus that crosses the cap
    // fails with a clear line here, not an opaque driver hash mismatch.
    try graft.operators.DedupSuite.bucketDiagnostics(spark, sfDir).foreach {
      case (fam, n) =>
        val cap = graft.operators.DedupSuite.MaxBucket
        val flag = if (n > cap)
          " EXCEEDS CAP — gated dedup operators will diverge from their uncapped oracles"
        else ""
        System.err.println(s"[verify] max_bucket $fam=$n cap=$cap$flag")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] bucket diagnostics failed: ${e.getMessage}")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
