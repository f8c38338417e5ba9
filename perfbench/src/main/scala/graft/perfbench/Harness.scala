package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.api.Graft

/** Benchmark harness: drives one workload through the program's public
  * entry points and writes `harness.json` (and, when tracing,
  * `spans.jsonl`) into the run directory. `perfbench/run.py` launches
  * it, checks the written results against the DuckDB oracle and prints
  * the final record.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <lake dir> <run dir> <cores>
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      lake: String, out: String, cores: Int)

  /** Set-up is repeated this many times per run; setup_s is the median. */
  val SetupRounds = 3

  /** lake_batch: read-only serving entries (scan and aggregate, a
    * six-way join, a window, an as-of join, row-level reconciliation,
    * CDC apply), then
    * living-index upkeep: an IVF append, which commits a batch to its
    * persisted segment store and reloads it on every call.
    */
  val LakeBatch: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier", "q_window_rank", "q_asof_join_native",
    "recon_rowlevel", "cdc_apply_latest",
    "ann_ivf_append")

  val LakeTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: Harness <workload> <seed> <seconds> <trace> <lake> <out> <cores>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", argv(4), argv(5), argv(6).toInt)
    require(a.workload == "cdc_stream" || a.workload == "lake_batch", s"unknown workload ${a.workload}")
    val rec = new Record
    val exit =
      try { run(a, rec); 0 }
      catch { case t: Throwable =>
        t.printStackTrace()
        rec.put("fatal", s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}")
        1
      }
    Files.writeString(Paths.get(a.out, "harness.json"), rec.json)
    stopAll()
    // the program's daemon pools and RocksDB threads must not keep the JVM up
    System.exit(exit)
  }

  // ---- session lifecycle ----------------------------------------------

  /** The session settings mirror the program's own bench; only the
    * scratch locations are pointed into the run directory. cdc_stream
    * adds the RocksDB state store with changelog checkpointing.
    */
  def settings(a: Args): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${a.cores}]",
    "spark.sql.shuffle.partitions" -> a.cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${a.out}/spark-local",
    "spark.sql.warehouse.dir" -> s"${a.out}/warehouse",
    "spark.sql.streaming.stateStore.providerClass" -> (if (a.workload == "cdc_stream")
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    else "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      (a.workload == "cdc_stream").toString)

  def newSession(a: Args): SparkSession = {
    val b = SparkSession.builder()
    settings(a).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopAll(): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- measurement helpers ------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  /** Seconds since JVM start at each phase boundary of the run, printed
    * with the run to show where its wall time goes.
    */
  private val marks = mutable.ArrayBuffer.empty[(String, Double)]
  def mark(phase: String): Unit = marks.synchronized {
    marks += phase -> (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  }

  def jvmGcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after a full collection, in MB. Taken between
    * passes, outside every timed region.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Files and bytes written under the scratch root since `sinceMs`. */
  def storeWrites(root: String, sinceMs: Long): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return (0L, 0L)
    val st = Files.walk(p)
    try {
      st.iterator.asScala.filter(f => Files.isRegularFile(f) &&
        Files.getLastModifiedTime(f).toMillis >= sinceMs)
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    } finally st.close()
  }

  // ---- the run --------------------------------------------------------

  def run(a: Args, rec: Record): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    rec.put("workload", a.workload); rec.put("seed", a.seed); rec.put("cores", a.cores)
    rec.put("settings", settings(a).toMap)

    // set-up, SetupRounds times: session start, native function
    // registration, opening every lake table, one warm-up action. The
    // first round is timed from JVM start.
    val setups = (0 until SetupRounds).map { r =>
      val t0 = if (r == 0) startMs else System.currentTimeMillis()
      val s = newSession(a)
      Graft.register(s)
      if (a.workload != "cdc_stream") LakeTables.foreach(t => s.read.parquet(s"${a.lake}/$t.parquet").schema)
      s.range(1000000).selectExpr("sum(id)").collect()
      val dt = (System.currentTimeMillis() - t0) / 1000.0
      if (r < SetupRounds - 1) stopAll()
      dt
    }
    rec.put("setup_s_rounds", setups)
    rec.put("setup_s", median(setups))
    mark("setup")

    val spark = SparkSession.active
    val spans = new Spans(System.currentTimeMillis(), System.nanoTime())
    val meter = new Meter(spans, a.cores)
    spark.sparkContext.addSparkListener(meter)

    if (a.workload == "cdc_stream") CdcLoad.run(spark, a, rec, spans, meter)
    else runBatch(spark, a, LakeBatch, rec, spans, meter)
    mark("measured")

    if (a.trace) {
      rec.putAll(Kernels.time(spark, a.lake).map { case (k, v) => s"kernel_ns_per_row.$k" -> v }, layer = true)
      val out = new StringBuilder
      spans.all.foreach { s =>
        out ++= f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Record.esc(s.name)}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""" + "\n"
      }
      Files.writeString(Paths.get(a.out, "spans.jsonl"), out.toString)
      rec.put("span_self_ms", spans.selfMsByKind)
      mark("traced")
    }
    rec.put("timeline_s", marks.synchronized(marks.map { case (k, t) => s"$k=$t" }.mkString(" ")))
  }

  /** Catalyst phase time (analysis, optimization, planning) summed over
    * every query execution.
    */
  final class CatalystMeter extends QueryExecutionListener {
    val ms = new java.util.concurrent.atomic.AtomicLong
    private def add(qe: QueryExecution): Unit =
      ms.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  final case class PassStats(ms: Double, traced: Boolean, entryMs: Seq[Double],
      jobsByEntry: Map[String, Long], layer: Map[String, Double])

  def runBatch(spark: SparkSession, a: Args, entries: Seq[String], rec: Record,
      spans: Spans, meter: Meter): Unit = {
    val sc = spark.sparkContext
    val lake = a.lake
    val catalyst = new CatalystMeter
    spark.listenerManager.register(catalyst)
    val scratch = sys.env.getOrElse("SPARK_GRAFT_TMP", System.getProperty("java.io.tmpdir"))
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L; var failed = 0L
    var peakHeap = 0.0

    def drain(): Unit = org.apache.spark.graft.ListenerDrain.drain(sc)

    /** One sequential pass: each entry is built, then materialized
      * through the noop sink, as the program's bench does, or, for the
      * correctness check, written out as parquet.
      */
    def pass(idx: Int, timed: Boolean, traced: Boolean, check: Boolean): PassStats = {
      peakHeap = math.max(peakHeap, liveHeapMb())
      drain()
      val c0 = meter.counters; val gc0 = jvmGcMs; val cat0 = catalyst.ms.get
      meter.takeMaxTasks(); meter.takeMaxJobs()
      val wallStart = System.currentTimeMillis()
      meter.tracing = traced
      val passId = spans.newId(); val p0 = spans.now
      var build = 0.0; var plan = 0.0; var exec = 0.0
      val entryMs = mutable.ArrayBuffer.empty[Double]
      val groups = mutable.ArrayBuffer.empty[(String, String)]
      entries.foreach { e =>
        val group = s"perfbench:$idx:$e"
        groups += e -> group
        val entryId = spans.newId()
        if (traced) meter.groupSpan.put(group, entryId)
        sc.setJobGroup(group, e, interruptOnCancel = false)
        val t0 = spans.now
        var t1 = t0; var t2 = t0
        try {
          val df = SparkEntry.queries(e)(spark, lake)
          t1 = spans.now
          if (traced) df.queryExecution.executedPlan
          t2 = spans.now
          if (check) df.coalesce(1).write.mode("overwrite").parquet(Paths.get(a.out, "check", e).toString)
          else df.write.format("noop").mode("overwrite").save()
        } catch { case t: Throwable =>
          if (timed || check) failed += 1
          errors += s"$e: ${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}"
        } finally {
          sc.clearJobGroup()
          spark.catalog.clearCache()
        }
        val t3 = spans.now
        if (timed || check) attempted += 1
        entryMs += t3 - t0
        build += t1 - t0; plan += t2 - t1; exec += t3 - t2
        if (traced) {
          spans.add(Span(entryId, passId, "entry", e, t0, t3))
          spans.add(Span(spans.newId(), entryId, "build", e, t0, t1))
          spans.add(Span(spans.newId(), entryId, "plan", e, t1, t2))
          spans.add(Span(spans.newId(), entryId, "exec", e, t2, t3))
        }
      }
      val p1 = spans.now
      if (traced) spans.add(Span(passId, 0L, "pass", s"pass$idx", p0, p1))
      drain()
      meter.tracing = false
      val c1 = meter.counters
      val d = c1.map { case (k, v) => k -> (v - c0(k)).toDouble }
      val jobsByEntry = groups.map { case (e, g) => e -> meter.jobsOf(g) }.toMap
      val wallMs = p1 - p0
      val layer = if (!traced) Map.empty[String, Double] else {
        val (files, bytes) = storeWrites(scratch, wallStart)
        d ++ Map(
          "build_ms" -> build, "plan_ms" -> plan, "exec_ms" -> exec,
          "catalyst_ms" -> (catalyst.ms.get - cat0).toDouble,
          "max_concurrent_tasks" -> meter.takeMaxTasks().toDouble,
          "max_concurrent_jobs" -> meter.takeMaxJobs().toDouble,
          "core_util" -> d("executor_cpu_ms") / (wallMs * a.cores),
          "store_bytes_written" -> bytes.toDouble, "store_files_written" -> files.toDouble,
          "jvm_gc_ms" -> (jvmGcMs - gc0).toDouble) ++
          jobsByEntry.map { case (e, n) => s"jobs.$e" -> n.toDouble }
      }
      PassStats(wallMs, traced, entryMs.toSeq, jobsByEntry, layer ++ Map(
        "tasks" -> d("tasks"), "shuffle_write_bytes" -> d("shuffle_write_bytes")))
    }

    // the first two passes are untimed: they warm codegen, class loading,
    // the JIT and the entries' first-call fixtures (a second pass still
    // runs 10-25% slower than later ones), and the first writes each
    // entry's result for the oracle compare in run.py. Then timed passes
    // until the budget is spent. A traced run alternates untraced and
    // traced passes so the tracing overhead is measured inside the same
    // run.
    pass(0, timed = false, traced = false, check = true)
    mark("check_pass")
    pass(-1, timed = false, traced = false, check = false)
    mark("warm_pass")
    val passes = mutable.ArrayBuffer.empty[PassStats]
    val budgetMs = a.seconds * 1000.0
    val minPasses = if (a.trace) 4 else 2
    var elapsed = 0.0
    while (passes.length < minPasses || elapsed + passes.last.ms / 2 < budgetMs) {
      val p = pass(passes.length + 1, timed = true, traced = a.trace && passes.length % 2 == 1, check = false)
      passes += p; elapsed += p.ms
    }
    peakHeap = math.max(peakHeap, liveHeapMb())

    // call latency: each entry's median over the untraced timed passes, then
    // percentiles over the entries. A handful of passes gives too few
    // calls for a tail percentile of raw calls, which would read the one
    // slowest call of the run.
    val untraced = passes.filterNot(_.traced)
    val calls = untraced.flatMap(_.entryMs)
    val entryMs = entries.indices.map(i => median(untraced.map(_.entryMs(i)).toSeq))
    rec.put("pass_s", median(untraced.map(_.ms / 1000.0).toSeq))
    rec.put("drain_eps", calls.length * 1000.0 / untraced.map(_.ms).sum)
    rec.put("lag_p50_ms", pct(entryMs, 0.50))
    rec.put("lag_p95_ms", pct(entryMs, 0.95))
    rec.put("peak_live_heap_mb", peakHeap)
    rec.put("samples", Map("passes" -> untraced.length.toDouble, "lag" -> calls.length.toDouble,
      "lag_entries" -> entryMs.length.toDouble))
    rec.put("pass_ms_all", passes.map(_.ms).toSeq)
    rec.put("entry_ms_by_pass", entries.indices.map(i => entries(i) -> passes.map(_.entryMs(i)).toSeq).toMap)
    rec.put("entry_ms", entries.zip(entryMs).toMap)
    rec.put("attempted", attempted); rec.put("failed", failed); rec.put("errors", errors.toSeq)
    rec.put("checks", entries.distinct.filter(SparkEntry.oracleSql.contains))
    rec.put("oracle_sql", entries.distinct.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _)).toMap)

    // determinism guard: per-entry job counts and task counts repeat
    // exactly across the timed passes; shuffle bytes within 1%
    val notes = mutable.ArrayBuffer.empty[String]
    passes.tail.foreach { p =>
      val p0 = passes.head
      p.jobsByEntry.foreach { case (e, n) =>
        if (n != p0.jobsByEntry(e)) notes += s"jobs.$e ${p0.jobsByEntry(e)} -> $n"
      }
      if (p.layer("tasks") != p0.layer("tasks")) notes += s"tasks ${p0.layer("tasks")} -> ${p.layer("tasks")}"
      val (b0, b1) = (p0.layer("shuffle_write_bytes"), p.layer("shuffle_write_bytes"))
      if (math.abs(b1 - b0) > 0.01 * math.max(b0, 1.0)) notes += s"shuffle_write_bytes $b0 -> $b1"
    }
    rec.put("determinism", Map(
      "ok" -> notes.isEmpty.toString, "notes" -> notes.mkString("; "),
      "jobs_by_entry" -> passes.head.jobsByEntry.toSeq.sortBy(_._1).map { case (e, n) => s"$e=$n" }.mkString(","),
      "tasks" -> passes.head.layer("tasks").toLong.toString))

    if (a.trace) {
      val traced = passes.filter(_.traced)
      val keys = traced.head.layer.keys
      rec.putAll(keys.map(k => k -> median(traced.map(_.layer(k)).toSeq)).toMap, layer = true)
      rec.putAll(Map("trace_overhead_pct" ->
        100.0 * (median(traced.map(_.ms).toSeq) / median(untraced.map(_.ms).toSeq) - 1.0)), layer = true)
    }
  }
}
