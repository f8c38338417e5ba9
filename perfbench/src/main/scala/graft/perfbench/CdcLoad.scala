package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.sources.CdcSource
import graft.streaming.CdcStream

/** Seeded Debezium-style change feed. One generator, one thread: a
  * snapshot (`r`) of every key, then Zipf-skewed `u`/`d` changes,
  * re-inserts (`c`) after delete, and late events whose LSN is below the
  * key's latest, which last-write-wins must discard. It keeps the final
  * state the stream has to reach.
  */
final class CdcGen(seed: Long, val keys: Int) {
  private val rng = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(i => 1.0 / (i + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  /** Popularity rank -> key. Fixed, not drawn from the seed: which keys
    * are hot decides how the skew falls on the state's hash partitions,
    * and a seed that piled the hottest keys into one partition would make
    * a costlier workload rather than another sample of the same one.
    */
  private val perm: Array[Int] = {
    val fixed = new java.util.SplittableRandom(CdcGen.RankSeed)
    val p = Array.range(0, keys)
    for (i <- keys - 1 to 1 by -1) { val j = fixed.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
    p
  }
  private val custkey = new Array[Long](keys)
  private val status = new Array[Int](keys)
  private val live = new Array[Boolean](keys)
  private val latest = new Array[Long](keys)
  private val lateUsed = new Array[Int](keys)
  private var seq = 0L

  private val Statuses = Array("O", "F", "P", "R", "X")

  private def image(k: Int): String =
    s"""{"id":${k + 1},"custkey":${custkey(k)},"status":"${Statuses(status(k))}"}"""

  private def line(op: String, k: Int, s: Long, before: Boolean): String = {
    val img = image(k)
    val (b, a) = if (before) (img, "null") else ("null", img)
    s"""{"op":"$op","ts_ms":${1700000000000L + s},"source":{"seq":$s},"before":$b,"after":$a}"""
  }

  private def nextSeq(k: Int): Long = { seq += 4; latest(k) = seq; lateUsed(k) = 0; seq }

  private def fresh(k: Int): Unit = { custkey(k) = rng.nextLong(1L, 150000L); status(k) = rng.nextInt(Statuses.length) }

  def snapshot(): Iterator[String] = Iterator.range(0, keys).map { k =>
    fresh(k); live(k) = true
    line("r", k, nextSeq(k), before = false)
  }

  def change(): String = {
    val r = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    val k = perm(math.min(keys - 1, if (r >= 0) r else -r - 1))
    if (rng.nextDouble() < 0.05 && lateUsed(k) < 3) {
      // a late event: LSN just below the key's latest, so it must lose
      lateUsed(k) += 1
      val (c0, s0) = (custkey(k), status(k))
      fresh(k)
      val l = line("u", k, latest(k) - lateUsed(k), before = false)
      custkey(k) = c0; status(k) = s0
      l
    } else if (!live(k)) {
      fresh(k); live(k) = true
      line("c", k, nextSeq(k), before = false)
    } else if (rng.nextDouble() < 0.1) {
      live(k) = false
      line("d", k, nextSeq(k), before = true)
    } else {
      fresh(k)
      line("u", k, nextSeq(k), before = false)
    }
  }

  /** (live keys, order-insensitive checksum) of the state so far. */
  def finalState: (Long, Long) = {
    var n = 0L; var sum = 0L
    for (k <- 0 until keys if live(k)) { n += 1; sum += CdcGen.rowHash(k + 1L, custkey(k), Statuses(status(k))) }
    (n, sum)
  }
}

object CdcGen {
  val RankSeed = 0x5eedL

  def rowHash(id: Long, custkey: Long, status: String): Long = {
    var z = id * 0x9e3779b97f4a7c15L ^ custkey * 0xbf58476d1ce4e5b9L ^ status.hashCode.toLong * 0x94d049bb133111ebL
    z = (z ^ (z >>> 31)) * 0xbf58476d1ce4e5b9L
    z ^ (z >>> 29)
  }
}

/** cdc_stream: envelope files → CdcSource.parseEnvelope → the LWW state
  * machine (CdcStream.applyEventsStream) → a foreachBatch parquet sink,
  * on RocksDB state. Phase 1 drains a pre-landed backlog (repeated, each
  * drain a fresh query); phase 2 keeps the last query running under an
  * open-loop feed landed on schedule at a fixed offered rate.
  */
object CdcLoad {
  val Keys = 16000
  val BacklogChanges = 48000
  /** The backlog drains in two big batches. An open-loop batch takes
    * every file landed while the previous batch ran: the cap stays far
    * above that at the offered rate, so it never throttles phase 2.
    */
  val BacklogFiles = 32
  val MaxFilesPerTrigger = 16
  /** Offered rate of phase 2, about a third of the drain rate measured on
    * a 4-core host. Fixed, so lag figures compare across runs.
    */
  val RateEps = 8000
  val IntervalMs = 200

  /** Land a feed file atomically: written under a hidden name (the file
    * source skips names starting with '.'), then renamed into place, so
    * the stream can never see a torn file.
    */
  def land(dir: Path, name: String, lines: Iterator[String]): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.runId == q.runId).toSeq.sortBy(_.batchId)
  }

  def parsed(p: StreamingQueryProgress): Long =
    Option(p.observedMetrics.get("parsed")).map(_.getLong(0)).getOrElse(0L)
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  final case class Query(q: StreamingQuery, feed: Path, cp: Path, sink: Path, sinkMs: ConcurrentHashMap[Long, Double])

  def start(spark: SparkSession, root: Path, name: String): Query = {
    import spark.implicits._
    val feed = Files.createDirectories(root.resolve(s"$name/feed"))
    val cp = root.resolve(s"$name/checkpoint")
    val sink = root.resolve(s"$name/sink")
    val sinkMs = new ConcurrentHashMap[Long, Double]()
    val spec = CdcSource.fileEnvelopeFeed(feed.toString)
    val raw = CdcSource.loadStream(spark,
      spec.copy(options = spec.options + ("maxFilesPerTrigger" -> MaxFilesPerTrigger.toString)))
    val events = CdcSource.parseEnvelope(raw)
      .observe("parsed", count(lit(1)).as("events"))
      .as[CdcStream.ChangeEvent]
    val write: (DataFrame, Long) => Unit = { (df, id) =>
      val t0 = System.nanoTime()
      df.write.mode("append").parquet(sink.toString)
      sinkMs.put(id, (System.nanoTime() - t0) / 1e6)
    }
    val q = CdcStream.applyEventsStream(events)
      .writeStream.queryName(name)
      .option("checkpointLocation", cp.toString)
      .outputMode("update")
      .foreachBatch(write)
      .start()
    Query(q, feed, cp, sink, sinkMs)
  }

  /** Wait until the query has applied `target` parsed events in total. */
  def awaitConsumed(q: Query, prog: Progress, target: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (prog.of(q.q).map(parsed).sum < target) {
      q.q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"stream consumed ${prog.of(q.q).map(parsed).sum} of $target events")
      Thread.sleep(5)
    }
  }

  /** Final applied state read back from the sink: the latest emission
    * per key, deletes dropped, as (count, order-insensitive checksum).
    */
  def sinkState(spark: SparkSession, sink: Path): (Long, Long) = {
    val w = Window.partitionBy(col("id")).orderBy(desc("seq"))
    val rows = spark.read.parquet(sink.toString)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select("id", "custkey", "status").collect()
    (rows.length.toLong, rows.map(r => CdcGen.rowHash(r.getLong(0), r.getLong(1), r.getString(2))).sum)
  }

  /** Checkpoint file-source log: feed file name -> batch id. */
  def fileBatches(cp: Path): Map[String, Long] = {
    val dir = cp.resolve("sources/0")
    val files = Files.list(dir).iterator.asScala.toList
      .filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
    val Path = """"path":"([^"]+)"""".r
    val Batch = """"batchId":(\d+)""".r
    files.flatMap(f => Files.readAllLines(f).asScala).flatMap { l =>
      for (p <- Path.findFirstMatchIn(l); b <- Batch.findFirstMatchIn(l))
        yield p.group(1).split('/').last -> b.group(1).toLong
    }.toMap
  }

  def commitMs(cp: Path, batch: Long): Double =
    Files.getLastModifiedTime(cp.resolve(s"commits/$batch")).to(TimeUnit.MICROSECONDS) / 1000.0

  def run(spark: SparkSession, a: Harness.Args, rec: Record, spans: Spans, meter: Meter): Unit = {
    val root = Files.createDirectories(Paths.get(a.out, "cdc"))
    val prog = new Progress
    spark.streams.addListener(prog)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L; var failed = 0L
    var peakHeap = 0.0

    // the backlog is a pure function of the seed: build its files' lines once
    val gen = new CdcGen(a.seed, Keys)
    val backlog = (gen.snapshot() ++ Iterator.fill(BacklogChanges)(gen.change())).toVector
    val perFile = (backlog.length + BacklogFiles - 1) / BacklogFiles

    final case class Drain(ms: Double, traced: Boolean, layer: Map[String, Double], q: Query)

    def drain(name: String, traced: Boolean, keepRunning: Boolean): Drain = {
      peakHeap = math.max(peakHeap, Harness.liveHeapMb())
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val c0 = meter.counters; val gc0 = Harness.jvmGcMs
      meter.takeMaxTasks(); meter.takeMaxJobs()
      val feed = Files.createDirectories(root.resolve(s"$name/feed"))
      backlog.grouped(perFile).zipWithIndex.foreach { case (ls, i) => land(feed, f"backlog-$i%05d.txt", ls.iterator) }
      val q = start(spark, root, name)
      val passId = spans.newId()
      if (traced) meter.groupSpan.put(q.q.runId.toString, passId)
      meter.tracing = traced
      awaitConsumed(q, prog, backlog.length, 120000)
      val ps = prog.of(q.q)
      val first = startMs(ps.head)
      val last = ps.map(p => startMs(p) + dur(p, "triggerExecution")).max
      val ms = (last - first).toDouble
      if (traced) {
        spans.add(Span(passId, 0L, "pass", name, spans.fromEpochMs(first), spans.fromEpochMs(last.toLong)))
        ps.foreach { p =>
          val s0 = spans.fromEpochMs(startMs(p))
          spans.add(Span(spans.newId(), passId, "micro_batch", s"$name/${p.batchId}", s0, s0 + dur(p, "triggerExecution")))
        }
      }
      attempted += backlog.length
      if (!keepRunning) { q.q.stop(); checkConsumed(q, backlog.length.toLong) }
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      meter.tracing = false
      val c1 = meter.counters
      val d = c1.map { case (k, v) => k -> (v - c0(k)).toDouble }
      val layer = d ++ Map(
        "max_concurrent_tasks" -> meter.takeMaxTasks().toDouble,
        "max_concurrent_jobs" -> meter.takeMaxJobs().toDouble,
        "core_util" -> d("executor_cpu_ms") / (ms * a.cores),
        "exec_ms" -> ms,
        "jvm_gc_ms" -> (Harness.jvmGcMs - gc0).toDouble,
        "rows_per_batch" -> Harness.median(ps.map(_.numInputRows.toDouble)),
        "sink_ms" -> Harness.median(ps.map(p => q.sinkMs.getOrDefault(p.batchId, 0.0))))
      Drain(ms, traced, layer, q)
    }

    /** Torn-feed guard: every generated event was parsed and applied. */
    def checkConsumed(q: Query, events: Long): Unit = {
      val consumed = prog.of(q.q).map(parsed).sum
      if (consumed != events) {
        failed += math.abs(events - consumed)
        errors += s"${q.q.name}: consumed $consumed of $events events"
      }
    }

    /** The final applied state, read back from the sink, against the
      * generator's.
      */
    def checkState(q: Query, want: (Long, Long)): Unit = {
      val got = sinkState(spark, q.sink)
      if (got != want) {
        failed += math.max(1L, math.abs(got._1 - want._1))
        errors += s"${q.q.name}: final state $got, expected $want"
      }
    }

    // two untimed warm-up drains, then timed drains; the last one keeps
    // running into the open-loop phase
    (0 until 2).foreach(i => drain(s"warm$i", traced = false, keepRunning = false))
    Harness.mark("warm_drains")
    val drains = mutable.ArrayBuffer.empty[Drain]
    val minDrains = 4
    val t0 = System.currentTimeMillis()
    while (drains.length < minDrains || System.currentTimeMillis() - t0 < a.seconds * 1000L / 3) {
      drains += drain(s"drain${drains.length}", traced = a.trace && drains.length % 2 == 1, keepRunning = false)
    }
    Harness.mark("timed_drains")
    val last = drain("live", traced = a.trace, keepRunning = true)
    Harness.mark("live_drain")

    // phase 2: open loop at RateEps, one file every IntervalMs, landed on
    // schedule whether or not the stream keeps up
    val nFiles = (a.seconds * 2000L / 3 / IntervalMs).toInt
    val perTick = RateEps * IntervalMs / 1000
    val landed = mutable.ArrayBuffer.empty[(String, Double, Array[Double])] // name, landed at, event creation times
    var lateMax = 0.0
    val p2start = System.currentTimeMillis() + 50L
    val epochNs = System.nanoTime() - (System.currentTimeMillis() - p2start) * 1000000L
    def nowMs: Double = p2start + (System.nanoTime() - epochNs) / 1e6
    val gthread = new Thread(() => {
      for (i <- 0 until nFiles) {
        val due = p2start + (i + 1) * IntervalMs.toDouble
        val wait = ((due - nowMs) * 1e6).toLong
        if (wait > 0) LockSupport.parkNanos(wait)
        val created = Array.tabulate(perTick)(j => p2start + i * IntervalMs + (j + 1) * IntervalMs.toDouble / perTick)
        val name = f"live-$i%05d.txt"
        land(last.q.feed, name, Iterator.fill(perTick)(gen.change()))
        val at = nowMs
        lateMax = math.max(lateMax, at - due)
        landed.synchronized { landed += ((name, at, created)) }
      }
    }, "perfbench-cdc-generator")
    gthread.setDaemon(true)
    gthread.start()
    gthread.join()
    val total = backlog.length.toLong + nFiles.toLong * perTick
    awaitConsumed(last.q, prog, total, 120000)
    last.q.q.stop()
    attempted += nFiles.toLong * perTick
    checkConsumed(last.q, total)
    Harness.mark("open_loop")
    checkState(last.q, gen.finalState)

    val batchOf = fileBatches(last.q.cp)
    val commit = batchOf.values.toSeq.distinct.map(b => b -> commitMs(last.q.cp, b)).toMap
    val lags = landed.toSeq.flatMap { case (n, _, created) =>
      val c = commit(batchOf(n)); created.map(c - _)
    }
    val backlogMax = landed.map { case (_, at, _) =>
      landed.count { case (n, at2, _) => at2 <= at && commit(batchOf(n)) > at }
    }.max
    val ps = prog.of(last.q.q)
    val live = ps.filter(p => landed.exists { case (n, _, _) => batchOf(n) == p.batchId })
    peakHeap = math.max(peakHeap, Harness.liveHeapMb())

    val untraced = drains.filterNot(_.traced)
    rec.put("pass_s", Harness.median(untraced.map(_.ms / 1000.0).toSeq))
    rec.put("drain_eps", backlog.length * 1000.0 / Harness.median(untraced.map(_.ms).toSeq))
    rec.put("lag_p50_ms", Harness.pct(lags, 0.50))
    rec.put("lag_p95_ms", Harness.pct(lags, 0.95))
    rec.put("peak_live_heap_mb", peakHeap)
    rec.put("samples", Map("passes" -> untraced.length.toDouble, "lag" -> lags.length.toDouble,
      "live_batches" -> live.length.toDouble))
    rec.put("pass_ms_all", drains.map(_.ms).toSeq)
    rec.put("attempted", attempted); rec.put("failed", failed); rec.put("errors", errors.toSeq)

    if (a.trace) {
      val traced = drains.filter(_.traced)
      val keys = traced.head.layer.keys
      def liveMed(k: String) = Harness.median(live.map(dur(_, k)))
      val st = ps.last.stateOperators
      rec.putAll(keys.map(k => k -> Harness.median(traced.map(_.layer(k)).toSeq)).toMap ++ Map(
        "batch_ms_p50" -> Harness.pct(live.map(dur(_, "triggerExecution")), 0.50),
        "batch_ms_p95" -> Harness.pct(live.map(dur(_, "triggerExecution")), 0.95),
        "add_batch_ms" -> liveMed("addBatch"),
        "query_planning_ms" -> liveMed("queryPlanning"),
        "latest_offset_ms" -> liveMed("latestOffset"),
        "wal_commit_ms" -> liveMed("walCommit"),
        "state_commit_ms" -> Harness.median(live.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        "state_rows" -> st.map(_.numRowsTotal).sum.toDouble,
        "state_mem_bytes" -> ps.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).max,
        "backlog_files_max" -> backlogMax.toDouble,
        "generator_late_ms_max" -> lateMax,
        "trace_overhead_pct" -> 100.0 * (Harness.median(traced.map(_.ms).toSeq) /
          Harness.median(untraced.map(_.ms).toSeq) - 1.0)), layer = true)
      live.foreach { p =>
        val s0 = spans.fromEpochMs(startMs(p))
        spans.add(Span(spans.newId(), 0L, "micro_batch", s"live/${p.batchId}", s0, s0 + dur(p, "triggerExecution")))
      }
    }
  }
}
