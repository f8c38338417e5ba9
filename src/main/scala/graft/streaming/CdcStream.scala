package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.operators.CdcSuite
import graft.sources.{CdcSource, Scratch, SourceSpec, Tables}

/** §2 F — Structured Streaming re-expression of the reference pipeline's
  * continuous path (Debezium topic → sink upsert). The batch suites prove
  * semantics; these prove the same semantics hold under incremental
  * execution with per-key state, which is what a real 100 TB CDC feed
  * needs (state store instead of a full-table window).
  */
object CdcStream {

  /** Micro-batch progress of each twin's most recent run, as
    * (inputRows, triggerExecutionMs, stateRowsTotal, stateMemoryBytes)
    * per batch — Bench reads this to publish streaming throughput
    * (rows/sec, batch duration, state size and memory footprint) next
    * to the batch wall-times. memoryUsedBytes is the provider's own
    * figure (heap estimate for the default store, RocksDB
    * total-memory-usage for the RocksDB provider), which is exactly the
    * flat-vs-growing comparison the backend choice is about.
    */
  val progressLog =
    scala.collection.concurrent.TrieMap[String, Vector[(Long, Long, Long, Long)]]()

  private def recordProgress(
      name: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    progressLog(name) = q.recentProgress.toVector.map { p =>
      val trig = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      (p.numInputRows, trig, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }

  case class ChangeEvent(id: Long, custkey: Long, status: String, op: String, seq: Long, ts_ms: Long)
  case class KeyState(custkey: Long, status: String, op: String, seq: Long, ts_ms: Long)

  /** Last-write-wins fold for one key's new events against stored state
    * (ref: JDBC sink upsert+delete; same ordering rule as
    * CdcSuite."cdc_apply_latest"). Emits the key's current state each
    * trigger; downstream keeps the latest emission per key.
    */
  private def applyEvents(
      id: Long,
      events: Iterator[ChangeEvent],
      state: GroupState[KeyState]): Iterator[(Long, Long, String, String, Long)] = {
    val incoming = events.toSeq
    val prev = state.getOption
    val all = prev.map(p => ChangeEvent(id, p.custkey, p.status, p.op, p.seq, p.ts_ms)).toSeq ++ incoming
    val latest = all.maxBy(e => (e.seq, e.ts_ms))
    state.update(KeyState(latest.custkey, latest.status, latest.op, latest.seq, latest.ts_ms))
    Iterator((id, latest.custkey, latest.status, latest.op, latest.seq))
  }

  /** The LWW upsert state machine as a reusable stream transform:
    * per-key flatMapGroupsWithState over a change-event stream, emitting
    * (id, custkey, status, op, seq) per trigger. Shared by the landed-log
    * twins, the envelope-seam twin, and the checkpoint-recovery spec.
    */
  private[graft] def applyEventsStream(events: Dataset[ChangeEvent]): DataFrame = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(applyEvents _)
      .toDF("id", "custkey", "status", "op", "seq")
  }

  /** Where a replay drains its transformed stream, with the output mode
    * it drains under: a uuid-named memory table the twin reads its final
    * state from, Spark's `noop` sink, or a foreachBatch fold whose
    * batchId IS the store batch id.
    */
  private sealed abstract class Sink(val mode: String)
  private final case class MemorySink(m: String = "update") extends Sink(m)
  private case object NoopSink extends Sink("update")
  private final case class FoldSink(f: (DataFrame, Long) => Unit) extends Sink("append")

  /** One replay's landing zone: every feed a twin lands goes under a
    * fresh `Scratch.dir(prefix)` registered here, and [[withLanding]]
    * deletes them all when the replay ends. Nothing is memoized across
    * calls — each call lands its own input.
    */
  private final class Landing(val spark: SparkSession) {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def dir(prefix: String): String = { val d = Scratch.dir(prefix); dirs += d; d }
    def write(prefix: String, rows: DataFrame, files: Int): String = {
      val d = dir(prefix)
      rows.repartition(files).write.mode("overwrite").parquet(d)
      d
    }
    /** Open a landed feed through the external-source seam, one file
      * per micro-batch (`perFile`) or every file in one batch.
      */
    def open(spec: SourceSpec, perFile: Boolean = true): DataFrame =
      CdcSource.loadStream(spark,
        if (perFile) spec.copy(options = spec.options + ("maxFilesPerTrigger" -> "1"))
        else spec)
    /** Land `rows` as `files` parquet files and open them as a stream. */
    def apply(prefix: String, rows: DataFrame, files: Int = 4,
        perFile: Boolean = true): DataFrame =
      open(SourceSpec("parquet", Map("path" -> write(prefix, rows, files)),
        Some(rows.schema)), perFile)
  }

  private def withLanding[T](spark: SparkSession)(body: Landing => T): T = {
    val land = new Landing(spark)
    try body(land)
    finally land.dirs.foreach(deleteDir(spark, _))
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** The replay runner every AvailableNow twin goes through: `build`
    * lands the twin's feed(s) and transforms the stream; the result
    * drains under `Trigger.AvailableNow` into `sink` as the query
    * `<queryPrefix><uuid>`, and the run's micro-batch progress is
    * recorded under `progressKey`. Returns the memory sink's table (an
    * empty frame for the other sinks). The landed feeds are deleted
    * once the query ends; the checkpoint is not — a state-store
    * provider that is still loaded may run maintenance tasks against it
    * after the query stops.
    */
  private def replay(spark: SparkSession, progressKey: String, queryPrefix: String,
      sink: Sink = MemorySink())(build: Landing => DataFrame): DataFrame =
    withLanding(spark) { land =>
      val qname = queryPrefix + java.util.UUID.randomUUID.toString.replace("-", "")
      val w = build(land).writeStream.queryName(qname)
        // checkpoint under the shared scratch root — the default temp
        // checkpoint is driver-local, which silently breaks multi-node
        .option("checkpointLocation", Scratch.dir(qname + "_cp"))
        .outputMode(sink.mode).trigger(Trigger.AvailableNow())
      val q = (sink match {
        case MemorySink(_) => w.format("memory")
        case NoopSink => w.format("noop")
        case FoldSink(f) => w.foreachBatch { (df: DataFrame, batchId: Long) => f(df, batchId) }
      }).start()
      q.awaitTermination()
      recordProgress(progressKey, q)
      if (sink.isInstanceOf[MemorySink]) spark.table(qname) else spark.emptyDataFrame
    }

  /** The row with the highest `order` per `key`: a twin's final state
    * read back from its update-mode emissions.
    */
  private def latestPerKey(df: DataFrame, key: String, order: String): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(col(key)).orderBy(desc(order))))
      .filter(col("rn") === 1).drop("rn")

  /** The lake's change log landed as a 4-file feed (so AvailableNow
    * exercises multi-batch incremental processing with a key's events
    * split across batches) and opened as a ChangeEvent stream through
    * the external-source seam — the landed-file spec is the test
    * implementation; a CdcSource.kafkaTopic spec (+ parseEnvelope)
    * slots in with no change downstream.
    */
  private def changeEvents(land: Landing, dir: String): Dataset[ChangeEvent] = {
    import land.spark.implicits._
    land("graft_cdc_stream", CdcSuite.changeLog(land.spark, dir)).as[ChangeEvent]
  }

  /** The upsert machine's table state from its emissions: the latest
    * emission per key wins; tombstoned keys drop (hard-delete mode).
    */
  private def liveState(emissions: DataFrame): DataFrame =
    latestPerKey(emissions, "id", "seq").filter(col("op") =!= "d")
      .select(col("id"), col("custkey"), col("status"))
      .orderBy("id")

  /** Throughput probe for the upsert state machine at lake sizes whose
    * EMISSIONS no longer fit a memory sink (~18 M rows at sf10 OOM a
    * 16 GB JVM before the state store is even the bottleneck —
    * measured). Same landed log, same flatMapGroupsWithState state
    * machine, same per-batch progress metrics (rows/sec, state rows,
    * state memory — the numbers the bench publishes); only the sink
    * differs: Spark's `noop` streaming sink, which is the production
    * shape's cost model anyway (a real deployment's JDBC/parquet sink
    * runs off-driver, so driver memory never holds the emissions).
    * Returns a 1-row handle for the bench's materialize().
    */
  private[graft] def applyThroughputProbe(spark: SparkSession, dir: String): DataFrame = {
    replay(spark, "cdc_stream_apply", "cdc_stream_probe_", NoopSink)(
      land => applyEventsStream(changeEvents(land, dir)))
    spark.range(1).toDF("ok")
  }

  /** Steady-state result of one [[continuousProbe]] run: per-batch
    * latency distribution and the backpressure margin under a
    * continuous trigger.
    */
  case class ContinuousStats(twin: String, triggerMs: Long, batches: Int,
      p50Ms: Long, p95Ms: Long, maxMs: Long,
      inputRps: Double, procRps: Double, rows: Long, stateRows: Long,
      /** per-data-batch triggerExecution durations IN ARRIVAL ORDER —
        * the attribution evidence behind the percentiles (is the tail
        * the first cold batches or spread jitter?) */
      batchSeriesMs: Seq[Long] = Nil,
      /** how many leading data batches the percentile stats exclude as
        * session warmup (codegen/JIT of the twin's plan — not state
        * behavior); the full series above still includes them */
      warmupExcluded: Int = 0,
      /** the minDeltasForSnapshot the run actually executed under —
        * published so the artifact can never claim a cadence the
        * state store didn't use */
      cadence: Int = 100)

  /** Steady-state latency probe: every other streaming evidence path
    * replays the landed feed under `Trigger.AvailableNow` — that proves
    * throughput and state size but says nothing about per-batch latency
    * or backpressure under the CONTINUOUS trigger an unbounded CDC feed
    * actually runs. Here the feed is landed as `files` parquet files and
    * metered at one file per micro-batch under
    * `Trigger.ProcessingTime(triggerMs)` into the noop sink (the
    * production cost model — a real sink runs off-driver), through the
    * SAME state machines as the twins. Returns the per-batch
    * triggerExecution p50/p95/max, the metered input rate vs the
    * processing rate (their ratio is the backpressure margin: proc ≫
    * input means the pipeline keeps up with headroom), and final state
    * rows. The steady-state acceptance bar is p95 batch time < the
    * trigger interval — batches then never queue behind the trigger.
    *
    * Twins: `cdc_stream_apply` (the LWW upsert machine over the change
    * log) and `stream_dedup_minhash` (per-bucket pair state over the
    * band rows). The first batch pays whole-stage-codegen compilation —
    * a JVM one-time, reported honestly inside max and excluded from p95
    * whenever batches ≥ 20.
    *
    * `stateParts` sizes the query's state partitioning: per-batch fixed
    * cost is dominated by one state-store commit PER PARTITION, so a
    * batch of a few thousand rows against 32 partitions pays ~32
    * near-empty commits (~1 s of pure overhead measured at sf0.1) —
    * production streaming jobs size shuffle partitions to the feed, not
    * to the batch engine's scan parallelism. Scoped to this query via
    * its fresh checkpoint; the session conf is restored afterwards.
    */
  private[graft] def continuousProbe(spark: SparkSession, dir: String,
      twin: String, triggerMs: Long = 1000, files: Int = 24,
      stateParts: Int = 8, warmupBatches: Int = 2,
      snapshotCadence: Int = 100): ContinuousStats = {
    import spark.implicits._
    // consumption AND the latency distribution are accumulated by a
    // StreamingQueryListener, NOT polled from q.recentProgress: that is
    // a rolling buffer capped at numRecentProgressUpdates (default 100)
    // where a long idle stretch's no-data progress entries (emitted
    // ~every 10 s) can evict real data batches — the consumed sum would
    // plateau below expected and the probe would spin to its deadline
    // with a misleading failure. The listener sees every progress event
    // exactly once, so files is unbounded and idle noise is harmless.
    withLanding(spark) { land =>
      val (feedPrefix, feed) = twin match {
        case "cdc_stream_apply" => ("graft_cont_cdc", CdcSuite.changeLog(spark, dir))
        case "stream_dedup_minhash" =>
          org.apache.spark.sql.graft.Bridge.register(spark)
          ("graft_cont_mh", bandFeed(graft.operators.DedupSuite.shingleSets(spark, dir)))
        case other => throw new IllegalArgumentException(
          s"continuousProbe: no probe feed for twin '$other'")
      }
      val feedDir = land.write(feedPrefix, feed, files)
      val expected = spark.read.parquet(feedDir).count()
      val stream = land.open(SourceSpec("parquet", Map("path" -> feedDir), Some(feed.schema)))
      val transformed = twin match {
        case "cdc_stream_apply" => applyEventsStream(stream.as[ChangeEvent])
        case _ => minhashPairsStream(
            stream.as[(String, Long, java.sql.Timestamp)], MinhashTtlMs, "1 minute")
          .toDF("doc_a", "doc_b")
      }
      val qname = "cont_probe_" + java.util.UUID.randomUUID.toString.replace("-", "")
      // Probe-scoped conf (restored afterwards): state partitions sized to
      // the feed, and the snapshot cadence lifted off the latency path.
      // Diagnosed from the per-batch series (batchSeriesMs): with the
      // default minDeltasForSnapshot=10, the RocksDB commit path creates a
      // full local snapshot every 10th micro-batch — a deterministic
      // ~0.5-0.7 s spike riding exactly batches 10/20/... that put the
      // sf1 RocksDB p95 AT the 1 s trigger in r10. Under changelog
      // checkpointing the snapshot is pure recovery acceleration (restore
      // replays at most `cadence` changelogs over the last snapshot), so
      // cadence 100 trades bounded-replay recovery for a spike-free
      // steady state — the trade an unbounded-feed deployment wants.
      // The cadence is an EXPLICIT PARAMETER (default 100), always set
      // for the probe's scope and restored after: the "keep a session-set
      // value" detection via spark.conf.getOption is unimplementable —
      // for a registered SQLConf key getOption returns the built-in
      // DEFAULT (10), indistinguishable from a user set, so that form
      // silently never pinned and the every-10th-batch snapshot spike
      // returned (measured: sf1 RocksDB p95 554 ms pinned → 1062 ms
      // unpinned, spikes riding exactly batches 10/20). A cadence sweep
      // passes its value through this parameter instead.
      val cadenceKey = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
      val probeConf = Map(
        "spark.sql.shuffle.partitions" -> stateParts.toString,
        cadenceKey -> snapshotCadence.toString)
      val saved = probeConf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      probeConf.foreach { case (k, v) => spark.conf.set(k, v) }
      val progressBuf =
        scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.name == qname)
            progressBuf.synchronized { progressBuf += e.progress }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val done = try {
        val q = transformed.writeStream.format("noop").queryName(qname)
          .option("checkpointLocation", Scratch.dir(qname + "_cp"))
          .outputMode("update")
          .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds")).start()
        // run until the feed is fully consumed (bounded by a hard deadline
        // so a wedged stream fails loudly instead of hanging the bench)
        val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
        def consumed: Long =
          progressBuf.synchronized { progressBuf.map(_.numInputRows).sum }
        while (consumed < expected && q.isActive && System.nanoTime() < deadline)
          Thread.sleep(50)
        q.stop(); q.awaitTermination()
        consumed
      } finally {
        spark.streams.removeListener(listener)
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      require(done >= expected,
        s"continuousProbe($twin): consumed $done of $expected rows before the deadline")
      val data = progressBuf.synchronized { progressBuf.filter(_.numInputRows > 0).toArray }
      val series = data.map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)).toSeq
      // steady-state percentiles: the first data batches pay the session's
      // codegen/JIT of this twin's plan, not state-store behavior — a
      // production job's millionth batch never sees them. They stay in the
      // published series (and warmupExcluded says how many were dropped).
      val steadyN = math.max(1, series.length - warmupBatches)
      val steady = series.takeRight(steadyN)
      val trigs = steady.sorted
      def pct(p: Double): Long = trigs(math.max(0, math.ceil(p * trigs.length).toInt - 1))
      val rows = data.map(_.numInputRows).sum
      // procRps is a steady-state rate: rows and durations must cover the
      // SAME window (all-batch rows over steady-only durations would
      // inflate the published throughput — the opposite bias of the
      // conservative median). inputRps keeps the full-run totals.
      val steadyRows = data.takeRight(steadyN).map(_.numInputRows).sum
      ContinuousStats(twin, triggerMs, data.length, pct(0.5), pct(0.95), trigs.last,
        inputRps = rows * 1000.0 / (triggerMs.toDouble * data.length),
        procRps = if (trigs.sum > 0) steadyRows * 1000.0 / trigs.sum else 0.0,
        rows = rows,
        stateRows = data.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
        batchSeriesMs = series,
        warmupExcluded = series.length - steadyN,
        cadence = snapshotCadence)
    }
  }

  /** Stream the synthesized change log through flatMapGroupsWithState and
    * materialize the final table state. Returns a batch DataFrame equal to
    * CdcSuite."cdc_apply_latest" (same oracle applies).
    */
  def applyLatest(spark: SparkSession, dir: String): DataFrame =
    liveState(replay(spark, "cdc_stream_apply", "cdc_stream_")(
      land => applyEventsStream(changeEvents(land, dir))))

  /** Streaming log compaction: same state machine, but the latest
    * emission per key is kept even when it is a delete — as a tombstone
    * with nulled payload (batch twin: CdcSuite."cdc_compact_log", same
    * oracle). This is the continuously-maintained compacted topic a
    * Kafka broker materializes in the background.
    */
  def compactLog(spark: SparkSession, dir: String): DataFrame =
    latestPerKey(replay(spark, "stream_compact_log", "cdc_stream_")(
        land => applyEventsStream(changeEvents(land, dir))), "id", "seq")
      .select(col("id"), col("op"), col("seq"),
        when(col("op") === "d", lit(null).cast("long"))
          .otherwise(col("custkey")).as("custkey"),
        when(col("op") === "d", lit(null).cast("string"))
          .otherwise(col("status")).as("status"))
      .orderBy("id")

  case class Scd2Ev(custkey: Long, status: String, op: String, seq: Long, ts_ms: Long)
  case class Scd2State(events: Seq[Scd2Ev])

  /** SCD2 fold for one key: accumulate the key's events, re-derive the
    * version intervals, emit them tagged with the event count — the tag
    * is monotone per key (grows with every fold), so the downstream
    * "latest emission wins" dedupe is safe even when micro-batches
    * deliver a key's events out of order. valid_to is -1 while a
    * version is open (tuple encoders carry no Option[Long]).
    */
  private def scd2Fold(
      id: Long,
      events: Iterator[ChangeEvent],
      state: GroupState[Scd2State]): Iterator[(Long, Long, String, Long, Long, Long)] = {
    val incoming = events.map(e => Scd2Ev(e.custkey, e.status, e.op, e.seq, e.ts_ms)).toSeq
    // distinct BEFORE appending: an at-least-once source replaying an
    // uncommitted batch must not double-count an event already folded
    // into state (which would also break the emission-distinctness
    // invariant the downstream dedupe relies on)
    val all = (state.getOption.map(_.events).getOrElse(Seq.empty) ++ incoming)
      .distinct.sortBy(e => (e.seq, e.ts_ms))
    state.update(Scd2State(all))
    val tag = all.length.toLong
    val out = all.zipWithIndex.collect { case (e, i) if e.op != "d" =>
      val validTo = if (i + 1 < all.length) all(i + 1).ts_ms else -1L
      (id, e.custkey, e.status, e.ts_ms, validTo, tag)
    }
    // enforce (not assume) the invariant the replay-safe dropDuplicates
    // downstream depends on: one fold never emits two identical version
    // rows — if it did, the batch oracle would keep both
    require(out.distinct.size == out.size,
      s"scd2Fold: duplicate version rows emitted for key $id")
    out.iterator
  }

  /** Streaming SCD Type-2: the history-preserving materialization of the
    * change stream (batch twin: CdcSuite."cdc_scd2_build", same oracle).
    * State per key is its event history — bounded by version count,
    * which is what an SCD2 table stores by definition.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wt = Window.partitionBy(col("id"))
    replay(spark, "stream_scd2", "scd2_stream_")(land =>
      changeEvents(land, dir).groupByKey(_.id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(scd2Fold)
        .toDF("id", "custkey", "status", "valid_from", "valid_to_raw", "tag"))
      // Authoritative rows = the key's last (highest-tag) emission.
      .withColumn("maxtag", max(col("tag")).over(wt))
      .filter(col("tag") === col("maxtag"))
      // replay-safe dedupe on the FULL version identity: within one fold's
      // emission rows are already distinct, so only exact re-emissions of
      // the same fold (sink-append replays) can duplicate — key-level
      // dedupe on (id, valid_from) would instead collapse two legitimate
      // versions that share ts_ms
      .dropDuplicates("id", "custkey", "status", "valid_from", "valid_to_raw", "tag")
      .select(col("id"), col("custkey"), col("status"), col("valid_from"),
        when(col("valid_to_raw") < 0, lit(null).cast("long"))
          .otherwise(col("valid_to_raw")).as("valid_to"),
        (col("valid_to_raw") < 0).as("is_current"))
      .orderBy("id", "valid_from")
  }

  /** Watermarked tumbling-window counts over the events stream; counts are
    * monotone so the max over update-mode emissions is the final count
    * (matches the batch group-by oracle).
    */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame =
    replay(spark, "stream_windowed_agg", "evt_stream_") { land =>
      // One batch for the finite replay: the files aren't time-ordered, so
      // per-file triggers would advance the watermark past genuinely-on-time
      // events and drop them as late. A live feed is roughly time-ordered;
      // a backfill replay is exactly this single-batch shape.
      land("graft_evt_stream", Tables.events(spark, dir).select("ts", "event_type"),
          perFile = false)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    }.groupBy(col("win_start"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy("win_start", "event_type")

  /** Streaming exact dedup: per-content-hash keyed state tracks
    * (min doc_id, copy count) across micro-batches — how a continuous
    * ingest pipeline dedups against everything already seen. The final
    * state per key equals the batch group-by, so the batch oracle applies.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    replay(spark, "stream_dedup_exact", "dedup_stream_") { land =>
      land("graft_dedup_stream", graft.operators.DedupSuite.corpusWithDups(spark, dir)
          .select(md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("h"), col("doc_id")))
        .as[(String, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (h: String, rows: Iterator[(String, Long)], state: GroupState[(Long, Long)]) =>
            val s0 = state.getOption.getOrElse((Long.MaxValue, 0L))
            val s1 = rows.foldLeft(s0) { case ((m, c), (_, id)) => (math.min(m, id), c + 1) }
            state.update(s1)
            Iterator((h, s1._1, s1._2))
        }
        .toDF("h", "keep_id", "n_copies")
    }
      // final emission per key: count is monotone, min-id non-increasing
      .groupBy(col("h"))
      .agg(min(col("keep_id")).as("keep_id"), max(col("n_copies")).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** Dedup horizon for the registry entry: effectively infinite (100
    * years), so the finite replay equals the batch pipeline and shares
    * its oracle. A live deployment would set this to its dedup window.
    */
  private val MinhashTtlMs: Long = 100L * 365 * 24 * 3600 * 1000

  /** Pair-emitting MinHash-bucket state fold with idle-key TTL. Each
    * (band|bucket) key accumulates the doc ids seen in that bucket; a
    * new arrival pairs against only its bucket's state. A key that
    * stays idle while the event-time watermark advances past its last
    * arrival + `ttlMs` is evicted (EventTimeTimeout) — the production
    * backstop that keeps the state store bounded on an unbounded feed,
    * trading "dedup against all history" for "dedup within the
    * horizon", which is the standard contract for streaming near-dup.
    */
  def minhashPairsStream(
      rows: Dataset[(String, Long, java.sql.Timestamp)],
      ttlMs: Long,
      allowedLateness: String = "0 seconds"): Dataset[(Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.toDF("k", "doc_id", "ets")
      .withWatermark("ets", allowedLateness)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[Vector[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = state.getOption.getOrElse(Vector.empty)
            val arrived = it.toVector
            // horizon base: the bucket's own latest event time (the
            // watermark alone lags a batch and is 0 on the first one)
            val lastMs = arrived.map(_._3.getTime).max
            val newIds = arrived.map(_._2).distinct.filterNot(seen.contains)
            val pairs =
              (for (n <- newIds; o <- seen) yield (math.min(n, o), math.max(n, o))) ++
                (for (i <- newIds.indices; j <- (i + 1) until newIds.size)
                  yield (math.min(newIds(i), newIds(j)), math.max(newIds(i), newIds(j))))
            state.update(seen ++ newIds)
            // evict once the watermark passes the bucket's last activity
            // by the horizon
            state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs(), lastMs) + ttlMs)
            pairs.iterator
          }
      }
  }

  /** Streaming MinHash near-dup dedup: the continuous-ingest counterpart
    * of batch `dedup_minhash_lsh`. The narrow signature stage (shingle →
    * fused minhash_sigs → band rows) runs per arriving document exactly
    * as in batch; the pairwise memory lives in per-(band, bucket) keyed
    * state — each key holds the doc ids seen in that bucket, and a new
    * arrival emits candidate pairs against ONLY its bucket's state,
    * never the corpus. Emitted candidates are then verified with the
    * exact fused Jaccard, so the final result equals the batch pipeline
    * and shares its oracle. State is O(bucket occupancy) — the honest
    * lower bound for dedup-against-everything-seen — and at 100 TB the
    * state store shards by the same (band, bucket) key the batch shuffle
    * uses. State is bounded by an event-time TTL (see
    * [[minhashPairsStream]]): buckets idle past the dedup horizon are
    * evicted by the watermark, so unbounded ingest holds O(active
    * buckets) state, not O(all history).
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    org.apache.spark.sql.graft.Bridge.register(spark)
    // eager localCheckpoint: the verification join reads both sides
    // from the materialized blocks, released by the ContextCleaner when
    // the plan is dereferenced
    val sh = graft.operators.DedupSuite.shingleSets(spark, dir)
      .localCheckpoint()
    val cands = replay(spark, "stream_dedup_minhash", "mh_stream_") { land =>
      // 1-minute lateness allowance: the staged replay lands every row at
      // one constant event time, and stateful ops drop rows AT the
      // watermark (<=), so batches after the first would otherwise be
      // discarded as late
      minhashPairsStream(land("graft_mh_stream", bandFeed(sh))
          .as[(String, Long, java.sql.Timestamp)], MinhashTtlMs, "1 minute")
        .toDF("doc_a", "doc_b")
    }.dropDuplicates("doc_a", "doc_b")
    cands
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
      .withColumn("jaccard", expr("jaccard_sim(sh_a, sh_b)"))
      .filter(col("jaccard") >= 0.7)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** A corpus's MinHash band rows as the (k = band|bucket, doc_id, ets)
    * feed the pair stream reads, at one constant event time: the
    * replayed corpus is one instant of the feed, so the TTL horizon
    * never bites and batch equality holds.
    */
  private def bandFeed(sh: DataFrame): DataFrame =
    graft.operators.DedupSuite.minhashBands(sh)
      .select(concat_ws("|", col("band"), col("bucket")).as("k"), col("doc_id"),
        lit("2000-01-01 00:00:00").cast("timestamp").as("ets"))

  /** Continuously-maintained per-chunk table checksum: every
    * micro-batch folds its rows' 60-bit hashes into per-chunk keyed
    * state `(checksum, row_count)` — the additive mod-2^60 sum means
    * arrival order and batching never change the result, so after any
    * prefix of the stream the state IS the checksum of the rows seen.
    * The final state equals the batch chunked checksum, which is the
    * oracle. This is how a live pipeline keeps reconciliation current
    * without rescanning: each chunk's state is 16 bytes regardless of
    * table size, and verification against the other side is a 32-row
    * compare (ref: compare/checksum.py chunking + the scheduler's
    * repeated full runs, collapsed into incremental state).
    */
  def reconChecksum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Mod = graft.functions.Portable.ChecksumMod
    val emitted = replay(spark, "stream_recon_checksum", "ck_stream_") { land =>
      land("graft_ck_stream", Tables.orders(spark, dir)
          .select((col("o_orderkey") % 32).as("chunk"),
            graft.functions.Portable.rowHash60(graft.functions.Portable.rowStr(
              col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_orderpriority"))).as("h")))
        .as[(Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (chunk: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
            val (ck0, n0) = state.getOption.getOrElse((0L, 0L))
            // additive mod-2^60 fold — hashes are < 2^60, so the running
            // sum stays in range with one mod per row
            val (ck, n) = rows.foldLeft((ck0, n0)) {
              case ((c, k), (_, h)) => ((c + h) % Mod, k + 1)
            }
            state.update((ck, n))
            Iterator((chunk, ck, n))
        }
        .toDF("chunk", "source_checksum", "source_rows")
    }
    // final emission per chunk = the emission with the highest count
    latestPerKey(emitted, "chunk", "source_rows").orderBy("chunk")
  }

  /** Session-gap threshold: 30 minutes in microseconds (shared by the
    * interval merge and the batch oracle).
    */
  final val SessionGapUs = 1800000000L

  /** Fold one event time into a user's merged session-interval state.
    * Intervals are disjoint, sorted, and separated by >= gap; an event
    * within gap of a neighbour extends it, an event bridging two
    * intervals fuses them, anything else opens a new one. Order of
    * arrival does not matter — the merged result is the same for any
    * permutation of the events, which is what makes this safe for an
    * out-of-order stream. State size is O(sessions kept), NOT O(events):
    * the per-event timestamps never need to be retained.
    */
  def mergeSessionInterval(
      ivs: Vector[(Long, Long, Long)], t: Long, gapUs: Long): Vector[(Long, Long, Long)] = {
    // neighbours it could touch: last interval starting <= t, first after
    val i = ivs.lastIndexWhere(_._1 <= t)
    val joinPrev = i >= 0 && t - ivs(i)._2 < gapUs          // touches left (or inside)
    val joinNext = i + 1 < ivs.size && ivs(i + 1)._1 - t < gapUs // touches right
    (joinPrev, joinNext) match {
      case (true, true) => // bridges two intervals into one
        val (s1, _, n1) = ivs(i); val (_, e2, n2) = ivs(i + 1)
        (ivs.take(i) :+ (s1, e2, n1 + n2 + 1)) ++ ivs.drop(i + 2)
      case (true, false) =>
        val (s1, e1, n1) = ivs(i)
        ivs.updated(i, (s1, math.max(e1, t), n1 + 1))
      case (false, true) =>
        val (s2, e2, n2) = ivs(i + 1)
        ivs.updated(i + 1, (t, e2, n2 + 1))
      case (false, false) =>
        (ivs.take(i + 1) :+ (t, t, 1L)) ++ ivs.drop(i + 1)
    }
  }

  /** Streaming gap-based sessionization with per-user state across
    * micro-batches: each trigger folds the user's new event times into a
    * merged session-interval list and re-emits (n_events, n_sessions);
    * the latest emission per key (the one with the most events — counts
    * are monotone) is the complete answer, equal to batch
    * q_session_window, so its oracle applies. State is bounded by the
    * SESSION count, not the event count — a user with a million events
    * in one session holds one (start, end, n) triple. NoTimeout because
    * the replay is finite; a live 100 TB feed would use EventTimeTimeout
    * and, on timeout, fold intervals whose end precedes
    * (watermark - gap) into a (closed_sessions, closed_events)
    * accumulator pair — those intervals can never merge with an on-time
    * future event, so the retained state shrinks to the open tail.
    * (The native session_window operator only supports append mode in
    * streaming, which holds back tail sessions until the watermark
    * passes them — unusable for a finite replay.)
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emitted = replay(spark, "stream_sessionize", "sess_stream_") { land =>
      land("graft_sess_stream", Tables.events(spark, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("tus")))
        .as[(Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[Vector[(Long, Long, Long)]]) =>
            val ivs = rows.foldLeft(state.getOption.getOrElse(Vector.empty)) {
              (acc, r) => mergeSessionInterval(acc, r._2, SessionGapUs)
            }
            state.update(ivs)
            Iterator((uid, ivs.map(_._3).sum, ivs.size.toLong))
        }
        .toDF("user_id", "n_events", "n_sessions")
    }
    // latest (= most-events) emission per key is the complete rollup
    latestPerKey(emitted, "user_id", "n_events").orderBy("user_id")
  }

  /** Continuously-maintained domain-mixture monitor: each micro-batch
    * folds its documents' token counts into per-source keyed state
    * (n_docs, n_tokens), so after any prefix of the feed the state IS
    * the corpus mixture — a live training-data pipeline reads its
    * sampling weights without rescanning the lake. State is one
    * 16-byte pair per domain (cardinality-bounded, NoTimeout is safe);
    * the ppm algebra runs batch-side on the final k-row state, so the
    * result equals batch `mix_weights` and shares its oracle.
    */
  def mixMonitor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emitted = replay(spark, "stream_mix_monitor", "mix_stream_") { land =>
      land("graft_mix_stream", Tables.documents(spark, dir)
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok")))
        .as[(String, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (src: String, rows: Iterator[(String, Long)], state: GroupState[(Long, Long)]) =>
            val s0 = state.getOption.getOrElse((0L, 0L))
            val s1 = rows.foldLeft(s0) { case ((nd, nt), (_, t)) => (nd + 1, nt + t) }
            state.update(s1)
            Iterator((src, s1._1, s1._2))
        }
        .toDF("source", "n_docs", "n_tokens")
    }
    // final emission per source (counts are monotone), then the same
    // exact ppm algebra as Graft.mixWeights over the k-row state
    val per = emitted
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("n_tokens")).as("n_tokens"))
      .localCheckpoint()
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).cast("long").as("k"))
    per.crossJoin(broadcast(tot))
      .withColumn("natural_ppm", expr("n_tokens * 1000000 DIV tot_tokens"))
      .withColumn("uniform_ppm", expr("1000000 DIV k"))
      .withColumn("target_ppm", expr("(natural_ppm + uniform_ppm) DIV 2"))
      .withColumn("boost_ppm",
        expr("CASE WHEN natural_ppm > 0 THEN target_ppm * 1000000 DIV natural_ppm END"))
      .select("source", "n_docs", "n_tokens", "natural_ppm", "uniform_ppm",
        "target_ppm", "boost_ppm")
      .orderBy("source")
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * views within the 30 minutes before each purchase, both sides
    * unbounded streams. The watermarks + the time-range join condition
    * BOUND the join state — Spark purges view rows once the purchase
    * watermark passes their 30-minute window, which is what makes a
    * stream-stream join feasible on an infinite 100 TB/day feed. Single
    * batch for the finite replay (inner-join matches emit during
    * processing; the watermark only governs state purge).
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    replay(spark, "stream_interval_join", "ivj_stream_", MemorySink("append")) { land =>
      val p = land("graft_ivj_stream", ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts")),
          files = 2, perFile = false)
        .withWatermark("pts", "1 hour")
      val v = land("graft_ivj_stream", ev.filter(col("event_type") === "view")
          .select(col("user_id").as("vuser"), col("ts").as("vts")),
          files = 2, perFile = false)
        .withWatermark("vts", "1 hour")
      p.join(v, expr("vuser = user_id AND vts > pts - INTERVAL 30 MINUTES AND vts <= pts"))
        .select(col("user_id"), col("purchase_id"), unix_micros(col("pts")).as("ptus"))
    }.groupBy(col("user_id"), col("purchase_id"), col("ptus"))
      .agg(count(lit(1)).as("n_views_30m"))
      .orderBy("user_id", "purchase_id")
  }

  /** Streaming ingest through the external-source seam end-to-end: the
    * Kafka-shaped envelope feed (line-per-event `value` strings) is
    * consumed under `readStream`, decoded by the SHARED
    * CdcSource.parseEnvelope, and folded by the same per-key state
    * machine as cdc_stream_apply — proving the seam's batch and
    * streaming paths agree (swap in CdcSource.kafkaTopic and nothing
    * downstream changes). Result equals cdc_apply_latest's oracle.
    */
  def sourceEnvelope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    liveState(replay(spark, "stream_source_envelope", "env_stream_") { land =>
      val feed = land.dir("graft_env_stream")
      CdcSuite.envelopeFeedLines(spark, dir)
        .repartition(4).write.mode("overwrite").text(feed)
      applyEventsStream(CdcSource.parseEnvelope(
        land.open(CdcSource.fileEnvelopeFeed(feed))).as[ChangeEvent])
    })
  }

  /** Streaming last-touch attribution with per-user state across
    * micro-batches — the live twin of events_attribution. The fold is
    * ORDER-INSENSITIVE: state keeps the user's touches (non-purchase
    * events) and purchases as (tus, event_id)-sorted vectors, and every
    * trigger re-derives each purchase's channel by a scan of the touch
    * vector, so any arrival interleaving converges to the batch answer;
    * a generation counter marks each user's LATEST emission set (rows
    * are only additive per trigger, so equal-count sets from different
    * triggers could otherwise both survive — and a late-arriving touch
    * can legitimately change an earlier purchase's channel).
    *
    * The finite replay keeps full per-user vectors (NoTimeout); a live
    * feed bounds state with EventTimeTimeout: once the watermark passes
    * a purchase's event time its attribution is final (no earlier touch
    * can still arrive) — emit it into a per-channel accumulator and drop
    * it — and all touches at-or-below the watermark compact to the
    * single latest one, so retained state is O(lateness window), not
    * O(user history).
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emitted = replay(spark, "stream_attribution", "attr_stream_") { land =>
      land("graft_attr_stream", Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
            col("event_type"),
            floor(col("value") * 10000 + 0.5).cast("long").as("v4")))
        .as[(Long, Long, Long, String, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long,
           rows: Iterator[(Long, Long, Long, String, Long)],
           state: GroupState[(Vector[(Long, Long, String)], Vector[(Long, Long, Long)], Long)]) =>
            val (touches0, purchases0, gen0) =
              state.getOption.getOrElse((Vector.empty[(Long, Long, String)],
                Vector.empty[(Long, Long, Long)], 0L))
            var touches = touches0
            var purchases = purchases0
            rows.foreach { case (_, eid, tus, typ, v4) =>
              if (typ == "purchase") purchases = purchases :+ ((tus, eid, v4))
              else touches = touches :+ ((tus, eid, typ))
            }
            val ts = touches.sortBy(t => (t._1, t._2))
            val ps = purchases.sortBy(p => (p._1, p._2))
            val gen = gen0 + 1
            state.update((ts, ps, gen))
            // latest touch strictly before each purchase in (tus, eid) order
            val attributed = ps.map { case (ptus, peid, v4) =>
              val ch = ts.view
                .takeWhile(t => t._1 < ptus || (t._1 == ptus && t._2 < peid))
                .lastOption.map(_._3).getOrElse("direct")
              (ch, v4)
            }
            attributed.groupBy(_._1).iterator.map { case (ch, xs) =>
              (uid, ch, xs.size.toLong, xs.map(_._2).sum, gen)
            }
        }
        .toDF("user_id", "channel", "n", "rev4", "gen")
    }
    // each user's newest generation is their complete, current attribution
    val w = Window.partitionBy(col("user_id"))
    emitted
      .withColumn("mx", max(col("gen")).over(w))
      .filter(col("gen") === col("mx"))
      .groupBy(col("channel"))
      .agg(sum(col("n")).as("n_purchases"),
        (sum(col("rev4")).cast("double") / 10000.0).as("revenue"))
      .orderBy("channel")
  }

  /** The store-maintaining twins' foreachBatch replay: land `rows` as
    * a 4-file feed (`Scratch.dir(feedPrefix)`) and fold it one file per
    * micro-batch into `sink`. foreachBatch's batchId IS the store batch
    * id, so a checkpoint replay of a torn batch re-lands the same
    * segment (idempotent per batchId, refused at or below a
    * compaction's watermark) — the exactly-once sink contract every
    * twin relies on.
    */
  private def foldFeed(spark: SparkSession, progressKey: String,
      feedPrefix: String, queryPrefix: String, rows: DataFrame)
      (sink: (DataFrame, Long) => Unit): Unit =
    replay(spark, progressKey, queryPrefix, FoldSink(sink))(land => land(feedPrefix, rows))

  /** Route one CDC envelope micro-batch (op, `key`, `payload`): `c` and
    * `u` rows, projected to (key, payload), go to `upsert`; `d` keys go
    * to `delete`. An empty side lands nothing.
    */
  private def applyEnvelope(df: DataFrame, key: String, payload: String)
      (upsert: DataFrame => Unit, delete: DataFrame => Unit): Unit = {
    val up = df.filter(col("op").isin("c", "u")).select(key, payload)
    val del = df.filter(col("op") === "d").select(key)
    if (!up.isEmpty) upsert(up)
    if (!del.isEmpty) delete(del)
  }

  /** A probe twin's stable per-lake result dir, emptied of a prior
    * run's batch segments before the stream starts.
    */
  private def clearedOutDir(spark: SparkSession, entry: String, lake: String): String = {
    val outDir = Scratch.perLake(entry, lake)
    deleteDir(spark, outDir)
    outDir
  }

  /** Streaming twin of incremental ANN maintenance (`ann_ivf_append`):
    * the living-corpus daily operation as a stream. Arriving documents
    * land as micro-batches and each batch is folded into the PERSISTED
    * cell-partitioned IVF index via foreachBatch → Graft.ivfAppend —
    * assignment at the loaded (fixed) centroids, cost ∝ batch, appended
    * files land inside their cell directories so probe pruning keeps
    * working; the index never rebuilds. Queries served between batches
    * see base + every committed append. foreachBatch (not a state-store
    * sink) is the right shape: the index IS the state, maintained in
    * storage exactly as the batch path leaves it. Failure recovery is
    * genuinely idempotent because each micro-batch lands as a
    * batchId-keyed segment with per-segment OVERWRITE: a checkpoint
    * replaying a torn batch (parquet landed, offset commit lost)
    * rewrites the same segment instead of duplicating index rows —
    * IvfPersistSpec's torn-batch test kills the stream after a landed
    * write, restarts from the checkpoint, and proves zero duplicate
    * cand_ids and unchanged served top-k.
    *
    * The assign-at-fixed-centroids algebra makes N folded micro-batches
    * exactly equal to one bulk append of their union, so the batch
    * twin's DuckDB oracle (ann_ivf_append) checks the whole streamed
    * path end-to-end; StreamRecoverySpec's sibling pins batch-vs-stream
    * row equality and per-batch append cost.
    */
  def ivfAppendStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnSuite
    val e = Tables.embeddings(spark, dir)
    // stable index dir + ivfSave's overwrite semantics: each run
    // rebuilds the base layout (clearing prior appends) so repeated
    // Verify/bench invocations stay idempotent, like ann_ivf_append
    val idxDir = Scratch.perLake("stream_ivf_append", dir)
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), idxDir)
    // the arriving corpus: held-out rows landed as 4 files, one
    // micro-batch each (maxFilesPerTrigger=1 → 4 incremental folds)
    val batchRows = e.filter(col("vec_id") % 7 === 3)
      .select("vec_id", "embedding")
    foldFeed(spark, "stream_ivf_append", "stream_ivf_feed", "ivf_append_",
        batchRows) { (df, batchId) =>
      graft.api.Graft.ivfAppend(spark, idxDir, df, "vec_id", "embedding", batchId)
    }
    AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, idxDir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3)
  }

  /** Streaming twin of `ann_ivfpq_append` — the QUANTIZED living index
    * as a stream: arriving vectors fold into the persisted IVFADC
    * index via foreachBatch → Graft.ivfPqAppend (assign at the loaded
    * fixed coarse centroids, encode at the loaded fixed codebook, land
    * batchId-keyed cell-partitioned code segments; cost ∝ batch, the
    * standing codes never read — IvfPqMaintSpec pins the plan).
    * Identical crash story to stream_ivf_append (idempotent per-
    * segment overwrite, manifest watermark refuses replays a
    * compaction already folded), and the same fixed-parameters algebra
    * makes N folded micro-batches equal one bulk append — so the batch
    * twin's DuckDB oracle (ann_ivfpq_append) checks the streamed path
    * end-to-end.
    */
  def ivfPqAppendStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnSuite
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val idxDir = Scratch.perLake("stream_ivfpq_append", dir)
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m = 8, dsub = 8, ksub = 16), idxDir)
    foldFeed(spark, "stream_ivfpq_append", "stream_ivfpq_feed", "ivfpq_append_",
        e.filter(col("vec_id") % 7 === 3)) { (df, batchId) =>
      graft.api.Graft.ivfPqAppend(spark, idxDir, df, "vec_id", "embedding", batchId)
    }
    AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoad(spark, idxDir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk")
  }

  /** The vector CDC twins' c/u/d envelope (op, vec_id, embedding) over
    * `e`: held-out rows (% 7 = 3) arrive as inserts and a hash-slice of
    * ids (% 13 = 2) as deletes carrying a typed null embedding. With
    * `upserts`, live base ids (% 5 = 1) also arrive as updates with the
    * vector reversed, and the deletes skip every id another op carries,
    * so each id carries exactly one op. Without, the delete slice
    * overlaps the inserts (delete-of-appended).
    */
  private def vectorEnvelope(e: DataFrame, upserts: Boolean): DataFrame = {
    val id = col("vec_id")
    def ops(op: String, keep: org.apache.spark.sql.Column,
        emb: org.apache.spark.sql.Column) =
      e.filter(keep).select(lit(op).as("op"), id, emb.as("embedding"))
    val ins = ops("c", id % 7 === 3, col("embedding"))
    val noEmb = lit(null).cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))
    if (!upserts) ins.unionByName(ops("d", id % 13 === 2, noEmb))
    else ops("u", id % 7 =!= 3 && id % 5 === 1, reverse(col("embedding")))
      .unionByName(ins)
      .unionByName(ops("d", id % 13 === 2 && id % 5 =!= 1 && id % 7 =!= 3, noEmb))
  }

  /** A CDC-MAINTAINED living vector index — the reference's change-
    * data-capture discipline applied to ANN serving (ref:
    * src/transformation/transformers/base.py:1 routes c/u/d envelope
    * ops; here the index is the downstream "table"): one stream of
    * envelope rows (op, vec_id, embedding) maintains a persisted IVF
    * index via foreachBatch — insert/update ops append at the FIXED
    * centroids (Graft.ivfAppend, cost ∝ batch), delete ops land
    * batchId-keyed tombstone segments (Graft.ivfDelete) that every
    * load anti-joins and the next compaction purges physically.
    *
    * Delete-wins makes batch ORDER irrelevant to the final state: a
    * tombstone masks its id whether the victim sits in the base or in
    * any append segment, landed before or after — so the served state
    * is exactly base ∪ inserts − deletes, and the batch-side oracle
    * (the IVF chain with the stream's inserts unioned at fixed
    * centroids and its deletes masked at serve time) checks the
    * streamed path end-to-end. Deletes are TERMINAL per id
    * (right-to-be-forgotten): a CDC key that re-inserts after a
    * delete is out of contract for this index, and so is a `u` of an
    * id the index ALREADY serves (it would land a second row for the
    * same cand_id) — feeds where live keys update or resurrect must
    * either be collapsed upstream with cdc_apply_latest or drive the
    * LWW twin [[ivfUpsertStream]], whose read path makes the last op
    * per id win.
    *
    * Crash story: both channels are idempotent per batchId (segment
    * overwrite) and watermark-guarded across compactions — the shared
    * watermark is what stops an append replay from resurrecting rows
    * a folded delete removed (IvfPersistSpec pins it).
    */
  def ivfCdcStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnSuite
    val e = Tables.embeddings(spark, dir)
    val idxDir = Scratch.perLake("stream_ivf_cdc", dir)
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), idxDir)
    foldFeed(spark, "stream_ivf_cdc", "stream_ivf_cdc_feed", "ivf_cdc_",
        vectorEnvelope(e, upserts = false)) { (df, batchId) =>
      applyEnvelope(df, "vec_id", "embedding")(
        graft.api.Graft.ivfAppend(spark, idxDir, _, "vec_id", "embedding", batchId),
        graft.api.Graft.ivfDelete(spark, idxDir, _, "vec_id", batchId))
    }
    AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, idxDir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3)
  }

  /** The LWW CDC-UPSERT living index — [[ivfCdcStream]] with the
    * single most common CDC event the terminal-delete twin declares
    * out of contract: an UPDATE of an id the index already serves
    * (the reference sink's whole discipline is last-write-wins upsert
    * by LSN — ref: docker/configs/kafka-connect/postgresql-sink.json:1
    * insert.mode=upsert). `c` and `u` ops both land as plain
    * fixed-centroid appends (Graft.ivfAppend — cost ∝ batch), `d` ops
    * tombstone; the LWW is entirely at READ time:
    * [[graft.operators.AnnSuite.ivfLoadLww]] serves, per cand_id, the
    * highest-batchId row — an update SUPERSEDES the base row instead
    * of duplicating it, and a delete stops being terminal (a later
    * re-insert wins). The fixture updates LIVE base ids (% 5 = 1,
    * vector reversed), inserts the held-out rows (% 7 = 3) and
    * deletes a disjoint base slice (% 13 = 2): each id carries exactly
    * one op, so the final state is batch-order-independent and the
    * batch-side oracle (the plain chain serving the corpus's FINAL
    * state) checks the streamed path end-to-end; the ordered
    * multi-op-per-id algebra — u-after-u, re-insert-after-delete,
    * torn-batch replay — is IvfPersistSpec's LWW case. Queries probe
    * with the served corpus's own final vectors (a deployment queries
    * the state it serves).
    */
  def ivfUpsertStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnSuite
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val idxDir = Scratch.perLake("stream_ivf_upsert", dir)
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), idxDir)
    foldFeed(spark, "stream_ivf_upsert", "stream_ivf_upsert_feed", "ivf_upsert_",
        vectorEnvelope(e, upserts = true)) { (df, batchId) =>
      applyEnvelope(df, "vec_id", "embedding")(
        graft.api.Graft.ivfAppend(spark, idxDir, _, "vec_id", "embedding", batchId),
        graft.api.Graft.ivfDelete(spark, idxDir, _, "vec_id", batchId))
    }
    val idx = AnnSuite.ivfLoadLww(spark, idxDir)
    val queriesDf = idx.assigned.filter(col("cand_id") < 5)
      .select(col("cand_id").as("vec_id"), col("ce2").as("embedding"))
    AnnSuite.ivfQuery(idx, queriesDf, "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3)
  }

  /** [[ivfUpsertStream]]'s QUANTIZED twin — LWW upsert on the CODE
    * store: the same envelope fixture (updates of live base ids with
    * the vector reversed, inserts of held-out ids, deletes of a
    * disjoint slice) maintains the persisted IVFADC index, with `c`/`u`
    * ops encoding at the fixed coarse centroids + fixed codebook
    * (Graft.ivfPqAppend) and the LWW read
    * ([[graft.operators.AnnSuite.ivfPqLoadLww]]) serving one code row
    * per cand_id — an update SUPERSEDES the standing encoding instead
    * of landing a second one (the duplicate-in-top-k failure the
    * terminal twin declares out of contract). Oracle: trainings on the
    * base rows, assignment/encode/ADC/probes over the corpus's FINAL
    * state.
    */
  def ivfPqUpsertStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnSuite
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val idxDir = Scratch.perLake("stream_ivfpq_upsert", dir)
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m = 8, dsub = 8, ksub = 16), idxDir)
    foldFeed(spark, "stream_ivfpq_upsert", "stream_ivfpq_upsert_feed", "ivfpq_upsert_",
        vectorEnvelope(e, upserts = true)) { (df, batchId) =>
      applyEnvelope(df, "vec_id", "embedding")(
        graft.api.Graft.ivfPqAppend(spark, idxDir, _, "vec_id", "embedding", batchId),
        graft.api.Graft.ivfPqDelete(spark, idxDir, _, "vec_id", batchId))
    }
    // the corpus's FINAL per-id state — queries probe what is served
    val fin = e
      .filter(!(col("vec_id") % 13 === 2 &&
        col("vec_id") % 5 =!= 1 && col("vec_id") % 7 =!= 3))
      .withColumn("embedding",
        when(col("vec_id") % 7 =!= 3 && col("vec_id") % 5 === 1,
          reverse(col("embedding"))).otherwise(col("embedding")))
    AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoadLww(spark, idxDir),
      fin.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk")
  }

  /** [[ivfCdcStream]]'s QUANTIZED twin: the same CDC envelope stream
    * maintains the persisted IVFADC index — c/u ops encode at the
    * fixed coarse centroids + fixed codebook (Graft.ivfPqAppend),
    * d ops tombstone the code store (Graft.ivfPqDelete). Same
    * delete-wins order independence and crash story, so the oracle is
    * the quantized build-then-append chain with the deletes masked.
    */
  def ivfPqCdcStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnSuite
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val idxDir = Scratch.perLake("stream_ivfpq_cdc", dir)
    AnnSuite.ivfPqSave(AnnSuite.ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, m = 8, dsub = 8, ksub = 16), idxDir)
    foldFeed(spark, "stream_ivfpq_cdc", "stream_ivfpq_cdc_feed", "ivfpq_cdc_",
        vectorEnvelope(e, upserts = false)) { (df, batchId) =>
      applyEnvelope(df, "vec_id", "embedding")(
        graft.api.Graft.ivfPqAppend(spark, idxDir, _, "vec_id", "embedding", batchId),
        graft.api.Graft.ivfPqDelete(spark, idxDir, _, "vec_id", batchId))
    }
    AnnSuite.ivfPqQuery(AnnSuite.ivfPqLoad(spark, idxDir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, topK = 5)
      .orderBy("query_id", "rk")
  }

  /** CDC maintenance for the BAND STORE — the third living store gets
    * the same single entry point the two vector indexes have
    * ([[ivfCdcStream]]'s shape on the MinHash band index): one
    * envelope stream of (op, doc_id, shingles) rows drives
    * bandIndexAppend for `c`/`u` ops (hash + band ONLY the batch —
    * cost ∝ batch, write-time hot-bucket gate) and BandStore.delete for
    * `d` ops (GDPR: a tombstoned document stops appearing as anyone's
    * dup_of the moment the tombstone lands). Delete-wins and terminal
    * per doc_id, so batch ORDER is irrelevant to the final standing
    * set — the fixture deletes a corpus slice (% 20 = 0) AND half of
    * the very documents the stream itself appends (injected % 40 = 0,
    * exercising delete-of-appended in either arrival order) — and the
    * batch-side oracle (the incremental chain with standing =
    * corpus − deleted ∪ appended − deleted) checks the streamed path
    * end-to-end. Crash story: both channels idempotent per batchId,
    * watermark-guarded (the shared SegmentStore contract the IVF
    * specs kill-test).
    */
  def dedupCdcStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CurationSuite, DedupSuite}
    org.apache.spark.sql.graft.Bridge.register(spark)
    val sh = DedupSuite.shingleSets(spark, dir).localCheckpoint()
    val idxDir = Scratch.perLake("stream_dedup_cdc", dir)
    DedupSuite.bandIndexSave(
      DedupSuite.minhashBands(sh.filter(col("doc_id") < 1000000L)), idxDir)
    val cOps = sh.filter(col("doc_id") >= 1000000L && col("doc_id") % 20 === 0)
      .select(lit("c").as("op"), col("doc_id"), col("shingles"))
    val dOps = sh.filter(
        (col("doc_id") < 1000000L && col("doc_id") % 20 === 0) ||
        (col("doc_id") >= 1000000L && col("doc_id") % 40 === 0))
      .select(lit("d").as("op"), col("doc_id"),
        lit(null).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)).as("shingles"))
    foldFeed(spark, "stream_dedup_cdc", "stream_dedup_cdc_feed", "dedup_cdc_",
        cOps.unionByName(dOps)) { (df, batchId) =>
      applyEnvelope(df, "doc_id", "shingles")(
        up => DedupSuite.bandIndexAppend(DedupSuite.minhashBands(up), idxDir, batchId),
        DedupSuite.BandStore.delete(spark, idxDir, _, "doc_id", batchId))
    }
    // the arriving probe batch (injected % 20 = 10) against the
    // CDC-maintained standing index — the dedup_incremental probe shape
    val batchBands = DedupSuite.gateHotBuckets(
      DedupSuite.minhashBands(sh.filter(
        col("doc_id") >= 1000000L && col("doc_id") % 20 === 10)),
      Seq("band", "bucket"))
    val cands = batchBands.as("n")
      .join(DedupSuite.BandStore.load(spark, idxDir).as("c"),
        col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
      .dropDuplicates("new_id", "dup_of")
    CurationSuite.verifyCands(cands, sh)
  }

  /** One micro-batch of the semantic probe: assign the batch at the
    * standing index's FIXED centroids, then exact-cosine verify against
    * ONLY the occupants of the batch's own cells. The standing read
    * goes through ivfLoad — base ∪ COMMITTED APPEND SEGMENTS — so a
    * probe structurally sees rows an earlier ivfAppend landed (reading
    * `assigned.parquet` directly was correct only while every caller
    * rebuilt the index fresh per run; DedupSemanticSpec pins the
    * segment-visibility case). The isin cell filter prunes partitions
    * on BOTH legs of the union (each is cell-partitioned on disk).
    */
  private[graft] def semanticProbeBatch(spark: SparkSession, idxDir: String,
      df: DataFrame): DataFrame = {
    import graft.operators.AnnSuite
    org.apache.spark.sql.graft.Bridge.register(spark)
    val assigned = AnnSuite.ivfAssignBatch(spark, idxDir, df, "vec_id", "embedding")
      .select(col("cand_id").as("vec_b"), col("cell"), col("ce2").as("emb_b"))
      .localCheckpoint()
    // batch-bounded driver list (distinct cells ≤ batch rows) — it
    // becomes the partition filter on the standing read
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val standing = AnnSuite.ivfLoad(spark, idxDir).assigned
      .filter(col("cell").isin(cells: _*))
      .select(col("cand_id").as("vec_a"), col("cell"), col("ce2").as("emb_a"))
    standing.join(assigned, Seq("cell"))
      .withColumn("cos", floor(expr("cosine_sim(emb_a, emb_b)") * 1e6 + 0.5) / 1e6)
      .filter(col("cos") >= 0.8)
      .select("cell", "vec_a", "vec_b", "cos")
  }

  /** Streaming twin of semantic dedup (`dedup_semantic`): arriving
    * documents probe the STANDING semantic-cell index instead of
    * re-clustering the corpus. Build once (the dedup_semantic kernel —
    * deterministic k-means cells over the standing corpus, hot cells
    * gated, k from parquet footers); then each micro-batch is assigned
    * at the FIXED centroids (ivfAssignBatch — cost ∝ batch, the
    * standing assignments are never rescanned for assignment) and
    * verified by exact e6-rounded cosine against ONLY the occupants of
    * the batch's own cells (the batch's distinct cells — bounded by
    * batch size — become an isin partition filter on the
    * cell-partitioned standing index, so the probe reads ~cells/k of
    * the index files). Flagged pairs land batchId-keyed with
    * per-segment overwrite — the same torn-batch-idempotent sink as
    * stream_ivf_append. The batch algebra (assign-at-fixed-centroids +
    * within-cell verify) makes N folded probes equal one bulk
    * (standing × batch) pass, so a single DuckDB chain
    * (DedupSuite.SemanticProbeOracleSql) checks the streamed path
    * end-to-end.
    */
  def dedupSemanticStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{AnnSuite, DedupSuite}
    org.apache.spark.sql.graft.Bridge.register(spark)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val k = DedupSuite.semanticK(spark, dir)
    val idxDir = Scratch.perLake("stream_dedup_semantic", dir)
    val idx = AnnSuite.ivfBuild(e, "vec_id", "embedding", k)
    // gate hot cells at BUILD time (the dedup_semantic cap): a collapsed
    // cell would make every probing batch quadratic against it. The
    // oracle runs uncapped; fixture cells stay far below the cap
    // (DedupSemanticSpec pins the invariance).
    AnnSuite.ivfSave(
      idx.copy(assigned = DedupSuite.gateHotBuckets(idx.assigned, Seq("cell"))),
      idxDir)
    // arriving docs: the injected near-dup copies, landed as 4 files
    // (one micro-batch each under maxFilesPerTrigger=1)
    val batchRows = e.filter(col("vec_id") % 10 === 0)
      .withColumn("embedding", expr("transform(embedding, (v, i) -> IF(i = 0, -v, v))"))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val outDir = clearedOutDir(spark, "stream_dedup_semantic_out", dir)
    foldFeed(spark, "stream_dedup_semantic", "stream_sem_feed", "sem_probe_",
        batchRows) { (df, batchId) =>
      semanticProbeBatch(spark, idxDir, df)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }
    spark.read.parquet(outDir)
      .select("cell", "vec_a", "vec_b", "cos")
      .orderBy("cell", "vec_a", "vec_b")
  }

  /** Streaming twin of substring dedup (`dedup_substring`) — the one
    * streaming gap left in the dedup family after exact/minhash/
    * semantic: arriving documents probe the STANDING window-hash index
    * (the distinct w-token window hashes of the standing corpus,
    * persisted once) instead of re-hashing the corpus. Per micro-batch
    * cost = one narrow scan of the 8-byte hash column × the broadcast
    * batch grams (the standing side never shuffles) + a per-arriving-
    * doc islands merge — dedup_incremental's probe shape at substring
    * granularity. Flagged spans land batchId-keyed with per-segment
    * overwrite (the torn-batch-idempotent sink every twin here uses).
    * The probe is stateless given the standing index, so N folded
    * probes equal one bulk (arriving × standing) pass and a single
    * DuckDB chain checks the streamed path end-to-end.
    *
    * Arriving docs are mutated copies (a novel token PREPENDED to a
    * standing doc): window 1 is genuinely new content, windows 2..end
    * are standing boilerplate — so the expected span is [2, len+1],
    * not a degenerate whole-doc match.
    */
  def dedupSubstringStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupSuite
    val w = DedupSuite.SubstringW
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val idxDir = Scratch.perLake("stream_dedup_substring_idx", dir)
    DedupSuite.substringIndexSave(docs, w, idxDir)
    val batchRows = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("zzzmutation "), col("text")).as("text"))
    val outDir = clearedOutDir(spark, "stream_dedup_substring_out", dir)
    foldFeed(spark, "stream_dedup_substring", "stream_sub_feed", "sub_probe_",
        batchRows) { (df, batchId) =>
      DedupSuite.substringProbeBatch(spark, idxDir, df, w)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }
    spark.read.parquet(outDir)
      .select("doc_id", "start_tok", "end_tok", "n_win")
      .orderBy("doc_id", "start_tok")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_stream_apply" -> ((s, d) => applyLatest(s, d)),
    "stream_source_envelope" -> ((s, d) => sourceEnvelope(s, d)),
    "stream_scd2" -> ((s, d) => scd2(s, d)),
    "stream_compact_log" -> ((s, d) => compactLog(s, d)),
    "stream_windowed_agg" -> ((s, d) => windowedCounts(s, d)),
    "stream_dedup_exact" -> ((s, d) => dedupExact(s, d)),
    "stream_dedup_minhash" -> ((s, d) => dedupMinhash(s, d)),
    "stream_recon_checksum" -> ((s, d) => reconChecksum(s, d)),
    "stream_sessionize" -> ((s, d) => sessionize(s, d)),
    "stream_interval_join" -> ((s, d) => intervalJoin(s, d)),
    "stream_mix_monitor" -> ((s, d) => mixMonitor(s, d)),
    "stream_attribution" -> ((s, d) => attribution(s, d)),
    "stream_ivf_append" -> ((s, d) => ivfAppendStream(s, d)),
    "stream_ivf_cdc" -> ((s, d) => ivfCdcStream(s, d)),
    "stream_ivf_upsert" -> ((s, d) => ivfUpsertStream(s, d)),
    "stream_ivfpq_upsert" -> ((s, d) => ivfPqUpsertStream(s, d)),
    "stream_ivfpq_cdc" -> ((s, d) => ivfPqCdcStream(s, d)),
    "stream_ivfpq_append" -> ((s, d) => ivfPqAppendStream(s, d)),
    "stream_dedup_semantic" -> ((s, d) => dedupSemanticStream(s, d)),
    "stream_dedup_substring" -> ((s, d) => dedupSubstringStream(s, d)),
    "stream_dedup_cdc" -> ((s, d) => dedupCdcStream(s, d))
  )

  /** The streaming results must equal their batch formulations, so the
    * batch SQL doubles as the oracle.
    */
  def oracles: Map[String, String] = Map(
    "cdc_stream_apply" -> CdcSuite.oracles("cdc_apply_latest"),
    "stream_source_envelope" -> CdcSuite.oracles("cdc_apply_latest"),
    "stream_scd2" -> CdcSuite.oracles("cdc_scd2_build"),
    "stream_compact_log" -> CdcSuite.oracles("cdc_compact_log"),
    "stream_windowed_agg" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_dedup_exact" -> graft.operators.DedupSuite.oracles("dedup_exact"),
    "stream_dedup_minhash" -> graft.operators.DedupSuite.oracles("dedup_minhash_lsh"),
    // the streamed probe is stateless given the standing index, so the
    // bulk (arriving × standing) chain checks it end-to-end: standing
    // distinct window hashes, arriving (prepend-mutated) docs' grams
    // flagged by existence, gap-tolerance-(w-1) islands per doc
    "stream_dedup_substring" -> {
      val W = graft.operators.DedupSuite.SubstringW
      s"""WITH st AS (SELECT str_split(lower(text), ' ') AS ws FROM documents),
         |su AS (
         |  SELECT ws, unnest(range(1, len(ws) - ${W - 2})) AS pos
         |  FROM st WHERE len(ws) >= $W),
         |sh AS (
         |  SELECT DISTINCT ('0x' || substr(md5(array_to_string(ws[pos:pos+${W - 1}], ' ')), 1, 15))::BIGINT AS h
         |  FROM su),
         |arr AS (
         |  SELECT doc_id + 2000000 AS doc_id,
         |    str_split(lower('zzzmutation ' || text), ' ') AS ws
         |  FROM documents WHERE doc_id % 10 = 0),
         |au AS (
         |  SELECT doc_id, ws, unnest(range(1, len(ws) - ${W - 2})) AS pos
         |  FROM arr WHERE len(ws) >= $W),
         |ag AS (
         |  SELECT doc_id, pos,
         |    ('0x' || substr(md5(array_to_string(ws[pos:pos+${W - 1}], ' ')), 1, 15))::BIGINT AS h
         |  FROM au),
         |f AS (SELECT ag.doc_id, ag.pos FROM ag JOIN sh USING (h)),
         |brk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |              > ${W - 1} THEN 1 ELSE 0 END AS brk
         |  FROM f),
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM brk)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
         |  CAST(MAX(pos) + ${W - 1} AS BIGINT) AS end_tok,
         |  CAST(COUNT(*) AS BIGINT) AS n_win
         |FROM isl GROUP BY doc_id, grp
         |ORDER BY doc_id, start_tok""".stripMargin
    },
    "stream_recon_checksum" ->
      """SELECT o_orderkey % 32 AS chunk,
        |  CAST(SUM(CAST(('0x' || substr(md5(concat_ws('|',
        |    CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |    o_orderstatus, o_orderpriority)), 1, 15)) AS BIGINT))
        |    % 1152921504606846976 AS BIGINT) AS source_checksum,
        |  COUNT(*) AS source_rows
        |FROM orders GROUP BY 1 ORDER BY chunk""".stripMargin,
    "stream_sessionize" -> graft.operators.ExtendedSuite.SessionOracleSql,
    // inner variant of the batch interval join: only purchases with >=1
    // matched view appear (append-mode stream emits matches only)
    "stream_interval_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS ptus
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id AS vuser, epoch_us(ts) AS vtus FROM events WHERE event_type = 'view')
        |SELECT user_id, purchase_id, ptus, COUNT(*) AS n_views_30m
        |FROM p JOIN v
        |  ON vuser = user_id AND vtus > ptus - 1800000000 AND vtus <= ptus
        |GROUP BY user_id, purchase_id, ptus
        |ORDER BY user_id, purchase_id""".stripMargin,
    "stream_mix_monitor" -> graft.operators.LlmExtra.oracles("mix_weights"),
    "stream_attribution" -> graft.operators.ExtendedSuite.oracles("events_attribution"),
    // N folded micro-batch appends at fixed centroids = one bulk append
    // of their union = one full assignment of the unioned corpus at
    // those centroids — the batch twin's oracle checks the streamed path
    "stream_ivf_append" -> graft.operators.AnnSuite.oracles("ann_ivf_append"),
    // base ∪ streamed inserts − streamed deletes, independent of batch
    // order (fixed-centroid assignment algebra + delete-wins): the
    // batch-side chain with inserts unioned and deletes masked
    "stream_ivf_cdc" -> graft.operators.AnnSuite.IvfCdcOracleSql,
    "stream_ivf_upsert" -> graft.operators.AnnSuite.IvfUpsertOracleSql,
    "stream_ivfpq_upsert" -> graft.operators.AnnSuite.IvfPqUpsertOracleSql,
    // standing = corpus − deleted (% 20 = 0) ∪ appended (injected
    // % 20 = 0) − deleted-of-appended (% 40 = 0); probes are the
    // injected % 20 = 10 batch
    "stream_dedup_cdc" -> graft.operators.CurationSuite.incrementalOracleSql(
      "n.doc_id >= 1000000 AND n.doc_id % 20 = 10",
      """((c.doc_id < 1000000 AND NOT c.doc_id % 20 = 0)
        | OR (c.doc_id >= 1000000 AND c.doc_id % 20 = 0
        |     AND NOT c.doc_id % 40 = 0))""".stripMargin),
    // the quantized CDC twin: encode-at-fixed-parameters algebra +
    // delete-wins ⇒ the build-then-append IVFADC chain with the
    // stream's deletes masked checks the streamed path
    "stream_ivfpq_cdc" -> graft.operators.AnnSuite.IvfPqCdcOracleSql,
    // N folded micro-batches equal one bulk quantized append (fixed
    // centroids + fixed codebook), so the batch twin's chain checks it
    "stream_ivfpq_append" -> graft.operators.AnnSuite.oracles("ann_ivfpq_append"),
    // N folded micro-batch probes at fixed centroids = one bulk
    // (standing × batch) same-cell verify — the chain clusters the
    // standing corpus, assigns the batch at its centroids, verifies cos
    "stream_dedup_semantic" -> graft.operators.DedupSuite.SemanticProbeOracleSql
  )
}
