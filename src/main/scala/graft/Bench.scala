package graft

/** Per-round benchmark: times the headline queries at the driver-chosen
  * SF and prints one JSON line. Headline = the throughput-representative
  * subset (scan/agg, joins, windows, checksums, cdc apply, dedup, text,
  * ann); the quadratic-pair verification ops stay correctness-only.
  * Set SPARK_GRAFT_BENCH_ALL=1 to time every registered query.
  *
  * Beyond wall-time (±15% host variance, CLAUDE.md), every timed run
  * also records DETERMINISTIC work metrics — shuffle bytes/records
  * written and spill — via a task-metrics listener. A plan regression
  * (lost pushdown, new exchange, broadcast turned shuffle) moves
  * shuffle bytes exactly and reproducibly, so those are compared
  * against the checked-in per-query budget (bench/shuffle_budget.txt,
  * sf0.1) and reported as `shuffle_regressions` — the noise-free
  * regression gate wall-time can't be.
  */
object Bench {
  private[graft] val Headline = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_local_supplier",
    "q_window_rank", "q_events_tumbling", "q_events_sessionize",
    "recon_checksum_agg", "recon_rowlevel", "cdc_apply_latest",
    "pii_pipeline", "dedup_exact", "dedup_minhash_lsh",
    "text_quality", "text_fingerprint", "ann_bruteforce",
    "q_asof_join_native", "q_interval_join", "text_contamination",
    "recon_incremental_stateful",
    // round-4 representatives
    "q9_product_profit", "q18_large_orders", "text_pii_scan",
    "layout_zorder", "ann_lsh",
    // round-4 third wave: band-index probe, compaction, dim-exploded
    // centroid agg, double-window median
    "dedup_incremental", "cdc_compact_log", "emb_centroid_drift",
    "q_median_by_group",
    // round-10 wave: the k-iteration clustering kernel, the
    // checkpointed TF-IDF, and the persisted/append IVF serving shapes
    // (the operational paths — benched instead of the fused ann_ivf)
    "emb_kmeans", "text_tfidf_topterms", "ann_ivf_persisted",
    "ann_ivf_append",
    // round-11: SemDeDup-shape cell-bucketed embedding dedup — the
    // clustering + within-cell self-join shape none of the above cover
    "dedup_semantic",
    // round-12: the rolling-window substring pass — corpus-sized
    // posexplode + count-over-hash-window + per-doc islands merge, the
    // one explode-heavy window shape the set didn't cover — and PQ/ADC
    // serving, the broadcast-codebook integer-lookup shape
    "dedup_substring", "ann_pq",
    // round-13: IVFADC — the composed coarse-prune + integer-ADC
    // serving shape (partition-pruned code reads against the persisted
    // cell layout), and the persisted flat-PQ serve (reload + ADC with
    // no retraining — the fused ann_pq entry pays training, this one
    // prices pure serving)
    "ann_ivfpq", "ann_pq_persisted",
    // round-14: the quantized LIVING index — append at fixed
    // centroids/codebook then serve base ∪ code segments (the union
    // read none of the other PQ shapes cover) — and its DELETE leg,
    // serving through the tombstone broadcast anti-join (the masked
    // hot path a GDPR-compliant deployment actually runs)
    "ann_ivfpq_append", "ann_ivfpq_delete",
    // round-15: the operate-the-index additions — the quantized drift
    // gate (two full IVFADC builds + a shared exact-truth grade, the
    // retrain pricing pass a deployment schedules) and the living-store
    // reconciliation sweep (tag-union parity + channel/segment audits
    // over two persisted stores)
    "ann_ivfpq_drift", "recon_index",
    // round-16: the LWW serving read + its audit (loadLww's delta-only
    // winner groupBys and broadcast touched-keys anti-join — the
    // upsert-store hot path none of the terminal-masked shapes cover;
    // wall is fixture-build dominated like recon_index, see the entry
    // doc). The steady-state serving curve is bench/lww_cadence.json.
    "recon_index_lww")

  private case class Work(bytes: Long, records: Long, spill: Long, conc: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    val meter = new WorkMeter
    spark.sparkContext.addSparkListener(meter)

    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(list) => list.split(',').map(_.trim).filter(SparkEntry.queries.contains).toSeq
      case None if sys.env.contains("SPARK_GRAFT_BENCH_ALL") => SparkEntry.queries.keys.toSeq.sorted
      case None => Headline.filter(SparkEntry.queries.contains)
    }

    // Materialize through the noop sink: count() lets Catalyst prune the
    // projected columns, so narrow ops (pii masks, text scoring) would be
    // optimized down to a bare scan; the noop write evaluates every
    // output column without paying filesystem cost.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warm the JVM/codegen/IO paths once so timings reflect steady state,
    // not first-query session setup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // warmup failure is not fatal: the timed loop below records the
    // per-query error so the JSON still reports what broke
    try materialize(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }

    /** Snapshot the meter with the listener bus drained, so every
      * completed task's metrics are already folded in. A drain timeout
      * means the snapshot may fold one query's task metrics into the
      * next query's delta — counted and published as `drain_timeouts`
      * so a nonzero count marks the run's byte attribution (and any
      * flag derived from it) as unreliable, instead of only a stderr
      * line the driver's tail capture can drop.
      */
    val drainTimeouts = new java.util.concurrent.atomic.AtomicLong
    def snapDrained(): (Long, Long, Long) = {
      if (!org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext))
        drainTimeouts.incrementAndGet()
      meter.snap
    }

    // One untimed warm run (pays per-query whole-stage-codegen
    // compilation — a JVM artifact, not engine throughput) + `timedRuns`
    // timed runs per query, report the MEDIAN: the r4 bench showed a
    // uniform ~1.16× drift on untouched queries from GC pressure
    // accumulating across a 28-query single-process session; a forced GC
    // before every timed run plus the median makes timings insensitive
    // to both collection pauses landing inside one run and one-off
    // JIT/IO blips. A query that throws is reported under "errors"
    // (never as a timing): a partial elapsed-to-exception time would
    // make a broken query look fast and the regression invisible.
    // Work metrics come from the LAST timed run (they are deterministic
    // — any run would do).
    def timeSet(qnames: Seq[String], dir: String, timedRuns: Int = 3)
        : Seq[(String, Either[String, (Double, Work)])] =
      qnames.map { name =>
        var work = Work(0L, 0L, 0L, 0)
        val runs = (0 to timedRuns).map { i =>
          // each run starts cache-cold: leftover persists from the previous
          // run would otherwise make later runs time a cache read, and the
          // accumulated entries would spill the long bench session
          spark.catalog.clearCache()
          // drain garbage from the previous query/run so its collection
          // cost isn't billed to this timing
          System.gc()
          val before = snapDrained()
          meter.resetConc()
          val t0 = System.nanoTime()
          // the entry's jobs (Par propagates the group to its pool
          // threads) carry job group `<name>`
          spark.sparkContext.setJobGroup(name, name)
          val err =
            try { materialize(SparkEntry.queries(name)(spark, dir)); None }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: $e")
              Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
            }
            finally spark.sparkContext.clearJobGroup()
          val dt = (System.nanoTime() - t0) / 1e9
          if (err.isEmpty && i == timedRuns) {
            val after = snapDrained()
            work = Work(after._1 - before._1, after._2 - before._2,
              after._3 - before._3, meter.maxConc)
          }
          (dt, err, i)
        }
        runs.collectFirst { case (_, Some(msg), _) => name -> Left(msg) }
          .getOrElse {
            val timed = runs.collect { case (t, None, i) if i > 0 => t }.sorted
            name -> Right((timed(timed.length / 2), work))
          }
      }
    val results = timeSet(names, sfDir)

    // Scale-curve pass: re-time the same set at a 10× smaller SF and
    // report the per-query growth ratio — a super-linear operator (10×
    // data → >20× time) passes a single-SF bench unnoticed until it is
    // 100× bigger, so the curve IS the scale evidence. Skipped when the
    // sibling SF directory is absent or when benching a custom dir.
    val scaleDir = sys.env.get("SPARK_GRAFT_SCALE_DIR")
      .orElse(if (sfDir.endsWith("sf0.1")) Some(sfDir.dropRight(5) + "sf0.01") else None)
      .filter(d => d != sfDir && new java.io.File(d).isDirectory)
    val scaleResults = scaleDir.map(d => timeSet(names, d)).getOrElse(Seq.empty)

    // Tiled scale lakes (graft.tools.TileUp): generated on first use,
    // descriptor-gated thereafter. A failed generation is surfaced in
    // the JSON `errors` map (tileup@<tag>) so a missing scale point is
    // distinguishable from a disabled one.
    val tileErrs = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def tiledLake(tag: String, dstDefault: String, dstEnv: Option[String],
        factor: Int, enabled: Boolean): Option[String] =
      if (!enabled) None
      else dstEnv.orElse(if (sfDir.endsWith("sf0.1")) Some(dstDefault) else None)
        .flatMap { d =>
          graft.tools.TileUp.ensure(spark, sfDir, d, factor) match {
            case None => Some(d)
            case Some(err) => tileErrs += tag -> err; None
          }
        }

    // Upper scale point: a deterministic 10× tile-up of sf0.1 (~170 MB —
    // past trivial cache effects, see graft.tools.TileUp), timed with a
    // single timed run (growth-ratio threshold is 20×; sub-noise
    // precision isn't needed at 10× the wall-cost per run).
    // SPARK_GRAFT_SF1=0 disables.
    val sf1Dir = tiledLake("sf1", "/root/repo/data/sf1",
      sys.env.get("SPARK_GRAFT_SF1_DIR"), factor = 10,
      enabled = sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0")
    val sf1Results = sf1Dir.map(d => timeSet(names, d, timedRuns = 1)).getOrElse(Seq.empty)

    // Layout-matched base for the big shuffle hop: sf0.1 re-laid-out as
    // an 8-file lake (factor=1 tile — identical values, sf1's file
    // layout). The raw sf0.1→sf1 byte ratio mixes plan growth with a
    // single-file→8-file map-task multiplier on high-cardinality
    // partials; measured from THIS lake the multiplier cancels, so the
    // sf0.1m→sf1 ratio isolates the plan and is FLAGGED, extending the
    // deterministic gate across the 17 MB → 173 MB hop.
    val sf01mDir = tiledLake("sf0.1m", "/root/repo/data/sf0.1m", None, factor = 1,
      enabled = sf1Dir.nonEmpty && sys.env.getOrElse("SPARK_GRAFT_SF01M", "1") != "0")
    val sf01mResults = sf01mDir.map(d => timeSet(names, d, timedRuns = 1)).getOrElse(Seq.empty)

    // sf10 (~1.7 GB — the first point whose working sets exceed
    // cache locality on a 128 GiB host): opt-in via SPARK_GRAFT_SF10=1;
    // generation plus a timed pass add ~10 min, so the default bench
    // wall stays ~5 min. Tiled straight from sf0.1 (factor=100) so its
    // 8-file layout matches sf1's and the sf1→sf10 hop is
    // layout-matched (both ratio and shuffle gates flagged).
    val sf10Dir = tiledLake("sf10", "/root/repo/data/sf10",
      sys.env.get("SPARK_GRAFT_SF10_DIR"), factor = 100,
      enabled = sys.env.getOrElse("SPARK_GRAFT_SF10", "0") == "1")
    val sf10Results = sf10Dir.map(d => timeSet(names, d, timedRuns = 1)).getOrElse(Seq.empty)

    // Streaming throughput: run the two state-heaviest twins once per
    // STATE BACKEND (heap-backed default vs RocksDB + changelog
    // checkpointing) at the bench SF and surface their micro-batch
    // progress (rows/sec over trigger time, batch count, final state
    // rows) — head-to-head evidence for the backend a production
    // deployment runs. Evidence numbers, not regression-gated —
    // state-store throughput rides the same host variance as
    // everything else.
    val streamingNames =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAMING", "1") == "0") Seq.empty
      // SPARK_GRAFT_BENCH_STREAMING_ALL=1 benches the FULL twin
      // registry (12 twins × 2 backends — every state format has a
      // published rows/sec; artifact committed as
      // bench/streaming_all.json). Default stays the 4 state-heaviest
      // so the default bench wall holds ~5 min.
      else if (sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAMING_ALL", "0") == "1")
        graft.streaming.CdcStream.queries.keys.toSeq.sorted
      else Seq("cdc_stream_apply", "stream_dedup_minhash",
        // the two join/window-state twins: stream-stream join state is
        // the heaviest state format, previously recovery-proven but
        // with no published rows/sec
        "stream_windowed_agg", "stream_interval_join",
        // the storage-as-state twin: per-micro-batch fold into the
        // persisted IVF index (foreachBatch → ivfAppend). No state
        // store, but the per-batch fixed cost (assignment + one
        // cell-partitioned append commit) is the published figure an
        // index-maintenance deployment sizes its batches against.
        "stream_ivf_append")
    // (name, lake dir, label suffix): every twin at the bench SF, plus
    // the upsert twin against the sf1 lake (~10× the state rows) —
    // the point of the @sf1 entry is state-size evidence: RocksDB's
    // memory figure should stay flat-ish where the heap store's grows
    // with state. SPARK_GRAFT_BENCH_STREAMING_SF1=0 skips just that.
    /** The upsert twin against a tiled scale lake, env-gated — the one
      * shared shape of every streaming/continuous scale point, so a new
      * flag can't be forgotten by one hand-rolled copy (the persist
      * guard below must also check each flag).
      */
    def gatedScalePoint(names: Seq[String], flag: String,
        dirOpt: Option[String], label: String): Seq[(String, String, String)] =
      if (names.isEmpty || sys.env.getOrElse(flag, "1") == "0") Seq.empty
      else dirOpt.toSeq.map(d => ("cdc_stream_apply", d, label))
    val streamJobs: Seq[(String, String, String)] =
      streamingNames.map(n => (n, sfDir, "")) ++
        gatedScalePoint(streamingNames, "SPARK_GRAFT_BENCH_STREAMING_SF1",
          sf1Dir, "@sf1") ++
        // the memory-cliff point for STREAMING state: ~15 M state rows
        // at sf10 — where the heap store's estimate keeps growing with
        // state and RocksDB's working set stays bounded. Rides the
        // sf10 opt-in (SPARK_GRAFT_SF10=1).
        gatedScalePoint(streamingNames, "SPARK_GRAFT_BENCH_STREAMING_SF10",
          sf10Dir, "@sf10")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val backends = Seq(
      "" -> Map.empty[String, String],
      "@rocksdb" -> Map(
        providerKey ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
    // Steady-state latency probes under a CONTINUOUS trigger (the
    // AvailableNow twins prove throughput/state; these prove per-batch
    // latency + backpressure margin in the reference's actual operating
    // mode — an unbounded metered feed). Run at the bench SF per
    // backend; SPARK_GRAFT_BENCH_CONTINUOUS=0 disables.
    val continuousNames =
      if (streamingNames.isEmpty ||
        sys.env.getOrElse("SPARK_GRAFT_BENCH_CONTINUOUS", "1") == "0") Seq.empty
      else Seq("cdc_stream_apply", "stream_dedup_minhash")
    // (twin, lake, label): both twins at the bench SF, plus the upsert
    // twin against the sf1 lake — 10× the rows per metered batch with
    // state growing to 1.5 M rows DURING the run, answering the one
    // latency question the toy SF can't: does p95 hold as state grows.
    // SPARK_GRAFT_BENCH_CONTINUOUS_SF1=0 skips just that point.
    val continuousJobs: Seq[(String, String, String)] =
      continuousNames.map(n => (n, sfDir, "")) ++
        gatedScalePoint(continuousNames, "SPARK_GRAFT_BENCH_CONTINUOUS_SF1",
          sf1Dir, "@sf1") ++
        // the sf10 point (~15 M state rows, ~18 M feed rows): the one
        // latency question the sf1 point leaves open — does the
        // per-batch commit stay under the trigger when state grows
        // another 10×. Rides the sf10 opt-in (SPARK_GRAFT_SF10=1);
        // SPARK_GRAFT_BENCH_CONTINUOUS_SF10=0 skips just this point.
        gatedScalePoint(continuousNames, "SPARK_GRAFT_BENCH_CONTINUOUS_SF10",
          sf10Dir, "@sf10")
    /** One streaming entry: a measured run (with how many runs the
      * median came from) or a skip sentinel — the artifact must record
      * WHY a point is absent, or a round-over-round comparison reads
      * the missing entry as a shape change.
      */
    case class StreamRun(key: String, wall: Double, rows: Long, batches: Int,
      rps: Double, stateRows: Long, stateMem: Long, runs: Int)
    case class StreamSkip(key: String, reason: String)
    val streamSkips = scala.collection.mutable.ListBuffer.empty[StreamSkip]
    val contStats =
      scala.collection.mutable.ListBuffer.empty[(String, graft.streaming.CdcStream.ContinuousStats)]
    val contSkips = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val streaming: Seq[StreamRun] = backends.flatMap { case (suffix, confs) =>
      val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val out = streamJobs.flatMap { case (name, dir, dirSuffix) =>
        // The sf10 point (~15 M state rows) runs the THROUGHPUT PROBE
        // (noop sink) instead of the memory-sink twin: ~18 M emissions
        // OOM even a 16 GB JVM at the sink before the state store is
        // the bottleneck (measured — the production sink runs
        // off-driver, so the probe's cost model is the honest one).
        // The HEAP state store itself still holds ~4–5 GB of live map
        // entries at that size, so the heap backend additionally
        // requires ≥ 12 GB of headroom (SPARK_DRIVER_MEM=16g); the
        // RocksDB backend runs the point regardless — off-heap state
        // is exactly what it is for.
        if (dirSuffix == "@sf10" && suffix == "" &&
          Runtime.getRuntime.maxMemory < 12L * 1024 * 1024 * 1024) {
          val reason = s"heap backend needs >= 12288 MB driver heap, " +
            s"maxMemory is ${Runtime.getRuntime.maxMemory >> 20} MB (set SPARK_DRIVER_MEM=16g)"
          System.err.println(s"[bench] streaming $name$dirSuffix skipped: $reason")
          streamSkips += StreamSkip(name + dirSuffix + suffix, reason)
          None
        } else {
        // toy-SF twins report the MEDIAN of 3 runs (heap-vs-RocksDB
        // ordering flipped round-over-round on single runs at sf0.1 —
        // backend deltas there are noise-sized); the @sf1/@sf10 points
        // discriminate on state volume and stay single-run.
        val nRuns = if (dirSuffix == "") 3 else 1
        val runs = (1 to nRuns).flatMap { _ =>
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          val ok =
            try {
              materialize(
                if (dirSuffix == "@sf10")
                  graft.streaming.CdcStream.applyThroughputProbe(spark, dir)
                else graft.streaming.CdcStream.queries(name)(spark, dir))
              true
            }
            catch { case e: Throwable =>
              System.err.println(s"[bench] streaming $name$dirSuffix$suffix FAILED: $e"); false
            }
          val wall = (System.nanoTime() - t0) / 1e9
          if (!ok) None
          else graft.streaming.CdcStream.progressLog.get(name).map { prog =>
            val rows = prog.map(_._1).sum
            val trigMs = prog.map(_._2).sum
            val rps = if (trigMs > 0) rows.toDouble * 1000.0 / trigMs else 0.0
            StreamRun(name + dirSuffix + suffix, wall, rows, prog.size, rps,
              prog.map(_._3).lastOption.getOrElse(0L),
              prog.map(_._4).maxOption.getOrElse(0L), nRuns)
          }
        }
        if (runs.isEmpty) {
          // a point whose every run failed must leave a sentinel, not
          // vanish (same contract as the resource-skip above)
          streamSkips += StreamSkip(name + dirSuffix + suffix,
            s"all $nRuns runs failed (see stderr)")
          None
        } else
          // report how many runs the median actually came from — with
          // a failed run the survivor count is 2 (or 1), not nRuns.
          // Lower-middle index: with an EVEN survivor count (one run
          // died) length/2 would pick the faster run — conservative
          // bias beats optimistic when reporting throughput
          Some(runs.sortBy(_.rps).apply((runs.length - 1) / 2).copy(runs = runs.length))
        }
      }
      continuousJobs.foreach { case (name, dir, dirSuffix) =>
        spark.catalog.clearCache(); System.gc()
        // same resource guard as the streaming @sf10 point: the HEAP
        // state store holds ~4-5 GB of live map entries at 15 M rows;
        // RocksDB runs the point regardless (off-heap state)
        if (dirSuffix == "@sf10" && suffix == "" &&
          Runtime.getRuntime.maxMemory < 12L * 1024 * 1024 * 1024) {
          contSkips += (name + "@continuous" + dirSuffix + suffix) ->
            (s"heap backend needs >= 12288 MB driver heap, maxMemory is " +
              s"${Runtime.getRuntime.maxMemory >> 20} MB (set SPARK_DRIVER_MEM=16g)")
        } else try {
          // @sf10 states a 2 s trigger bar and meters the ~18 M-row
          // feed as 96 files (~190 k rows/batch): measured at this
          // state volume (15 M rows grown DURING the run) a 380 k-row
          // batch costs p50 1.2-1.9 s — real per-batch work, not
          // snapshot spikes — so the honest sf10 operating point is a
          // 2 s trigger, under which p95 holds with headroom rather
          // than a 1 s bar every batch misses
          val c =
            if (dirSuffix == "@sf10")
              graft.streaming.CdcStream.continuousProbe(spark, dir, name,
                triggerMs = 2000, files = 96)
            else graft.streaming.CdcStream.continuousProbe(spark, dir, name)
          contStats += ((dirSuffix + suffix) -> c)
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] continuous probe $name$dirSuffix$suffix FAILED: $e")
          // same sentinel contract as the streaming points: a failed
          // probe must leave WHY in the artifact, not just vanish
          contSkips += (name + "@continuous" + dirSuffix + suffix) ->
            s"probe failed: ${e.getClass.getSimpleName}: ${
              Option(e.getMessage).getOrElse("").take(120)}"
        }
      }
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      out
    }

    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ") + "\""
    def jnum(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def jmapD(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    def jmapL(xs: Seq[(String, Long)]) =
      xs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val ok = results.collect { case (k, Right((v, _))) => k -> v }
    val workOk = results.collect { case (k, Right((_, w))) => k -> w }
    val errs = results.collect { case (k, Left(m)) => k -> m } ++
      scaleResults.collect { case (k, Left(m)) => (k + "@scale") -> m } ++
      sf1Results.collect { case (k, Left(m)) => (k + "@sf1") -> m } ++
      sf01mResults.collect { case (k, Left(m)) => (k + "@sf0.1m") -> m } ++
      sf10Results.collect { case (k, Left(m)) => (k + "@sf10") -> m } ++
      tileErrs.map { case (tag, m) => s"tileup@$tag" -> m }
    val qs = ok.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val es = errs.map { case (k, m) => jstr(k) + ":" + jstr(m) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum

    /** Per-query bigger-lake/smaller-lake wall ratio, sorted by key. */
    def ratioMap(base: Map[String, Double], bigger: Map[String, Double]): Seq[(String, Double)] =
      base.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        bigger.get(k).filter(_ => v > 0).map(b => k -> b / v)
      }
    val okMap = ok.toMap
    val scaleOk = scaleResults.collect { case (k, Right((v, _))) => k -> v }.toMap
    val sf1Ok = sf1Results.collect { case (k, Right((v, _))) => k -> v }.toMap
    val sf10Ok = sf10Results.collect { case (k, Right((v, _))) => k -> v }.toMap
    val ratios = ratioMap(scaleOk, okMap)
    val ratiosSf1 = ratioMap(okMap, sf1Ok)
    val ratiosSf10 = ratioMap(sf1Ok, sf10Ok)
    // Shuffle-VOLUME growth across a 10× hop is deterministic where
    // wall-time is noisy: a linear operator moves ~10× the bytes for
    // 10× the data — but only a LAYOUT-MATCHED hop isolates the plan
    // (pre-shuffle map parallelism equal on both sides; a single-file →
    // 8-file hop multiplies high-cardinality partial aggregates by map
    // task count, a layout effect, not a plan regression). FLAGGED
    // hops: sf0.01→sf0.1 (both single-file), sf0.1m→sf1 and sf1→sf10
    // (all 8-file tiles) — together the deterministic gate spans
    // 2 MB → 1.7 GB. The raw sf0.1→sf1 ratio stays informational.
    // Bases under 64 KB are skipped — ratios on KB-sized shuffles
    // measure framing constants, not the plan.
    def workOf(rs: Seq[(String, Either[String, (Double, Work)])]): Map[String, Work] =
      rs.collect { case (k, Right((_, w))) => k -> w }.toMap
    val workMap = workOk.toMap
    val scaleWork = workOf(scaleResults)
    val sf1Work = workOf(sf1Results)
    val sf01mWork = workOf(sf01mResults)
    val sf10Work = workOf(sf10Results)
    def shuffleGrowthOf(base: Map[String, Work], bigger: Map[String, Work]): Seq[(String, Double)] =
      base.toSeq.sortBy(_._1).flatMap { case (k, s) =>
        bigger.get(k).filter(_ => s.bytes > 64 * 1024)
          .map(b => k -> b.bytes.toDouble / s.bytes)
      }
    val shuffleGrowth = shuffleGrowthOf(scaleWork, workMap)
    val shuffleGrowthSf1 = shuffleGrowthOf(workMap, sf1Work)
    val shuffleGrowthBig = shuffleGrowthOf(sf01mWork, sf1Work)
    val shuffleGrowthSf10 = shuffleGrowthOf(sf1Work, sf10Work)

    /** Static join signature of a query's plan against one lake — the
      * planner's broadcast-vs-shuffle choices, which depend on the
      * lake's table sizes. Planning only for most queries; a few
      * registry entries run bounded prep jobs at construction time
      * (the same cost every timed run already paid), and it is invoked
      * only for flagged queries, so the cost stays bounded.
      */
    def joinSig(name: String, dir: String): String = {
      val nodes = SparkEntry.queries(name)(spark, dir)
        .queryExecution.sparkPlan.collect { case n => n.nodeName }
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin")
        .map(j => j.filter(_.isUpper).toLowerCase -> nodes.count(_.contains(j)))
        .collect { case (tag, n) if n > 0 => s"$tag=$n" }.mkString(",")
    }
    /** Both lakes' signatures when they DIFFER; None when equal, a lake
      * is absent, or signature derivation throws — classification must
      * never discard a completed bench run, so a failure degrades to
      * "flag retained" with a stderr note.
      */
    def sigChange(k: String, loDir: Option[String], hiDir: Option[String])
        : Option[(String, String)] =
      try for {
        lo <- loDir; hi <- hiDir
        sLo = joinSig(k, lo); sHi = joinSig(k, hi)
        if sLo != sHi
      } yield (sLo, sHi)
      catch { case e: Throwable =>
        System.err.println(s"[bench] joinSig failed for $k: $e (flag retained)")
        None
      }
    // Root-cause discrimination for flagged hops (shuffle-byte AND
    // wall-ratio): crossing the broadcast threshold between lakes (dim
    // side fits at the small SF, must shuffle at the big one) produces
    // a one-time superlinear hop that IS the correct at-scale plan —
    // e.g. TPC-H Q3's orders leg broadcasts at sf1 (≈50 MB) and
    // shuffle-joins at sf10. Entries whose static join signature
    // changed across the hop are reported as shuffle_plan_transitions
    // (with the signatures as evidence) and excluded from
    // `superlinear`; same-plan blowups — actual regressions — stay
    // flagged. Byte threshold 15× (deterministic), wall threshold 20×
    // (±15% host noise).
    val allHops: Seq[(String, Seq[(String, Double)], Double, Option[String], Option[String])] =
      Seq(
        ("@shuffle", shuffleGrowth, 15.0, scaleDir, Some(sfDir)),
        ("@shuffle_big", shuffleGrowthBig, 15.0, sf01mDir, sf1Dir),
        ("@shuffle_sf10", shuffleGrowthSf10, 15.0, sf1Dir, sf10Dir),
        ("", ratios, 20.0, scaleDir, Some(sfDir)),
        ("@sf1", ratiosSf1, 20.0, Some(sfDir), sf1Dir),
        ("@sf10", ratiosSf10, 20.0, sf1Dir, sf10Dir))
    // A signature change excuses bounded growth only: a broadcast→
    // shuffle crossing at a 10× hop moves at most the big lake's full
    // join inputs where the small lake moved aggregate partials —
    // empirically ≤ ~100× (q3's orders leg: 91×). Past the ceiling the
    // entry stays red EVEN with a changed signature, so a genuine
    // big-lake-only plan regression (e.g. a join degrading to
    // nested-loop past the threshold) cannot launder itself as a
    // transition.
    val TransitionCeiling = 150.0
    val classified = allHops.flatMap { case (suffix, growth, thr, loDir, hiDir) =>
      growth.collect { case (k, r) if r > thr =>
        sigChange(k, loDir, hiDir) match {
          case Some((sLo, sHi)) if r <= TransitionCeiling =>
            Right(k + suffix -> s"${jnum(r)}x; joins $sLo -> $sHi")
          case _ => Left(k + suffix)
        }
      }
    }
    val superlinear = classified.collect { case Left(k) => k }
    val planTransitions = classified.collect { case Right(kv) => kv }
    def spillsOf(work: Map[String, Work]): Seq[(String, Long)] =
      work.filter(_._2.spill > 0).toSeq.sortBy(_._1).map { case (k, w) => k -> w.spill }
    val scaleJson = if (scaleResults.isEmpty) "" else
      s""","scale_sf":${jstr(scaleDir.get)},"scale_queries":${jmapD(scaleOk.toSeq.sortBy(_._1))},"growth_ratio":${jmapD(ratios)},"shuffle_growth":${jmapD(shuffleGrowth)}"""
    val sf1Json = if (sf1Results.isEmpty) "" else
      s""","sf1_dir":${jstr(sf1Dir.get)},"sf1_queries":${jmapD(sf1Ok.toSeq.sortBy(_._1))},"growth_ratio_sf1":${jmapD(ratiosSf1)},"shuffle_growth_sf1_info":${jmapD(shuffleGrowthSf1)},"sf1_spill_bytes":${jmapL(spillsOf(sf1Work))}"""
    val sf01mJson = if (sf01mResults.isEmpty) "" else
      s""","sf01m_dir":${jstr(sf01mDir.get)},"shuffle_growth_big":${jmapD(shuffleGrowthBig)}"""
    val sf10Json = if (sf10Results.isEmpty) "" else
      s""","sf10_dir":${jstr(sf10Dir.get)},"sf10_queries":${jmapD(sf10Ok.toSeq.sortBy(_._1))},"growth_ratio_sf10":${jmapD(ratiosSf10)},"shuffle_growth_sf10":${jmapD(shuffleGrowthSf10)},"sf10_spill_bytes":${jmapL(spillsOf(sf10Work))}"""
    val slJson = s""","superlinear":${superlinear.map(jstr).mkString("[", ",", "]")}""" +
      s""","shuffle_plan_transitions":${
        planTransitions.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")}"""

    // Deterministic regression gate: compare sf0.1 shuffle bytes against
    // the committed budget; >10% growth = a plan changed shape. (New
    // queries without a budget line are reported, not flagged.) Only
    // armed at the budget's recorded config — shuffle bytes move with
    // partition count (framing + AQE coalescing), so a different
    // SPARK_GRAFT_CPUS must not fabricate regressions.
    val budgetPath = "/root/repo/bench/shuffle_budget.txt"
    val budget: Map[String, Long] =
      if (!sfDir.endsWith("sf0.1") || cpus != 32 ||
        !new java.io.File(budgetPath).isFile) Map.empty
      else scala.io.Source.fromFile(budgetPath, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l => l.split("\\s+") match {
          case Array(k, v) => v.toLongOption.map(k -> _)
          case _ => None
        }}.toMap
    val shuffleRegressions = workOk.collect {
      case (k, w) if budget.get(k).exists(b => w.bytes > b * 1.10 + 1024) =>
        s"$k:${budget(k)}->${w.bytes}"
    }
    val workJson = {
      val sb = workOk.map { case (k, w) => jstr(k) + ":" + w.bytes }.mkString("{", ",", "}")
      val sr = workOk.map { case (k, w) => jstr(k) + ":" + w.records }.mkString("{", ",", "}")
      val sp = workOk.filter(_._2.spill > 0)
        .map { case (k, w) => jstr(k) + ":" + w.spill }.mkString("{", ",", "}")
      val flags = shuffleRegressions.map(jstr).mkString("[", ",", "]")
      s""","shuffle_bytes":$sb,"shuffle_records":$sr,"spill_bytes":$sp,"shuffle_regressions":$flags,"drain_timeouts":${drainTimeouts.get}"""
    }
    // Scaling evidence (r16 verdict: at local SFs every wall is
    // planning-bound, so 8-core and 32-core TOTALS tie and the wall-ratio
    // probe is vacuous): publish each query's measured max
    // CONCURRENTLY-RUNNING task count instead — whether the task graph
    // fills the cores is the property that transfers to a real cluster,
    // and it is deterministic where walls are noisy. Full per-query maps
    // at the bench SF and the 8-file sf1 tile go in this (persisted)
    // record; the compact tail-sized line carries the shuffle-heavy
    // subset so the driver's low-vs-high-cpu runs can compare it
    // directly.
    // clamp to the session's core count: TaskStart events can outpace
    // TaskEnd processing on the listener bus (measured: 13 "running"
    // on 8 local cores), but local mode physically runs at most `cpus`
    // tasks — the clamped figure is the defensible one
    def concMap(work: Map[String, Work]): String =
      work.toSeq.sortBy(_._1)
        .map { case (k, w) => jstr(k) + ":" + math.min(w.conc, cpus) }
        .mkString("{", ",", "}")
    val concJson = s""","cpus":$cpus,"max_concurrent_tasks":${concMap(workMap)}""" +
      (if (sf1Work.isEmpty) ""
       else s""","max_concurrent_tasks_sf1":${concMap(sf1Work)}""")
    val scalingProbe = Seq("q_median_by_group", "recon_rowlevel",
      "text_fingerprint", "dedup_substring", "dedup_minhash_lsh",
      "q1_pricing_summary")
    val compactScaling = {
      def sub(work: Map[String, Work]): String =
        scalingProbe.flatMap(k => work.get(k)
          .map(w => jstr(k) + ":" + math.min(w.conc, cpus)))
          .mkString("{", ",", "}")
      s""","cpus":$cpus,"max_conc":${sub(workMap)}""" +
        (if (sf1Work.isEmpty) "" else s""","max_conc_sf1":${sub(sf1Work)}""")
    }
    val streamJson = if (streaming.isEmpty && streamSkips.isEmpty) "" else {
      val entries = streaming.map { r =>
        jstr(r.key) + s""":{"wall_sec":${jnum(r.wall)},"input_rows":${r.rows},"batches":${r.batches},"rows_per_sec":${jnum(r.rps)},"state_rows":${r.stateRows},"state_mem_bytes":${r.stateMem},"runs":${r.runs}}"""
      } ++ streamSkips.map(s => jstr(s.key) + s""":{"skipped":${jstr(s.reason)}}""")
      s""","streaming":${entries.mkString("{", ",", "}")}"""
    }
    val contJson = if (contStats.isEmpty && contSkips.isEmpty) "" else {
      val entries = contStats.map { case (suffix, c) =>
        // percentiles are steady-state (warmup_excluded leading batches
        // dropped — session codegen, not state behavior); the full
        // per-batch series is published so the exclusion is auditable.
        // The probe pins minDeltasForSnapshot=100 (see continuousProbe:
        // the default 10 put a synchronous RocksDB snapshot spike on
        // every 10th batch — the r10 sf1 p95 miss).
        jstr(c.twin + "@continuous" + suffix) +
          s""":{"trigger_ms":${c.triggerMs},"batches":${c.batches},"p50_batch_ms":${c.p50Ms},"p95_batch_ms":${c.p95Ms},"max_batch_ms":${c.maxMs},"input_rps":${jnum(c.inputRps)},"proc_rps":${jnum(c.procRps)},"input_rows":${c.rows},"state_rows":${c.stateRows},"warmup_excluded":${c.warmupExcluded},"min_deltas_for_snapshot":${c.cadence},"batch_series_ms":${c.batchSeriesMs.mkString("[", ",", "]")}}"""
      } ++ contSkips.map { case (k, reason) =>
        jstr(k) + s""":{"skipped":${jstr(reason)}}"""
      }
      s""","streaming_continuous":${entries.mkString("{", ",", "}")}"""
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"sf":"$sfDir"$scaleJson$sf1Json$sf01mJson$sf10Json$slJson$workJson$concJson$streamJson$contJson}"""
    println(line)
    // A COMPACT summary line is printed LAST: the driver's artifact
    // keeps only a ~2000-char stdout tail, and the full line above
    // (per-batch series, per-query maps at four SFs) far exceeds it —
    // r12's BENCH artifact captured a mid-JSON fragment and parsed to
    // null. The compact line carries the headline walls + errors and
    // fits the tail whole; the full record persists below. Its metric
    // name is DISTINCT ("total_compact") so a consumer grepping
    // '{"metric"' can tell the two shapes apart deterministically.
    println(
      s"""{"metric":"total_compact","value":$total,"unit":"sec","queries":$qs,"errors":$es,"sf":"$sfDir"$compactScaling,"detail":"bench/last_bench.json"}""")
    // Persist the line: the driver's stdout capture keeps only a tail,
    // which truncated the per-query maps out of two rounds' artifacts —
    // the committed file makes round-over-round comparison
    // self-contained. Only FULL default-config runs persist — any
    // debug knob (query subset, off-SF lake, off-budget cpu count,
    // disabled streaming/scale sections) would clobber the committed
    // per-round artifact with a reduced or skewed line. An
    // sf10-enabled run additionally persists to sf10_bench.json, so
    // the sf10 evidence has code-generated provenance and survives the
    // next default (sf10-less) run overwriting last_bench.json.
    val fullDefaultRun = sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty &&
      !sys.env.contains("SPARK_GRAFT_BENCH_ALL") && sfDir.endsWith("sf0.1") &&
      cpus == 32 && streamingNames.nonEmpty && sf1Dir.nonEmpty && sf01mDir.nonEmpty &&
      // the continuous section (incl. its @sf1 point) is part of the
      // committed artifact's shape — a run with any of its knobs off
      // must not clobber last_bench.json with the reduced shape
      continuousNames.nonEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CONTINUOUS_SF1", "1") != "0" &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAMING_SF1", "1") != "0"
    def persist(name: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(s"/root/repo/bench/$name"),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] persist $name failed: $e") }
    val streamingAll = sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAMING_ALL", "0") == "1"
    if (fullDefaultRun && streamingAll) {
      // full-registry streaming run: its own artifact — the default
      // last_bench.json keeps the 4-twin shape round-over-round
      persist("streaming_all.json")
    } else if (fullDefaultRun) {
      persist("last_bench.json")
    }
    // the sf10 evidence refreshes on ANY full run that computed it —
    // a streaming-all run must not silently drop a ~10-minute sf10 pass
    if (fullDefaultRun && sf10Results.nonEmpty) persist("sf10_bench.json")
    // full-registry scale pass: BENCH_ALL at sf0.1 times the WHOLE
    // registry at sf0.1 (median of 3) AND at the sf1 tile (the tiled
    // scale section) — per-query walls + errors + growth over all
    // queries, the wide net the headline gates can't cast (r9 found
    // four single-task sorts exactly by looking beyond the headline
    // set). tools/registry_flags.py reads the artifact and flags
    // outsized sf0.1→sf1 wall growth.
    if (sys.env.contains("SPARK_GRAFT_BENCH_ALL") && sfDir.endsWith("sf0.1") &&
      sf1Results.nonEmpty)
      persist("registry_sf1.json")
    // Unload state-store providers BEFORE stopping the context: a
    // RocksDB maintenance thread that outlives the JVM's teardown can
    // SIGSEGV in its JNI logger (observed at the sf10 point — after
    // the JSON line printed, but turning a clean exit into code 134).
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case e: Throwable => System.err.println(s"[bench] StateStore.stop: $e") }
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
