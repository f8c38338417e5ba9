package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation-manifested segment storage — the shared maintenance
  * discipline behind every "living index" in the engine: the IVF
  * assignments and the IVFADC code tables (`AnnSuite.IvfStore`,
  * `AnnSuite.CodesStore`), the MinHash band index and the streaming
  * substring-dedup window-hash index (`DedupSuite.BandStore`,
  * `DedupSuite.HashStore`). Each store is one [[Scheme]] value — the
  * store HANDLE: it names the store's files, keys, partitions,
  * sidecars and fold step, and carries every operation on the store
  * (save, load, loadLww, append, delete, compact, upsertCompact, swap,
  * sidecar, carryOf, sidecarPath, reset, audit). The reference's
  * incremental reconciliation keeps a watermark table and re-reads
  * only what moved (ref: src/reconciliation/incremental/watermark.py:1,
  * incremental.py:1); the lake analog for an APPEND-ONLY index is
  * batchId-keyed segments plus manifest-committed compactions, which
  * is what this implements.
  *
  * Layout inside an index directory:
  *   - generation 0: `<base0>` (the initial build) + `<appends0>/
  *     batch_id=<id>/...` segments, no manifest;
  *   - each compaction commits `MANIFEST-<n>` naming a folded
  *     `<vBase><n>.parquet` base and a fresh `<vAppends><n>.parquet`
  *     segment root, plus the folded-batchId WATERMARK.
  *
  * Crash-safety invariants (spec-pinned in IvfPersistSpec):
  *   - a torn segment write is healed by replay: [[Scheme.append]] OVERWRITES
  *     exactly its own `batch_id=` directory, so re-driving a batch
  *     whose landing succeeded but whose offset commit did not rewrites
  *     the same rows instead of duplicating them;
  *   - a torn compaction is invisible: the folded base lands under the
  *     NEXT generation's name (idempotent redo), and the generation
  *     only exists once its manifest commits (a torn manifest write is
  *     self-invalidating — [[Scheme.resolve]] requires the trailing newline);
  *   - a replay ACROSS a compaction is a no-op: the manifest carries
  *     the highest batchId folded into the base, and [[Scheme.append]]
  *     refuses ids at or below it — without this, a checkpoint replay
  *     arriving after its original segment was folded would land the
  *     rows a second time (they already live in the new base). This
  *     requires batch ids to be MONOTONICALLY INCREASING per index,
  *     which is exactly foreachBatch's batchId contract;
  *   - DELETES are tombstone segments in a third channel
  *     (`<deletes><gen>/batch_id=<id>/`): [[Scheme.delete]] lands a
  *     batch of keys, [[Scheme.load]] anti-joins them (broadcast — tombstones
  *     are bounded by the delete traffic between compactions, never
  *     corpus-sized), and a compaction PURGES them physically (the
  *     folded base is the reader view, which already excludes them;
  *     the new generation's delete channel holds only the CARRIED
  *     tombstones — keys that matched no row yet, kept so a delete
  *     that preceded its insert still kills the row when it lands
  *     after the fold — see [[Scheme.compact]]).
  *     Delete-wins semantics: a tombstoned key is masked no matter
  *     which segment carries it or in which order the batches landed —
  *     re-inserting a deleted key is out of contract (keys are unique
  *     corpus ids; a delete is terminal, the right-to-be-forgotten
  *     shape). Tombstone replays share the append channel's watermark
  *     rules, and the watermark is what stops RESURRECTION: an
  *     append-batch replay arriving after a compaction folded both the
  *     batch and a later delete of its rows is refused, so the deleted
  *     rows cannot ride back in through the replay. Stores whose keys
  *     legitimately UPDATE in place read through [[Scheme.loadLww]] instead —
  *     last op per key wins by batchId, and deletes stop being
  *     terminal;
  *   - readers and the compactor are isolated by GENERATION RETENTION:
  *     committing generation n+1 retires generation n−1, never n, so
  *     an in-flight reader that resolved the pre-compaction layout
  *     keeps a complete generation on disk until the NEXT compaction.
  *     (Single-WRITER discipline still applies: run append and compact
  *     from one maintenance loop.)
  */
object SegmentStore {

  /** One segment store's HANDLE: everything that identifies the store,
    * and every operation on it, written once. It is the only code that
    * knows the store's file names: callers save, swap and read sidecar
    * tables through it and never build a store path themselves.
    *
    * Naming: `vBase`/`vAppends`/`vDeletes` are PREFIXES — generation
    * n's dirs are `<vBase><n>.parquet` / `<vAppends><n>.parquet` /
    * `<vDeletes><n>.parquet` (prefix form so [[reset]] can clear every
    * generation without knowing how many exist). The delete channel's
    * names default off the append channel's, but stores sharing one
    * index directory must pick non-colliding explicit names.
    *
    * Identity beyond the names:
    *   - `keyCols`: the store key — the delete channel's tombstone
    *     columns and the LWW winner key (Nil = no delete channel);
    *   - `partitionCols`: the on-disk partition columns of base and
    *     segments (read back as BIGINT — partition-value inference would
    *     otherwise widen/narrow per lake);
    *   - `sidecars`: the declared sidecar tables — `<name>.parquet` from
    *     a [[save]], generation-versioned `<name>_v<gen>.parquet` from a
    *     [[swap]] (see [[sidecarPath]]);
    *   - `recordPurged`: whether a terminal compaction appends its
    *     folded tombstones to the cumulative purged-key record (needs
    *     `keyCols`);
    *   - `core`: the reader view's core columns (in order); with
    *     `carriesAttrs` the rows also carry caller attribute columns,
    *     which maintenance reads back from the base schema
    *     ([[carryOf]]);
    *   - `expectedKeys`: maps a corpus id frame to the keys a healthy
    *     store serves exactly once ([[audit]]);
    *   - `refold`: the step a compaction applies to the folded view
    *     (hot-bucket re-gating, distinct restoration, or identity).
    */
  case class Scheme(base0: String, appends0: String,
      vBase: String, vAppends: String,
      deletes0: String = "deletes.parquet", vDeletes: String = "deletes_v",
      purged0: String = "purged.parquet",
      keyCols: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil,
      sidecars: Seq[String] = Nil,
      recordPurged: Boolean = false,
      core: Seq[String] = Nil,
      carriesAttrs: Boolean = false,
      expectedKeys: DataFrame => DataFrame = identity,
      refold: DataFrame => DataFrame = identity) {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{broadcast, col, lit, max, sum, when}

    require(!recordPurged || keyCols.nonEmpty,
      s"$base0: recordPurged requires keyCols (the tombstone key columns)")

    def baseOf(gen: Int): String = if (gen == 0) base0 else s"$vBase$gen.parquet"
    def appendsOf(gen: Int): String =
      if (gen == 0) appends0 else s"$vAppends$gen.parquet"
    def deletesOf(gen: Int): String =
      if (gen == 0) deletes0 else s"$vDeletes$gen.parquet"
    private def sidecarPrefixes: Seq[String] = sidecars.map(_ + "_v")

    /** Sidecar GC and the torn-retrain scrub cover declared names only,
      * so an undeclared table would outlive both: refuse it up front.
      */
    private def requireDeclared(tables: Seq[(String, DataFrame)]): Unit = {
      val unknown = tables.map(_._1).filterNot(sidecars.contains)
      require(unknown.isEmpty,
        s"$base0: undeclared sidecar(s) ${unknown.mkString(", ")}; " +
          s"declared: ${sidecars.mkString(", ")}")
    }

    private def write(df: DataFrame, parts: Seq[String], path: String): Unit = {
      val w = df.write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
    }

    /** Resolve the store's current layout: the HIGHEST manifest that
      * parses completely (trailing newline — a torn write is
      * self-invalidating) and whose base dir exists wins; else fall back
      * a generation; else generation 0. Manifest grammar:
      * `v2 <base> <appends> <foldedWatermark>\n` (v1 lines — no
      * watermark — still parse, folded = −1).
      */
    def resolve(spark: SparkSession, dir: String): Layout = {
      val p = new Path(dir)
      val fs = fileSystem(spark, dir)
      val manifests: Seq[(Int, Path)] =
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("MANIFEST-"))
            n.stripPrefix("MANIFEST-").toIntOption.map(_ -> st.getPath)
          else None
        }.sortBy(-_._1)
      manifests.foreach { case (gen, mp) =>
        val in = fs.open(mp)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        if (content.endsWith("\n")) content.trim.split(" ") match {
          case Array("v1", base, appends) if fs.exists(new Path(s"$dir/$base")) =>
            return Layout(base, appends, gen, -1L)
          case Array("v2", base, appends, folded)
              if folded.toLongOption.nonEmpty && fs.exists(new Path(s"$dir/$base")) =>
            return Layout(base, appends, gen, folded.toLong)
          case _ => ()
        }
      }
      Layout(base0, appends0, 0, -1L)
    }

    /** A FULL rebuild: write the fresh base (partitioned by whichever
      * `partitionCols` it carries) and each sidecar table as
      * `<name>.parquet` — independent writes, overlapped (guide §2.6) —
      * then [[reset]] the store to generation 0.
      */
    def save(dir: String, base: DataFrame, tables: (String, DataFrame)*): Unit = {
      requireDeclared(tables)
      val parts = partitionCols.filter(base.columns.contains)
      graft.functions.Par.all((() => write(base, parts, s"$dir/$base0")) +:
        tables.map { case (name, df) => () => write(df, Nil, s"$dir/$name.parquet") }: _*)
      reset(base.sparkSession, dir)
    }

    /** The core-column projection both union legs of a reader view
      * pass through: partition columns typed back to BIGINT, then the
      * core columns present (in `core` order) plus `carry`.
      */
    private def project(df: DataFrame, carry: Seq[String]): DataFrame = {
      val typed = partitionCols.filter(df.columns.contains)
        .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))
      typed.select((core.filter(typed.columns.contains) ++ carry).map(col): _*)
    }

    /** Terminal-delete reader view: base ∪ committed segments, both
      * projected. The union preserves each leg's partition layout, so
      * partition-column predicates prune on both. When tombstone
      * segments exist, the view anti-joins them out (broadcast — the
      * tombstone set is delete-traffic-sized, and a compaction purges
      * it back to zero); a store without `keyCols` adds no join at all.
      */
    def load(spark: SparkSession, dir: String, carry: Seq[String] = Nil): DataFrame = {
      val lay = resolve(spark, dir)
      val fs = fileSystem(spark, dir)
      val base = project(spark.read.parquet(s"$dir/${lay.base}"), carry)
      val union =
        if (fs.exists(new Path(s"$dir/${lay.appends}")))
          base.unionByName(project(spark.read.parquet(s"$dir/${lay.appends}"), carry))
        else base
      val dp = s"$dir/${deletesOf(lay.gen)}"
      if (keyCols.isEmpty || !fs.exists(new Path(dp))) union
      else union.join(broadcast(spark.read.parquet(dp).select(keyCols.map(col): _*)),
        keyCols, "left_anti")
    }

    /** LAST-WRITE-WINS reader view — the reference CDC sink's
      * insert-mode=upsert discipline (ref: docker/configs/kafka-connect/
      * postgresql-sink.json:1, last write by LSN wins per key) applied
      * to a segment store: per `keyCols` key, the row from the
      * HIGHEST-batchId append segment wins; the base counts as batchId
      * −∞ (any segment row supersedes it); a tombstone batch masks the
      * key only while no LATER append re-inserts it. So `op ∈ {c, u}`
      * both land as plain [[append]]s — an update of a live id
      * SUPERSEDES instead of duplicating — and a delete is no longer
      * terminal: the last op per key wins, exactly the semantics a CDC
      * feed of (op, key, row) envelopes needs. Within one batchId a key
      * must appear in at most ONE channel with ONE row (collapse the
      * envelope per key first — cdc_apply_latest — as foreachBatch gives
      * no intra-batch order); on an insert and a tombstone TYING at the
      * same batchId the tombstone wins (matches the terminal-delete
      * stores' delete-wins tie rule).
      *
      * Plan shape at scale: the winner computation runs on the DELTA
      * only (segments + tombstones, bounded by the traffic between
      * compactions — two small groupBys); the corpus-sized base pays
      * exactly one BROADCAST anti-join of the touched keys, the same
      * price as [[load]]'s tombstone mask. Partition layout of both
      * union legs is preserved, so partition-column pruning (e.g. the
      * IVF cell probes) holds.
      *
      * Two operating bounds a deployment owns (unenforced here):
      *   - the at-most-one-row-per-key-per-batch contract is NOT checked
      *     at read time (the winning-batch join passes every row of that
      *     batch through) — a violating writer makes the view serve
      *     duplicate rows for the key. The detection path is the
      *     scheduled recon pass: recon_index_lww's `dup_keys` invariant
      *     counts exactly these (must be 0 on a healthy LWW store);
      *   - `touched` (the broadcast anti-join side) grows with the
      *     DISTINCT keys written since the last compaction. Compact
      *     before it outgrows the broadcast threshold (~10M keys at
      *     default autoBroadcastJoinThreshold); recon_index_lww's
      *     `append_segments` / `superseded_rows` are the observable to
      *     alert on, and bench/lww_cadence.json carries the measured
      *     serving-wall degradation curve that sizes the cadence.
      */
    def loadLww(spark: SparkSession, dir: String, carry: Seq[String] = Nil): DataFrame = {
      require(keyCols.nonEmpty, "loadLww requires the store's key columns")
      val lay = resolve(spark, dir)
      val fs = fileSystem(spark, dir)
      val base = project(spark.read.parquet(s"$dir/${lay.base}"), carry)
      val ap = new Path(s"$dir/${lay.appends}")
      val dp = new Path(s"$dir/${deletesOf(lay.gen)}")
      if (!fs.exists(ap) && !fs.exists(dp)) return base
      val ks = keyCols.map(col)
      // batch_id is the segment dirs' partition column; delta-sized legs
      val segs =
        if (fs.exists(ap))
          Some(spark.read.parquet(ap.toString)
            .withColumn("__b", col("batch_id").cast("long")))
        else None
      val maxIns = segs.map(_.groupBy(ks: _*).agg(max("__b").as("__bi")))
      val maxDel =
        if (fs.exists(dp))
          Some(spark.read.parquet(dp.toString)
            .withColumn("__b", col("batch_id").cast("long"))
            .groupBy(ks: _*).agg(max("__b").as("__bd")))
        else None
      val status = (maxIns, maxDel) match {
        case (Some(i), Some(d)) => i.join(d, keyCols, "full_outer")
        case (Some(i), None) => i.withColumn("__bd", lit(null).cast("long"))
        case (None, Some(d)) => d.withColumn("__bi", lit(null).cast("long"))
        case (None, None) => return base // unreachable (guarded above)
      }
      // every touched key leaves the base; the winning insert rows of the
      // delta re-enter. Ties (__bi = __bd) go to the tombstone.
      val touched = status.select(ks: _*)
      val winners = status
        .filter(col("__bi").isNotNull &&
          (col("__bd").isNull || col("__bi") > col("__bd")))
        .select((ks :+ col("__bi").as("__b")): _*)
      val masked = base.join(broadcast(touched), keyCols, "left_anti")
      segs match {
        case Some(sg) =>
          val winRows = sg.join(broadcast(winners), keyCols :+ "__b")
            .drop("__b", "batch_id")
          masked.unionByName(project(winRows, carry))
        case None => masked
      }
    }

    /** Land one batch as an idempotent, batchId-keyed segment. Returns
      * false (and writes NOTHING) when `batchId` is at or below the
      * folded watermark — a checkpoint replay of a batch a compaction
      * already folded into the base. `batchId` must be monotonically
      * increasing per store (foreachBatch's contract); ad-hoc callers
      * own picking fresh ids above the watermark.
      */
    def append(spark: SparkSession, dir: String, segment: DataFrame,
        batchId: Long): Boolean = {
      val lay = resolve(spark, dir)
      if (batchId <= lay.folded) return false
      write(segment, partitionCols, s"$dir/${lay.appends}/batch_id=$batchId")
      true
    }

    /** Tombstone the distinct `idCol` values of `ids` as an idempotent,
      * batchId-keyed delete segment ([[load]] anti-joins them; the next
      * compaction purges them). Same watermark contract as [[append]]
      * (one shared monotonic batch-id space per store): a replay at or
      * below the folded watermark lands nothing — a tombstone whose rows
      * a compaction already removed must not reappear as a standing
      * (harmless but unbounded) mask.
      */
    def delete(spark: SparkSession, dir: String, ids: DataFrame, idCol: String,
        batchId: Long): Boolean = {
      require(keyCols.size == 1, s"$base0: delete needs a one-column store key")
      val keys = ids.select(col(idCol).as(keyCols.head)).distinct()
      val lay = resolve(spark, dir)
      if (batchId <= lay.folded) return false
      keys.write.mode("overwrite")
        .parquet(s"$dir/${deletesOf(lay.gen)}/batch_id=$batchId")
      true
    }

    /** The current generation's committed tombstone keys, if any. */
    def deletes(spark: SparkSession, dir: String): Option[DataFrame] = {
      val dp = s"$dir/${deletesOf(resolve(spark, dir).gen)}"
      if (fileSystem(spark, dir).exists(new Path(dp))) Some(spark.read.parquet(dp))
      else None
    }

    /** The store's CUMULATIVE purged-key list, if any — every tombstone
      * key a `recordPurged` compaction ever folded (commit-versioned
      * append-only dirs; see [[compact]]). The durable
      * right-to-be-forgotten record: a rebuild from a source frame that
      * still carries deleted rows anti-joins this.
      */
    def purged(spark: SparkSession, dir: String): Option[DataFrame] = {
      val pp = s"$dir/$purged0"
      if (fileSystem(spark, dir).exists(new Path(pp)))
        Some(spark.read.parquet(pp).drop("commit").distinct())
      else None
    }

    /** Fold the terminal-delete view (re-folded, attributes carried)
      * into the next generation: unmatched tombstones carry forward,
      * matched ones purge (recorded when `recordPurged`), and a torn
      * retrain's orphaned sidecars are scrubbed before the commit.
      * Returns false (no-op) when neither channel holds a committed
      * segment (a deletes-only compaction is the physical-purge
      * operation). `crashBeforeCommit` is the specs' torn-compaction
      * hook: land, then "die" before the manifest commit. Keeps the
      * newest `retain` PREVIOUS generations for in-flight readers
      * (default 1: committing n+1 retires n−1, never n); size it to the
      * longest query a deployment lets run across compaction cadences.
      */
    def compact(spark: SparkSession, dir: String,
        crashBeforeCommit: Boolean = false, retain: Int = 1): Boolean =
      fold(spark, dir, refold(load(spark, dir, carryOf(spark, dir))),
        crashBeforeCommit, retain, lww = false)

    /** Fold the LWW view into the next generation. No tombstone carry
      * and no purged record: under last-write-wins a later insert
      * legitimately supersedes a folded tombstone.
      */
    def upsertCompact(spark: SparkSession, dir: String,
        crashBeforeCommit: Boolean = false, retain: Int = 1): Boolean =
      fold(spark, dir, refold(loadLww(spark, dir, carryOf(spark, dir))),
        crashBeforeCommit, retain, lww = true)

    /** Swap a REBUILT base in as the next generation (a retrain): the
      * fold runs with zero pending segments too, and each sidecar table
      * lands as `<name>_v<next>.parquet` inside the atomic window, so
      * the manifest commit publishes base + sidecars as a unit. Throws,
      * before anything is written, on a sidecar name the store does not
      * declare. A superseded sidecar version is GC'd only once every
      * retained generation maps to a newer one (generation → sidecar is
      * highest-version-at-or-below, so an eager delete would orphan a
      * retained generation's serving tables).
      */
    def swap(spark: SparkSession, dir: String, rebuilt: DataFrame,
        crashBeforeCommit: Boolean = false, retain: Int = 1)
        (tables: (String, DataFrame)*): Boolean = {
      requireDeclared(tables)
      fold(spark, dir, rebuilt, crashBeforeCommit, retain, lww = false,
        retrained = Some(tables))
    }

    /** Fold into generation gen+1 with crash-safe land-then-swap (see
      * the object doc). `folded` is the frame to land — the reader view
      * for a compaction, so fold ≡ read; the rebuilt base for a retrain
      * (`retrained` = its sidecar tables).
      *
      * Tombstone handling at the fold is semantics-dependent:
      *   - TERMINAL-delete folds (`lww = false`, stores with `keyCols`):
      *     tombstones whose key matched NO row in base ∪ appends are
      *     CARRIED FORWARD into the new generation's delete channel (a
      *     delete that arrived before its insert — the CDC
      *     delete-before-row ordering — must still kill the row when it
      *     lands after the compaction; without the carry, the fold would
      *     consume the tombstone with no effect and the later append
      *     would resurrect the key). Tombstones that DID remove rows are
      *     purged with the channel. The carried set is bounded by the
      *     store's never-matched delete traffic, never corpus-sized.
      *   - LWW folds ([[upsertCompact]]): a later insert legitimately
      *     supersedes an earlier tombstone, so an unmatched tombstone
      *     must NOT outlive the fold (the arriving insert's batchId is
      *     above the watermark, hence newer).
      * `recordPurged` additionally appends a terminal fold's tombstone
      * keys to a CUMULATIVE `purged0` list ([[purged]]) — the durable
      * right-to-be-forgotten record a from-source rebuild
      * ([[graft.operators.AnnSuite.ivfPqRetrain]]) anti-joins so a
      * completed purge survives retraining from a lake frame that still
      * carries the deleted rows. Append-only, bounded by lifetime
      * delete traffic.
      */
    private def fold(spark: SparkSession, dir: String, folded: => DataFrame,
        crashBeforeCommit: Boolean, retain: Int, lww: Boolean,
        retrained: Option[Seq[(String, DataFrame)]] = None): Boolean = {
      require(retain >= 1, s"retain must be >= 1 (got $retain)")
      val lay = resolve(spark, dir)
      val fs = fileSystem(spark, dir)
      def path(name: String) = new Path(s"$dir/$name")
      val appendsPath = path(lay.appends)
      val deletesPath = path(deletesOf(lay.gen))
      if (retrained.isEmpty && !fs.exists(appendsPath) && !fs.exists(deletesPath))
        return false
      // the new watermark: every committed segment id — append AND
      // tombstone — folds into the base (tombstoned rows by omission:
      // `folded` is the reader view, which anti-joined them already)
      val newFolded =
        (segmentIds(fs, appendsPath) ++ segmentIds(fs, deletesPath) :+ lay.folded).max
      val next = lay.gen + 1
      // 1. land the folded base under the NEXT generation's name
      //    (idempotent overwrite — a torn attempt just redoes)
      write(folded, partitionCols, s"$dir/${baseOf(next)}")
      // 2. clear generation-<next> leftovers a TORN prior attempt (plain
      //    compact, retrain, or carry-forward) may have orphaned: the
      //    delete channel dir and every sidecar family's <next> version.
      //    Runs BEFORE the sidecar landing/carry-forward so this run's own
      //    landings survive; committing the manifest below would
      //    otherwise make any stale orphan visible as generation state.
      fs.delete(path(deletesOf(next)), true)
      // ... including a torn recordPurged attempt's commit dir: purged
      //   entries become durable only when the generation commits, so a
      //   stale commit=<next> left by a prior torn run must not ride into
      //   THIS run's manifest (this run re-lands it below iff the store
      //   records purges — the invariant is structural). An emptied
      //   parent is removed too: [[purged]] treats bare existence as
      //   "has entries".
      fs.delete(path(s"$purged0/commit=$next"), true)
      if (fs.exists(path(purged0)) && fs.listStatus(path(purged0)).isEmpty)
        fs.delete(path(purged0), true)
      sidecarPrefixes.foreach(pre => fs.delete(path(s"$pre$next.parquet"), true))
      // 3. tombstone disposition (terminal-delete folds only — see doc)
      if (!lww && keyCols.nonEmpty && fs.exists(deletesPath)) {
        val ks = keyCols.map(col)
        val tombs = spark.read.parquet(deletesPath.toString).select(ks: _*).distinct()
        val standing = {
          val b = spark.read.parquet(s"$dir/${lay.base}").select(ks: _*)
          if (fs.exists(appendsPath))
            b.unionByName(spark.read.parquet(appendsPath.toString).select(ks: _*))
          else b
        }
        val carried = tombs.join(standing, keyCols, "left_anti")
        if (carried.count() > 0)
          carried.write.mode("overwrite")
            .parquet(s"$dir/${deletesOf(next)}/batch_id=$newFolded")
        if (recordPurged)
          tombs.write.mode("overwrite").parquet(s"$dir/$purged0/commit=$next")
      }
      // 4. a retrain's sidecars, inside the atomic window
      retrained.toSeq.flatten.foreach { case (name, df) =>
        write(df, Nil, s"$dir/${name}_v$next.parquet")
      }
      if (crashBeforeCommit) return false
      // 5. commit the generation (readers switch at their next resolve)
      val out = fs.create(path(s"MANIFEST-$next"), true)
      try out.write(
        s"v2 ${baseOf(next)} ${appendsOf(next)} $newFolded\n".getBytes("UTF-8"))
      finally out.close()
      // 6. retire every generation older than the newest `retain`
      //    previous ones — the retained generations keep a pre-commit
      //    reader's files on disk (and the manifest-fallback chain
      //    serviceable); the loop form also heals leftovers if `retain`
      //    shrank between calls. A retrain also GCs each sidecar version
      //    that a newer retained version supersedes.
      for (g <- 0 to next - 1 - retain) {
        fs.delete(path(baseOf(g)), true)
        fs.delete(path(appendsOf(g)), true)
        fs.delete(path(deletesOf(g)), true)
        if (g > 0) fs.delete(path(s"MANIFEST-$g"), true)
        if (retrained.nonEmpty) sidecars.foreach { name =>
          def version(v: Int) = path(s"${name}_v$v.parquet")
          if ((g + 1 to next - retain).exists(v => fs.exists(version(v))))
            fs.delete(version(g), true)
        }
      }
      true
    }

    /** The ATTRIBUTE columns the store's rows carry beyond `core`, read
      * from the current base's schema so maintenance preserves them
      * without the caller restating the build's `carry` list (Nil, and
      * no read, for stores without attributes).
      */
    def carryOf(spark: SparkSession, dir: String): Seq[String] =
      if (!carriesAttrs) Nil
      else spark.read.parquet(s"$dir/${resolve(spark, dir).base}").columns.toSeq
        .filterNot(core.toSet)

    /** The path of sidecar table `name` that the CURRENT generation
      * serves: the HIGHEST `<name>_v<m>.parquet` with m ≤ gen, else the
      * build's `<name>.parquet`. Compactions never move the mapping; a
      * retrain's manifest commit does, which makes the commit the single
      * visibility point for base + sidecars as a unit (gen < next
      * ignores a torn retrain's landings). For driver-side footer reads
      * (ParquetMeta); Spark reads go through [[sidecar]].
      */
    def sidecarPath(spark: SparkSession, dir: String, name: String): String = {
      val gen = resolve(spark, dir).gen
      val fs = fileSystem(spark, dir)
      ((gen to 1 by -1).map(g => s"${name}_v$g.parquet") :+ s"$name.parquet")
        .find(n => fs.exists(new Path(s"$dir/$n")))
        .map(n => s"$dir/$n")
        .getOrElse(s"$dir/$name.parquet")
    }

    /** The sidecar table `name` that the current generation serves. */
    def sidecar(spark: SparkSession, dir: String, name: String): DataFrame =
      spark.read.parquet(sidecarPath(spark, dir, name))

    /** Clear every segment, manifest, versioned generation and
      * versioned sidecar — a full rebuild resets the store to
      * generation 0 (the fresh base [[save]] just wrote). Prior
      * segments must not leak into reloads of the new build, and a
      * stale `<sidecar>_v<g>` would shadow the fresh build's table once
      * the store re-reaches generation g.
      */
    def reset(spark: SparkSession, dir: String): Unit = {
      val p = new Path(dir)
      val fs = fileSystem(spark, dir)
      if (!fs.exists(p)) return
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n == appends0 || n == deletes0 || n == purged0 ||
          n.startsWith("MANIFEST-") || n.startsWith(vBase) ||
          n.startsWith(vAppends) || n.startsWith(vDeletes) ||
          sidecarPrefixes.exists(n.startsWith))
          fs.delete(st.getPath, true)
      }
    }

  /** OPERATIONAL RECONCILIATION of the store — the reference's recon
      * discipline (ref: src/reconciliation/strategies/row_count.py:1,
      * referential checks) pointed at the engine's own segment stores:
      * the specs prove exactly-once per operation, but a 100 TB
      * deployment also needs the cheap SCHEDULED pass that catches what
      * slips anyway (a lost segment, a double-landed batch, a tombstone
      * for a key that never arrived). One tag-union + group-by over the
      * served keys ∪ the keys `corpus` should produce (`expectedKeys` —
      * the skew-immune recon_referential shape, single shuffle, scalar
      * out) yields duplicate-key / parity counts; the delete channel
      * and the segment listing are delta-sized side reads. Emitted
      * invariants, one (store, invariant, value) row each:
      *   - `served_rows`, `dup_keys`     — duplicate keys in the reader
      *     view (a double-fold or replayed-past-the-watermark landing;
      *     must be 0 on a healthy store);
      *   - `missing_from_index` / `foreign_in_index` — index-vs-corpus
      *     key parity (missing = expected keys the view lacks, e.g.
      *     legitimate deletes; foreign = served keys the corpus lacks);
      *   - `orphan_tombstones`           — current-channel tombstones
      *     matching no standing row (a delete waiting for its insert, or
      *     one that will never come);
      *   - `append_segments`, `stale_segments`, `watermark` — segment
      *     listing vs manifest consistency (a committed segment at or
      *     below the folded watermark should not exist: the fold retired
      *     it, so its presence means a torn retire or a foreign writer).
      *
      * `lww = true` audits the [[loadLww]] view instead. The same
      * invariants apply at the VIEW level — dup_keys must still be 0
      * (raw segment rows legitimately duplicate a superseded key, but
      * the winner selection serves one row per key unless a writer
      * violated the one-row-per-key-per-batch contract, which is
      * exactly what this detects — see [[loadLww]]'s
      * operating bounds), and a tombstone superseded by a later insert
      * is NOT an orphan (the anti-join's standing side already carries
      * the later insert's segment row). One invariant is added:
      * `superseded_rows` = raw base+segment rows minus served rows — the
      * compaction debt [[upsertCompact]] clears, and the growth
      * observable that sizes a deployment's compaction cadence
      * (bench/lww_cadence.json).
      */
    def audit(spark: SparkSession, dir: String, store: String,
        corpus: DataFrame, lww: Boolean = false): DataFrame = {
      import spark.implicits._
      val served = if (lww) loadLww(spark, dir) else load(spark, dir)
      val lay = resolve(spark, dir)
      val fs = fileSystem(spark, dir)
      val apPath = new Path(s"$dir/${lay.appends}")
      val segIds = segmentIds(fs, apPath)
      val expected = expectedKeys(corpus)
      val keys = expected.columns.toSeq.map(col)
      // ONE pass over served keys ∪ expected keys: per-key (index rows,
      // corpus rows) → the dup/parity scalars
      val tagged = served.select(keys :+ lit(1L).as("ni") :+ lit(0L).as("nc"): _*)
        .unionByName(expected.select(keys :+ lit(0L).as("ni") :+ lit(1L).as("nc"): _*))
      def standingKeys: DataFrame = {
        val b = spark.read.parquet(s"$dir/${lay.base}").select(keyCols.map(col): _*)
        if (fs.exists(apPath))
          b.unionByName(spark.read.parquet(apPath.toString).select(keyCols.map(col): _*))
        else b
      }
      // the three audit legs (tag-union scalars / orphan anti-join / raw
      // row counts) are independent blocking actions — overlap them
      // (guide §2.6)
      val (scalars, (orphans, rawRows)) = graft.functions.Par.inParallel(
        tagged.groupBy(keys: _*)
          .agg(sum(col("ni")).as("ni"), sum(col("nc")).as("nc"))
          .agg(
            sum(col("ni")).as("served_rows"),
            sum(when(col("ni") > 1, 1L).otherwise(0L)).as("dup_keys"),
            sum(when(col("ni") === 0 && col("nc") > 0, 1L).otherwise(0L))
              .as("missing_from_index"),
            sum(when(col("ni") > 0 && col("nc") === 0, 1L).otherwise(0L))
              .as("foreign_in_index"))
          .head(),
        graft.functions.Par.inParallel(
          deletes(spark, dir)
            .map(_.select(keyCols.map(col): _*).distinct()
              .join(standingKeys, keyCols, "left_anti").count())
            .getOrElse(0L),
          if (!lww) 0L
          else {
            val baseRows = spark.read.parquet(s"$dir/${lay.base}").count()
            val segRows =
              if (fs.exists(apPath)) spark.read.parquet(apPath.toString).count()
              else 0L
            baseRows + segRows
          }))
      val extra =
        if (!lww) Seq.empty[(String, Long)]
        else Seq(("superseded_rows", rawRows - scalars.getAs[Long]("served_rows")))
      (Seq(
        ("append_segments", segIds.size.toLong),
        ("dup_keys", scalars.getAs[Long]("dup_keys")),
        ("foreign_in_index", scalars.getAs[Long]("foreign_in_index")),
        ("missing_from_index", scalars.getAs[Long]("missing_from_index")),
        ("orphan_tombstones", orphans),
        ("served_rows", scalars.getAs[Long]("served_rows")),
        ("stale_segments", segIds.count(_ <= lay.folded).toLong),
        ("watermark", lay.folded)) ++ extra)
        .toDF("invariant", "value")
        .select(lit(store).as("store"), col("invariant"), col("value"))
    }
  }

  /** The batch ids of the committed segments under one channel root. */
  private def segmentIds(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .flatMap(_.stripPrefix("batch_id=").toLongOption)

  /** The resolved CURRENT view: base + appends dir names, generation
    * number, and the folded-batchId watermark (−1 before any
    * compaction).
    */
  case class Layout(base: String, appends: String, gen: Int, folded: Long)

  private def fileSystem(spark: SparkSession, dir: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
}
