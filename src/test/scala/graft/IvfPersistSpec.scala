package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnSuite
import graft.sources.{Scratch, Tables}

/** IVF index disk round-trip: build once, parquet-persist, reload in a
  * FRESH session, serve queries from the loaded index — the
  * build-once-serve-many shape a 100 TB deployment needs (the index
  * build scans the corpus; query batches must not). `newSession()`
  * gives an isolated SQLConf/catalog/temp-view state over the shared
  * test SparkContext — the cross-session boundary that matters here,
  * since the reload goes through parquet, not through any in-session
  * object.
  */
class IvfPersistSpec extends SparkSpecBase {

  test("persisted index serves ivfQuery identically to the built one") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 5)
    val built = AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK)
    val fromBuilt = AnnSuite.ivfQuery(built, queries, "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect()
    assert(fromBuilt.nonEmpty)

    val dir = Scratch.dir("ivf_persist_spec")
    AnnSuite.ivfSave(built, dir)

    val fresh = spark.newSession()
    val loaded = AnnSuite.ivfLoad(fresh, dir)
    // the loaded assignments must round-trip losslessly (schema + rows)
    assert(loaded.assigned.columns.toSeq === built.assigned.columns.toSeq)
    assert(loaded.assigned.schema("cell").dataType ===
      built.assigned.schema("cell").dataType)
    assert(loaded.assigned.count() === built.assigned.count())
    val fromLoaded = AnnSuite.ivfQuery(loaded,
      Tables.embeddings(fresh, sf).filter(col("vec_id") < 5),
      "vec_id", "embedding", AnnSuite.IvfNProbe, 3).collect()
    assert(fromLoaded.map(_.toString).toSeq === fromBuilt.map(_.toString).toSeq)
  }

  test("ivfAppend assigns only the batch and never rescans the standing index") {
    val e = Tables.embeddings(spark, sf)
    val base = e.filter(col("vec_id") % 7 =!= 3)
    val batch = e.filter(col("vec_id") % 7 === 3)
    val dir = Scratch.dir("ivf_append_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(base, "vec_id", "embedding", AnnSuite.IvfK), dir)
    val baseRows = spark.read.parquet(s"$dir/assigned.parquet").count()

    // cost ∝ batch: the append plan reads the batch leg and the (tiny)
    // centroids table — two parquet scans — and must NOT touch the
    // standing cell-partitioned assignments
    val assignPlan = AnnSuite.ivfAssignBatch(spark, dir, batch, "vec_id", "embedding")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!assignPlan.contains("assigned.parquet"),
      s"append plan rescans the standing assignments:\n$assignPlan")
    val scans = assignPlan.linesIterator.count(
      _.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 2,
      s"append plan should scan batch + centroids only, got $scans scans:\n$assignPlan")

    AnnSuite.ivfAppend(spark, dir, batch, "vec_id", "embedding", batchId = 0L)
    val loaded = AnnSuite.ivfLoad(spark, dir)
    assert(loaded.assigned.count() === baseRows + batch.count())
    // the appended index equals a full assignment of the unioned corpus
    // at the same fixed centroids — the invariant the oracle leans on
    val truth = AnnSuite.ivfAssignBatch(spark, dir, e, "vec_id", "embedding")
      .select("cand_id", "cell", "ce2").collect().map(_.toString).sorted.toSeq
    val got = loaded.assigned
      .select("cand_id", "cell", "ce2").collect().map(_.toString).sorted.toSeq
    assert(got === truth)
  }

  test("stream_ivf_append: N micro-batch folds equal the batch twin, cost per fold ∝ batch") {
    // the streaming twin folds the held-out rows in as 4 one-file
    // micro-batches (foreachBatch → ivfAppend); assign-at-fixed-
    // centroids algebra says the result must equal ann_ivf_append's
    // one bulk append — row-for-row, rank-for-rank
    val streamed = graft.streaming.CdcStream.queries("stream_ivf_append")(spark, sf)
      .collect().map(_.toString).toSeq
    val batch = AnnSuite.queries("ann_ivf_append")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
    // per-fold cost ∝ batch: every arriving row was consumed through
    // exactly the 4 metered micro-batches (one feed file each), never
    // one bulk pass — and each fold ran the ivfAssignBatch plan whose
    // never-rescans-the-standing-index shape the test above pins
    val prog = graft.streaming.CdcStream.progressLog("stream_ivf_append")
    val dataBatches = prog.filter(_._1 > 0)
    assert(dataBatches.length == 4,
      s"expected 4 one-file micro-batch folds, got ${dataBatches.length}")
    val heldOut = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 7 === 3).count()
    assert(dataBatches.map(_._1).sum === heldOut)
  }

  test("torn-batch replay: a landed-but-uncommitted append is rewritten, never duplicated") {
    // The crash window foreachBatch sinks must survive: the micro-batch's
    // parquet landing succeeds, then the process dies BEFORE the offset
    // commit. Restarting from the checkpoint re-drives that batchId with
    // the same data; because ivfAppend OVERWRITES the batch's own
    // segment (appends.parquet/batch_id=N), the replay rewrites the torn
    // segment instead of appending a second copy of its rows.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val e = Tables.embeddings(spark, sf)
    val held = e.filter(col("vec_id") % 7 === 3).select("vec_id", "embedding")
    val dir = Scratch.dir("ivf_torn_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val feed = Scratch.dir("ivf_torn_feed")
    held.repartition(4).write.mode("overwrite").parquet(feed)
    val cp = Scratch.dir("ivf_torn_cp")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)

    def run(injectCrash: Boolean): Unit = {
      val q = spark.readStream.schema(held.schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          graft.api.Graft.ivfAppend(spark, dir, df, "vec_id", "embedding", batchId)
          // die AFTER the landing, BEFORE the checkpoint's offset commit
          if (injectCrash && batchId == 2 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected torn-batch crash")
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch {
        case ex: org.apache.spark.sql.streaming.StreamingQueryException
            if injectCrash && ex.getMessage.contains("injected torn-batch crash") => ()
      }
    }

    run(injectCrash = true)
    assert(crashed.get, "the injected crash never fired — batch 2 was not reached")
    run(injectCrash = false) // restart: the checkpoint replays batch 2

    val loaded = AnnSuite.ivfLoad(spark, dir)
    val dupIds = loaded.assigned.groupBy("cand_id")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dupIds === 0, s"replay duplicated $dupIds cand_ids in the index")
    assert(loaded.assigned.count() === e.count())
    // the served top-k equals the batch twin's (same corpus, same fixed
    // centroids — a duplicate would occupy two rank slots and diverge)
    val served = AnnSuite.ivfQuery(loaded, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    val batchTwin = AnnSuite.queries("ann_ivf_append")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(served === batchTwin)
  }

  test("ivfCompact folds segments into one base generation, serves identically, and shrinks the listing") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_compact_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    AnnSuite.ivfAppend(spark, dir,
      e.filter(col("vec_id") % 7 === 3 && col("vec_id") % 2 === 0),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.ivfAppend(spark, dir,
      e.filter(col("vec_id") % 7 === 3 && col("vec_id") % 2 === 1),
      "vec_id", "embedding", batchId = 1L)
    def served() = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    def dataDirs() = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filterNot(_ == "centroids.parquet").sorted.toSeq
    }
    val before = served()
    val rows = AnnSuite.ivfLoad(spark, dir).assigned.count()
    assert(before.nonEmpty && rows === e.count())

    assert(AnnSuite.IvfStore.compact(spark, dir), "compaction had segments to fold")
    // generation 1 committed; generation 0 is RETAINED for in-flight
    // readers (it retires only when generation 2 commits)
    assert(dataDirs() === Seq("MANIFEST-1", "appends.parquet",
      "assigned.parquet", "assigned_v1.parquet"))
    assert(AnnSuite.ivfLoad(spark, dir).assigned.count() === rows)
    assert(served() === before, "compaction changed the served top-k")
    // nothing left to fold → no-op (and the generation is stable)
    assert(!AnnSuite.IvfStore.compact(spark, dir))
    assert(dataDirs() === Seq("MANIFEST-1", "appends.parquet",
      "assigned.parquet", "assigned_v1.parquet"))

    // replays of folded batches are no-ops: segments 0 and 1 folded
    // into generation 1, so the manifest watermark refuses ids <= 1
    // (a checkpoint replay arriving after the fold must not land rows
    // that already live in the compacted base)
    assert(!AnnSuite.ivfAppend(spark, dir,
      e.filter(col("vec_id") === 7L).withColumn("vec_id", col("vec_id") + 5000000L),
      "vec_id", "embedding", batchId = 1L))
    assert(AnnSuite.ivfLoad(spark, dir).assigned.count() === rows)

    // appends after compaction (fresh ids above the watermark) land in
    // the NEW generation's segment root and are served
    assert(AnnSuite.ivfAppend(spark, dir,
      e.filter(col("vec_id") === 7L).withColumn("vec_id", col("vec_id") + 5000000L),
      "vec_id", "embedding", batchId = 2L))
    assert(dataDirs().contains("appends_v1.parquet"))
    assert(AnnSuite.ivfLoad(spark, dir).assigned
      .filter(col("cand_id") === 5000007L).count() === 1L)
    // a second compaction folds generation 1 → 2 AND retires the
    // retained generation 0
    assert(AnnSuite.IvfStore.compact(spark, dir))
    assert(dataDirs() === Seq("MANIFEST-1", "MANIFEST-2",
      "appends_v1.parquet", "assigned_v1.parquet", "assigned_v2.parquet"))
    assert(AnnSuite.ivfLoad(spark, dir).assigned.count() === rows + 1)
  }

  test("a reader that resolved the pre-compaction layout still collects after the commit") {
    // reader-vs-compactor isolation: generation retention means the
    // frame a reader planned against generation 0 keeps its files on
    // disk through ONE compaction (gen 0 retires only at gen 2's
    // commit), so a lazy scan started before the fold cannot lose
    // files mid-query
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_reader_isolation")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    // plan (but do not execute) a read of the CURRENT generation
    val inFlight = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3)
    assert(AnnSuite.IvfStore.compact(spark, dir))
    // the pre-compaction plan still executes — and serves the same
    // rows the post-compaction view does (the fold changed layout,
    // never content)
    val fromOld = inFlight.collect().map(_.toString).toSeq
    val fromNew = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    assert(fromOld.nonEmpty && fromOld === fromNew)
  }

  test("retain sizes the reader grace window: retain=2 keeps two previous generations") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_retain_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    def names() = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).toSet
    }
    AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    assert(AnnSuite.IvfStore.compact(spark, dir, retain = 2)) // gen 1
    AnnSuite.ivfAppend(spark, dir,
      e.filter(col("vec_id") === 7L).withColumn("vec_id", col("vec_id") + 6000000L),
      "vec_id", "embedding", batchId = 1L)
    assert(AnnSuite.IvfStore.compact(spark, dir, retain = 2)) // gen 2
    // retain=2 at gen 2's commit keeps generations 0 AND 1 on disk
    assert(names().contains("assigned.parquet"))
    assert(names().contains("assigned_v1.parquet"))
    AnnSuite.ivfAppend(spark, dir,
      e.filter(col("vec_id") === 8L).withColumn("vec_id", col("vec_id") + 6000000L),
      "vec_id", "embedding", batchId = 2L)
    // shrinking retain back to 1 heals the extra retained generations
    assert(AnnSuite.IvfStore.compact(spark, dir)) // gen 3, retain = 1
    assert(!names().contains("assigned.parquet"))
    assert(!names().contains("assigned_v1.parquet"))
    assert(names().contains("assigned_v2.parquet"))
    assert(AnnSuite.ivfLoad(spark, dir).assigned.count() === e.count() + 2)
  }

  test("a torn-batch replay arriving AFTER a compaction folded its segment is a no-op") {
    // the replay-interleaving crash window: batch N lands, the offset
    // commit dies, a maintenance compaction folds batch N into the
    // base, THEN the stream restarts and re-drives batch N. Without
    // the manifest watermark the replay would land N's rows a second
    // time beside the folded copy.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val e = Tables.embeddings(spark, sf)
    val held = e.filter(col("vec_id") % 7 === 3).select("vec_id", "embedding")
    val dir = Scratch.dir("ivf_replay_after_compact")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val feed = Scratch.dir("ivf_rac_feed")
    held.repartition(4).write.mode("overwrite").parquet(feed)
    val cp = Scratch.dir("ivf_rac_cp")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(injectCrash: Boolean): Unit = {
      val q = spark.readStream.schema(held.schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          graft.api.Graft.ivfAppend(spark, dir, df, "vec_id", "embedding", batchId)
          // die AFTER the landing, BEFORE the checkpoint's offset commit
          if (injectCrash && batchId == 2 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected torn-batch crash")
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch {
        case ex: org.apache.spark.sql.streaming.StreamingQueryException
            if injectCrash && ex.getMessage.contains("injected torn-batch crash") => ()
      }
    }
    run(injectCrash = true)
    assert(crashed.get, "the injected crash never fired — batch 2 was not reached")
    // maintenance compaction folds the landed-but-uncommitted batch 2
    assert(AnnSuite.IvfStore.compact(spark, dir))
    run(injectCrash = false) // restart: the checkpoint replays batch 2
    val loaded = AnnSuite.ivfLoad(spark, dir)
    assert(loaded.assigned.groupBy("cand_id")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count() === 0L,
      "the post-compaction replay duplicated folded rows")
    assert(loaded.assigned.count() === e.count())
    val served = AnnSuite.ivfQuery(loaded, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    val batchTwin = AnnSuite.queries("ann_ivf_append")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(served === batchTwin)
  }

  test("a torn compaction is invisible until the manifest commits; a redo completes it exactly-once") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_compact_torn")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    def served() = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    val before = served()
    // die after landing the folded base but BEFORE the manifest commit:
    // readers must still see the OLD generation, bit-identically
    assert(!AnnSuite.IvfStore.compact(spark, dir, crashBeforeCommit = true))
    assert(AnnSuite.IvfStore.resolve(spark, dir).gen === 0,
      "a torn compaction must not advance the generation")
    assert(AnnSuite.ivfLoad(spark, dir).assigned.count() === e.count())
    assert(served() === before, "torn compaction leaked into the served view")
    // the redo overwrites the torn landing and completes the fold —
    // every row exactly once, served set unchanged
    assert(AnnSuite.IvfStore.compact(spark, dir))
    val loaded = AnnSuite.ivfLoad(spark, dir)
    assert(loaded.assigned.groupBy("cand_id")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count() === 0L)
    assert(loaded.assigned.count() === e.count())
    assert(served() === before)
  }

  test("tombstones mask immediately; compaction purges them physically and clears the channel") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_delete_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), dir)
    val doomed = e.filter(col("vec_id") % 11 === 5).select("vec_id")
    val nDoomed = doomed.count()
    assert(nDoomed > 0)
    assert(AnnSuite.IvfStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))

    // masked at once: the loaded view anti-joins the tombstones
    def deletedVisible() = AnnSuite.ivfLoad(spark, dir).assigned
      .filter(col("cand_id") % 11 === 5).count()
    assert(deletedVisible() === 0L)
    assert(AnnSuite.ivfLoad(spark, dir).assigned.count() === e.count() - nDoomed)
    def served() = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    val masked = served()
    assert(masked.nonEmpty)

    // purge: compaction folds the tombstone-filtered view into a new
    // base generation — the deleted rows are PHYSICALLY absent from the
    // new base files and the delete channel is cleared
    assert(AnnSuite.IvfStore.compact(spark, dir), "a deletes-only compaction must fold")
    val lay = AnnSuite.IvfStore.resolve(spark, dir)
    assert(lay.gen === 1)
    assert(spark.read.parquet(s"$dir/${lay.base}")
      .filter(col("cand_id") % 11 === 5).count() === 0L,
      "purged rows still present in the compacted base files")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes_v1.parquet")),
      "the new generation must start with an empty delete channel")
    assert(served() === masked, "the purge changed the served top-k")

    // a replay of the folded delete batch is refused by the watermark
    assert(!AnnSuite.IvfStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))
  }

  test("an append replay cannot resurrect rows a folded delete removed") {
    // the resurrection crash window: insert batch 0 lands, delete
    // batch 1 tombstones some of its rows, a compaction folds BOTH,
    // then a checkpoint replay re-drives batch 0. The shared watermark
    // refuses it — without that, the replayed segment would re-land
    // rows whose tombstones the compaction already consumed.
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_resurrect_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val batch = e.filter(col("vec_id") % 7 === 3).select("vec_id", "embedding")
    assert(AnnSuite.ivfAppend(spark, dir, batch, "vec_id", "embedding", batchId = 0L))
    val doomed = batch.filter(col("vec_id") % 3 === 0).select("vec_id")
    val nDoomed = doomed.count()
    assert(nDoomed > 0)
    assert(AnnSuite.IvfStore.delete(spark, dir, doomed, "vec_id", batchId = 1L))
    assert(AnnSuite.IvfStore.compact(spark, dir))
    val after = AnnSuite.ivfLoad(spark, dir).assigned.count()
    assert(after === e.count() - nDoomed)
    // the replay: batchId 0 <= folded watermark 1 → lands NOTHING
    assert(!AnnSuite.ivfAppend(spark, dir, batch, "vec_id", "embedding", batchId = 0L))
    assert(AnnSuite.ivfLoad(spark, dir).assigned.count() === after)
    assert(AnnSuite.ivfLoad(spark, dir).assigned
      .filter(col("cand_id") % 7 === 3 && col("cand_id") % 3 === 0).count() === 0L,
      "the append replay resurrected deleted rows")
  }

  test("delete-wins is order-independent: a tombstone landed before its row still masks it") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_delete_order_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val batch = e.filter(col("vec_id") % 7 === 3).select("vec_id", "embedding")
    val doomed = batch.filter(col("vec_id") % 3 === 0).select("vec_id")
    // the delete arrives in an EARLIER batch than the insert (a CDC
    // stream slicing one changefeed into micro-batches can do this for
    // independent keys); the anti-join masks regardless of landing order
    assert(AnnSuite.IvfStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))
    assert(AnnSuite.ivfAppend(spark, dir, batch, "vec_id", "embedding", batchId = 1L))
    val loaded = AnnSuite.ivfLoad(spark, dir).assigned
    assert(loaded.filter(col("cand_id") % 7 === 3 && col("cand_id") % 3 === 0)
      .count() === 0L)
    assert(loaded.count() === e.count() - e.filter(
      col("vec_id") % 7 === 3 && col("vec_id") % 3 === 0).count())
  }

  test("stream_ivf_cdc equals its bulk batch formulation (inserts appended, deletes tombstoned)") {
    val e = Tables.embeddings(spark, sf)
    val streamed = graft.streaming.CdcStream.queries("stream_ivf_cdc")(spark, sf)
      .collect().map(_.toString).toSeq
    // the bulk twin: one append of all streamed inserts, one tombstone
    // batch of all streamed deletes, same base build
    val dir = Scratch.dir("ivf_cdc_bulk_twin")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.IvfStore.delete(spark, dir,
      e.filter(col("vec_id") % 13 === 2).select("vec_id"), "vec_id", batchId = 1L)
    val bulk = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === bulk)
  }

  test("stream_ivf_cdc survives a torn-batch kill/restart with BOTH channels in flight") {
    // the CDC stream's crash story end-to-end: a micro-batch lands its
    // append segment AND its tombstone segment, then dies before the
    // offset commit; the restart replays the batch — appends overwrite
    // their own segment, tombstones overwrite theirs, and the served
    // state equals the uninterrupted bulk twin
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_cdc_torn_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val ins = e.filter(col("vec_id") % 7 === 3)
      .select(lit("c").as("op"), col("vec_id"), col("embedding"))
    val dels = e.filter(col("vec_id") % 13 === 2)
      .select(lit("d").as("op"), col("vec_id"),
        lit(null).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).as("embedding"))
    val feed = Scratch.dir("ivf_cdc_torn_feed")
    ins.unionByName(dels).repartition(4).write.mode("overwrite").parquet(feed)
    val cp = Scratch.dir("ivf_cdc_torn_cp")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(injectCrash: Boolean): Unit = {
      val q = spark.readStream.schema(ins.schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val up = df.filter(col("op").isin("c", "u")).select("vec_id", "embedding")
          val del = df.filter(col("op") === "d").select("vec_id")
          if (!up.isEmpty)
            graft.api.Graft.ivfAppend(spark, dir, up, "vec_id", "embedding", batchId)
          if (!del.isEmpty)
            graft.api.Graft.ivfDelete(spark, dir, del, "vec_id", batchId)
          // die AFTER both landings, BEFORE the offset commit
          if (injectCrash && batchId == 2 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected torn-batch crash")
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch {
        case ex: org.apache.spark.sql.streaming.StreamingQueryException
            if injectCrash && ex.getMessage.contains("injected torn-batch crash") => ()
      }
    }
    run(injectCrash = true)
    assert(crashed.get, "the injected crash never fired — batch 2 was not reached")
    run(injectCrash = false)
    val loaded = AnnSuite.ivfLoad(spark, dir).assigned
    assert(loaded.groupBy("cand_id")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count() === 0L,
      "the replay duplicated index rows")
    assert(loaded.filter(col("cand_id") % 13 === 2).count() === 0L,
      "a deleted id survived the replayed stream")
    assert(loaded.count() ===
      e.count() - e.filter(col("vec_id") % 13 === 2).count())
    val served = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    val bulkTwin = graft.streaming.CdcStream.queries("stream_ivf_cdc")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(served === bulkTwin)
  }

  test("carried attributes survive save/load/append/compact; the filter pushes to the scan") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_carry_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK, carry = Seq("label")), dir)
    assert(AnnSuite.IvfStore.carryOf(spark, dir) === Seq("label"))
    // appends to a carried index carry the same attribute columns
    assert(AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L, carry = Seq("label")))
    // compaction preserves the carried column (it derives the carry
    // list from the base schema, not from the caller)
    assert(AnnSuite.IvfStore.compact(spark, dir))
    val loaded = AnnSuite.ivfLoad(spark, dir, carry = Seq("label"))
    assert(loaded.assigned.columns.toSeq ===
      Seq("cand_id", "cell", "ce2", "label"))
    assert(loaded.assigned.count() === e.count())
    // the attribute predicate reaches the parquet scan as a pushed
    // filter — filtered ANN reads less, never joins the corpus back in
    val p = loaded.assigned.filter(col("label") === 3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = p.linesIterator.filter(_.trim.startsWith("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("label"),
      s"label predicate was not pushed to the index scan:\n$p")
    // and the filtered serve returns only matching candidates
    val got = AnnSuite.ivfQuery(
      graft.operators.AnnSuite.IvfIndex(
        loaded.assigned.filter(col("label") === 3), loaded.centroids),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3)
    val matches = e.select(col("vec_id").as("cand_id"), col("label"))
    assert(got.join(matches, Seq("cand_id"))
      .filter(col("label") =!= 3).count() === 0L)
  }

  test("ivfRetrain swaps in a re-clustered generation; torn retrains are invisible; appends use the new centroids") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_retrain_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    def served() = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    val stale = served()

    // torn retrain: the new base and centroids land but no manifest —
    // readers still serve the OLD pair, bit-identically
    assert(!AnnSuite.ivfRetrain(spark, dir, AnnSuite.IvfK, crashBeforeCommit = true))
    assert(AnnSuite.IvfStore.resolve(spark, dir).gen === 0)
    assert(AnnSuite.IvfStore.sidecarPath(spark, dir, "centroids").endsWith("centroids.parquet"),
      "a torn retrain's centroids leaked into the serving path")
    assert(served() === stale)

    // the redo commits: the swapped index equals a fresh full-corpus
    // build (build-on-the-view determinism — the oracle's claim,
    // asserted engine-side here)
    assert(AnnSuite.ivfRetrain(spark, dir, AnnSuite.IvfK))
    assert(AnnSuite.IvfStore.resolve(spark, dir).gen === 1)
    assert(AnnSuite.IvfStore.sidecarPath(spark, dir, "centroids").endsWith("centroids_v1.parquet"))
    val fresh = AnnSuite.ivfQuery(
      AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    assert(served() === fresh)

    // the retrain folded batch 0 → its replay is refused; a FRESH
    // append lands and assigns at the NEW centroids
    assert(!AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L))
    val novel = e.filter(col("vec_id") === 7L)
      .withColumn("vec_id", col("vec_id") + 7000000L)
    assert(AnnSuite.ivfAppend(spark, dir, novel, "vec_id", "embedding", batchId = 1L))
    val expectCell = AnnSuite.kmeansAssign(
        novel.select(col("vec_id"), col("embedding")),
        spark.read.parquet(s"$dir/centroids_v1.parquet"))
      .select("cid").head().getLong(0)
    assert(AnnSuite.ivfLoad(spark, dir).assigned
      .filter(col("cand_id") === 7000007L).select("cell").head().getLong(0)
      === expectCell)
  }

  test("ivfRetrain purges tombstones and an in-flight reader survives the swap") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_retrain_purge_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), dir)
    val doomed = e.filter(col("vec_id") % 11 === 5).select("vec_id")
    assert(AnnSuite.IvfStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))
    // plan a read against generation 0, and capture what it should
    // return (a retrain MOVES centroids, so the old and new
    // generations may legitimately rank differently — the isolation
    // claim is that the old plan returns the OLD answer, not that the
    // two generations agree)
    val inFlight = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3)
    val expected = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, dir),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    assert(AnnSuite.ivfRetrain(spark, dir, AnnSuite.IvfK))
    // the retrain trained on the tombstone-filtered view: deleted rows
    // are physically absent from the new base and the channel is clear
    val lay = AnnSuite.IvfStore.resolve(spark, dir)
    assert(lay.gen === 1)
    assert(spark.read.parquet(s"$dir/${lay.base}")
      .filter(col("cand_id") % 11 === 5).count() === 0L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes_v1.parquet")))
    // generation retention kept gen 0 whole — the pre-swap plan still
    // collects, and returns exactly the pre-swap answer
    val fromOld = inFlight.collect().map(_.toString).toSeq
    assert(fromOld.nonEmpty && fromOld === expected)
  }

  test("cell-partitioned layout prunes unprobed cells at the scan") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_persist_prune")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), dir)
    val loaded = AnnSuite.ivfLoad(spark, dir)
    // a single-cell probe must prune at the DIRECTORY level: the cell
    // predicate becomes a PartitionFilter on the scan (same
    // string-level surface PlanShapeSpec locks), so a probe reads
    // ~nprobe/k of the index files instead of filtering the full corpus
    val oneCell = loaded.assigned
      .filter(col("cell") === loaded.centroids.select(min("cid")).head.getLong(0))
    val p = oneCell.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val partLine = p.linesIterator.filter(_.trim.startsWith("PartitionFilters"))
      .mkString("\n")
    assert(partLine.contains("cell"),
      s"cell predicate did not become a partition filter:\n$p")
  }

  test("a tombstone that precedes its insert is carried across compaction and still kills the row") {
    // the CDC delete-before-row ordering ACROSS a fold: the tombstone
    // lands, a compaction runs (consuming it with no effect), and the
    // insert arrives afterwards with a batchId above the watermark.
    // Without the carry-forward the fold would purge the tombstone and
    // the append would resurrect a key the deployment already deleted.
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_carry_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val doomed = e.filter(col("vec_id") % 7 === 3 && col("vec_id") % 2 === 0)
      .select("vec_id")
    assert(doomed.count() > 0)
    assert(AnnSuite.IvfStore.delete(spark, dir, doomed, "vec_id", batchId = 0L))
    // deletes-only compaction between the tombstone and its insert
    assert(AnnSuite.IvfStore.compact(spark, dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes_v1.parquet")),
      "unmatched tombstones must be carried into the new generation's channel")
    // the insert finally arrives, above the fold's watermark
    assert(AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 1L))
    val loaded = AnnSuite.ivfLoad(spark, dir).assigned
    assert(loaded.filter(col("cand_id") % 7 === 3 && col("cand_id") % 2 === 0)
      .count() === 0L,
      "a compaction between a tombstone and its insert resurrected the key")
    assert(loaded.filter(col("cand_id") % 7 === 3).count() ===
      e.filter(col("vec_id") % 7 === 3 && col("vec_id") % 2 =!= 0).count())
    // the next compaction sees the carried tombstones matched by the
    // appended rows: they purge with the channel, nothing re-carries
    assert(AnnSuite.IvfStore.compact(spark, dir))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes_v2.parquet")),
      "matched tombstones must purge at the fold, not carry forever")
    val lay2 = AnnSuite.IvfStore.resolve(spark, dir)
    assert(lay2.gen === 2)
    assert(spark.read.parquet(s"$dir/${lay2.base}")
      .filter(col("cand_id") % 7 === 3 && col("cand_id") % 2 === 0)
      .count() === 0L)
  }

  test("a torn retrain's orphaned sidecars never leak through a later plain compaction") {
    // crash window: ivfRetrain lands centroids_v1 then dies before the
    // manifest. A later ORDINARY compaction commits MANIFEST-1 — the
    // orphan must be scrubbed first, or generation 1 would serve the
    // retrained centroids against a base folded at the OLD geometry.
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_torn_retrain_orphan")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    assert(!AnnSuite.ivfRetrain(spark, dir, k = 3, crashBeforeCommit = true))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/centroids_v1.parquet")),
      "fixture: the torn retrain should have landed an orphan sidecar")
    // ordinary maintenance proceeds: one append, one plain compaction
    assert(AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L))
    assert(AnnSuite.IvfStore.compact(spark, dir))
    assert(AnnSuite.IvfStore.resolve(spark, dir).gen === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/centroids_v1.parquet")),
      "the torn retrain's sidecar became visible as generation-1 state")
    assert(AnnSuite.IvfStore.sidecarPath(spark, dir, "centroids") === s"$dir/centroids.parquet",
      "generation 1 must keep serving the build's centroids")
    // and the serving pair is consistent: the compacted store answers
    // exactly like a build-then-append store that never saw the crash
    val twin = Scratch.dir("ivf_torn_retrain_twin")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), twin)
    assert(AnnSuite.ivfAppend(spark, twin, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L))
    def served(d: String) = AnnSuite.ivfQuery(AnnSuite.ivfLoad(spark, d),
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      AnnSuite.IvfNProbe, 3).collect().map(_.toString).toSeq
    assert(served(dir) === served(twin))
  }

  test("ivfRetrain defaults to the persisted geometry, not a numeric constant") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_retrain_geom")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e, "vec_id", "embedding", k = 7), dir)
    assert(graft.api.Graft.ivfRetrain(spark, dir)) // no k passed
    val cents = spark.read
      .parquet(AnnSuite.IvfStore.sidecarPath(spark, dir, "centroids")).count()
    assert(cents === 7L,
      s"default-argument retrain re-clustered at the wrong geometry ($cents cells)")
  }

  test("LWW view: interleaved c/u/d with replay serves one row per id, last op wins") {
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("ivf_lww_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val xId = 1L // in the base (1 % 7 != 3)
    val yId = 2L // in the base; deleted then re-inserted
    val zId = 4L // in the base; insert/delete TIE at one batchId
    def rowOf(id: Long, mutate: Boolean) = {
      val r = e.filter(col("vec_id") === id).select("vec_id", "embedding")
      if (mutate) r.withColumn("embedding", reverse(col("embedding"))) else r
    }
    // batch 0: u of X (reversed); batch 1: d of Y; batch 2: re-insert Y
    // (reversed) AFTER its delete; batch 3: a SECOND u of X (back to
    // the original vector — the last op must win, not the first)
    assert(AnnSuite.ivfAppend(spark, dir, rowOf(xId, mutate = true),
      "vec_id", "embedding", batchId = 0L))
    assert(AnnSuite.IvfStore.delete(spark, dir,
      rowOf(yId, mutate = false).select("vec_id"), "vec_id", batchId = 1L))
    assert(AnnSuite.ivfAppend(spark, dir, rowOf(yId, mutate = true),
      "vec_id", "embedding", batchId = 2L))
    assert(AnnSuite.ivfAppend(spark, dir, rowOf(xId, mutate = false),
      "vec_id", "embedding", batchId = 3L))
    // torn-batch replay of batch 2: idempotent per-segment overwrite
    assert(AnnSuite.ivfAppend(spark, dir, rowOf(yId, mutate = true),
      "vec_id", "embedding", batchId = 2L))
    // tie at batch 4: insert and tombstone of Z share the batchId —
    // the tombstone wins (the terminal stores' delete-wins tie rule)
    assert(AnnSuite.ivfAppend(spark, dir, rowOf(zId, mutate = true),
      "vec_id", "embedding", batchId = 4L))
    assert(AnnSuite.IvfStore.delete(spark, dir,
      rowOf(zId, mutate = false).select("vec_id"), "vec_id", batchId = 4L))

    def check(assigned: org.apache.spark.sql.DataFrame): Unit = {
      assert(assigned.groupBy("cand_id").count()
        .filter(col("count") > 1).count() === 0L,
        "the LWW view served a duplicated cand_id")
      val origX = e.filter(col("vec_id") === xId)
        .select(col("embedding")).head.getSeq[Float](0)
      assert(assigned.filter(col("cand_id") === xId)
        .select("ce2").head.getSeq[Float](0) === origX,
        "the LAST update of X did not win")
      val revY = e.filter(col("vec_id") === yId)
        .select(reverse(col("embedding"))).head.getSeq[Float](0)
      assert(assigned.filter(col("cand_id") === yId)
        .select("ce2").head.getSeq[Float](0) === revY,
        "a re-insert after a delete must win under LWW")
      assert(assigned.filter(col("cand_id") === zId).count() === 0L,
        "an insert/tombstone tie must go to the tombstone")
      assert(assigned.count() ===
        e.filter(col("vec_id") % 7 =!= 3).count() - 1) // only Z is gone
    }
    check(AnnSuite.ivfLoadLww(spark, dir).assigned)
    // the upsert compaction folds the LWW view (never the terminal
    // view) and, being LWW, carries NO tombstones forward
    assert(AnnSuite.IvfStore.upsertCompact(spark, dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes_v1.parquet")),
      "an LWW fold must not carry tombstones (a later insert supersedes)")
    check(AnnSuite.ivfLoadLww(spark, dir).assigned)
    // and a post-fold re-insert of Z wins over the folded tombstone
    assert(AnnSuite.ivfAppend(spark, dir, rowOf(zId, mutate = false),
      "vec_id", "embedding", batchId = 5L))
    assert(AnnSuite.ivfLoadLww(spark, dir).assigned
      .filter(col("cand_id") === zId).count() === 1L,
      "a post-compaction insert must supersede the folded tombstone")
  }

  test("a torn recordPurged attempt's commit dir is scrubbed, not committed by a later plain fold") {
    // crash window: a recordPurged compaction lands purged.parquet/
    // commit=1 then dies before the manifest. A later compaction that
    // does NOT pass recordPurged commits MANIFEST-1 — the stale commit
    // dir must be scrubbed in the step-2 window, or keys the torn run
    // never durably purged would surface through [[SegmentStore.Scheme.purged]]
    // and be anti-joined out of every future retrain.
    val sess = spark
    import sess.implicits._
    import graft.sources.SegmentStore
    val dir = Scratch.dir("segstore_torn_purged")
    val scheme = SegmentStore.Scheme(
      "base.parquet", "appends.parquet", "base_v", "appends_v",
      keyCols = Seq("k"), core = Seq("k", "v"))
    val purging = scheme.copy(recordPurged = true)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/base.parquet")
    assert(scheme.append(spark, dir, Seq((3L, "c")).toDF("k", "v"), batchId = 0L))
    assert(scheme.delete(spark, dir, Seq(1L).toDF("k"), "k", batchId = 1L))
    assert(!purging.compact(spark, dir, crashBeforeCommit = true))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/purged.parquet/commit=1")),
      "fixture: the torn attempt should have landed the commit dir")
    // a later compaction WITHOUT recordPurged commits generation 1:
    // the stale commit dir must not become durable purge state
    assert(scheme.compact(spark, dir))
    assert(scheme.resolve(spark, dir).gen === 1)
    assert(scheme.purged(spark, dir).isEmpty,
      "a torn recordPurged attempt leaked through a later plain compaction")
    // and a RE-DRIVEN recordPurged compaction still lands its own
    // purge record durably (the scrub removes only the torn orphan)
    assert(scheme.delete(spark, dir, Seq(2L).toDF("k"), "k", batchId = 2L))
    assert(purging.compact(spark, dir))
    assert(purging.purged(spark, dir).get
      .select("k").as[Long].collect().toSeq === Seq(2L))
  }

  test("stream_ivf_upsert: an update of a live id supersedes; the stream equals its bulk twin") {
    val e = Tables.embeddings(spark, sf)
    val streamed = graft.streaming.CdcStream.queries("stream_ivf_upsert")(spark, sf)
      .collect().map(_.toString).toSeq
    // bulk twin: same base build, ONE append of all c/u rows (updates
    // carried with their mutated vectors), one tombstone batch
    val dir = Scratch.dir("ivf_upsert_bulk_twin")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    val ups = e.filter(col("vec_id") % 7 =!= 3 && col("vec_id") % 5 === 1)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val ins = e.filter(col("vec_id") % 7 === 3).select("vec_id", "embedding")
    AnnSuite.ivfAppend(spark, dir, ups.unionByName(ins),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.IvfStore.delete(spark, dir,
      e.filter(col("vec_id") % 13 === 2 &&
        col("vec_id") % 5 =!= 1 && col("vec_id") % 7 =!= 3).select("vec_id"),
      "vec_id", batchId = 1L)
    val idx = AnnSuite.ivfLoadLww(spark, dir)
    // every updated id serves exactly one row, with the NEW vector
    assert(idx.assigned.groupBy("cand_id").count()
      .filter(col("count") > 1).count() === 0L)
    val bulk = AnnSuite.ivfQuery(idx,
      idx.assigned.filter(col("cand_id") < 5)
        .select(col("cand_id").as("vec_id"), col("ce2").as("embedding")),
      "vec_id", "embedding", AnnSuite.IvfNProbe, 3)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === bulk)
  }
}
