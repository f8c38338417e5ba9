package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnSuite, DedupSuite}
import graft.sources.{Scratch, SegmentStore}

/** One maintenance contract, four living stores: every
  * [[SegmentStore.Scheme]] handle the engine declares runs the same
  * sequence — save a base, append batch 0, compact, replay batch 0
  * (refused at the folded watermark), tombstone a key where the store
  * has a delete channel, load — and must serve exactly base ∪ batch 0 −
  * deleted — and the same retrain commit: a swap publishes a rebuilt
  * base and its sidecar tables as one generation. Rows are hand-made
  * in each store's core shape (the first core column is the id), so
  * the table exercises the handles rather than the index builds
  * behind them.
  */
class StoreConformanceSpec extends SparkSpecBase {

  private val stores: Seq[(String, SegmentStore.Scheme, Seq[Long] => DataFrame)] = {
    val s = spark
    import s.implicits._
    Seq(
      ("ivf", AnnSuite.IvfStore,
        ids => ids.map(i => (i, i % 2, Array(i.toFloat))).toDF("cand_id", "cell", "ce2")),
      ("codes", AnnSuite.CodesStore,
        ids => ids.map(i => (i, Array(i.toInt), i % 2)).toDF("cand_id", "codes", "cell")),
      ("bands", DedupSuite.BandStore,
        ids => ids.map(i => (i, (i % 4).toInt, i * 7)).toDF("doc_id", "band", "bucket")),
      ("hashes", DedupSuite.HashStore,
        ids => ids.toDF("h")))
  }

  for ((name, store, rows) <- stores)
    test(s"$name store: save, append, compact, refused replay, delete, load") {
      val dir = Scratch.dir(s"conformance_$name")
      store.save(dir, rows(Seq(1L, 2L, 3L, 4L)))
      def served: Seq[Long] =
        store.load(spark, dir).select(col(store.core.head)).collect()
          .map(_.getLong(0)).toSeq.sorted

      val batch0 = rows(Seq(4L, 5L, 6L))
      assert(store.append(spark, dir, batch0, batchId = 0L))
      assert(store.compact(spark, dir))
      val lay = store.resolve(spark, dir)
      assert(lay.gen === 1 && lay.folded === 0L)
      // the fold applied the store's re-fold step: only the hash store
      // restores distinctness, every other store keeps both id-4 rows
      val folded = if (name == "hashes") Seq(1L, 2L, 3L, 4L, 5L, 6L)
        else Seq(1L, 2L, 3L, 4L, 4L, 5L, 6L)
      assert(served === folded)

      assert(!store.append(spark, dir, batch0, batchId = 0L),
        "a replay at the folded watermark must land nothing")
      assert(served === folded)

      if (store.keyCols.nonEmpty) {
        val s = spark
        import s.implicits._
        val ids = Seq(2L).toDF("id")
        assert(!store.delete(spark, dir, ids, "id", batchId = 0L),
          "tombstones share the append channel's watermark")
        assert(store.delete(spark, dir, ids, "id", batchId = 1L))
        assert(served === folded.filterNot(_ == 2L))
      }
    }

  for ((name, declared, rows) <- stores)
    test(s"$name store: swap commits base and sidecar as one generation, refuses undeclared") {
      // a store without a sidecar family declares one for this leg
      val store =
        if (declared.sidecars.nonEmpty) declared else declared.copy(sidecars = Seq("side"))
      val side = store.sidecars.head
      val s = spark
      import s.implicits._
      val dir = Scratch.dir(s"conformance_swap_$name")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def onDisk(table: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$table"))
      def served: Seq[Long] =
        store.load(spark, dir).select(col(store.core.head)).collect()
          .map(_.getLong(0)).toSeq.sorted
      store.save(dir, rows(Seq(1L, 2L, 3L)), side -> Seq(0L).toDF("v"))

      intercept[IllegalArgumentException] {
        store.swap(spark, dir, rows(Seq(7L, 8L)))("undeclared" -> Seq(1L).toDF("v"))
      }
      assert(store.resolve(spark, dir).gen === 0)
      assert(!onDisk("undeclared_v1.parquet") && !onDisk(store.baseOf(1)),
        "a refused swap must write nothing")

      assert(store.swap(spark, dir, rows(Seq(7L, 8L)))(side -> Seq(1L).toDF("v")))
      assert(store.resolve(spark, dir).gen === 1)
      val table = store.sidecar(spark, dir, side)
      assert(table.inputFiles.nonEmpty &&
        table.inputFiles.forall(_.contains(s"/${side}_v1.parquet/")))
      assert(table.as[Long].collect().toSeq === Seq(1L))
      assert(served === Seq(7L, 8L))
    }
}
