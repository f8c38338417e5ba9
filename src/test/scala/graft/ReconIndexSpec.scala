package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnSuite, DedupSuite}
import graft.sources.{Scratch, Tables}

/** The scheduled store-reconciliation kernels: the LWW audit
  * (IvfStore.audit(lww = true)) and the band-store audit
  * (BandStore.audit). Two properties per kernel: a HEALTHY store reads
  * clean (every corruption invariant 0), and each planted fault class
  * moves exactly its own invariant.
  */
class ReconIndexSpec extends SparkSpecBase {

  private def invMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(1) -> r.getLong(2)).toMap

  test("LWW recon: a healthy upsert store reads clean; superseded_rows prices the debt") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir("recon_lww_clean")
    AnnSuite.ivfSave(
      AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), dir)
    val n = e.count()
    // one update batch (live ids supersede), one delete batch
    val ups = e.filter(col("vec_id") % 5 === 1)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val dels = e.filter(col("vec_id") % 13 === 2 && col("vec_id") % 5 =!= 1)
      .select("vec_id")
    assert(AnnSuite.ivfAppend(spark, dir, ups, "vec_id", "embedding", 0L))
    assert(AnnSuite.IvfStore.delete(spark, dir, dels, "vec_id", 1L))
    val inv = invMap(AnnSuite.IvfStore.audit(spark, dir,
      "lww", e, lww = true))
    assert(inv("dup_keys") === 0L, "healthy LWW view must be dup-free")
    assert(inv("foreign_in_index") === 0L)
    assert(inv("orphan_tombstones") === 0L,
      "a tombstone of a live base key is a legit delete, not an orphan")
    assert(inv("missing_from_index") === dels.count())
    assert(inv("served_rows") === n - dels.count())
    // debt = every update's superseded base row + the deleted rows
    assert(inv("superseded_rows") === ups.count() + dels.count())
  }

  test("LWW recon: dup_keys catches a one-row-per-key-per-batch violation; a revived delete is no orphan") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir("recon_lww_damaged")
    AnnSuite.ivfSave(
      AnnSuite.ivfBuild(e, "vec_id", "embedding", AnnSuite.IvfK), dir)
    // delete then RE-INSERT the same keys (supersede) — not orphans
    val keys = e.filter(col("vec_id") % 13 === 2)
    assert(AnnSuite.IvfStore.delete(spark, dir, keys.select("vec_id"), "vec_id", 0L))
    assert(AnnSuite.ivfAppend(spark, dir, keys, "vec_id", "embedding", 1L))
    // the damage: a slice landed TWICE inside one segment
    val dup = e.filter(col("vec_id") % 7 === 3)
    assert(AnnSuite.ivfAppend(spark, dir, dup.unionByName(dup),
      "vec_id", "embedding", 2L))
    val inv = invMap(AnnSuite.IvfStore.audit(spark, dir,
      "lww", e, lww = true))
    assert(inv("dup_keys") === dup.count(),
      "the duplicated keys must surface through the LWW view audit")
    assert(inv("orphan_tombstones") === 0L,
      "a tombstone superseded by a later insert must not count as an orphan")
    assert(inv("missing_from_index") === 0L)
  }

  test("band recon: a healthy store reads clean across append + compact; faults move their invariants") {
    org.apache.spark.sql.graft.Bridge.register(spark)
    val sh = DedupSuite.shingleSets(spark, sf).localCheckpoint()
    val dir = Scratch.dir("recon_bands_spec")
    DedupSuite.bandIndexSave(
      DedupSuite.minhashBands(sh.filter(col("doc_id") < 1000000L)), dir)
    DedupSuite.bandIndexAppend(
      DedupSuite.minhashBands(sh.filter(col("doc_id") >= 1000000L)), dir, 0L)
    assert(DedupSuite.BandStore.compact(spark, dir))
    val clean = invMap(DedupSuite.BandStore.audit(spark, dir, "bands",
      sh.select("doc_id")))
    assert(clean("dup_keys") === 0L)
    assert(clean("missing_from_index") === 0L)
    assert(clean("foreign_in_index") === 0L)
    assert(clean("stale_segments") === 0L)
    assert(clean("watermark") === 0L, "the fold must advance the watermark")
    assert(clean("served_rows") === 4L * sh.count())
    // fault: a double-landed batch + a tombstone for a ghost doc
    val seg = DedupSuite.minhashBands(
      sh.filter(col("doc_id") >= 1000000L && col("doc_id") % 20 === 0))
    DedupSuite.bandIndexAppend(seg, dir, 1L)
    DedupSuite.bandIndexAppend(seg, dir, 2L)
    val sess = spark
    import sess.implicits._
    DedupSuite.BandStore.delete(spark, dir,
      Seq(-42L).toDF("doc_id"), "doc_id", 3L)
    val bad = invMap(DedupSuite.BandStore.audit(spark, dir, "bands",
      sh.select("doc_id")))
    assert(bad("dup_keys") ===
      4L * sh.filter(col("doc_id") >= 1000000L && col("doc_id") % 20 === 0).count())
    assert(bad("orphan_tombstones") === 1L)
    assert(bad("foreign_in_index") === 0L)
  }
}
