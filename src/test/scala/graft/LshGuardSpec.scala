package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupSuite

/** The hot-bucket guard on the LSH candidate joins: a poisoned bucket is
  * dropped (bounded candidate count), normal data passes through
  * unchanged, and the gated operators return identical results on the
  * lake fixtures (whose buckets are all far below the cap — the DuckDB
  * oracle runs uncapped, so this invariance is what keeps them green).
  */
class LshGuardSpec extends SparkSpecBase {

  test("gateHotBuckets drops only buckets beyond the cap") {
    val s = spark
    import s.implicits._
    // poisoned fixture: one bucket with 5000 colliding rows (5000² /2 ≈
    // 12.5M candidate pairs if joined), plus 100 normal singleton buckets
    val poisoned = (1 to 5000).map(i => (i.toLong, 0, "HOT"))
    val normal = (1 to 100).map(i => (10000L + i, 1, s"b$i"))
    val bands = (poisoned ++ normal).toDF("doc_id", "band", "bucket")
    val gated = DedupSuite.gateHotBuckets(bands, Seq("band", "bucket"), maxBucket = 64L)
    assert(gated.filter(col("bucket") === "HOT").count() == 0, "hot bucket dropped")
    assert(gated.count() == 100, "normal buckets untouched")
    // the bound that matters: candidate pairs after the gate
    val cands = gated.as("a").join(gated.as("b"),
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
    assert(cands.count() == 0, "singleton buckets yield no pairs; poisoned pairs gone")
  }

  test("gate keeps buckets exactly at the cap") {
    val s = spark
    import s.implicits._
    val atCap = (1 to 64).map(i => (i.toLong, 0, "edge"))
    val gated = DedupSuite.gateHotBuckets(
      atCap.toDF("doc_id", "band", "bucket"), Seq("band", "bucket"), maxBucket = 64L)
    assert(gated.count() == 64, "cap is inclusive")
  }

  test("gated dedup_minhash_lsh is unchanged on normal data") {
    // the fixture corpus produces no bucket near MaxBucket, so the gated
    // pipeline must equal the raw (ungated) band join — this is the
    // invariance that keeps the uncapped DuckDB oracle green
    val sh = DedupSuite.shingleSets(spark, sf)
    val raw = DedupSuite.minhashBands(sh)
    val gated = DedupSuite.gateHotBuckets(raw, Seq("band", "bucket"))
    assert(raw.count() == gated.count(),
      "default cap must not touch any fixture bucket")
    val maxBucket = raw.groupBy("band", "bucket").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= DedupSuite.MaxBucket,
      s"fixture bucket $maxBucket exceeds the cap — oracle would diverge")
  }

  test("bandIndexCompact re-gates across segment boundaries (eventual gating, by design)") {
    // the ONE place a compaction is not served-set-preserving: the
    // write-time gate bounds each SEGMENT's buckets, so a bucket
    // crossing the cap only in the UNION is served pre-fold and
    // dropped at the fold (it re-gates across segment boundaries).
    // This is the deliberate trade documented in SURVEY §5: dropping
    // reduces candidates, never fabricates pairs, and write-time
    // gating keeps every PROBE join-only — the alternative (gating at
    // load over the reader view) would put a bucket-occupancy window
    // on the hot path of every probe.
    val s = spark
    import s.implicits._
    val dir = graft.sources.Scratch.dir("band_gate_compact")
    def mk(lo: Long, n: Int, bucket: String) =
      (0 until n).map(i => (lo + i, 0, bucket)).toDF("doc_id", "band", "bucket")
    // 2600 + 2600 rows of one bucket: each write is under the 4096 cap,
    // the union is over it; a 10-row bucket rides along untouched
    DedupSuite.bandIndexSave(
      mk(0, 2600, "HOT").unionByName(mk(100000, 10, "ok")), dir)
    assert(DedupSuite.bandIndexAppend(mk(10000, 2600, "HOT"), dir, batchId = 0L))
    assert(DedupSuite.BandStore.load(spark, dir)
      .filter(col("bucket") === "HOT").count() === 5200L,
      "per-segment gating must serve a bucket that is only union-hot")
    assert(DedupSuite.BandStore.compact(spark, dir))
    assert(DedupSuite.BandStore.load(spark, dir)
      .filter(col("bucket") === "HOT").count() === 0L,
      "the fold must re-gate across segment boundaries")
    assert(DedupSuite.BandStore.load(spark, dir).count() === 10L,
      "non-hot buckets must survive the fold untouched")
  }

  test("minhashDupPairs cap bounds a poisoned corpus") {
    val s = spark
    import s.implicits._
    // 600 byte-identical boilerplate docs (every band collides for all
    // of them: 600²/2 ≈ 180k verify pairs uncapped) + 2 genuine near-dups
    val boiler = (1 to 600).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val real = Seq(
      (9001L, "completely original content about spark catalyst optimizer internals today"),
      (9002L, "completely original content about spark catalyst optimizer internals tonight"))
    val corpus = (boiler ++ real).toDF("doc_id", "text")
    val capped = graft.api.Graft.minhashDupPairs(corpus, "doc_id", "text",
      maxBucket = 100L)
    val pairs = capped.collect()
    // boilerplate bucket (600 > cap) contributes nothing; the genuine
    // pair survives because its buckets are size 2
    assert(pairs.forall(r => r.getAs[Long]("id_a") >= 9000L),
      s"boilerplate pairs leaked: ${pairs.take(3).mkString}")
    assert(pairs.length == 1 && pairs.head.getAs[Long]("id_b") == 9002L,
      "genuine near-dup pair must survive the cap")
  }
}
