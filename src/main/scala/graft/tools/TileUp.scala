package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic sf1 lake: tile the driver's sf0.1 tables `factor`
  * times, each replica a self-contained key universe — every PK and the
  * FKs that reference it shift by `replica * stride` (stride = source
  * max key + 1), so joins stay valid and result cardinalities scale
  * linearly. Content columns are perturbed per replica (letter-permuted
  * text, hash-sign-flipped embedding dims, time-shifted events) so the
  * near-dup/ANN operators don't see 10 exact copies of every document —
  * cross-replica collisions would square the candidate volume and make
  * the scale curve measure a data artifact instead of the plan.
  * `region`/`nation` stay global dims: dimensions don't grow with fact
  * data, and keeping them 25-row preserves the broadcast-join shape the
  * plans are designed around.
  *
  * Purpose (VERDICT r7 §missing-2): the 2 MB → 17 MB curve never leaves
  * the page cache; the ~170 MB sf1 point makes the 100× growth ratios
  * meaningful. No RNG and no clock anywhere — byte-identical output for
  * a given source, so growth ratios are comparable across rounds.
  */
object TileUp {

  /** Marker written after all tables land; `ensure` keys off it so a
    * killed half-finished generation is redone, never trusted. The
    * marker CONTENT is a descriptor of (source, factor, per-file
    * size+mtime of the source lake): the driver regenerates
    * /root/testdata between rounds (it did — events.ts ns→µs), and a
    * lake tiled from the OLD source would silently skew every sf1
    * comparison, so a descriptor mismatch forces a re-tile.
    */
  private def marker(dst: String) = Paths.get(dst, "_TILEUP_OK")

  private val TableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Bump when the tiling transform itself changes — a lake generated
    * by an older transform must not satisfy `ensure`.
    * 4: per-replica text PERMUTATIONS (rotations cap at |alpha|
    * distinct bijections, colliding low-entropy texts at factor >21)
    * + hash-signed embedding flips for the sf10 tile.
    */
  private val GenVersion = 4

  /** The perturbed character class: high-frequency letters + digits. */
  private[graft] val TextAlpha = "etaoinshrdl0123456789"

  /** One deterministic permutation of [[TextAlpha]] per replica
    * (index 0 = identity), built by sorting positions by a splitmix64
    * hash of (replica, position) — no RNG state, byte-stable across
    * runs. REQUIREs that the permutations, and their restrictions to
    * the letter and digit sub-classes, are pairwise distinct, so a
    * letters-only or digits-only text still tiles to `factor` distinct
    * images; checked up front, before any table is written.
    */
  private[graft] def textPerms(factor: Int): IndexedSeq[String] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val perms = (0 until factor).map { i =>
      if (i == 0) TextAlpha
      else TextAlpha.indices.sortBy(j => mix(i.toLong << 32 | j))
        .map(TextAlpha).mkString
    }
    def restriction(p: String, cls: Char => Boolean): String =
      TextAlpha.indices.collect { case j if cls(TextAlpha(j)) => p(j) }.mkString
    Seq[Char => Boolean](_.isLetter, _.isDigit).foreach { cls =>
      val r = perms.map(restriction(_, cls))
      require(r.distinct.length == r.length,
        s"textPerms: sub-class restrictions collide at factor $factor — change the hash salt")
    }
    perms
  }

  private def descriptor(src: String, factor: Int): String = {
    val files = TableNames.map { n =>
      val f = new java.io.File(s"$src/$n.parquet")
      if (!f.exists)
        // fail fast: a missing source would fingerprint as 0/0 and a
        // stale lake tiled from an older generation could be trusted
        throw new IllegalStateException(s"[tileup] source missing: $f")
      if (f.isDirectory) {
        // directory-shaped parquet: the directory's own length/mtime do
        // not reflect content — fingerprint the sorted (name, length,
        // mtime) of its files so a mutated part file forces a re-tile
        // (mtime included so even an equal-length in-place rewrite is
        // caught, matching the single-file branch)
        val parts = f.listFiles.toSeq.filter(_.isFile)
          .map(p => s"${p.getName}:${p.length}:${p.lastModified}").sorted.mkString(",")
        s"$n dir[$parts]"
      } else s"$n ${f.length} ${f.lastModified}"
    }
    (s"gen=$GenVersion src=$src factor=$factor" +: files).mkString("\n")
  }

  /** Generate-if-stale. Returns None on success (lake at `dst` matches
    * the current descriptor), Some(error) on failure — callers surface
    * the message (Bench records it under `errors`) so a broken
    * generation is distinguishable from a disabled scale point.
    */
  def ensure(spark: SparkSession, src: String, dst: String, factor: Int = 10): Option[String] = {
    try {
      val want = descriptor(src, factor)
      val fresh = Files.exists(marker(dst)) &&
        new String(Files.readAllBytes(marker(dst)), "UTF-8") == want
      if (!fresh) generate(spark, src, dst, factor)
      None
    } catch { case e: Throwable =>
      System.err.println(s"[tileup] generation failed: $e")
      Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
    }
  }

  def generate(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    // all input validation before the first (expensive) table write:
    // a bad factor must not die 7 tables in
    val perms = textPerms(factor)
    Files.createDirectories(Paths.get(dst))
    Files.deleteIfExists(marker(dst))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0)

    // strides: PK domain width per key family, shared with every FK site
    val cust = Tables.customer(spark, src)
    val supp = Tables.supplier(spark, src)
    val part = Tables.part(spark, src)
    val ord = Tables.orders(spark, src)
    val li = Tables.lineitem(spark, src)
    val ev = Tables.events(spark, src)
    val doc = Tables.documents(spark, src)
    val emb = Tables.embeddings(spark, src)
    val sCust = maxOf(cust, "c_custkey") + 1
    val sSupp = maxOf(supp, "s_suppkey") + 1
    val sPart = maxOf(part, "p_partkey") + 1
    val sOrd = maxOf(ord, "o_orderkey") + 1
    val sEvent = maxOf(ev, "event_id") + 1
    val sUser = maxOf(ev, "user_id") + 1
    // doc_id and vec_id share one stride so any id correspondence between
    // the two tables survives tiling
    val sDoc = math.max(maxOf(doc, "doc_id"), maxOf(emb, "vec_id")) + 1

    /** Union of per-replica frames; `f(i)` must be deterministic in i. */
    def tiled(f: Int => DataFrame): DataFrame =
      (0 until factor).map(f).reduce(_ unionByName _)

    def bump(c: String, stride: Long, i: Int): Column =
      (col(c) + lit(stride * i)).cast("long").as(c)

    def write(df: DataFrame, name: String): Unit = {
      // a handful of files per table: enough scan splits to parallelize,
      // few enough that the lake stays footer-cheap
      df.repartition(8).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[tileup] wrote $name")
    }

    // global dims: copied, not tiled
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(tiled(i => cust.select(bump("c_custkey", sCust, i), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))), "customer")

    write(tiled(i => supp.select((bump("s_suppkey", sSupp, i) +:
      supp.columns.filter(_ != "s_suppkey").map(col).toSeq): _*)), "supplier")

    write(tiled(i => part.select((bump("p_partkey", sPart, i) +:
      part.columns.filter(_ != "p_partkey").map(col).toSeq): _*)), "part")

    write(tiled(i => ord.select(bump("o_orderkey", sOrd, i), bump("o_custkey", sCust, i),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))), "orders")

    write(tiled(i => li.select((Seq(bump("l_orderkey", sOrd, i),
      bump("l_partkey", sPart, i), bump("l_suppkey", sSupp, i)) ++
      li.columns.filterNot(Set("l_orderkey", "l_partkey", "l_suppkey")).map(col)): _*)),
      "lineitem")

    // events: fresh users + ids per replica, time domain extended by a
    // 397-day shift — per-window/per-session row counts stay constant
    // while the window count scales, which is how a 10× bigger event log
    // actually grows
    write(tiled(i => ev.select(bump("event_id", sEvent, i),
      (col("ts") + expr(s"INTERVAL ${397 * i} DAYS")).as("ts"),
      bump("user_id", sUser, i), col("event_type"), col("value"), col("props"))),
      "events")

    // documents: apply a per-replica PERMUTATION of a high-frequency
    // character class (letters + digits, so numeric-only texts perturb
    // too) — length-preserving, changes nearly every shingle, and
    // unlike rotations (only |alpha| of them — replicas ≡ mod 21 would
    // tile low-entropy texts as exact cross-replica duplicates at
    // factor 100, squaring dedup candidate volume) the permutation
    // family is large enough that [[textPerms]] can REQUIRE the letter
    // and digit restrictions pairwise distinct for every factor. Texts
    // whose characters all fall outside the class (or low-entropy ones
    // sharing a single char) could still collide — the distinct-count
    // canary after the write turns that from silent corruption of the
    // scale curve into a loud failure on the actual corpus.
    write(tiled(i => doc.select(bump("doc_id", sDoc, i),
      (if (i == 0) col("text") else translate(col("text"), TextAlpha, perms(i)))
        .as("text"),
      col("lang"), col("source"), col("n_chars"))), "documents")
    val srcDistinctTexts = doc.select("text").distinct().count()
    val outDistinctTexts = spark.read.parquet(s"$dst/documents.parquet")
      .select("text").distinct().count()
    require(outDistinctTexts == srcDistinctTexts * factor,
      s"replica text images collided on this corpus: $outDistinctTexts" +
        s" distinct tiled texts != $srcDistinctTexts src * $factor")

    // embeddings: flip the sign of dim j iff murmur3(i, j) is odd —
    // norm-preserving, deterministic, and any two replicas' 64-bit flip
    // patterns differ (collision odds 2^-64; the old j ≡ i mod factor
    // class left replicas ≥ dim-count unperturbed at factor 100, i.e.
    // exact copies), so cross-replica cosine sits near 0, far below any
    // near-dup threshold.
    write(tiled(i => emb.select(bump("vec_id", sDoc, i),
      (if (i == 0) col("embedding")
       else transform(col("embedding"),
         (x, j) => when(pmod(hash(lit(i), j), lit(2)) === 1, -x).otherwise(x)))
        .as("embedding"),
      col("label"))), "embeddings")

    Files.write(marker(dst), descriptor(src, factor).getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/data/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(graft.Session.cpus)
    generate(spark, src, dst, factor)
    spark.stop()
  }
}
