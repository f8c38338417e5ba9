package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2 E (dedup) — the deduplication family a training-data pipeline runs
  * before anything else: exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding near-dup.
  *
  * Scale shape: signature/fingerprint computation is a narrow per-row
  * map; the only shuffles key on (band, bucket-hash) — high-cardinality
  * keys whose bucket sizes stay small, so the candidate join touches
  * candidate pairs only, never the n² cross product. That's the property
  * that survives a 100 TB corpus.
  *
  * Hashes are the engine-portable 60-bit md5 prefix
  * ([[graft.functions.Portable.rowHash60]]) so every stage — including
  * the full MinHash pipeline — is hash-checked against the DuckDB oracle.
  */
object DedupSuite {

  /** Docs plus injected exact duplicates (copy of every %10==0 doc) so
    * exact dedup has something to find; both engines build the same
    * corpus.
    */
  private[graft] def corpusWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0).withColumn("doc_id", col("doc_id") + 1000000L))
  }
  private[graft] val CorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Spark-side shingle/signature prep shared by minhash + jaccard:
    * ws (lowered words), 3-word shingles (distinct).
    */
  private[graft] val ShinglesExpr =
    """array_distinct(transform(sequence(1, size(ws) - 2),
      |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2))))""".stripMargin
  private[graft] val ShinglesSql =
    """list_distinct(list_transform(range(1, len(ws) - 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))""".stripMargin

  private val NumPerm = 12
  private val BandRows = 3 // 4 bands × 3 rows (s-curve midpoint ≈ 0.63 for the 0.7 verify)
  // ngram-jaccard re-bands the same 12 perms as 6 bands × 2 rows: the
  // s-curve midpoint (1/6)^(1/2) ≈ 0.41 sits below its 0.5 verify
  // threshold, so near-threshold pairs still collide with high odds.
  private val NgramBandRows = 2
  // embedding LSH: 16 sign-bit hyperplanes, banded 4 × 4 bits
  private[graft] val EmbPlanes = 16
  private[graft] val EmbBandBits = 4

  /** The 16×64 ±1 hyperplane matrix — coefficient(h, dim) = parity of the
    * 60-bit md5 of "h,dim". Row-independent, so computed once on the
    * driver and shipped as a literal (the per-row md5 form cost ~0.7 ms/row).
    * Shared by dedup_embedding and ann_lsh; the oracle evaluates the same
    * md5-parity formula in SQL.
    */
  private[graft] def signMatrix: Seq[Seq[Double]] = (0 until EmbPlanes).map { h =>
    (1 to 64).map { i =>
      if (org.apache.spark.sql.graft.MinHashSigs.hash60(
          s"$h,$i".getBytes("UTF-8")) % 2 == 1) 1.0 else -1.0
    }
  }

  /** Adds the 16-element sign-bit column `bits`: bit h = sign of the
    * fixed-point-rounded projection onto hyperplane h (the rounding makes
    * both engines branch identically near zero). Narrow projection —
    * zero shuffle.
    */
  private[graft] def withSignBits(df: DataFrame): DataFrame =
    df.withColumn("sgn", typedLit(signMatrix))
      .withColumn("bits", expr(
        s"""transform(sequence(0, ${EmbPlanes - 1}), h ->
           |  CASE WHEN floor(aggregate(sequence(1, size(embedding)), CAST(0 AS DOUBLE),
           |    (acc, i) -> acc +
           |      element_at(element_at(sgn, h + 1), i)
           |        * CAST(element_at(embedding, i) AS DOUBLE)) * 1e6 + 0.5) > 0
           |  THEN 1 ELSE 0 END)""".stripMargin))
      .drop("sgn")

  /** Explodes `bits` into (band, bucket) rows — the only shuffle key the
    * LSH family ever joins on.
    */
  private[graft] def signBands(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
        posexplode(expr(
          s"""transform(sequence(0, ${EmbPlanes / EmbBandBits - 1}), b ->
             |  concat_ws(',', slice(bits, b * $EmbBandBits + 1, $EmbBandBits)))""".stripMargin)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** (doc_id, shingles) for the MinHash family — the per-document
    * shingle sets both the batch and streaming dedup verify against.
    */
  private[graft] def shingleSets(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graft.Bridge.register(s)
    // spread: everything downstream (shingle build, minhash_sigs md5
    // loops) is per-row compute keyed to THIS frame's partitioning —
    // the fixture union gives it 2 tasks otherwise (no-op on a
    // well-split lake)
    Tables.spread(s, corpusWithDups(s, d))
      .withColumn("ws", split(lower(col("text")), " "))
      .filter(size(col("ws")) >= 3)
      .withColumn("shingles", expr(ShinglesExpr))
      .select(col("doc_id"), col("shingles"))
  }

  /** Hot-bucket cap for the LSH candidate joins. A degenerate bucket —
    * boilerplate-heavy shingle patterns, a constant-ish signature — makes
    * the band self-join quadratic WITHIN that bucket: 10⁶ colliding rows
    * is 5·10¹¹ candidate pairs from one key. Production dedup drops (or
    * salts) buckets beyond a size bound: a bucket that big is noise, not
    * near-duplicate signal — its members collide on boilerplate, and the
    * exact-Jaccard verify would reject almost all of them anyway.
    * Implementation is one count-over-window on the join key the band
    * shuffle already partitions by (no extra shuffle), then a filter —
    * so the guard is ~free. The default keeps every bucket the lake's
    * fixtures produce (the oracle runs uncapped; results must stay
    * identical on normal data — LshGuardSpec proves both properties).
    */
  private[graft] val MaxBucket = 4096L

  private[graft] def gateHotBuckets(
      df: DataFrame, keys: Seq[String], maxBucket: Long = MaxBucket): DataFrame = {
    val wb = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")
  }

  /** Observed max bucket occupancy per gated LSH family. The gate
    * (gateHotBuckets) caps buckets Spark-side only, while every DuckDB
    * oracle runs uncapped — on a corpus where any bucket exceeds
    * MaxBucket the gated operators would silently drop pairs their
    * oracles keep. Verify prints these so a fixture/scale change that
    * crosses the cap fails with a clear diagnostic instead of an
    * opaque hash mismatch (LshGuardSpec covers only the test-fixture
    * scale).
    */
  private[graft] def bucketDiagnostics(s: SparkSession, d: String): Seq[(String, Long)] = {
    org.apache.spark.sql.graft.Bridge.register(s)
    def mx(df: DataFrame, keys: Seq[String]): Long =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("m")).head().getLong(0)
    val sh = shingleSets(s, d).localCheckpoint()
    val sim = corpusWithDups(s, d)
      .withColumn("words", array_distinct(split(lower(col("text")), " ")))
      .withColumn("whs", expr(
        "transform(words, w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT))"))
      .withColumn("simhash", expr("simhash60(whs)"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), j -> (simhash div CAST(pow(2, j * 15) AS BIGINT)) % 32768)")))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val ngram = sh.withColumn("sig", expr(s"minhash_sigs(shingles, $NumPerm)"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, ${NumPerm / NgramBandRows - 1}), b ->
           |  md5(concat_ws(',', slice(sig, b * $NgramBandRows + 1, $NgramBandRows))))""".stripMargin)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val emb = signBands(withSignBits(
      Tables.embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))))
    // semantic cells: dedup_semantic (injected corpus) and
    // dedup_embedding (plain corpus) gate per-CELL (learned k-means
    // buckets) — same cap-vs-uncapped-oracle exposure as the LSH bands
    val cells = graft.api.Graft
      .semanticCells(semanticCorpus(s, d), "vec_id", "embedding", semanticK(s, d))
    val embCells = graft.api.Graft.semanticCells(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", semanticK(s, d))
    Seq(
      "minhash_bands" -> mx(minhashBands(sh), Seq("band", "bucket")),
      "ngram_bands" -> mx(ngram, Seq("band", "bucket")),
      "simhash_chunks" -> mx(sim, Seq("chunk_idx", "chunk")),
      "embedding_bands" -> mx(emb, Seq("band", "bucket")),
      "semantic_cells" -> mx(cells, Seq("cell")),
      "embedding_cells" -> mx(embCells, Seq("cell")))
  }

  /** The semantic-cell count k the lake-pinned entries use: the
    * ⌈√n⌉ rule sized from the embeddings table's parquet FOOTER row
    * count (ParquetMeta — metadata reads, zero data pages), so the
    * executed plans never pay the full-corpus count() job
    * Graft.semanticCells runs when k is defaulted. k is a tuning
    * parameter, not a semantic: sizing it from the base table (rather
    * than dedup_semantic's injected corpus, 1.1× larger) changes cell
    * granularity by ~5% and nothing else — and the DuckDB oracles
    * mirror exactly this definition, so the whole chain stays
    * hash-checked.
    */
  private[graft] def semanticK(s: SparkSession, d: String): Int =
    math.max(10L, math.ceil(math.sqrt(
      graft.sources.ParquetMeta.rowCount(s, s"$d/embeddings.parquet")
        .toDouble)).toLong).toInt

  /** dedup_semantic's fixture corpus: the lake's embeddings plus a
    * first-dim-negated copy of every %10==0 vector (ids offset by 1e6) —
    * cos(original, copy) = 1 - 2·x₁²/‖x‖², a real data-dependent
    * near-dup population since the lake has no natural pairs above
    * ~0.6. Shared by the registry entry and the cell-occupancy
    * diagnostic so they can never watch different corpora.
    */
  private[graft] def semanticCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.unionByName(
      e.filter(col("vec_id") % 10 === 0)
        .withColumn("embedding", expr("transform(embedding, (v, i) -> IF(i = 0, -v, v))"))
        .withColumn("vec_id", col("vec_id") + 1000000L))
  }

  /** The deterministic k-means cell-assignment chain (CTEs e → a1) the
    * semantic-cell operators share: dynamic k = GREATEST(10, ⌈√n⌉)
    * with n counted from `countFrom` (default the corpus CTE `e`;
    * lake-pinned entries count the base `embeddings` table so the
    * Spark side can derive the same k from parquet footers without a
    * corpus count job — see [[semanticK]]),
    * rank-based seed selection (LIMIT can't take a subquery portably),
    * seed assignment, one fixed-point Lloyd step, final assignment —
    * mirrors [[graft.api.Graft.semanticCells]] exactly (same exact
    * arithmetic as the ann_ivf/emb_kmeans oracle chain,
    * AnnSuite.ivfOracleSql). Returns a WITH-prefix ending at
    * a1(vec_id, cell, ce2); callers append their own tail CTEs. The
    * output is already margin-stripped (it interpolates into outer
    * stripMargin templates, whose stripping must not touch it).
    */
  private def semanticCellChainSql(corpusSql: String,
      countFrom: String = "e"): String = {
    val corpus = corpusSql.linesIterator.map("  " + _).mkString("\n")
    s"""WITH e AS (
       |$corpus),
       |kv AS (SELECT GREATEST(10, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM $countFrom),
       |seeds AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM (
       |    SELECT vec_id, embedding,
       |      ROW_NUMBER() OVER (ORDER BY
       |        ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id) AS rn
       |    FROM e) t WHERE rn <= (SELECT k FROM kv)),
       |d0 AS (
       |  SELECT e.vec_id, s.cid, e.embedding,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.ce[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.ce[i] AS DOUBLE)))) AS dist
       |  FROM e, seeds s),
       |a0 AS (
       |  SELECT vec_id, cid, embedding FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d0) t WHERE rn = 1),
       |dims AS (
       |  SELECT cid, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM a0, range(1, 65) r(i)),
       |cents AS (
       |  SELECT cid, list(CAST(m AS REAL) ORDER BY i) AS ce FROM (
       |    SELECT cid, i, CAST(SUM(FLOOR(v*1e6 + 0.5)) AS DOUBLE)/COUNT(*)/1e6 AS m
       |    FROM dims GROUP BY cid, i) t GROUP BY cid),
       |d1 AS (
       |  SELECT e.vec_id, c.cid, e.embedding,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))) AS dist
       |  FROM e, cents c),
       |a1 AS (
       |  SELECT vec_id, cid AS cell, embedding AS ce2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d1) t WHERE rn = 1)""".stripMargin
  }

  /** Oracle for the STREAMING semantic-dedup twin: arriving docs (the
    * injected near-dup copies) probe the standing cell index built on
    * the plain embeddings corpus. The chain clusters the STANDING
    * corpus only (k = footer ⌈√n⌉ — countFrom default e = embeddings),
    * assigns the batch rows at those FIXED centroids (CTE b1, the
    * ivfAssignBatch algebra), and verifies exact e6-rounded cosine on
    * (standing × batch) same-cell pairs — exactly what N folded
    * micro-batch probes compute, so one SQL checks the whole streamed
    * path. Lives here (not CdcStream) because it shares the private
    * cell-chain CTEs.
    */
  private[graft] lazy val SemanticProbeOracleSql: String =
    s"""${semanticCellChainSql("SELECT vec_id, embedding FROM embeddings")},
       |batch AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(range(1, len(embedding) + 1),
       |      i -> CASE WHEN i = 1 THEN -embedding[i] ELSE embedding[i] END) AS embedding
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |bd AS (
       |  SELECT b.vec_id, c.cid, b.embedding,
       |    list_sum(list_transform(range(1, len(b.embedding) + 1),
       |      i -> (CAST(b.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
       |         * (CAST(b.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))) AS dist
       |  FROM batch b, cents c),
       |b1 AS (
       |  SELECT vec_id, cid AS cell, embedding AS ce2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM bd) t WHERE rn = 1),
       |pairs AS (
       |  SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    $cellPairCosSql
       |  FROM a1 a JOIN b1 b ON a.cell = b.cell)
       |SELECT cell, vec_a, vec_b, cos FROM pairs WHERE cos >= 0.8
       |ORDER BY cell, vec_a, vec_b""".stripMargin

  /** e6-rounded exact cosine between a.ce2 and b.ce2 (the a/b aliases
    * the chain's consumers bind to a1) — shared verify expression.
    * Margin-stripped for the same interpolation reason as above.
    */
  private val cellPairCosSql =
    """FLOOR(
      |      list_sum(list_transform(range(1, len(a.ce2) + 1),
      |        i -> CAST(a.ce2[i] AS DOUBLE) * CAST(b.ce2[i] AS DOUBLE))) /
      |      (sqrt(list_sum(list_transform(a.ce2, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
      |       sqrt(list_sum(list_transform(b.ce2, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))
      |      * 1e6 + 0.5)/1e6 AS cos""".stripMargin

  /** (doc_id, band, bucket) LSH band rows via the native fused
    * minhash_sigs signature (md5-60 + all perm minima in one codegen'd
    * pass — the composed transform/array_min HOF pipeline is
    * CodegenFallback and was this query's hot spot).
    */
  private[graft] def minhashBands(sh: DataFrame): DataFrame =
    sh.withColumn("sig", expr(s"minhash_sigs(shingles, $NumPerm)"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, ${NumPerm / BandRows - 1}), b ->
             |  md5(concat_ws(',', slice(sig, b * $BandRows + 1, $BandRows))))""".stripMargin)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> { (s, d) =>
      // hash-groupBy on normalized text; keep the smallest doc_id
      // (one shuffle on the 60-char hash key; map-side partial agg).
      // Delegates to the public kernel — the registry entry is the
      // lake-pinned, oracle-checked instance of graft.api.Graft.
      graft.api.Graft.exactDedupGroups(corpusWithDups(s, d), "doc_id", "text")
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },

    "dedup_minhash_lsh" -> { (s, d) =>
      // full pipeline: shingle → 12-perm MinHash → 4 LSH bands →
      // bucket join → exact-Jaccard verification ≥ 0.7.
      //
      // Scale notes: each shingle is md5-hashed ONCE; the 12 permutations
      // are arithmetic remixes of that 60-bit base (universal-hash style
      // (a_p·h + p) mod P with P < 2^30, so products stay < 2^50 — no
      // BIGINT overflow in either engine). Band rows carry only
      // (doc_id, band, bucket); shingle sets rejoin for candidate pairs
      // only, so the LSH shuffle is a few dozen bytes per doc, not the
      // document content.
      // sh is referenced three times (signatures + both sides of the
      // verification join) and bands twice (self-join); eager
      // localCheckpoint materializes each branch once WITHOUT leaving a
      // CacheManager entry behind — the blocks are reference-counted by
      // the ContextCleaner and released when the returned plan is
      // dereferenced, so a long-lived session sweeping many operators
      // doesn't accumulate corpus-sized shingle caches.
      org.apache.spark.sql.graft.Bridge.register(s)
      val sh = shingleSets(s, d).localCheckpoint()
      // hot-bucket gate BEFORE the checkpoint: degenerate buckets never
      // materialize, and the self-join below is size-bounded per key
      val bands = gateHotBuckets(minhashBands(sh), Seq("band", "bucket")).localCheckpoint()
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      org.apache.spark.sql.graft.Bridge.register(s)
      cands
        .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn("jaccard", expr("jaccard_sim(sh_a, sh_b)"))
        .filter(col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    },

    "dedup_simhash" -> { (s, d) =>
      // 60-bit SimHash over distinct words via the native simhash60
      // expression (the composed 60×tokens nested-aggregate form runs
      // interpreted and is ~10× slower); candidates share one of four
      // 15-bit chunks; verified by Hamming distance ≤ 6.
      org.apache.spark.sql.graft.Bridge.register(s)
      // spread: the per-word md5 + simhash fold is per-row compute on
      // an under-split (2-task) fixture union
      val docs = Tables.spread(s, corpusWithDups(s, d))
        .withColumn("words", array_distinct(split(lower(col("text")), " ")))
        .withColumn("whs", expr(
          "transform(words, w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT))"))
        .withColumn("simhash", expr("simhash60(whs)"))
        .select(col("doc_id"), col("simhash"))
      // localCheckpoint (eager): the self-join would otherwise recompute
      // the 60-bit signature pipeline for both sides; checkpoint blocks
      // are released by the ContextCleaner when the plan is dereferenced
      // (persist would leak in the CacheManager until clearCache)
      val chunks = gateHotBuckets(
          docs.select(col("doc_id"), col("simhash"),
            posexplode(expr(
              "transform(sequence(0, 3), j -> (simhash div CAST(pow(2, j * 15) AS BIGINT)) % 32768)")))
          .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk"),
          Seq("chunk_idx", "chunk"))
        .localCheckpoint()
      chunks.as("a").join(chunks.as("b"),
          col("a.chunk_idx") === col("b.chunk_idx") && col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        // hamming is join-local (no extra lookup), so verify BEFORE the
        // pair dedup: the dropDuplicates shuffle then carries only
        // passing pairs, not every chunk collision (3.5M → 1.4M rows at
        // sf0.1, 3.4 s → 2.3 s; the gap widens with bucket skew)
        .filter(col("hamming") <= 6)
        .dropDuplicates("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    },

    // the scheduled reconciliation pass over the BAND store
    // (`BandStore.audit`) — the dedup index gets the same audited
    // health the vector stores have. Faults planted (the real crash
    // shapes, recon_index's on this store): one committed batch landed
    // AGAIN under a fresh batchId (a replay past a LOST watermark —
    // every (doc_id, band) key of that batch duplicates), tombstones
    // for real documents (legit GDPR traffic → missing rows) and for
    // ids that never existed (the disjoint negative range → orphans).
    // All counts are modular-arithmetic replayable, so the audit is
    // hash-checked end to end.
    "recon_index_bands" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val sh = shingleSets(s, d).localCheckpoint()
      val dir = graft.sources.Scratch.perLake("recon_index_bands", d)
      // the base save (which also resets the segment store — it MUST
      // complete before any landing) and the injected segment's
      // materialization are independent jobs over the checkpointed
      // shingles — overlap them (guide §2.6). The checkpoint also stops
      // the two duplicate landings below re-banding the slice twice.
      val (_, seg) = graft.functions.Par.inParallel(
        bandIndexSave(minhashBands(sh.filter(col("doc_id") < 1000000L)), dir),
        minhashBands(
          sh.filter(col("doc_id") >= 1000000L && col("doc_id") % 20 === 0))
          .localCheckpoint())
      // batches 0-2 write disjoint batch_id dirs (two append segments,
      // one tombstone segment) under the static gen-0 layout — co-land
      // all three (the recon_index_lww pattern; fault 1 is the same
      // batch landing AGAIN under a fresh batchId, fault 2 tombstones
      // for real docs (% 20 = 10) and for ids that never existed — the
      // negative range, provably disjoint at every SF)
      graft.functions.Par.all(
        () => bandIndexAppend(seg, dir, batchId = 0L),
        () => bandIndexAppend(seg, dir, batchId = 1L),
        () => BandStore.delete(s, dir,
          sh.filter(col("doc_id") < 1000000L && col("doc_id") % 20 === 10)
            .select("doc_id")
            .unionByName(
              sh.filter(col("doc_id") < 1000000L && col("doc_id") % 23 === 5)
                .select((-col("doc_id") - 1L).as("doc_id"))),
          "doc_id", batchId = 2L))
      BandStore.audit(s, dir, "bands", sh.select("doc_id"))
        .orderBy("store", "invariant")
    },

    "dedup_summary" -> { (s, d) =>
      // the dedup dashboard: one rollup row per method — how many
      // groups/pairs each found and how many documents are implicated.
      // Pure composition over the family's outputs (each already
      // bucketed/oracle-checked), so the summary inherits their scale
      // shape; the per-method aggregates are 1-row reductions.
      // ONE aggregation per method: exploding each pair to its two doc
      // endpoints lets pair count (rows/2) and implicated-doc count
      // come out of a single job — the earlier two-action shape
      // (count + crossJoined countDistinct over separate plans) ran
      // each method's whole verify pipeline TWICE per summary, which
      // made this the slowest registry query at sf1.
      def pairStats(df: DataFrame, method: String): DataFrame =
        df.select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
          .agg((count(lit(1)) / 2).cast("long").as("n_found"),
            countDistinct(col("d")).as("n_docs"))
          .select(lit(method).as("method"), col("n_found"), col("n_docs"))
      // each method's pipeline checkpoints its own intermediates at
      // CONSTRUCTION — build the three concurrently (guide §2.6)
      val methods = graft.functions.Par.all(
        () => queries("dedup_exact")(s, d)
          .agg(count(lit(1)).as("n_found"), sum(col("n_copies")).as("n_docs"))
          .select(lit("exact").as("method"), col("n_found"), col("n_docs")),
        () => pairStats(queries("dedup_minhash_lsh")(s, d), "minhash_lsh"),
        () => pairStats(queries("dedup_simhash")(s, d), "simhash"))
      methods.reduce(_.unionByName(_)).orderBy("method")
    },

    "dedup_ngram_jaccard" -> { (s, d) =>
      // exact word-3-gram Jaccard, candidate-generated by MinHash LSH —
      // the same bucketed 100 TB shape as dedup_minhash_lsh (the only
      // shuffles key on (band, bucket)); same-(lang, source) is a cheap
      // post-filter on candidates, NOT the candidate generator, so no
      // bucket ever degenerates into an all-pairs join when one
      // (lang, source) dominates the corpus.
      org.apache.spark.sql.graft.Bridge.register(s)
      val docs = Tables.documents(s, d)
        .withColumn("ws", split(lower(col("text")), " "))
        .filter(size(col("ws")) >= 3)
        .withColumn("shingles", expr(ShinglesExpr))
        .select("doc_id", "lang", "source", "shingles")
        .localCheckpoint()
      // native fused signature — see dedup_minhash_lsh
      val sigs = docs
        .withColumn("sig", expr(s"minhash_sigs(shingles, $NumPerm)"))
      val bands = gateHotBuckets(
        sigs.select(col("doc_id"),
            posexplode(expr(
              s"""transform(sequence(0, ${NumPerm / NgramBandRows - 1}), b ->
                 |  md5(concat_ws(',', slice(sig, b * $NgramBandRows + 1, $NgramBandRows))))""".stripMargin)))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"),
        Seq("band", "bucket"))
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      org.apache.spark.sql.graft.Bridge.register(s)
      cands
        .join(docs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
          col("source").as("source_a"), col("shingles").as("sh_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
          col("source").as("source_b"), col("shingles").as("sh_b")), "doc_b")
        .filter(col("lang_a") === col("lang_b") && col("source_a") === col("source_b"))
        .withColumn("jaccard", expr("jaccard_sim(sh_a, sh_b)"))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("lang_a").as("lang"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_embedding" -> { (s, d) =>
      // Embedding-cosine near-dup, top-3 pairs per label — candidates
      // generated by LEARNED k-means cells (the dedup_semantic kernel),
      // label-scoped. Re-expressed in r11 after the full-registry scale
      // gate (bench/registry_sf1.json) caught the r10 sign-LSH form at
      // 66.9× wall for 10× data: 4-bit sign bands bucket into a
      // CONSTANT 16-bucket space, so occupancy grows ∝ n and
      // within-bucket pairs ∝ n² — a shape no cap can save (at sf10
      // EVERY bucket crosses the hot gate and the result collapses).
      // Cells scale WITH the corpus (k = ⌈√n⌉): occupancy ∝ √n, pairs
      // ∝ n^1.5 — dedup_semantic's complexity class — and near-dups
      // keep colliding by the same-cell property (DedupSemanticSpec).
      // The sign-LSH generator lives on in ann_lsh, whose query-side
      // probe (queries ≪ corpus) never self-joins the buckets.
      //
      // Self-join keys on (cell, label): cross-label pairs are never
      // enumerated. Top-3 per label runs TWO-LEVEL — per (label, cell)
      // first (≈ k·labels partitions keep the sort distributed; each
      // pair lives in exactly one cell, so the per-cell top-3 is a
      // lossless prefilter), then per label over ≤ 3·k·labels rows —
      // a single label-partitioned window would sort every candidate
      // pair of a label on ONE task at any cluster size.
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"))
      // explicit footer-derived k: the defaulted path would run a
      // full-corpus count() job before any real work (see semanticK)
      val gated = gateHotBuckets(
          graft.api.Graft.semanticCells(e, "vec_id", "embedding",
            k = semanticK(s, d), keep = Seq("label")),
          Seq("cell"))
        .localCheckpoint()
      val pairs = gated
        .select(col("cell"), col("label"), col("vec_id").as("vec_a"),
          col("embedding").as("emb_a"))
        .join(gated.select(col("cell"), col("label"),
          col("vec_id").as("vec_b"), col("embedding").as("emb_b")),
          Seq("cell", "label"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos",
          floor(expr("cosine_sim(emb_a, emb_b)") * 1e6 + 0.5) / 1e6)
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label"), col("cell"))
        .orderBy(desc("cos"), col("vec_a"), col("vec_b"))
      val perCell = pairs.withColumn("rk", row_number().over(wc))
        .filter(col("rk") <= 3).drop("rk")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(desc("cos"), col("vec_a"), col("vec_b"))
      perCell.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("label"), col("vec_a"), col("vec_b"), col("cos"), col("rk"))
        .orderBy("label", "rk")
    },

    "dedup_semantic" -> { (s, d) =>
      // SemDeDup-shape semantic dedup on an UNLABELED corpus: k-means
      // cells (deterministic seeds + one fixed-point Lloyd step, k =
      // max(10, ceil(sqrt(n))) — the IVF nlist rule) replace
      // dedup_embedding's label buckets as the candidate generator;
      // exact native cosine verifies within cells only. Fixture: the
      // lake has no natural near-dups (max natural cos ≈ 0.6), so
      // every %10==0 vector gets a first-dim-negated copy injected —
      // cos(original, copy) = 1 - 2·x₁²/‖x‖² ∈ ~[0.8, 1), a real
      // data-dependent verify (a few copies legitimately land below
      // threshold or in a different cell — honest recall semantics,
      // mirrored exactly by the oracle). Whole chain — clustering
      // included — is engine-exact and hash-checked.
      // k from the BASE table's parquet footers (semanticK) — probe-free
      // and mirrored by the oracle's countFrom=embeddings kv CTE
      graft.api.Graft
        .semanticDedupPairs(semanticCorpus(s, d), "vec_id", "embedding",
          threshold = 0.8, k = semanticK(s, d))
        .orderBy("cell", "vec_a", "vec_b")
    },

    "dedup_keep_best" -> { (s, d) =>
      // Canonical selection — the step AFTER duplicate detection: when
      // copies span sources, production pipelines keep the most trusted
      // PROVENANCE, not the smallest id (curated > crawl sources >
      // mirror dumps). The fixture re-sources the injected copies so
      // the policy demonstrably overrides min-id: copies of doc_id%20=0
      // arrive as 'curated' (and win their group); the rest as 'mirror'
      // (and lose). Shape = dedup_exact plus one policy window: one
      // shuffle on the text hash, both window functions stream over the
      // same sort, emitted mapping is duplicate-group members only.
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("source",
            when(col("doc_id") % 20 === 0, lit("curated")).otherwise(lit("mirror")))
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val ranked = corpus
        .withColumn("h", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("prio", expr(
          """CASE WHEN source = 'curated' THEN 0
            |     WHEN source = 'mirror' THEN 1000
            |     ELSE 1 + CAST(substr(source, 4, 8) AS BIGINT) END""".stripMargin))
      val w = Window.partitionBy(col("h")).orderBy(col("prio"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wc = Window.partitionBy(col("h"))
      ranked
        .withColumn("keep_id", first(col("doc_id")).over(w))
        .withColumn("n_copies", count(lit(1)).over(wc))
        .filter(col("n_copies") > 1)
        .select(col("doc_id"), col("source"), col("keep_id"), col("n_copies"),
          when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    },

    // Substring-level exact dedup (the Lee et al. 2022 "Deduplicating
    // Training Data" pass): flag every FIXED-WIDTH rolling token window
    // that occurs more than once anywhere in the corpus, then merge
    // overlapping flagged windows into maximal duplicated spans — the
    // pass that catches templated boilerplate CROSSING sentence bounds,
    // which dedup_span_exact's sentence granularity misses. Window
    // hashes come fused from the native gram_hashes60 (8-byte keys;
    // text never shuffles); duplication is one count-over-window on the
    // hash (the shuffle it rides is the only corpus-sized exchange —
    // counting per near-unique key is linear, no pairwise work); span
    // merge is gaps-and-islands per doc_id (bounded by doc length, high
    // doc cardinality keeps every task busy at any cluster size).
    "dedup_substring" -> { (s, d) =>
      // per-row window hashing dominates → spread the under-split scan
      substringDupSpans(Tables.spread(s, corpusWithDups(s, d)), SubstringW)
        .orderBy("doc_id", "start_tok")
    },

    // The APPLY half of the Lee et al. pass: dedup_substring tells you
    // WHERE the duplicated spans are; this one emits the training
    // corpus you actually ship — every duplicated window occurrence
    // removed EXCEPT the corpus-canonical first (min (doc_id, pos) per
    // window hash), so exactly one copy of each boilerplate region
    // survives corpus-wide. Clean docs pass through intact
    // (removed_tok = 0).
    "dedup_substring_apply" -> { (s, d) =>
      substringDedupApply(Tables.spread(s, corpusWithDups(s, d)), SubstringW)
        .orderBy("doc_id")
    }
  )

  /** The dedup_substring kernel over any (doc_id, text) frame: rolling
    * w-token window hashes (native gram_hashes60), duplication = the
    * hash occurs >1 time anywhere in the corpus, OVERLAPPING flagged
    * windows merged to maximal (start_tok, end_tok) spans (1-based,
    * end-inclusive). Windows starting at p1 < p2 overlap iff
    * p2 - p1 <= w-1, so islands merge with gap tolerance w-1 (a
    * consecutive-only merge — pos - row_number — emitted two
    * OVERLAPPING spans whenever flagged starts differed by 2..w-1,
    * double-counting tokens for any consumer summing span lengths);
    * the lag-based break flag summed into group ids rides the same
    * per-doc sort. Exposed so specs can drive it at spec-sized w.
    */
  private[graft] def substringDupSpans(docs: DataFrame, w: Int): DataFrame = {
    org.apache.spark.sql.graft.Bridge.register(docs.sparkSession)
    val grams = docs
      .withColumn("ws", split(lower(col("text")), " "))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), posexplode(expr(s"gram_hashes60(ws, $w)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    val dup = grams
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("occ") > 1)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > (w - 1), 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(wd))
    isl.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + (w - 1)).as("end_tok"),
        count(lit(1)).as("n_win"))
      .drop("grp")
      .select("doc_id", "start_tok", "end_tok", "n_win")
  }

  /** The dedup_substring_apply kernel: same rolling-window hash chain
    * as [[substringDupSpans]], but the corpus-canonical FIRST occurrence
    * of each window (row_number 1 over the hash, ordered (doc_id, pos))
    * is exempt from flagging, surviving flags merge to spans, and each
    * doc's text is reconstructed with the flagged tokens dropped.
    * Output (doc_id, clean_text, removed_tok) for EVERY doc; text is
    * rebuilt from the lowered token stream on both engines so the
    * comparison is tokenizer-exact. Scale shape: count + canonical rank
    * share ONE corpus-sized exchange on the 8-byte hash; the islands
    * merge is per-doc; and one doc_id co-partitioned join glues the
    * small span table back to the docs — reassembly is array ops
    * inside the row (filter + concat_ws), never a second corpus
    * explode.
    */
  private[graft] def substringDedupApply(docs: DataFrame, w: Int): DataFrame = {
    org.apache.spark.sql.graft.Bridge.register(docs.sparkSession)
    val toks = docs.withColumn("ws", split(lower(col("text")), " "))
    val grams = toks
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), posexplode(expr(s"gram_hashes60(ws, $w)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    val wh = Window.partitionBy(col("h"))
    val flagged = grams
      .withColumn("occ", count(lit(1)).over(wh))
      .withColumn("rk", row_number().over(wh.orderBy(col("doc_id"), col("pos"))))
      .filter(col("occ") > 1 && col("rk") > 1)
    // same gap-tolerance-(w-1) island merge as substringDupSpans: the
    // emitted span set is non-overlapping (token filtering below is
    // span-union either way, but the spans table is also the apply
    // pass's audit artifact)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > (w - 1), 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (w - 1)).as("e"))
      .groupBy(col("doc_id"))
      // membership set is deterministic and the exists() probe below is
      // order-insensitive, so collect_list's ordering freedom is safe
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    toks.join(spans, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """filter(ws, (t, i) -> spans IS NULL
          |  OR NOT exists(spans, sp -> i + 1 >= sp.s AND i + 1 <= sp.e))""".stripMargin))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("removed_tok"))
  }

  /** dedup_substring's rolling-window width in tokens (Lee et al. use
    * 50 on web text; the fixture docs run 10-99 words, so 20 keeps a
    * multi-window population per doc while still crossing the ~8-word
    * sentences the span-level pass tokenizes at).
    */
  private[graft] val SubstringW = 20

  /** The standing window-hash index's segment store — the same
    * generation-manifest discipline as the IVF/IVFADC stores (a
    * one-column hash table: no key channel, no partition columns). Its
    * compaction re-applies DISTINCT, restoring the base's
    * no-duplicates invariant across segment boundaries (a hash may
    * enter through two batches — see [[substringIndexAppend]]).
    */
  private[graft] val HashStore = graft.sources.SegmentStore.Scheme(
    "hashes.parquet", "hash_appends.parquet", "hashes_v", "hash_appends_v",
    core = Seq("h"), refold = _.distinct())

  /** The PERSISTED MinHash band index — dedup_incremental's standing
    * index made a living store (the doc-level twin of the substring
    * hash index below, riding the same SegmentStore discipline):
    * (doc_id, band, bucket) rows, hot buckets gated at WRITE time so
    * probes never pay the occupancy window, batchId-keyed appends as
    * the committed corpus grows, doc_id tombstones for
    * right-to-be-forgotten (a deleted document must stop shadowing new
    * arrivals as their `dup_of`; purged physically at the next
    * compaction), manifest-committed compactions that RE-GATE hot
    * buckets (occupancy that only crossed the cap ACROSS segments is
    * caught at the fold). A healthy store serves exactly one bucket per
    * (doc_id, band): that pair is the audit key, while tombstones are
    * doc_id-granular.
    */
  private[graft] val BandStore = graft.sources.SegmentStore.Scheme(
    "bands.parquet", "band_appends.parquet", "bands_v", "band_appends_v",
    "band_deletes.parquet", "band_deletes_v",
    keyCols = Seq("doc_id"), core = Seq("doc_id", "band", "bucket"),
    expectedKeys = _.select(col("doc_id"))
      .withColumn("band", explode(expr(s"sequence(0, ${NumPerm / BandRows - 1})"))),
    refold = gateHotBuckets(_, Seq("band", "bucket")))

  /** A save is a FULL rebuild: the store resets to generation 0.
    * `bands` is a [[minhashBands]] frame; the hot-bucket gate runs
    * here (write time) so every future probe is join-only.
    */
  private[graft] def bandIndexSave(bands: DataFrame, dir: String): Unit =
    BandStore.save(dir, gateHotBuckets(bands, Seq("band", "bucket")))

  /** Grow the standing band index at cost ∝ batch (hash + band only
    * the arriving documents; the standing rows are never read). The
    * write-time gate bounds the SEGMENT's buckets; compaction
    * re-gates across segment boundaries. Same replay contract as
    * every append here: idempotent per batchId, refused at or below
    * the compaction watermark.
    */
  private[graft] def bandIndexAppend(bands: DataFrame, dir: String,
      batchId: Long): Boolean =
    BandStore.append(bands.sparkSession, dir,
      gateHotBuckets(bands, Seq("band", "bucket")), batchId)

  /** The distinct w-token window hashes of a document frame — the
    * 8-byte column every standing-index write shapes.
    */
  private def substringHashes(docs: DataFrame, w: Int): DataFrame = {
    org.apache.spark.sql.graft.Bridge.register(docs.sparkSession)
    docs.withColumn("ws", split(lower(col("text")), " "))
      .filter(size(col("ws")) >= w)
      .select(explode(expr(s"gram_hashes60(ws, $w)")).as("h"))
      .distinct()
  }

  /** Build the STANDING window-hash index for the streaming substring
    * probe: the distinct w-token window hashes of the standing corpus,
    * persisted as one 8-byte column — the substring-granularity twin
    * of dedup_incremental's band index. A save is a FULL rebuild: the
    * segment store resets to generation 0.
    */
  private[graft] def substringIndexSave(docs: DataFrame, w: Int, dir: String): Unit =
    HashStore.save(dir, substringHashes(docs, w))

  /** Grow the standing index WITHOUT a rebuild: land one committed
    * batch's distinct window hashes as a batchId-keyed segment the
    * loader unions with the base — so `stream_dedup_substring` tracks
    * a growing corpus at cost ∝ batch (the full-rewrite save is n·w
    * hashing over everything). Same replay contract as ivfAppend:
    * idempotent per batchId, no-op at or below the compaction
    * watermark, ids monotonically increasing. Cross-segment duplicate
    * hashes are tolerated (a hash may enter through two batches): the
    * probe dedups its batch-bounded flagged set, and
    * `HashStore.compact` restores the distinct invariant.
    */
  private[graft] def substringIndexAppend(docs: DataFrame, w: Int, dir: String,
      batchId: Long): Boolean =
    HashStore.append(docs.sparkSession, dir, substringHashes(docs, w), batchId)

  /** One micro-batch of the streaming substring probe: the batch's
    * rolling window hashes flagged by EXISTENCE in the standing index
    * (one narrow scan of the 8-byte hash column × the broadcast batch
    * grams — the standing index never shuffles, and the batch side is
    * batch-bounded), then the same gap-tolerance-(w-1) islands merge
    * as [[substringDupSpans]], per arriving doc. Emits
    * (doc_id, start_tok, end_tok, n_win) for spans of the ARRIVING
    * docs duplicated against the standing corpus — within-batch
    * repetition is intentionally not flagged (that is the batch pass's
    * job at the next rebuild; the oracle mirrors batch × standing
    * exactly).
    */
  private[graft] def substringProbeBatch(spark: SparkSession, idxDir: String,
      df: DataFrame, w: Int): DataFrame = {
    org.apache.spark.sql.graft.Bridge.register(spark)
    val grams = df
      .withColumn("ws", split(lower(col("text")), " "))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), posexplode(expr(s"gram_hashes60(ws, $w)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    // the standing read is base ∪ committed append segments; a hash
    // seen through two segments would flag a batch gram twice, so the
    // (batch-bounded) flagged set dedups — broadcasting the batch side
    // still keeps the corpus-sized leg shuffle-free
    val flagged = HashStore.load(spark, idxDir)
      .join(broadcast(grams), Seq("h"))
      .select("doc_id", "pos")
      .distinct()
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > (w - 1), 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + (w - 1)).as("end_tok"),
        count(lit(1)).as("n_win"))
      .select("doc_id", "start_tok", "end_tok", "n_win")
  }

  def oracles: Map[String, String] = baseOracles +
    ("dedup_summary" ->
      s"""WITH ex AS (SELECT * FROM (${baseOracles("dedup_exact")}) q1),
         |mh AS (SELECT * FROM (${baseOracles("dedup_minhash_lsh")}) q2),
         |sh AS (SELECT * FROM (${baseOracles("dedup_simhash")}) q3)
         |SELECT * FROM (
         |  SELECT 'exact' AS method, COUNT(*) AS n_found,
         |    CAST(SUM(n_copies) AS BIGINT) AS n_docs FROM ex
         |  UNION ALL
         |  SELECT 'minhash_lsh', COUNT(*),
         |    (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM
         |      (SELECT doc_a AS d FROM mh UNION ALL SELECT doc_b FROM mh) u)
         |  FROM mh
         |  UNION ALL
         |  SELECT 'simhash', COUNT(*),
         |    (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM
         |      (SELECT doc_a AS d FROM sh UNION ALL SELECT doc_b FROM sh) u)
         |  FROM sh) t
         |ORDER BY method""".stripMargin)

  private lazy val baseOracles: Map[String, String] = Map(
    // recon_index_bands replayed arithmetically from the fixture's
    // construction: every indexed document carries exactly one bucket
    // per band (4 bands), the % 20 = 0 injected batch landed twice
    // (dup), % 20 = 10 ids are tombstoned or never appended (missing),
    // the % 23 = 5 negative fabrications match nothing (orphans); 2
    // append segments + 1 delete batch, never compacted
    "recon_index_bands" ->
      s"""WITH docs AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, str_split(lower(text), ' ') AS ws
         |    FROM (${CorpusSql}) c) t
         |  WHERE len(ws) >= 3),
         |inv AS (
         |  SELECT 'append_segments' AS invariant, CAST(2 AS BIGINT) AS value
         |  UNION ALL SELECT 'dup_keys',
         |    (SELECT CAST(4 * COUNT(*) AS BIGINT) FROM docs
         |     WHERE doc_id >= 1000000 AND doc_id % 20 = 0)
         |  UNION ALL SELECT 'foreign_in_index', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'missing_from_index',
         |    (SELECT CAST(4 * COUNT(*) AS BIGINT) FROM docs
         |     WHERE doc_id % 20 = 10)
         |  UNION ALL SELECT 'orphan_tombstones',
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM docs
         |     WHERE doc_id < 1000000 AND doc_id % 23 = 5)
         |  UNION ALL SELECT 'served_rows',
         |    CAST((SELECT 4 * COUNT(*) FROM docs
         |          WHERE doc_id < 1000000 AND NOT doc_id % 20 = 10)
         |      + (SELECT 8 * COUNT(*) FROM docs
         |         WHERE doc_id >= 1000000 AND doc_id % 20 = 0) AS BIGINT)
         |  UNION ALL SELECT 'stale_segments', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'watermark', CAST(-1 AS BIGINT))
         |SELECT 'bands' AS store, invariant, value FROM inv
         |ORDER BY store, invariant""".stripMargin,

    "dedup_exact" ->
      s"""SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM (SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS h
         |      FROM ($CorpusSql) c) t
         |GROUP BY h HAVING COUNT(*) > 1
         |ORDER BY keep_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH docs AS (
         |  SELECT doc_id, str_split(lower(text), ' ') AS ws FROM ($CorpusSql) c),
         |sh AS (
         |  SELECT doc_id, $ShinglesSql AS shingles FROM docs WHERE len(ws) >= 3),
         |sig AS (
         |  SELECT doc_id,
         |    list_transform(range(0, $NumPerm), p ->
         |      list_min(list_transform(
         |        list_transform(shingles, sh2 -> ('0x' || substr(md5(sh2), 1, 15))::BIGINT),
         |        h -> ((h % 1073741789) * ((40503 * (p + 1)) % 1073741789) + p) % 1073741789))) AS sig
         |  FROM sh),
         |bands AS (
         |  SELECT doc_id, b - 1 AS band,
         |    md5(array_to_string(sig[(b-1)*$BandRows+1:(b-1)*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig, range(1, ${NumPerm / BandRows + 1}) r(b)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         |    len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
         |FROM cands
         |JOIN sh sa ON sa.doc_id = doc_a
         |JOIN sh sb ON sb.doc_id = doc_b
         |WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         |    len(list_distinct(sa.shingles || sb.shingles)) >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH docs AS (
         |  SELECT doc_id, list_distinct(str_split(lower(text), ' ')) AS words
         |  FROM ($CorpusSql) c),
         |hs AS (
         |  SELECT doc_id,
         |    list_transform(words, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS whs
         |  FROM docs),
         |sim AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(range(0, 60), b ->
         |      CASE WHEN list_sum(list_transform(whs, h ->
         |          CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         |        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
         |  FROM hs),
         |chunks AS (
         |  SELECT doc_id, simhash, j AS chunk_idx,
         |    (simhash // CAST(pow(2, j * 15) AS BIGINT)) % 32768 AS chunk
         |  FROM sim, range(0, 4) r(j)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    bit_count(xor(a.simhash, b.simhash)) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM pairs
         |WHERE hamming <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, source, str_split(lower(text), ' ') AS ws FROM documents),
         |sh AS (
         |  SELECT doc_id, lang, source, $ShinglesSql AS shingles
         |  FROM docs WHERE len(ws) >= 3),
         |sig AS (
         |  SELECT doc_id,
         |    list_transform(range(0, $NumPerm), p ->
         |      list_min(list_transform(
         |        list_transform(shingles, sh2 -> ('0x' || substr(md5(sh2), 1, 15))::BIGINT),
         |        h -> ((h % 1073741789) * ((40503 * (p + 1)) % 1073741789) + p) % 1073741789))) AS sig
         |  FROM sh),
         |bands AS (
         |  SELECT doc_id, b - 1 AS band,
         |    md5(array_to_string(sig[(b-1)*$NgramBandRows+1:(b-1)*$NgramBandRows+$NgramBandRows], ',')) AS bucket
         |  FROM sig, range(1, ${NumPerm / NgramBandRows + 1}) r(b)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, sa.lang AS lang,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         |    len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
         |FROM cands
         |JOIN sh sa ON sa.doc_id = doc_a
         |JOIN sh sb ON sb.doc_id = doc_b
         |WHERE sa.lang = sb.lang AND sa.source = sb.source
         |  AND CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         |    len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // label-scoped cell-bucketed near-dup: the shared semantic-cell
    // chain over the PLAIN corpus, candidates = same (cell, label),
    // exact e6-rounded cosine, top-3 per label (the oracle's single
    // label window equals the Spark side's two-level selection — each
    // pair lives in exactly one cell, so the per-cell top-3 prefilter
    // is lossless)
    "dedup_embedding" ->
      s"""${semanticCellChainSql("SELECT vec_id, embedding FROM embeddings")},
         |labels AS (SELECT vec_id, label FROM embeddings),
         |pairs AS (
         |  SELECT al.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    $cellPairCosSql
         |  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN labels al ON al.vec_id = a.vec_id
         |  JOIN labels bl ON bl.vec_id = b.vec_id
         |  WHERE al.label = bl.label),
         |scored AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
         |                               ORDER BY cos DESC, vec_a, vec_b) AS rk
         |  FROM pairs)
         |SELECT label, vec_a, vec_b, cos, rk FROM scored
         |WHERE rk <= 3 ORDER BY label, rk""".stripMargin,

    // the full SemDeDup chain in SQL: injected-copy corpus -> the
    // shared semantic-cell chain (dynamic k, rank-based seed
    // selection, one fixed-point Lloyd step, final assignment) ->
    // within-cell pairs -> e6-rounded cosine threshold
    "dedup_semantic" ->
      s"""${semanticCellChainSql(
             """SELECT vec_id, embedding FROM embeddings
               |  UNION ALL
               |  SELECT vec_id + 1000000,
               |    list_transform(range(1, len(embedding) + 1),
               |      i -> CASE WHEN i = 1 THEN -embedding[i] ELSE embedding[i] END)
               |  FROM embeddings WHERE vec_id % 10 = 0""".stripMargin,
             countFrom = "embeddings")},
         |pairs AS (
         |  SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    $cellPairCosSql
         |  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT cell, vec_a, vec_b, cos FROM pairs WHERE cos >= 0.8
         |ORDER BY cell, vec_a, vec_b""".stripMargin,

    "dedup_keep_best" ->
      """WITH c AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text,
        |    CASE WHEN doc_id % 20 = 0 THEN 'curated' ELSE 'mirror' END
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h,
        |    CASE WHEN source = 'curated' THEN 0
        |         WHEN source = 'mirror' THEN 1000
        |         ELSE 1 + CAST(substr(source, 4, 8) AS BIGINT) END AS prio
        |  FROM c),
        |g AS (
        |  SELECT doc_id, source,
        |    FIRST_VALUE(doc_id) OVER (PARTITION BY h ORDER BY prio, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id,
        |    CAST(COUNT(*) OVER (PARTITION BY h) AS BIGINT) AS n_copies
        |  FROM r)
        |SELECT doc_id, source, keep_id, n_copies,
        |  CAST(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM g WHERE n_copies > 1 ORDER BY doc_id""".stripMargin,

    // the same rolling-window chain in SQL: 1-based window positions via
    // the scalar list form unnest(range(...)) (the range() TABLE
    // function rejects lateral column args), md5-60 window hashes,
    // occurrence count over the hash, gaps-and-islands span merge with
    // gap tolerance w-1 (windows overlap iff starts differ <= w-1)
    "dedup_substring" ->
      s"""WITH t AS (
         |  SELECT doc_id, str_split(lower(text), ' ') AS ws FROM ($CorpusSql) c),
         |u AS (
         |  SELECT doc_id, ws, unnest(range(1, len(ws) - ${SubstringW - 2})) AS pos
         |  FROM t WHERE len(ws) >= $SubstringW),
         |g AS (
         |  SELECT doc_id, pos,
         |    ('0x' || substr(md5(array_to_string(ws[pos:pos+${SubstringW - 1}], ' ')), 1, 15))::BIGINT AS h
         |  FROM u),
         |dup AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS occ FROM g) o
         |  WHERE occ > 1),
         |brk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |              > ${SubstringW - 1} THEN 1 ELSE 0 END AS brk
         |  FROM dup),
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM brk)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
         |  CAST(MAX(pos) + ${SubstringW - 1} AS BIGINT) AS end_tok,
         |  CAST(COUNT(*) AS BIGINT) AS n_win
         |FROM isl GROUP BY doc_id, grp
         |ORDER BY doc_id, start_tok""".stripMargin,

    // the apply chain: same window hashes, canonical-first exemption
    // (rk = 1 over the hash ordered (doc_id, pos)), island span merge,
    // then per-doc reconstruction — string_agg over kept tokens
    // (aggregates skip the NULLs the CASE leaves for dropped tokens)
    "dedup_substring_apply" ->
      s"""WITH t AS (
         |  SELECT doc_id, str_split(lower(text), ' ') AS ws FROM ($CorpusSql) c),
         |u AS (
         |  SELECT doc_id, ws, unnest(range(1, len(ws) - ${SubstringW - 2})) AS pos
         |  FROM t WHERE len(ws) >= $SubstringW),
         |g AS (
         |  SELECT doc_id, pos,
         |    ('0x' || substr(md5(array_to_string(ws[pos:pos+${SubstringW - 1}], ' ')), 1, 15))::BIGINT AS h
         |  FROM u),
         |f AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS occ,
         |      ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
         |    FROM g) o
         |  WHERE occ > 1 AND rk > 1),
         |brk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |              > ${SubstringW - 1} THEN 1 ELSE 0 END AS brk
         |  FROM f),
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM brk),
         |sp AS (
         |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${SubstringW - 1} AS e
         |  FROM isl GROUP BY doc_id, grp),
         |tok AS (
         |  SELECT doc_id, pos, ws[pos] AS wtok FROM (
         |    SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM t) q),
         |keep AS (
         |  SELECT k.doc_id, k.pos, k.wtok,
         |    NOT EXISTS (SELECT 1 FROM sp
         |      WHERE sp.doc_id = k.doc_id AND k.pos BETWEEN sp.s AND sp.e) AS kept
         |  FROM tok k)
         |SELECT doc_id,
         |  COALESCE(string_agg(CASE WHEN kept THEN wtok END, ' ' ORDER BY pos), '') AS clean_text,
         |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS removed_tok
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
