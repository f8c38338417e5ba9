package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.sources.Tables

/** §2 E (third wave) — corpus-curation operators a continuously-ingesting
  * training-data pipeline runs on every new batch: chunking for the
  * embedding pipeline, incremental dedup of a new batch against the
  * standing corpus, and deterministic quality-weighted sampling.
  *
  * Same design rules as the rest of the family: per-document work is a
  * narrow codegen'd projection (zero shuffle, no UDFs); the one pairwise
  * op probes a precomputable LSH band index, never the corpus cross
  * product.
  */
object CurationSuite {

  /** Chunking geometry for text_chunk_split: fixed window, fixed stride
    * (overlap = ChunkSize - Stride chars between consecutive chunks).
    */
  private val ChunkSize = 200
  private val Stride = 150

  /** The shared incremental-dedup oracle chain, parameterized by
    * which doc_ids sit on the PROBE side (`newPred`, alias n) and
    * which the STANDING index serves (`standingPred`, alias c) — one
    * source of truth for the fused, persisted, appended, and
    * tombstoned variants (only the band-join predicates move).
    */
  private[graft] def incrementalOracleSql(newPred: String, standingPred: String): String =
    s"""WITH docs AS (
       |  SELECT doc_id, str_split(lower(text), ' ') AS ws FROM (${DedupSuite.CorpusSql}) c),
       |sh AS (
       |  SELECT doc_id, ${DedupSuite.ShinglesSql} AS shingles FROM docs WHERE len(ws) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 12), p ->
       |      list_min(list_transform(
       |        list_transform(shingles, sh2 -> ('0x' || substr(md5(sh2), 1, 15))::BIGINT),
       |        h -> ((h % 1073741789) * ((40503 * (p + 1)) % 1073741789) + p) % 1073741789))) AS sig
       |  FROM sh),
       |bands AS (
       |  SELECT doc_id, b - 1 AS band,
       |    md5(array_to_string(sig[(b-1)*3+1:(b-1)*3+3], ',')) AS bucket
       |  FROM sig, range(1, 5) r(b)),
       |cands AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS dup_of
       |  FROM bands n JOIN bands c
       |    ON n.band = c.band AND n.bucket = c.bucket
       |   AND ($newPred) AND ($standingPred))
       |SELECT new_id, dup_of,
       |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |    len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
       |FROM cands
       |JOIN sh sa ON sa.doc_id = new_id
       |JOIN sh sb ON sb.doc_id = dup_of
       |WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |    len(list_distinct(sa.shingles || sb.shingles)) >= 0.7
       |ORDER BY new_id, dup_of""".stripMargin

  /** The probe-then-verify tail every incremental-dedup variant
    * shares: candidate (new_id, dup_of) pairs re-join their shingle
    * sets (candidates only — the pairwise work the band join already
    * bounded) and keep exact-Jaccard >= 0.7.
    */
  private[graft] def verifyCands(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("shingles", "sh_n"), "new_id")
      .join(sh.withColumnRenamed("doc_id", "dup_of")
        .withColumnRenamed("shingles", "sh_c"), "dup_of")
      .withColumn("jaccard", expr("jaccard_sim(sh_n, sh_c)"))
      .filter(col("jaccard") >= 0.7)
      .select("new_id", "dup_of", "jaccard")
      .orderBy("new_id", "dup_of")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Overlapping fixed-window chunking — the document→passage step an
    // embedding/RAG pipeline runs before encoding (each chunk becomes
    // one embedding row). Pure per-row explode of substring windows:
    // zero shuffle, linear in bytes, scan-parallel at any corpus size.
    // Chunk count is closed-form (1 + ceil((n-W)/S)), so no iterative
    // driver logic; the final short chunk keeps the tail.
    "text_chunk_split" -> { (s, d) =>
      // Delegates to the public kernel (graft.api.Graft.chunkSplit).
      graft.api.Graft.chunkSplit(Tables.documents(s, d), "text", "n_chars",
          ChunkSize, Stride)
        .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          col("start_off").cast("long").as("start_off"),
          length(col("chunk")).cast("long").as("chunk_len"),
          Portable.rowHash60(col("chunk")).as("chunk_h"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Incremental dedup: the new batch (the injected +1000000 copies)
    // probes the STANDING corpus's MinHash band index — the join is
    // batch-bands × corpus-bands on (band, bucket), never corpus ×
    // corpus. At 100 TB the corpus band index is a persisted table
    // partitioned by (band, bucket); each arriving batch only hashes
    // its own documents and probes it — per-batch cost is proportional
    // to the batch, not the corpus. Verification re-joins shingle sets
    // for candidate pairs only (same kernel dedup_minhash_lsh proved).
    "dedup_incremental" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      // eager localCheckpoint, not persist: blocks release via the
      // ContextCleaner when the plan is dereferenced (no CacheManager leak)
      val sh = DedupSuite.shingleSets(s, d).localCheckpoint()
      // hot-bucket gate: a degenerate standing-index bucket would make
      // every future batch pay quadratic probe cost against it
      val bands = DedupSuite.gateHotBuckets(
        DedupSuite.minhashBands(sh), Seq("band", "bucket"))
      val corpusBands = bands.filter(col("doc_id") < 1000000L)
      val batchBands = bands.filter(col("doc_id") >= 1000000L)
      val cands = batchBands.as("n").join(corpusBands.as("c"),
          col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
        .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
        .dropDuplicates("new_id", "dup_of")
      verifyCands(cands, sh)
    },

    // the standing band index PERSISTED — the shape the fused entry's
    // doc promises at 100 TB: the corpus's (doc_id, band, bucket) rows
    // live on disk (hot buckets gated at write time, so probes are
    // join-only); an arriving batch hashes ITSELF and probes the
    // stored index. Deterministic hash/band kernels + lossless parquet
    // round-trip ⇒ value-identical to the fused entry, so its oracle
    // checks the persisted path end-to-end.
    "dedup_incremental_persisted" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val sh = DedupSuite.shingleSets(s, d).localCheckpoint()
      val dir = graft.sources.Scratch.perLake("band_index_persisted", d)
      DedupSuite.bandIndexSave(
        DedupSuite.minhashBands(sh.filter(col("doc_id") < 1000000L)), dir)
      val batchBands = DedupSuite.gateHotBuckets(
        DedupSuite.minhashBands(sh.filter(col("doc_id") >= 1000000L)),
        Seq("band", "bucket"))
      val cands = batchBands.as("n")
        .join(DedupSuite.BandStore.load(s, dir).as("c"),
          col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
        .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
        .dropDuplicates("new_id", "dup_of")
      verifyCands(cands, sh)
    },

    // the living band index's GROWTH leg: half the arriving docs were
    // already committed to the standing index as a batchId-keyed
    // append segment (cost ∝ batch — the standing rows never re-hash);
    // the other half probes base ∪ segment. The oracle is the same
    // chain with the appended docs moved to the standing side.
    "dedup_incremental_append" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val sh = DedupSuite.shingleSets(s, d).localCheckpoint()
      val dir = graft.sources.Scratch.perLake("band_index_append", d)
      DedupSuite.bandIndexSave(
        DedupSuite.minhashBands(sh.filter(col("doc_id") < 1000000L)), dir)
      // injected ids are 1000000 + multiples of 10, so % 20 splits
      // them into two NONEMPTY halves ({0, 10} residues)
      DedupSuite.bandIndexAppend(
        DedupSuite.minhashBands(sh.filter(
          col("doc_id") >= 1000000L && col("doc_id") % 20 === 0)), dir,
        batchId = 0L)
      val batchBands = DedupSuite.gateHotBuckets(
        DedupSuite.minhashBands(sh.filter(
          col("doc_id") >= 1000000L && col("doc_id") % 20 === 10)),
        Seq("band", "bucket"))
      val cands = batchBands.as("n")
        .join(DedupSuite.BandStore.load(s, dir).as("c"),
          col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
        .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
        .dropDuplicates("new_id", "dup_of")
      verifyCands(cands, sh)
    },

    // the living band index's DELETE leg (GDPR for the dedup corpus):
    // tombstoned documents stop appearing as anyone's dup_of the
    // moment the tombstone lands — masked at load, purged at the next
    // compaction. Oracle = the chain with the deleted ids excluded
    // from the standing side.
    "dedup_incremental_delete" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val sh = DedupSuite.shingleSets(s, d).localCheckpoint()
      val dir = graft.sources.Scratch.perLake("band_index_delete", d)
      DedupSuite.bandIndexSave(
        DedupSuite.minhashBands(sh.filter(col("doc_id") < 1000000L)), dir)
      DedupSuite.BandStore.delete(s, dir,
        sh.filter(col("doc_id") < 1000000L && col("doc_id") % 20 === 0)
          .select("doc_id"), "doc_id", batchId = 0L)
      val batchBands = DedupSuite.gateHotBuckets(
        DedupSuite.minhashBands(sh.filter(col("doc_id") >= 1000000L)),
        Seq("band", "bucket"))
      val cands = batchBands.as("n")
        .join(DedupSuite.BandStore.load(s, dir).as("c"),
          col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
        .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
        .dropDuplicates("new_id", "dup_of")
      verifyCands(cands, sh)
    },

    // Span-level (sentence/paragraph) exact dedup — the C4/RefinedWeb
    // pass that removes boilerplate repeated ACROSS documents, which
    // document-level dedup can't see. Explode to spans, hash, count
    // distinct docs per span hash: explode + two map-side-combining
    // shuffles, no joins, no pairwise work — linear at any corpus size.
    // Output carries the 60-bit span hash (32 bytes/span through the
    // shuffle), never the span text.
    "dedup_span_exact" -> { (s, d) =>
      DedupSuite.corpusWithDups(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), "\\. ")).as("span"))
        .filter(length(col("span")) >= 20)
        .select(col("doc_id"), Portable.rowHash60(col("span")).as("span_h"))
        .distinct()
        .groupBy("span_h")
        .agg(countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("span_h")
    },

    // Asymmetric containment |A∩B|/|A| over the same MinHash band
    // candidates as dedup_minhash_lsh: a near-1 containment with a low
    // symmetric Jaccard means one document WRAPS the other (boilerplate
    // around a copied core) — a case symmetric similarity under-weighs.
    // Candidate generation and the shingle re-join are the proven LSH
    // kernel; only the verification formula differs.
    "dedup_containment" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      // eager localCheckpoint, not persist: blocks release via the
      // ContextCleaner when the plan is dereferenced (no CacheManager leak)
      val sh = DedupSuite.shingleSets(s, d).localCheckpoint()
      val bands = DedupSuite.gateHotBuckets(
        DedupSuite.minhashBands(sh), Seq("band", "bucket"))
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      cands
        .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("c_ab",
          floor(col("inter").cast("double") / size(col("sh_a")) * 1e6 + 0.5) / 1e6)
        .withColumn("c_ba",
          floor(col("inter").cast("double") / size(col("sh_b")) * 1e6 + 0.5) / 1e6)
        .filter(greatest(col("c_ab"), col("c_ba")) >= 0.8)
        .select("doc_a", "doc_b", "c_ab", "c_ba")
        .orderBy("doc_a", "doc_b")
    },

    // Fuzzy (edit-distance) dedup: SimHash chunk collisions generate
    // candidates, LEVENSHTEIN verifies — the char-level metric that
    // catches small in-place edits token-set metrics (jaccard, hamming
    // on word hashes) under-weigh. Document text joins in for CANDIDATE
    // PAIRS ONLY; the band shuffle carries (doc_id, chunk) — at 100 TB
    // the O(len²) edit-distance work is bounded by collision count,
    // never the corpus square.
    "dedup_fuzzy_levenshtein" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      // spread: the per-word md5 signature AND the per-pair banded
      // levenshtein verify both inherit this frame's partitioning via
      // the joins below — 2 fixture tasks would serialize the O(k·len)
      // edit-distance work
      val text = graft.sources.Tables.spread(s, DedupSuite.corpusWithDups(s, d))
      val docs = text
        .withColumn("words", array_distinct(split(lower(col("text")), " ")))
        .withColumn("whs", expr(
          "transform(words, w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT))"))
        .withColumn("simhash", expr("simhash60(whs)"))
        .select(col("doc_id"), col("simhash"), length(col("text")).as("len"))
      val chunks = docs.select(col("doc_id"), col("len"),
          posexplode(expr(
            "transform(sequence(0, 3), j -> (simhash div CAST(pow(2, j * 15) AS BIGINT)) % 32768)")))
        .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
        .transform(DedupSuite.gateHotBuckets(_, Seq("chunk_idx", "chunk")))
        .localCheckpoint()
      // |len(a) - len(b)| is an exact lower bound on edit distance, and
      // len rides the band rows (8 bytes) — so hopeless pairs die IN the
      // join, before the pair dedup and the two text joins ever shuffle
      // them. Then the THRESHOLD levenshtein computes only the ±30 band
      // (O(k·len), returns -1 beyond) instead of the full matrix — same
      // results, 30×+ less arithmetic; without these gates this query
      // was 400 s at sf0.1 (chunk collisions × full-matrix distance).
      chunks.as("a").join(chunks.as("b"),
          col("a.chunk_idx") === col("b.chunk_idx") && col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
        .filter(abs(col("a.len") - col("b.len")) <= 30)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        // widen the candidate pairs BEFORE the broadcast text joins: AQE
        // coalesces the dedup shuffle by BYTES (≈3 partitions for ~0.5M
        // 16-byte pairs), the broadcast joins preserve that partitioning,
        // and Catalyst pushes the edit-distance filter into the join
        // probe — so the O(k·len) verify would run on 3 of 32 cores. An
        // explicit (AQE-exempt) repartition of the tiny pair rows makes
        // the probe — and with it the leven evaluation — 32-wide; the
        // pushed filter then prunes to result rows before anything
        // text-sized shuffles.
        .repartition(s.sparkContext.defaultParallelism)
        .join(text.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
        .join(text.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
        // native leven_band: bit-equal to levenshtein(a, b, 30)
        // (LevenBandSpec) with thread-local DP rows and an ASCII byte
        // fast path — the builtin allocates per call at ~220 µs/pair,
        // which IS this operator's leading cost at any scale
        .withColumn("edit_dist", expr("leven_band(text_a, text_b, 30)"))
        .filter(col("edit_dist") >= 0 && col("edit_dist") <= 30)
        .select("doc_a", "doc_b", "edit_dist")
        .orderBy("doc_a", "doc_b")
    },

    // Deterministic quality-weighted (importance) sampling: each doc is
    // kept with probability equal to its quality score, decided by its
    // own 60-bit hash — no RNG, no driver state, reproducible across
    // engines and re-runs, embarrassingly parallel. The score is pure
    // rational arithmetic (length saturation × lexical diversity), so
    // both engines compute the identical threshold.
    "sample_quality_weighted" -> { (s, d) =>
      // Delegates to the public kernel (graft.api.Graft.weightedHashSample);
      // the quality score is pure rational arithmetic so both engines
      // compute the identical acceptance threshold.
      val scored = Tables.documents(s, d)
        .withColumn("ws", split(lower(col("text")), " "))
        .withColumn("raw",
          (least(col("n_chars"), lit(500)).cast("double") / lit(500.0)) *
            (size(array_distinct(col("ws"))).cast("double") / size(col("ws"))))
      graft.api.Graft.weightedHashSample(scored, "doc_id", col("raw"))
        .select(col("doc_id"), col("lang"),
          (floor(col("raw") * lit(1e6) + lit(0.5)) / lit(1e6)).as("q"))
        .orderBy("doc_id")
    }
  )

  def oracles: Map[String, String] = Map(
    "text_chunk_split" ->
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    CASE WHEN n_chars <= $ChunkSize THEN CAST(1 AS BIGINT)
         |         ELSE 1 + (n_chars - $ChunkSize + ${Stride - 1}) // $Stride END AS n_chunks
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id, text, unnest(range(0, n_chunks)) AS i FROM d)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(i * $Stride AS BIGINT) AS start_off,
         |  CAST(length(substr(text, CAST(i * $Stride + 1 AS INT), $ChunkSize)) AS BIGINT) AS chunk_len,
         |  ('0x' || substr(md5(substr(text, CAST(i * $Stride + 1 AS INT), $ChunkSize)), 1, 15))::BIGINT AS chunk_h
         |FROM ex
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "dedup_incremental" -> incrementalOracleSql(
      "n.doc_id >= 1000000", "c.doc_id < 1000000"),

    // the persisted probe is value-identical to the fused chain
    // (deterministic kernels, lossless parquet round-trip)
    "dedup_incremental_persisted" -> incrementalOracleSql(
      "n.doc_id >= 1000000", "c.doc_id < 1000000"),

    // appended docs move to the STANDING side of the band join
    // (injected ids are 1000000 + multiples of 10 → % 20 ∈ {0, 10})
    "dedup_incremental_append" -> incrementalOracleSql(
      "n.doc_id >= 1000000 AND n.doc_id % 20 = 10",
      "(c.doc_id < 1000000 OR c.doc_id % 20 = 0)"),

    // tombstoned docs leave the standing side
    "dedup_incremental_delete" -> incrementalOracleSql(
      "n.doc_id >= 1000000",
      "c.doc_id < 1000000 AND NOT (c.doc_id % 20 = 0)"),

    "dedup_span_exact" ->
      s"""WITH spans AS (
         |  SELECT DISTINCT doc_id,
         |    ('0x' || substr(md5(span), 1, 15))::BIGINT AS span_h
         |  FROM (SELECT doc_id, unnest(str_split(lower(text), '. ')) AS span
         |        FROM (${DedupSuite.CorpusSql}) c) t
         |  WHERE length(span) >= 20)
         |SELECT span_h, COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
         |FROM spans GROUP BY span_h HAVING COUNT(DISTINCT doc_id) > 1
         |ORDER BY span_h""".stripMargin,

    "dedup_containment" ->
      s"""WITH docs AS (
         |  SELECT doc_id, str_split(lower(text), ' ') AS ws FROM (${DedupSuite.CorpusSql}) c),
         |sh AS (
         |  SELECT doc_id, ${DedupSuite.ShinglesSql} AS shingles FROM docs WHERE len(ws) >= 3),
         |sig AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 12), p ->
         |      list_min(list_transform(
         |        list_transform(shingles, sh2 -> ('0x' || substr(md5(sh2), 1, 15))::BIGINT),
         |        h -> ((h % 1073741789) * ((40503 * (p + 1)) % 1073741789) + p) % 1073741789))) AS sig
         |  FROM sh),
         |bands AS (
         |  SELECT doc_id, b - 1 AS band,
         |    md5(array_to_string(sig[(b-1)*3+1:(b-1)*3+3], ',')) AS bucket
         |  FROM sig, range(1, 5) r(b)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         |SELECT * FROM (
         |  SELECT doc_a, doc_b,
         |    FLOOR(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |      / len(sa.shingles) * 1e6 + 0.5) / 1e6 AS c_ab,
         |    FLOOR(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |      / len(sb.shingles) * 1e6 + 0.5) / 1e6 AS c_ba
         |  FROM cands
         |  JOIN sh sa ON sa.doc_id = doc_a
         |  JOIN sh sb ON sb.doc_id = doc_b) t
         |WHERE greatest(c_ab, c_ba) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_fuzzy_levenshtein" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text, list_distinct(str_split(lower(text), ' ')) AS words
         |  FROM (${DedupSuite.CorpusSql}) c),
         |hs AS (
         |  SELECT doc_id, text,
         |    list_transform(words, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS whs
         |  FROM docs),
         |sim AS (
         |  SELECT doc_id, text,
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
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, levenshtein(sa.text, sb.text) AS edit_dist
         |FROM pairs
         |JOIN sim sa ON sa.doc_id = doc_a
         |JOIN sim sb ON sb.doc_id = doc_b
         |WHERE levenshtein(sa.text, sb.text) <= 30
         |ORDER BY doc_a, doc_b""".stripMargin,

    "sample_quality_weighted" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    CAST(floor((CAST(CASE WHEN n_chars < 500 THEN n_chars ELSE 500 END AS DOUBLE) / 500.0) *
        |      (CAST(len(list_distinct(str_split(lower(text), ' '))) AS DOUBLE)
        |        / len(str_split(lower(text), ' '))) * 1e6 + 0.5) AS BIGINT) AS thr
        |  FROM documents)
        |SELECT doc_id, lang, CAST(thr AS DOUBLE) / 1e6 AS q FROM q
        |WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < thr
        |ORDER BY doc_id""".stripMargin
  )
}
