package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2 E (continued) — second wave of training-data-pipeline operators:
  * repetition filtering, token-budget sharding, embedding quantization,
  * and an LSH-bucketed ANN variant.
  *
  * Same design rules as TextSuite/DedupSuite/AnnSuite: per-document
  * work is a narrow higher-order-function projection (zero shuffle,
  * whole-stage codegen, no UDFs); anything pairwise goes through a
  * bucketed candidate join whose shuffle keys are small and near-unique.
  */
object LlmExtra {

  private def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Tokens per training shard for text_token_shards. */
  private[graft] val ShardBudget = 2048L

  // PII patterns shared with the public API (ref analog: the
  // typed-column masks in pii.py, applied to unstructured text as an
  // LLM-corpus redaction pass).
  private val EmailRe = graft.api.Graft.EmailRe
  private val SsnRe = graft.api.Graft.SsnRe
  private val PhoneRe = graft.api.Graft.PhoneRe

  /** Upper-triangle (i ≤ j, diagonal included) exact-integer covariance
    * cells (i, j, c = cov_e6) over an `embedding` array column of
    * dimension `dim` — `dim = 0` derives it from the data with one
    * bounded 1-row probe (the lake paths pin 64 to keep the plan
    * probe-free). One per-row pair explode with map-side combine: the
    * shuffle carries ≤ d(d+1)/2 · partitions rows at any corpus size;
    * per-dim sums ride the same pass via the i = j diagonal, then
    * broadcast-join back onto the pair rollup.
    */
  private[graft] def covUpperOf(df: DataFrame, dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim
      else df.agg(max(size(col("embedding"))).as("d")).head().getInt(0)
    val q = df.withColumn("qx", expr(
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"))
    val pairs = q.select(explode(expr(
        s"""flatten(transform(sequence(1, $d), i ->
          |  transform(sequence(i, $d), j -> struct(i AS i, j AS j,
          |    element_at(qx, i) * element_at(qx, j) AS p))))""".stripMargin)).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("sxy"), count(lit(1)).as("n"))
    val dims = q.select(posexplode(col("qx")))
      .groupBy((col("pos") + 1).as("k"))
      .agg(sum(col("col")).as("sx"))
    pairs
      .join(broadcast(dims.select(col("k").as("i"), col("sx").as("sx_i"))), "i")
      .join(broadcast(dims.select(col("k").as("j"), col("sx").as("sx_j"))), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        floor((col("n") * col("sxy") - col("sx_i") * col("sx_j")).cast("double")
          / (col("n").cast("double") * col("n").cast("double") * lit(1e8))
          * lit(1e6) + lit(0.5)).cast("long").as("c"))
  }

  /** Mirror upper-triangle cells across i = j into the full symmetric
    * matrix the power iteration consumes — d² tiny rows, not a second
    * corpus pass. Mirror AFTER any checkpoint of the upper cells, or
    * the union's two branches each re-run the corpus aggregate.
    */
  private[graft] def mirrorCells(upper: DataFrame): DataFrame =
    upper.unionByName(
      upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c")))

  /** `iters` rounds of exact-integer power iteration over (i, j, c)
    * covariance cells; see the emb_pca_power registry entry for the
    * scaling/overflow contract. Returns (dim, v_ppm).
    */
  private[graft] def pcaPowerOf(cells: DataFrame, iters: Int): DataFrame = {
    var v = cells.select(col("i").as("k")).distinct()
      .select(col("k"), lit(1000000L).as("v"))
    for (_ <- 1 to iters) {
      val u = cells
        .join(v.withColumnRenamed("k", "j"), "j")
        .groupBy(col("i").as("k"))
        .agg(sum(expr("c * v")).as("u"))
      val m = u.agg(greatest(expr("max(abs(u)) div 1000000"), lit(1L)).as("step"))
      v = u.crossJoin(broadcast(m))
        .select(col("k"), expr("u div step").as("v"))
        .localCheckpoint()
    }
    v.select(col("k").as("dim"), col("v").as("v_ppm")).orderBy("dim")
  }


  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gopher-style repetition signals (ref analog: the quality-filter
    // family in Rae et al. 2021 §A1.1, adapted to single-line docs):
    // duplicate-word fraction, most-frequent-word share, duplicate-
    // bigram fraction, and the composite "repetitive" gate. Pure per-row
    // array expressions — the top-word count is an O(distinct·n) HOF,
    // bounded by document length, scan-parallel at any corpus size.
    "text_repetition" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_words", size(col("ws")))
        .withColumn("n_distinct", size(array_distinct(col("ws"))))
        .withColumn("top_word_cnt", expr(
          "array_max(transform(array_distinct(ws), w -> size(filter(ws, x -> x = w))))"))
        .withColumn("grams", when(col("n_words") >= 2, expr(
            """transform(sequence(1, size(ws) - 1), i ->
              |  concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""".stripMargin))
          .otherwise(expr("array()")))
        .select(col("doc_id"), col("n_words"),
          r6(lit(1.0) - col("n_distinct").cast("double") / col("n_words"))
            .as("dup_word_frac"),
          r6(col("top_word_cnt").cast("double") / col("n_words")).as("top_word_frac"),
          when(col("n_words") >= 2,
              r6(lit(1.0) - size(array_distinct(col("grams"))).cast("double")
                / size(col("grams"))))
            .otherwise(lit(0.0)).as("dup_bigram_frac"))
        .withColumn("repetitive",
          (col("dup_word_frac") > 0.55) || (col("top_word_frac") > 0.12) ||
            (col("dup_bigram_frac") > 0.1))
        .orderBy("doc_id")
    },

    // Token-budget sharding: assign docs to fixed-token-budget training
    // shards by start offset in a deterministic (lang, doc_id) order —
    // the sequence-packing layout step before tokenized docs are written
    // as training shards. One shuffle (per-lang window); the running sum
    // is a streaming window, no buffering. At 100 TB the lang partition
    // is range-partitioned by doc_id — the same plan shape.
    "text_token_shards" -> { (s, d) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("shard_id",
          floor((col("cum") - col("n_tok")).cast("double") / lit(ShardBudget.toDouble))
            .cast("long"))
        .groupBy(col("lang"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("shard_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "shard_id")
    },

    // Embedding-table health check — the guardrail an embedding
    // pipeline runs before an index build: dimension consistency, zero/
    // collapsed vector count, and the squared-norm distribution (norm²
    // keeps the arithmetic rational — no sqrt near the oracle). One
    // narrow pass + a 1-row aggregate.
    "emb_health" -> { (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("n2", expr(
          """aggregate(embedding, CAST(0 AS DOUBLE),
            |  (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""".stripMargin))
        .withColumn("dim", size(col("embedding")).cast("long"))
        .agg(
          count(lit(1)).as("n_vectors"),
          countDistinct(col("dim")).as("n_distinct_dims"),
          min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
          sum(when(col("n2") === 0.0, 1L).otherwise(0L)).as("n_zero_vectors"),
          r6(min(col("n2"))).as("min_norm2"),
          r6(max(col("n2"))).as("max_norm2"),
          r6(graft.functions.Portable.dsum(col("n2")) / count(lit(1))).as("mean_norm2"))
    },

    // Int8 scalar quantization of the embedding column (the storage/
    // serving compression step before an ANN index ships): per-vector
    // absmax scale, round-half-up to [-127, 127], plus the max
    // reconstruction error. Narrow per-row HOFs; every arithmetic step
    // is single IEEE double ops so both engines quantize bit-identically.
    "emb_quantize" -> { (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("xd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("scale", expr("array_max(transform(xd, x -> abs(x)))"))
        .withColumn("q", when(col("scale") > 0.0, expr(
            "transform(xd, x -> floor(x / scale * 127.0 + 0.5))"))
          .otherwise(expr("transform(xd, x -> CAST(0 AS BIGINT))")))
        .select(col("vec_id"), size(col("xd")).as("n_dims"),
          r6(col("scale")).as("scale6"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("q_sum"),
          expr("array_min(q)").as("q_min"),
          expr("array_max(q)").as("q_max"),
          when(col("scale") > 0.0, r6(expr(
              """array_max(zip_with(q, xd,
                |  (qi, x) -> abs(CAST(qi AS DOUBLE) * scale / 127.0 - x)))""".stripMargin)))
            .otherwise(lit(0.0)).as("max_err6"))
        .orderBy("vec_id")
    },

    // Exact cross-dimension covariance, top pairs by magnitude — the
    // feature-correlation / anisotropy diagnostic an embedding pipeline
    // runs before an index build or a whitening step (two highly
    // covarying dimensions mean the encoder wastes capacity; a dominant
    // block signals collapse). ENGINE-PORTABLY exact: coordinates
    // quantize to 1e4 fixed point, the pair sums are exact BIGINTs
    // Top principal direction of the embedding covariance via THREE
    // exact-integer power-iteration steps — distributed linear algebra
    // without MLlib and without a single float: the heavy work is the
    // one covariance pass (same shuffle shape as emb_covariance_top —
    // the per-row 2080-cell explode with map-side combine); the
    // iteration itself runs on the 64×64 cov_e6 matrix (4096 tiny
    // rows), so K more steps cost K tiny joins, never another corpus
    // scan. Each step rescales v to ~±1e6 by integer division with the
    // max-|component| scalar (broadcast 1-row cross join): |cov_e6| ≤
    // 1e6·64 keeps u = C·v under 2^47, so nothing overflows in either
    // engine; integer division truncates toward zero in BOTH Spark
    // (div) and DuckDB (// on integers), so negatives stay portable.
    // Sign is pinned by the deterministic all-ones start. The oracle
    // unrolls the three steps as CTEs.
    "emb_pca_power" -> { (s, d) =>
      // checkpoint the UPPER cells, then mirror: the union's two
      // branches read the materialized blocks, so the corpus aggregate
      // runs once (checkpointing the mirrored union ran it twice)
      val up = covUpperOf(Tables.spread(s, Tables.embeddings(s, d)), 64)
        .localCheckpoint()
      pcaPowerOf(mirrorCells(up), 3)
    },

    // (|q|≤2^13, products ≤2^26·n — no overflow in either engine), and
    // the covariance closed form does its one double division at the
    // end. One explode of the 2080 (i≤j) pair products per row with
    // map-side combine — the shuffle carries ≤ 2080·partitions rows at
    // any corpus size; per-dim sums ride the SAME pass via the i=j
    // diagonal, then broadcast-join back onto the pair rollup.
    "emb_covariance_top" -> { (s, d) =>
      // i/j are BIGINT in covUpperOf to match DuckDB's range() element
      // type (the driver hash is type-sensitive); the (n·Sxy − Sx·Sy)
      // numerator stays an exact BIGINT until the closed-form division
      covUpperOf(Tables.spread(s, Tables.embeddings(s, d)), 64)
        .filter(col("i") < col("j"))
        .select(col("i"), col("j"), col("c").as("cov_e6"))
        .orderBy(abs(col("cov_e6")).desc, col("i"), col("j"))
        .limit(20)
    },

    // Distribution-drift monitor between two ingest cohorts (vec_id
    // parity stands in for before/after batches): per-label centroid on
    // each side, then the cosine between the paired centroids — the
    // embedding-space analog of recon's checksum compare, catching a
    // broken encoder or domain shift that row counts can't see. One
    // (label, side, dim) shuffle (map-side combine) + a dim-count-sized
    // join; both fixed-point-rounded so engines agree bit-for-bit.
    "emb_centroid_drift" -> { (s, d) =>
      val e = Tables.embeddings(s, d).withColumn("side", (col("vec_id") % 2).cast("int"))
      // eager localCheckpoint: both join branches derive from dims —
      // without it each side re-runs the scan+explode+aggregate over the
      // full table (Catalyst pushes the side filter into two separate
      // scans). The frame is labels × 2 × dims rows — trivially small —
      // and checkpoint blocks release via the ContextCleaner when the
      // plan is dereferenced (persist would leak until clearCache).
      val dims = e.select(col("label"), col("side"), posexplode(col("embedding")))
        .groupBy(col("label"), col("side"), col("pos"))
        .agg(graft.functions.Portable.davg(col("col").cast("double")).as("m"),
          count(lit(1)).as("n"))
        .localCheckpoint()
      val a = dims.filter(col("side") === 0).select(col("label"), col("pos"),
        col("m").as("ma"), col("n").as("na"))
      val b = dims.filter(col("side") === 1).select(col("label"), col("pos"),
        col("m").as("mb"), col("n").as("nb"))
      a.join(b, Seq("label", "pos"))
        .groupBy("label")
        .agg(
          max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(floor(col("ma") * col("mb") * lit(1e8) + lit(0.5)).cast("long")).as("dot_fp"),
          sum(floor(col("ma") * col("ma") * lit(1e8) + lit(0.5)).cast("long")).as("na_fp"),
          sum(floor(col("mb") * col("mb") * lit(1e8) + lit(0.5)).cast("long")).as("nb_fp"))
        .select(col("label"), col("n_a"), col("n_b"),
          when(col("na_fp") > 0 && col("nb_fp") > 0,
            r6(col("dot_fp").cast("double") /
              sqrt(col("na_fp").cast("double") * col("nb_fp").cast("double"))))
            .as("drift_cos"))
        .orderBy("label")
    },

    // LSH-bucketed ANN: the scale path next to ann_ivf — candidates are
    // vectors sharing any sign-bit band with the query (same 16-plane
    // matrix as dedup_embedding), then exact cosine re-ranks. The
    // candidate join keys on (band, bucket) — the corpus is never
    // crossed with the query set, and recall is the LSH collision curve
    // rather than nprobe coverage.
    "ann_lsh" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = DedupSuite.withSignBits(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
        .localCheckpoint()
      // hot-bucket gate on the corpus side: a degenerate bucket (a
      // near-constant embedding region) would hand every query that
      // lands in it an unbounded candidate list; beyond the cap the
      // bucket carries no ranking signal anyway. At real corpus sizes
      // the band bits scale up to keep occupancy under the cap — the
      // gate is the safety net, not the recall limiter.
      val bands = DedupSuite.gateHotBuckets(
        DedupSuite.signBands(e), Seq("band", "bucket"))
      val qBands = bands.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
      val cands = bands.join(broadcast(qBands), Seq("band", "bucket"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"))
        .dropDuplicates("query_id", "cand_id")
      val scored = cands
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
        .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("ce")), "cand_id")
        .withColumn("cos", floor(expr("cosine_sim(qe, ce)") * 1e6 + 0.5) / 1e6)
      val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("cand_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("query_id", "cand_id", "cos", "rk")
        .orderBy("query_id", "rk")
    },

    // Corpus-statistics quality scoring: per-document rare-word fraction
    // against the corpus's own unigram table (the Gopher/C4-style "words
    // the corpus itself barely uses" gate). A word is rare when its
    // count is under a tenth of the per-word mean — pure integer
    // arithmetic (wc < total div (vocab·10), divided on the 1-row side
    // so nothing can overflow BIGINT at any corpus size), no
    // transcendentals, portable, and scale-free. Two
    // shuffles, both necessary: the unigram count (keyed on word,
    // map-side combined) and the per-doc rollup (keyed on doc_id); the
    // frequency table is vocabulary-sized, so it broadcasts back onto
    // the exploded tokens together with the 1-row corpus totals.
    "text_rare_words" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("wc"))
      val stats = freq.agg(
        floor(sum(col("wc")).cast("double") / (count(lit(1)) * 10))
          .cast("long").as("rare_thr"))
      toks.join(broadcast(freq), "w")
        .crossJoin(broadcast(stats))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("wc") < col("rare_thr"), 1L).otherwise(0L)).as("n_rare"),
          min(col("wc")).as("min_word_freq"))
        .withColumn("rare_frac",
          r6(col("n_rare").cast("double") / col("n_tokens")))
        .withColumn("has_rare_words", col("n_rare") > 0)
        .orderBy("doc_id")
    },

    // Free-text PII scan + redaction: the LLM-corpus counterpart of the
    // typed-column masks in PiiSuite. The corpus carries no PII, so the
    // scan input is decorated deterministically from doc_id (emails on
    // every 5th doc, SSNs on every 7th, phones on every 11th) — the same
    // synthesize-in-query pattern as the CDC envelopes, so the oracle
    // reproduces the exact input. Detection is regexp_count, redaction a
    // regexp_replace chain; pure narrow projection, zero shuffle, linear
    // in corpus bytes at any scale.
    "text_pii_scan" -> { (s, d) =>
      val id = col("doc_id")
      // regex-per-row dominates → spread the under-split fixture scan
      val decorated = Tables.spread(s, Tables.documents(s, d))
        .withColumn("body", concat(
          col("text"),
          when(id % 5 === 0, concat(lit(" contact user"), id.cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
          when(id % 7 === 0, concat(lit(" ssn "), (id % 900 + 100).cast("string"),
            lit("-"), (id % 90 + 10).cast("string"),
            lit("-"), (id % 9000 + 1000).cast("string"))).otherwise(lit("")),
          when(id % 11 === 0, concat(lit(" call ("), (id % 900 + 100).cast("string"),
            lit(") "), (id % 900 + 100).cast("string"),
            lit("-"), (id % 9000 + 1000).cast("string"))).otherwise(lit(""))))
      decorated.select(col("doc_id"),
          regexp_count(col("body"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("body"), lit(SsnRe)).cast("long").as("n_ssns"),
          regexp_count(col("body"), lit(PhoneRe)).cast("long").as("n_phones"),
          graft.api.Graft.redactPii(col("body")).as("redacted"))
        .withColumn("pii_total", col("n_emails") + col("n_ssns") + col("n_phones"))
        .orderBy("doc_id")
    },

    // Z-order layout: multi-dimensional clustering for data skipping —
    // the write-side layout step that makes BOTH partkey and suppkey
    // range predicates prunable from file-level min/max stats. The
    // z-value interleaves the low 16 bits of each key (pure bit
    // arithmetic, portable); bucketing by the z prefix yields the file
    // assignment, and the per-bucket min/max rectangle is exactly the
    // footer stats a scan would prune on. At 100 TB this is a
    // repartitionByRange(z) before the write — the computation here is
    // the same narrow projection plus one rollup on the bucket id.
    "layout_zorder" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
        .withColumn("zval",
          graft.api.Graft.zorderKey(col("l_partkey"), col("l_suppkey")))
        .withColumn("z_bucket", shiftright(col("zval"), 16).cast("long"))
        .groupBy(col("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
        .orderBy("z_bucket")
    },

    // Domain-mixture sampling weights (the corpus-mixing table a
    // training run is launched with): per-source token share, the
    // uniform share, a 50/50 natural/uniform blend as the target, and
    // the per-domain over/under-sampling factor. All shares are
    // integer parts-per-million (DIV keeps both engines exact — no
    // floats, no pow-based temperature). One shuffle on `source` plus
    // a broadcast 1-row total: the same shape at any corpus size.
    "mix_weights" -> { (s, d) =>
      // fixture binding of Graft.mixWeights (the reusable kernel the
      // oracle therefore checks); the shared per-domain leg is
      // localCheckpointed inside it (blocks auto-released)
      graft.api.Graft.mixWeights(Tables.documents(s, d), "source",
          size(split(col("text"), " ")))
        .select(col("domain").as("source"), col("n_rows").as("n_docs"),
          col("weight").as("n_tokens"), col("natural_ppm"), col("uniform_ppm"),
          col("target_ppm"), col("boost_ppm"))
        .orderBy("source")
    },

    // Leak-proof train/valid/test split: the split key is the 60-bit
    // hash of NORMALIZED CONTENT, not the doc id, so byte-identical
    // copies can never straddle train and test — the eval-contamination
    // guard a real pretraining split needs (dedup_exact's normalization
    // reused verbatim). Narrow hash projection + one small group-by;
    // `n_groups` counts distinct contents per cell, so
    // n_docs - n_groups is the duplicate mass each split carries.
    "train_split_leakproof" -> { (s, d) =>
      splitAssignments(s, d)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_groups"),
          sum(col("n_tok")).as("n_tokens"))
        .orderBy("split", "lang")
    },

    // Vocabulary coverage curve (the tokenizer-budget stat BPE training
    // starts from): what fraction of corpus tokens the top-K words
    // cover, for K in {10, 100, 1000}. Explode→count is one shuffle
    // with map-side combine keyed on the word. No window ranks the
    // vocabulary (10⁸+ words at 100 TB would sit on one task): the
    // coverage is read off the count histogram, whose ordered window
    // spans only the distinct count values.
    "text_vocab_coverage" -> { (s, d) =>
      // fixture binding of Graft.vocabCoverage
      graft.api.Graft.vocabCoverage(Tables.documents(s, d), col("text"),
          Seq(10L, 100L, 1000L))
        .orderBy("k")
    },

    // Referential integrity between the document corpus and its
    // embedding table (the feature-store guard an index build runs
    // first): matched pairs, docs missing a vector, orphan vectors.
    // Drift is injected deterministically (ReconSuite's fixture
    // convention) so every count is exercised. Tag-union + one
    // group-by on the id — a single shuffle, no join, no skew.
    "recon_referential" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), lit(1L).as("is_doc"), lit(0L).as("is_vec"))
      val vecs = embTarget(s, d)
        .select(col("vec_id").as("id"), lit(0L).as("is_doc"), lit(1L).as("is_vec"))
      docs.unionByName(vecs)
        .groupBy(col("id"))
        .agg(sum(col("is_doc")).as("nd"), sum(col("is_vec")).as("nv"))
        .agg(sum(col("nd")).as("n_docs"), sum(col("nv")).as("n_vecs"),
          sum(when(col("nd") > 0 && col("nv") > 0, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("nd") > 0 && col("nv") === 0, 1L).otherwise(0L)).as("n_missing_vec"),
          sum(when(col("nd") === 0 && col("nv") > 0, 1L).otherwise(0L)).as("n_orphan_vec"))
    }
  )

  /** Deterministically perturbed embedding table for recon_referential:
    * every 97th vector lost, every 101st duplicated under a phantom id
    * (same drift convention as ReconSuite's orders target).
    */
  private def embTarget(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    e.filter(col("vec_id") % 97 =!= 0).unionByName(
      e.filter(col("vec_id") % 101 === 0).withColumn("vec_id", col("vec_id") + 2000000L))
  }

  /** Per-document split assignment for train_split_leakproof (shared
    * with its spec, which proves injected copies follow their source).
    */
  private[graft] def splitAssignments(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0).withColumn("doc_id", col("doc_id") + 1000000L))
    // split column comes from the public kernel; h re-derives the same
    // content hash for the group-integrity count
    graft.api.Graft.leakproofSplit(corpus, col("text"))
      .withColumn("h", graft.functions.Portable.rowHash60(
        regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .select(col("doc_id"), col("lang"), col("h"), col("split"), col("n_tok"))
  }

  def oracles: Map[String, String] = Map(
    "emb_pca_power" -> {
      def step(n: Int): String =
        s"""u$n AS (SELECT cells.i AS k, CAST(SUM(c * v) AS BIGINT) AS u
           |  FROM cells JOIN v${n - 1} pv ON pv.k = cells.j GROUP BY cells.i),
           |m$n AS (SELECT GREATEST(MAX(ABS(u)) // 1000000, 1) AS step FROM u$n),
           |v$n AS (SELECT k, CAST(u // step AS BIGINT) AS v FROM u$n, m$n)""".stripMargin
      s"""WITH q AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qx
         |  FROM embeddings),
         |ks AS (SELECT unnest(range(1, 65)) AS k),
         |p AS (
         |  SELECT ti.k AS i, tj.k AS j,
         |    CAST(SUM(qx[ti.k] * qx[tj.k]) AS BIGINT) AS sxy, COUNT(*) AS n
         |  FROM q, ks ti, ks tj
         |  WHERE ti.k <= tj.k GROUP BY ti.k, tj.k),
         |d AS (
         |  SELECT k, CAST(SUM(qx[k]) AS BIGINT) AS sx
         |  FROM q, ks GROUP BY k),
         |up AS (
         |  SELECT p.i AS i, p.j AS j,
         |    CAST(FLOOR(CAST(n * sxy - di.sx * dj.sx AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e8) * 1e6 + 0.5) AS BIGINT) AS c
         |  FROM p JOIN d di ON di.k = p.i JOIN d dj ON dj.k = p.j),
         |cells AS (SELECT i, j, c FROM up
         |          UNION ALL SELECT j AS i, i AS j, c FROM up WHERE i <> j),
         |v0 AS (SELECT k, CAST(1000000 AS BIGINT) AS v FROM ks),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT k AS dim, v AS v_ppm FROM v3 ORDER BY dim""".stripMargin
    },

    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
        |m AS (
        |  SELECT doc_id, len(ws) AS n_words,
        |    len(list_distinct(ws)) AS n_distinct,
        |    list_max(list_transform(list_distinct(ws),
        |      w -> len(list_filter(ws, x -> x = w)))) AS top_word_cnt,
        |    CASE WHEN len(ws) >= 2
        |      THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
        |      ELSE [] END AS grams
        |  FROM t),
        |f AS (
        |  SELECT doc_id, n_words,
        |    FLOOR((1.0 - CAST(n_distinct AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6
        |      AS dup_word_frac,
        |    FLOOR(CAST(top_word_cnt AS DOUBLE) / n_words * 1e6 + 0.5) / 1e6
        |      AS top_word_frac,
        |    CASE WHEN n_words >= 2
        |      THEN FLOOR((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams))
        |                 * 1e6 + 0.5) / 1e6
        |      ELSE 0.0 END AS dup_bigram_frac
        |  FROM m)
        |SELECT doc_id, n_words, dup_word_frac, top_word_frac, dup_bigram_frac,
        |  (dup_word_frac > 0.55 OR top_word_frac > 0.12 OR dup_bigram_frac > 0.1)
        |    AS repetitive
        |FROM f ORDER BY doc_id""".stripMargin,

    "text_token_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT lang,
         |  CAST(FLOOR(CAST(cum - n_tok AS DOUBLE) / $ShardBudget.0) AS BIGINT) AS shard_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "emb_centroid_drift" ->
      """WITH e AS (
        |  SELECT label, CAST(vec_id % 2 AS INT) AS side, embedding FROM embeddings),
        |ex AS (
        |  SELECT label, side, unnest(range(1, len(embedding) + 1)) AS i, embedding FROM e),
        |dims AS (
        |  SELECT label, side, i,
        |    CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 10000.0 / COUNT(*) AS m,
        |    COUNT(*) AS n
        |  FROM ex GROUP BY label, side, i),
        |j AS (
        |  SELECT a.label AS label, a.n AS na, b.n AS nb,
        |    CAST(FLOOR(a.m * b.m * 1e8 + 0.5) AS BIGINT) AS dd,
        |    CAST(FLOOR(a.m * a.m * 1e8 + 0.5) AS BIGINT) AS aa,
        |    CAST(FLOOR(b.m * b.m * 1e8 + 0.5) AS BIGINT) AS bb
        |  FROM dims a JOIN dims b
        |    ON a.label = b.label AND a.i = b.i AND a.side = 0 AND b.side = 1),
        |g AS (
        |  SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
        |    CAST(SUM(dd) AS BIGINT) AS dot_fp,
        |    CAST(SUM(aa) AS BIGINT) AS na_fp,
        |    CAST(SUM(bb) AS BIGINT) AS nb_fp
        |  FROM j GROUP BY label)
        |SELECT label, n_a, n_b,
        |  CASE WHEN na_fp > 0 AND nb_fp > 0 THEN
        |    FLOOR(CAST(dot_fp AS DOUBLE)
        |      / sqrt(CAST(na_fp AS DOUBLE) * CAST(nb_fp AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |  END AS drift_cos
        |FROM g ORDER BY label""".stripMargin,

    "emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, xd, list_max(list_transform(xd, x -> abs(x))) AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, xd, scale,
        |    CASE WHEN scale > 0
        |      THEN list_transform(xd, x -> CAST(FLOOR(x / scale * 127.0 + 0.5) AS BIGINT))
        |      ELSE list_transform(xd, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM sc)
        |SELECT vec_id, len(xd) AS n_dims,
        |  FLOOR(scale * 1e6 + 0.5) / 1e6 AS scale6,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  CASE WHEN scale > 0
        |    THEN FLOOR(list_max(list_transform(range(1, len(xd) + 1),
        |      i -> abs(CAST(qv[i] AS DOUBLE) * scale / 127.0 - xd[i]))) * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS max_err6
        |FROM q ORDER BY vec_id""".stripMargin,

    "ann_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_transform(range(0, 16), h ->
        |      CASE WHEN floor(list_sum(list_transform(range(1, len(embedding) + 1), i ->
        |        (CASE WHEN ('0x' || substr(md5(CAST(h AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2 = 1
        |              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)
        |          * CAST(embedding[i] AS DOUBLE))) * 1e6 + 0.5) > 0
        |      THEN 1 ELSE 0 END) AS bits
        |  FROM embeddings),
        |bands AS (
        |  SELECT vec_id, b - 1 AS band,
        |    array_to_string(bits[(b-1)*4+1:(b-1)*4+4], ',') AS bucket
        |  FROM e, range(1, 5) r(b)),
        |cands AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        |  FROM bands q JOIN bands c
        |    ON q.band = c.band AND q.bucket = c.bucket
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    floor(
        |      list_sum(list_transform(range(1, len(eq.embedding) + 1),
        |        i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(eq.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(ec.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))
        |      * 1e6 + 0.5) / 1e6 AS cos
        |  FROM cands
        |  JOIN e eq ON eq.vec_id = query_id
        |  JOIN e ec ON ec.vec_id = cand_id),
        |ranked AS (
        |  SELECT query_id, cand_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rk
        |  FROM scored)
        |SELECT query_id, cand_id, cos, rk FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "text_rare_words" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w FROM documents),
        |freq AS (
        |  SELECT w, COUNT(*) AS wc FROM toks GROUP BY w),
        |stats AS (
        |  SELECT CAST(FLOOR(CAST(SUM(wc) AS DOUBLE) / (COUNT(*) * 10)) AS BIGINT)
        |    AS rare_thr
        |  FROM freq),
        |per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(CASE WHEN wc < rare_thr THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |    MIN(wc) AS min_word_freq
        |  FROM toks JOIN freq USING (w) CROSS JOIN stats
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_rare, min_word_freq,
        |  FLOOR(CAST(n_rare AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS rare_frac,
        |  n_rare > 0 AS has_rare_words
        |FROM per_doc ORDER BY doc_id""".stripMargin,

    "emb_covariance_top" ->
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qx
        |  FROM embeddings),
        |ks AS (SELECT unnest(range(1, 65)) AS k),
        |p AS (
        |  SELECT ti.k AS i, tj.k AS j,
        |    CAST(SUM(qx[ti.k] * qx[tj.k]) AS BIGINT) AS sxy, COUNT(*) AS n
        |  FROM q, ks ti, ks tj
        |  WHERE ti.k < tj.k GROUP BY ti.k, tj.k),
        |d AS (
        |  SELECT k, CAST(SUM(qx[k]) AS BIGINT) AS sx
        |  FROM q, ks GROUP BY k)
        |SELECT p.i AS i, p.j AS j,
        |  CAST(FLOOR(CAST(n * sxy - di.sx * dj.sx AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e8) * 1e6 + 0.5) AS BIGINT) AS cov_e6
        |FROM p JOIN d di ON di.k = p.i JOIN d dj ON dj.k = p.j
        |ORDER BY abs(cov_e6) DESC, i, j
        |LIMIT 20""".stripMargin,

    "emb_health" ->
      """WITH e AS (
        |  SELECT vec_id, len(embedding) AS dim,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings)
        |SELECT COUNT(*) AS n_vectors,
        |  CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
        |  MIN(dim) AS min_dim, MAX(dim) AS max_dim,
        |  CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
        |  FLOOR(MIN(n2) * 1e6 + 0.5) / 1e6 AS min_norm2,
        |  FLOOR(MAX(n2) * 1e6 + 0.5) / 1e6 AS max_norm2,
        |  FLOOR(CAST(SUM(CAST(FLOOR(n2*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000.0
        |        / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_norm2
        |FROM e""".stripMargin,

    "text_pii_scan" ->
      """WITH dec AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |      || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)
        |      || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' call (' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |      || ') ' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |      || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(body, '\d{3}-\d{2}-\d{4}')) AS BIGINT) AS n_ssns,
        |  CAST(len(regexp_extract_all(body, '\(\d{3}\) \d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(body,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
        |    '\(\d{3}\) \d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(body, '\d{3}-\d{2}-\d{4}')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(body, '\(\d{3}\) \d{3}-\d{4}')) AS BIGINT) AS pii_total
        |FROM dec ORDER BY doc_id""".stripMargin,

    "layout_zorder" ->
      """WITH z AS (
        |  SELECT l_partkey, l_suppkey,
        |    list_sum(list_transform(range(0, 16), i ->
        |      (((l_partkey >> i) & 1) << (2*i)) + (((l_suppkey >> i) & 1) << (2*i+1))))
        |      AS zval
        |  FROM lineitem)
        |SELECT CAST(zval >> 16 AS BIGINT) AS z_bucket, COUNT(*) AS n_rows,
        |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
        |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "mix_weights" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(CAST(len(str_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM per),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    n_tokens * 1000000 // tot_tokens AS natural_ppm,
        |    1000000 // k AS uniform_ppm
        |  FROM per, tot)
        |SELECT source, n_docs, n_tokens, natural_ppm, uniform_ppm,
        |  (natural_ppm + uniform_ppm) // 2 AS target_ppm,
        |  CASE WHEN natural_ppm > 0
        |    THEN ((natural_ppm + uniform_ppm) // 2) * 1000000 // natural_ppm
        |  END AS boost_ppm
        |FROM w ORDER BY source""".stripMargin,

    "train_split_leakproof" ->
      s"""WITH c AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, text FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT lang,
         |    ('0x' || substr(md5(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS h,
         |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM c)
         |SELECT CASE WHEN h % 100 < 90 THEN 'train'
         |            WHEN h % 100 < 95 THEN 'valid' ELSE 'test' END AS split,
         |  lang, COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_groups,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_vocab_coverage" ->
      """WITH w AS (
        |  SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents),
        |c AS (
        |  SELECT w, COUNT(*) AS cnt FROM w WHERE w <> '' GROUP BY w),
        |r AS (
        |  SELECT w, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rk FROM c),
        |tot AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_vocab FROM c),
        |ks AS (SELECT CAST(unnest([10, 100, 1000]) AS BIGINT) AS k)
        |SELECT k, COUNT(*) AS n_top, CAST(SUM(cnt) AS BIGINT) AS covered_tokens,
        |  total_tokens, n_vocab,
        |  CAST(SUM(cnt) AS BIGINT) * 1000000 // total_tokens AS coverage_ppm
        |FROM ks JOIN r ON r.rk <= ks.k, tot
        |GROUP BY k, total_tokens, n_vocab ORDER BY k""".stripMargin,

    "recon_referential" ->
      """WITH v AS (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 97 <> 0
        |  UNION ALL
        |  SELECT vec_id + 2000000 FROM embeddings WHERE vec_id % 101 = 0),
        |t AS (
        |  SELECT id, SUM(is_doc) AS nd, SUM(is_vec) AS nv FROM (
        |    SELECT doc_id AS id, 1 AS is_doc, 0 AS is_vec FROM documents
        |    UNION ALL
        |    SELECT vec_id, 0, 1 FROM v) u
        |  GROUP BY id)
        |SELECT CAST(SUM(nd) AS BIGINT) AS n_docs, CAST(SUM(nv) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN nd > 0 AND nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN nd > 0 AND nv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_vec,
        |  CAST(SUM(CASE WHEN nd = 0 AND nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_vec
        |FROM t""".stripMargin
  )
}
