package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable.rowHash60
import graft.sources.Tables

/** §2 E (text) — corpus analysis operators a training-data pipeline runs
  * over billions of documents: token counting, quality scoring,
  * language ID, fingerprinting.
  *
  * Everything is a narrow per-row projection of built-in higher-order
  * array expressions (split / filter / transform / aggregate) — zero
  * shuffles, whole-stage codegen, embarrassingly parallel at 100 TB.
  * No UDFs anywhere.
  */
object TextSuite {

  /** Marker function-words per language for the n-gram-free heuristic
    * language ID (real corpora carry real stopwords; the synthetic corpus
    * is English-ish so most docs score 'en' — the *operator* is what's
    * exercised).
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "une", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private val Stop = Seq("the", "a", "and", "of", "to")
  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** BPE-ish token pattern: letter runs, digit runs, single punctuation. */
  private val BpePat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens" -> { (s, d) =>
      // the BPE-ish count runs as the native one-pass byte loop
      // (bit-equal to size(regexp_extract_all(text, BpePat, 0)) — the
      // alternation reduces to run-starts + other-codepoints; spec
      // pins the equality incl. unicode), not a per-char regex NFA
      org.apache.spark.sql.graft.Bridge.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          expr("bpe_token_count(text)").as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    "text_quality" -> { (s, d) =>
      // length / punctuation / stopword signals → rational-arithmetic
      // score (no transcendentals: libm results aren't engine-portable).
      // Both count signals run as native codegen'd single-pass loops
      // (this was the most expensive sf10 headline query at 36.5 s of
      // narrow CPU): stopword_count replaces the CodegenFallback
      // size(filter(words, isin(Stop))) walk with one hash probe per
      // word, and punct_count replaces the regexp_extract_all pass —
      // the profiled hot path (~2.4 s/pass at sf1, paid MORE than once
      // because projection collapse inlines the expression into each
      // downstream use of n_punct) — with one byte-loop, cheap enough
      // that the duplication stops mattering.
      org.apache.spark.sql.graft.Bridge.register(s)
      Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .withColumn("n_words", size(col("words")))
        .withColumn("n_stop", expr(s"stopword_count(words, array${sqlList(Stop)})"))
        .withColumn("n_punct", expr("punct_count(text)"))
        .select(col("doc_id"), col("n_words"), col("n_stop"), col("n_punct"),
          (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
          (col("n_punct").cast("double") / length(col("text"))).as("punct_ratio"),
          ((col("n_stop").cast("double") / col("n_words")) * 0.3
            + when(col("n_words").between(20, 1000), 0.4).otherwise(0.1)
            + (lit(1.0) - col("n_punct").cast("double") / length(col("text"))) * 0.3
          ).as("quality_score"))
        .orderBy("doc_id")
    },

    "text_langid" -> { (s, d) =>
      val withScores = Markers.foldLeft(
        Tables.documents(s, d).withColumn("words", array_distinct(split(lower(col("text")), " ")))) {
        case (df, (lang, ms)) =>
          df.withColumn(s"s_$lang", size(array_intersect(col("words"), array(ms.map(lit): _*))))
      }
      val best = Markers.map { case (l, _) => col(s"s_$l") }
      // deterministic argmax: first language (in Markers order) whose
      // score equals the row maximum
      val pred = Markers.foldRight(lit("unknown"): org.apache.spark.sql.Column) {
        case ((l, _), e) => when(col(s"s_$l") === greatest(best: _*) && greatest(best: _*) > 0, lit(l)).otherwise(e)
      }
      withScores
        .select(col("doc_id") +: col("lang") +: Markers.map { case (l, _) => col(s"s_$l") } :+
          pred.as("lang_pred"): _*)
        .orderBy("doc_id")
    },

    "text_contamination" -> { (s, d) =>
      // benchmark-contamination gate (the eval-leakage check every LLM
      // training pipeline runs before training): flag corpus docs sharing
      // any word-13-gram with a benchmark/eval set. Each 13-gram is
      // hashed to 60 bits up front, so the shuffle/join carries 8-byte
      // keys — never text — and the join keys are near-unique, the
      // explode→hash-join shape that survives a 100 TB corpus against a
      // fixed eval set (broadcast when the benchmark side is small).
      // Fixture: benchmark = original docs with doc_id % 50 == 0; corpus
      // = corpusWithDups minus those originals, so the injected copies of
      // benchmark docs are guaranteed contaminated.
      // gram build + md5 fused in the native gram_hashes60 expression
      // (returns null below 13 words; the coalesce keeps the expression
      // total even if an optimizer rewrite evaluates it on rows the
      // sibling filter would drop)
      org.apache.spark.sql.graft.Bridge.register(s)
      // 13-gram md5s per row dominate → spread the under-split scan
      val grams = Tables.spread(s, DedupSuite.corpusWithDups(s, d))
        .withColumn("ws", split(lower(col("text")), " "))
        .filter(size(col("ws")) >= 13)
        .withColumn("gh", expr(
          "coalesce(array_distinct(gram_hashes60(ws, 13)), array())"))
        .select(col("doc_id"), explode(col("gh")).as("h"))
      val corpus = grams.filter(col("doc_id") % 50 =!= 0 || col("doc_id") >= 1000000L)
      val bench = grams.filter(col("doc_id") % 50 === 0 && col("doc_id") < 1000000L)
        .select(col("doc_id").as("bench_id"), col("h"))
      corpus.join(bench, "h")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id", "bench_id")
    },

    "text_sample_stratified" -> { (s, d) =>
      // deterministic stratified downsampling (corpus mixing): the
      // dominant language keeps 10%, the rest 30%. Selection is by
      // doc_id hash, so both engines — and any rerun at any parallelism
      // — pick the identical sample. Narrow filterless scan + one tiny
      // aggregate; the kept rows never shuffle.
      val rate = when(col("lang") === "en", lit(10)).otherwise(lit(30))
      Tables.documents(s, d)
        .withColumn("keep", (rowHash60(col("doc_id").cast("string")) % 100) < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
        .orderBy("lang")
    },

    "text_length_percentiles" -> { (s, d) =>
      // exact per-language token-length percentiles via the rank
      // formulation (percentile_disc semantics: value at
      // rn = ceil(p·n)) — engine-exact, no interpolation. Ranks come
      // from the distributed-selection kernel (Graft.rankedByGroup):
      // a window partitioned by the handful of language values would
      // sort each language on one task; the kernel spreads every
      // language across all tasks. approx_percentile's t-digest is the
      // one-pass twin at 100 TB — this exact variant validates it and
      // now scales too.
      val base = Tables.documents(s, d)
        .withColumn("n_words", size(split(col("text"), " ")))
        .select(col("lang"), col("doc_id"), col("n_words"))
      graft.api.Graft
        .rankedByGroup(base, Seq("lang"), Seq(col("n_words"), col("doc_id")))
        .groupBy(col("lang"))
        .agg(max(col("cnt")).as("n_docs"),
          max(when(col("rn") === ceil(col("cnt") * 0.5), col("n_words"))).as("p50"),
          max(when(col("rn") === ceil(col("cnt") * 0.9), col("n_words"))).as("p90"),
          max(when(col("rn") === ceil(col("cnt") * 0.99), col("n_words"))).as("p99"))
        .orderBy("lang")
    },

    "text_tfidf_topterms" -> { (s, d) =>
      // TF-IDF top-3 terms per document — the keyword/relevance signal a
      // curation pipeline uses for topic tagging and domain mixing.
      // Rational arithmetic only: score = tf · n_docs · 1e6 div df (all
      // BIGINT, exact and engine-portable; log-idf would be a
      // transcendental). Two shuffles, both necessary: (doc, term)
      // counts (map-side combined) and the per-doc rollup. The document
      // frequency table is vocabulary-sized (Zipf-bounded — the same
      // argument as text_rare_words), so it broadcasts back onto the
      // (doc, term) counts; top-3 selection sorts ≤ per-doc-vocab
      // structs inside one array expression — no window exchange.
      val docs = Tables.documents(s, d)
      // the (doc, term) count table feeds BOTH the df-table leg and the
      // probe leg; materialize it once (eager localCheckpoint, the
      // minhashDupPairs precedent — blocks are freed by the
      // ContextCleaner when the plan is dereferenced). Exchange reuse
      // does NOT dedupe the twin consumers here: column pruning drops
      // `tf` below the df leg's aggregate, making the two partial
      // aggregates canonically different — the executed plan re-ran
      // the corpus scan and the (doc, term) shuffle twice. At 100 TB
      // that duplicated pass is the dominant cost of the whole query.
      // Fault-tolerance trade: localCheckpoint blocks are NOT
      // recomputable — an executor loss mid-query fails the job instead
      // of replaying lineage. Right for local bench/verify; a cluster
      // run of this corpus-scale intermediate should swap in
      // reliableCheckpoint (spark.sparkContext.setCheckpointDir to a
      // DFS) or persist(DISK_ONLY_2) — one-line change, same plan shape
      // (SURVEY §5 records the operating guidance).
      // Layout (r11, from an sf10 per-stage component profile):
      // repartition DOCS by doc_id BEFORE the explode.
      // HashPartitioning(doc_id) satisfies the (doc_id, w) count
      // aggregate's ClusteredDistribution, so the (doc, term)
      // pair exchange disappears — the build runs scan → one doc-level
      // shuffle → in-stage aggregate (measured sf10: 2.8 s → 1.2 s;
      // full query ~9 s → ~5 s). Byte trade at 100 TB: the wire now
      // carries each doc's text once instead of its distinct
      // (doc, term) string pairs twice (build + rollup) — comparable
      // volume, one fewer pair-level round trip. The rejected
      // alternatives are recorded in the profiler: persist() (columnar
      // cache read cost > the saved exchange, and partitioning still
      // re-derived) and keeping the pair-level layout (its rollup
      // shuffle re-ships the pairs + df + score).
      val tf = docs.repartition(col("doc_id"))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // fixed-point bound (CLAUDE.md: keep hash/score arithmetic under
      // 2^60 — Spark silently wraps BIGINT where DuckDB errors, so an
      // overflow would DIVERGE silently, not fail): tf·n_docs·1e6 stays
      // exact iff tf ≤ 2^60/1e6/n_docs ≈ 1.15e12/n_docs (e.g. 1e9 docs
      // allow tf ≤ 1152). The guard raises loudly at the first row past
      // the bound instead of mis-ranking; corpora beyond it should
      // reduce the precision factor (1e6 → 1e3 buys 1000× headroom).
      tf.join(broadcast(dfreq), "w")
        .crossJoin(broadcast(n))
        .withColumn("score", expr(
          """(IF(tf > 1152921504606L DIV n_docs,
            |    CAST(raise_error(concat('text_tfidf_topterms: tf * n_docs exceeds ',
            |      'the 2^60/1e6 fixed-point bound - reduce the precision factor')) AS BIGINT),
            |    tf) * n_docs * 1000000L) div df""".stripMargin))
        .groupBy(col("doc_id"))
        .agg(slice(array_sort(collect_list(struct(
          (-col("score")).as("ns"), col("w"), col("tf"), col("df"),
          col("score")))), 1, 3).as("top"))
        .select(col("doc_id"), posexplode(col("top")))
        .select(col("doc_id"), (col("pos") + 1).as("rk"),
          col("col.w").as("term"), col("col.tf").as("tf"),
          col("col.df").as("df"), col("col.score").as("score"))
        .orderBy("doc_id", "rk")
    },

    "text_fingerprint" -> { (s, d) =>
      // three portable fingerprints: 60-bit content hash, bag-of-words
      // hash (whitespace/order-insensitive), and a 1-permutation MinHash
      // over 3-word shingles (the rolling-hash family). The md5-min loop
      // runs through the native hash60_min expression (the composed
      // array_min∘transform form is CodegenFallback).
      org.apache.spark.sql.graft.Bridge.register(s)
      // md5-per-shingle dominates → spread the under-split fixture scan
      // (measured 1.35 → 0.85 s at sf0.1; no-op on a well-split lake)
      Tables.spread(s, Tables.documents(s, d))
        .withColumn("norm", lower(col("text")))
        .withColumn("ws", split(col("norm"), " "))
        .select(col("doc_id"),
          expr("CAST(conv(substr(md5(norm), 1, 15), 16, 10) AS BIGINT)").as("fp_content"),
          md5(concat_ws(" ", array_sort(array_distinct(col("ws"))))).as("fp_bow"),
          expr(
            """CASE WHEN size(ws) >= 3 THEN hash60_min(
              |  transform(sequence(1, size(ws) - 2),
              |    i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2))))
              |ELSE CAST(NULL AS BIGINT) END""".stripMargin)
            .as("fp_minhash1"))
        .orderBy("doc_id")
    }
  )

  def oracles: Map[String, String] = Map(
    "text_tokens" ->
      s"""SELECT doc_id, length(text) AS n_chars,
         |  len(str_split(text, ' ')) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '$BpePat')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |    len(str_split(text, ' ')) AS n_words,
         |    len(list_filter(str_split(text, ' '), w -> w IN ${sqlList(Stop)})) AS n_stop,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct
         |  FROM documents)
         |SELECT doc_id, n_words, n_stop, n_punct,
         |  CAST(n_stop AS DOUBLE)/n_words AS stop_ratio,
         |  CAST(n_punct AS DOUBLE)/n_chars AS punct_ratio,
         |  (CAST(n_stop AS DOUBLE)/n_words)*0.3
         |    + (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.1 END)
         |    + (1.0 - CAST(n_punct AS DOUBLE)/n_chars)*0.3 AS quality_score
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val scoreCols = Markers.map { case (l, ms) =>
        s"len(list_intersect(words, ${sqlList(ms).replace("(", "[").replace(")", "]")})) AS s_$l"
      }.mkString(",\n    ")
      val greatest = Markers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val pred = Markers.reverse.foldLeft("'unknown'") { case (e, (l, _)) =>
        s"CASE WHEN s_$l = $greatest AND $greatest > 0 THEN '$l' ELSE $e END"
      }
      s"""WITH w AS (
         |  SELECT doc_id, lang, list_distinct(str_split(lower(text), ' ')) AS words
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |    $scoreCols
         |  FROM w)
         |SELECT doc_id, lang, ${Markers.map { case (l, _) => s"s_$l" }.mkString(", ")},
         |  $pred AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "text_contamination" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(ghs) AS h FROM (
         |    SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 11),
         |      i -> ('0x' || substr(md5(array_to_string(ws[i:i+12], ' ')), 1, 15))::BIGINT)) AS ghs
         |    FROM (SELECT doc_id, str_split(lower(text), ' ') AS ws
         |          FROM (${DedupSuite.CorpusSql}) c0) t
         |    WHERE len(ws) >= 13) t2),
         |corpus AS (SELECT * FROM g WHERE doc_id % 50 <> 0 OR doc_id >= 1000000),
         |bench AS (SELECT doc_id AS bench_id, h FROM g
         |          WHERE doc_id % 50 = 0 AND doc_id < 1000000)
         |SELECT corpus.doc_id AS doc_id, bench_id, COUNT(*) AS n_shared
         |FROM corpus JOIN bench ON corpus.h = bench.h
         |GROUP BY 1, 2
         |ORDER BY doc_id, bench_id""".stripMargin,

    "text_sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
        |    (CASE WHEN lang = 'en' THEN 10 ELSE 30 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_length_percentiles" ->
      """WITH t AS (
        |  SELECT lang, doc_id, len(str_split(text, ' ')) AS n_words FROM documents),
        |r AS (
        |  SELECT lang, n_words,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_words, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM t)
        |SELECT lang, MAX(cnt) AS n_docs,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.5) THEN n_words END) AS p50,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.9) THEN n_words END) AS p90,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.99) THEN n_words END) AS p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "text_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w FROM documents),
        |tf AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, w),
        |dfreq AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, w, tf, df, CAST(tf * n_docs * 1000000 // df AS BIGINT) AS score
        |  FROM tf JOIN dfreq USING (w) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, w AS term, tf, df, score FROM ranked
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "text_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, lower(text) AS norm, str_split(lower(text), ' ') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp_content,
        |  md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS fp_bow,
        |  CASE WHEN len(ws) >= 3 THEN list_min(list_transform(
        |    list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
        |    sh -> ('0x' || substr(md5(sh), 1, 15))::BIGINT))
        |  ELSE CAST(NULL AS BIGINT) END AS fp_minhash1
        |FROM t ORDER BY doc_id""".stripMargin
  )
}
