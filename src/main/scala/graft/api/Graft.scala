package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** The user-facing library surface: every kernel the fixture-bound
  * `SparkEntry.queries` registry exercises, parameterized for arbitrary
  * DataFrames. A user of the reference pipeline calls these against
  * their own tables; the oracle-checked registry entries are these same
  * shapes pinned to the test lake.
  *
  * Everything is DataFrame/Column-level (codegen'd, shuffle-aware —
  * see SURVEY §5); native expressions register on first use via
  * [[org.apache.spark.sql.graft.Bridge.register]].
  */
object Graft {

  /** Register graft's native expressions (cosine_sim, jaccard_sim,
    * simhash60, minhash_sigs, hash60_min, gram_hashes60) on a session.
    * Idempotent; cluster-wide alternative:
    * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
    */
  def register(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.Bridge.register(spark)

  // ---- CDC -----------------------------------------------------------

  /** Materialize current state from a change log with last-write-wins
    * per key: keep each key's row with the greatest ordering tuple, drop
    * rows whose `op` equals `deleteOp` (ref: JDBC sink upsert+delete).
    */
  def cdcApplyLatest(log: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], opCol: String = "op",
      deleteOp: String = "d"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .drop("__rn")
  }

  /** Kafka-style log compaction: each key's latest event survives —
    * INCLUDING delete tombstones, whose payload columns are nulled
    * (`cleanup.policy=compact` semantics). Replaying the compacted log
    * through [[cdcApplyLatest]] yields the same state as the full log.
    */
  def cdcCompactLog(log: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCols: Seq[String], opCol: String = "op",
      deleteOp: String = "d"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    val compacted = log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    payloadCols.foldLeft(compacted) { (df, c) =>
      df.withColumn(c,
        when(col(opCol) === deleteOp, lit(null).cast(df.schema(c).dataType))
          .otherwise(col(c)))
    }
  }

  /** SCD Type-2 dimension build from a change log: each non-delete event
    * opens a version valid [its time, the key's next event's time); a
    * delete closes the last version; the open-ended version is current.
    * Appends `valid_from`/`valid_to`/`is_current`.
    */
  def cdcScd2(log: DataFrame, keyCols: Seq[String], timeCol: String,
      orderCols: Seq[String], opCol: String = "op",
      deleteOp: String = "d"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    log.withColumn("valid_to", lead(col(timeCol), 1).over(w))
      .filter(col(opCol) =!= deleteOp)
      .withColumn("valid_from", col(timeCol))
      .withColumn("is_current", col("valid_to").isNull)
  }

  // ---- Reconciliation ------------------------------------------------

  /** Order-insensitive 60-bit table checksum over a canonical row string
    * of the given columns (int/string columns only — see Portable).
    */
  def tableChecksum(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.agg(Portable.checksumAgg(Portable.rowStr(cols: _*)).as("checksum"),
      count(lit(1)).as("row_count"))

  /** Row-level diff on a primary key: MISSING (in source only), EXTRA
    * (in target only), MODIFIED (any compared column differs).
    */
  def rowLevelDiff(source: DataFrame, target: DataFrame, pk: String,
      compareCols: Seq[String]): DataFrame = {
    val s = source.select((pk +: compareCols).map(c => col(c).as("s_" + c)): _*)
    val t = target.select((pk +: compareCols).map(c => col(c).as("t_" + c)): _*)
    val modified = compareCols.map(c => !(col("s_" + c) <=> col("t_" + c)))
      .reduce(_ || _)
    s.join(t, col("s_" + pk) === col("t_" + pk), "full_outer")
      .withColumn("discrepancy_type",
        when(col("t_" + pk).isNull, lit("MISSING"))
          .when(col("s_" + pk).isNull, lit("EXTRA"))
          .when(modified, lit("MODIFIED")))
      .filter(col("discrepancy_type").isNotNull)
      .withColumn(pk, coalesce(col("s_" + pk), col("t_" + pk)))
      // column names are only meaningful when the row exists on BOTH
      // sides; MISSING/EXTRA rows get an empty list, not "every column"
      .withColumn("modified_columns",
        when(col("s_" + pk).isNotNull && col("t_" + pk).isNotNull,
          concat_ws(",", compareCols.map(c =>
            when(!(col("s_" + c) <=> col("t_" + c)), lit(c))): _*))
        .otherwise(lit("")))
  }

  // ---- PII masks (codegen'd Column functions) ------------------------

  /** `u***@domain`; a value with no '@' passes through unchanged rather
    * than leaking a garbled copy of itself (ref: pii.py::_mask_email
    * returns the input untouched when it isn't email-shaped).
    */
  def maskEmail(c: Column): Column = {
    val at = instr(c, "@") // 1-based position of '@'; 0 = absent
    val masked = concat(substring(c, 1, 1),
      array_join(array_repeat(lit("*"), (at - lit(2)).cast("int")), ""),
      c.substr(at, length(c)))
    when(at === 0, c).otherwise(masked)
  }

  /** Keep the last 4 digits of a phone/card-like string, mask other
    * digits. Under 4 digits the value is not a plausible phone/card, so
    * it passes through unchanged rather than pretending to be masked
    * (ref: pii.py:131 _mask_phone's short-input rule).
    */
  def maskKeepLast4(c: Column): Column = {
    val digits = regexp_replace(c, "[^0-9]", "")
    when(length(digits) < 4, c).otherwise(concat(
      array_join(array_repeat(lit("*"), (length(digits) - 4).cast("int")), ""),
      substring(digits, -4, 4)))
  }

  /** SSN mask (ref: pii.py:150 _mask_ssn): a value that doesn't hold
    * exactly 9 digits is masked ENTIRELY (never leak a malformed ssn);
    * a dashed ssn keeps the `***-**-6789` shape, an undashed one
    * becomes `*****6789`.
    */
  def maskSsn(c: Column): Column = {
    val digits = regexp_replace(c, "[^0-9]", "")
    when(length(digits) =!= 9, regexp_replace(c, ".", "*"))
      .when(c.contains("-"), concat(lit("***-**-"), substring(digits, -4, 4)))
      .otherwise(concat(lit("*****"), substring(digits, -4, 4)))
  }

  /** Keep the /16 prefix, mask the host octets — the lake registry's
    * IPv4 contract (`pii_mask_ip`). For the reference's full semantics
    * including IPv6 and the unrecognized-format fallback, use
    * [[maskIpFull]].
    */
  def maskIp(c: Column): Column =
    regexp_replace(c, "^(\\d+\\.\\d+)\\.\\d+\\.\\d+$", "$1.*.*")

  /** Reference-faithful IP anonymization (ref: pii.py:209
    * _mask_ip_address): IPv4 keeps the first octet
    * (`192.168.1.100 → 192.***.*.***`); IPv6 expands `::` to 8 groups,
    * keeps the 4-group network prefix and masks the interface id with
    * `****` groups; anything unrecognized keeps a min(4, len/2) prefix
    * and masks the rest — the reference masks unknown formats rather
    * than leaking them.
    */
  def maskIpFull(c: Column): Column = {
    val stars = (n: Column) => array_join(array_repeat(lit("*"), n.cast("int")), "")
    val v4 = concat(split(c, "\\.").getItem(0), lit(".***.*.***"))
    // '::' expansion: split once on '::', drop empty fragments, pad the
    // gap with '0000' groups to 8 total (ref expands before masking)
    val sp = split(c, "::")
    val hasDC = size(sp) === 2
    val beforeArr = filter(split(sp.getItem(0), ":"), x => x =!= "")
    val afterArr = when(hasDC, filter(split(sp.getItem(1), ":"), x => x =!= ""))
      .otherwise(array().cast("array<string>"))
    val parts = when(hasDC,
        concat(beforeArr,
          array_repeat(lit("0000"), (lit(8) - size(beforeArr) - size(afterArr)).cast("int")),
          afterArr))
      .otherwise(beforeArr)
    val n = size(parts)
    val v6 = concat_ws(":",
      concat(slice(parts, 1, 4), array_repeat(lit("****"), (n - lit(4)).cast("int"))))
    val prefixLen = least(lit(4), floor(length(c) / 2).cast("int"))
    val fallback = concat(c.substr(lit(1), prefixLen), stars(length(c) - prefixLen))
    when(c.rlike("^\\d+\\.\\d+\\.\\d+\\.\\d+$"), v4)
      .when(c.contains(":") && n >= 4, v6)
      .otherwise(fallback)
  }

  /** Salted 60-bit hash pseudonymization (ref: pii.py::HashingTransformer). */
  def pseudonymize(c: Column, salt: String): Column =
    Portable.rowHash60(concat(lit(salt), lit("|"), c.cast("string")))

  /** PII patterns for free-text scanning (the corpus-side counterpart
    * of the typed-column masks above). Identical semantics in Java
    * regex and RE2.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\d{3}-\\d{2}-\\d{4}"
  val PhoneRe = "\\(\\d{3}\\) \\d{3}-\\d{4}"

  /** Redact emails, SSNs and US-style phone numbers inside free text —
    * the LLM-corpus redaction pass. Pure codegen'd regexp_replace
    * chain; zero shuffle.
    */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailRe, "<EMAIL>"), SsnRe, "<SSN>"), PhoneRe, "<PHONE>")

  /** Column-name-regex transformer routing (ref: rules.py:17
    * create_pii_pipeline — `pipeline.add_transformer(r".*email.*",
    * masker)` — and types.py TransformationPipeline): every column
    * whose name fully matches a rule's pattern gets the FIRST matching
    * transform; unmatched columns pass through. Routing is driver-side
    * schema metadata; the per-row work stays one narrow codegen'd
    * projection regardless of how many rules fire.
    */
  def rulesPipeline(df: DataFrame, rules: Seq[(String, Column => Column)]): DataFrame =
    df.select(df.columns.map { name =>
      rules.find { case (p, _) => name.matches(p) } match {
        case Some((_, f)) => f(col(name)).as(name)
        case None         => col(name)
      }
    }: _*)

  // ---- Layout --------------------------------------------------------

  /** Interleaved-bit z-value over two non-negative integer keys — the
    * clustering key for multi-dimensional data skipping. Feed it to
    * `repartitionByRange(zorderKey(x, y))` before a write so every
    * output file's min/max footer stats are tight on BOTH dimensions.
    * Unrolled shift/mask sum (exact integer arithmetic, codegen'd).
    */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  // ---- Dedup ---------------------------------------------------------

  /** Exact dedup groups over a normalized text column: one hash-groupBy
    * shuffle, survivors = min id (ref-style keep-first).
    */
  /** Duplicate-cluster resolution: connected components over verified
    * duplicate pairs via the large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * 2014) — O(log) rounds regardless of component DIAMETER, where
    * plain min-label propagation needs O(diameter) rounds and a
    * pathological near-dup chain (A~B~C~…) makes that unbounded at
    * corpus scale. Each round is two grouped-min self-joins over the
    * edge list (which never grows beyond the symmetrized input), and
    * convergence is the SEMANTIC criterion — every edge's endpoints
    * carry the same label — so a wrong early stop is impossible.
    * Returns (cluster_id, n_members, keep_id); keep_id = cluster min
    * (provenance policies layer on top — see dedup_keep_best).
    */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val (labels, _) = ccLabels(pairs, aCol, bCol, maxIter)
    labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("keep_id"))
      .orderBy("cluster_id")
  }

  /** The alternation loop behind [[duplicateClusters]]; also returns
    * the number of rounds used (spec'd to stay logarithmic on a
    * path graph, where min-label propagation needs diameter rounds).
    */
  private[graft] def ccLabels(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): (DataFrame, Int) = {
    val base = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    // symmetric edge set; localCheckpoint (eager) per round truncates
    // both lineage and logical plan so planning stays O(1) across rounds
    var edges = base.unionByName(base.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    // m(u) = min(N(u) ∪ {u}) — the node each star attaches to
    def mins(e: DataFrame): DataFrame = e.groupBy("u")
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // one star round: attach u's larger (large) / smaller (small)
    // neighbors to m(u), keep (u, m(u)) itself so no node ever detaches
    // from its component; re-symmetrize for the next grouping
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val att = e.join(mins(e), "u")
        .filter(if (large) col("v") > col("u") else col("v") < col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      val out = att.unionByName(mins(e).select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
      out.unionByName(out.select(col("b").as("a"), col("a").as("b")))
        .distinct().select(col("a").as("u"), col("b").as("v"))
    }
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      edges = star(star(edges, large = true), large = false).localCheckpoint()
      val lbl = mins(edges)
      // semantic convergence: labels constant within every component —
      // checked on the edges themselves, so a structural fixed point
      // that is not yet a star forest cannot stop the loop early
      converged = edges
        .join(lbl, "u")
        .join(lbl.select(col("u").as("v"), col("m").as("mv")), "v")
        .filter(col("m") =!= col("mv")).limit(1).isEmpty
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: star alternation did not converge in $maxIter rounds")
    (mins(edges).select(col("u").as("node"), col("m").as("label")), iter)
  }

  /** SemDeDup-style semantic dedup over an embedding column (Abbas et
    * al. 2023's shape): cluster the corpus with deterministic k-means
    * (hash-ordered seeds + one fixed-point Lloyd step — the ivfBuild
    * kernels), bucket candidates by their k-means CELL, verify within
    * cells with the native exact cosine. This is the production form of
    * embedding near-dup on an UNLABELED corpus — `dedup_embedding`'s
    * label buckets assume a column a real pretraining corpus doesn't
    * have; the learned cells replace it.
    *
    * Scale shape: candidates exist only WITHIN a cell, so the corpus
    * self-join touches Σ|cell|²/2 pairs, never n²/2; `maxCell` drops
    * degenerate cells (a cell past it is a collapsed-embedding cluster —
    * boilerplate, not near-dup signal; same contract as the LSH
    * hot-bucket cap, DedupSemanticSpec proves the bound). `k = 0`
    * derives k = max(10, ceil(sqrt(n))) — the IVF nlist rule, which
    * balances the n·k assignment pass against the n²/k candidate pass
    * (both ∝ n^1.5 at the optimum: single-level semantic dedup is
    * inherently superlinear; shuffle volume stays linear since pair
    * enumeration happens inside the cell join, not across the wire).
    * The derivation is one driver-side count probe; pass k explicitly
    * to keep the plan probe-free.
    *
    * Fully deterministic (seeds, tie-broken argmin assignment,
    * fixed-point centroid means, e6-rounded cosines), so the whole
    * pipeline — clustering included — is oracle-checkable end-to-end;
    * the registry's `dedup_semantic` pins it to the lake. Returns
    * (cell, vec_a, vec_b, cos) with vec_a < vec_b and cos >= threshold.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, k: Int = 0, maxCell: Long = 4096L): DataFrame = {
    require(threshold > 0 && maxCell > 0,
      s"semanticDedupPairs: need threshold > 0, maxCell > 0 (got $threshold/$maxCell)")
    val assigned = semanticCells(df, idCol, embCol, k)
    // gate BEFORE the checkpoint: degenerate cells never materialize,
    // and both self-join sides read the same gated blocks
    val gated = graft.operators.DedupSuite
      .gateHotBuckets(assigned, Seq("cell"), maxCell)
      .localCheckpoint()
    gated
      .select(col("cell"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      .join(gated.select(col("cell"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", floor(expr("cosine_sim(emb_a, emb_b)") * 1e6 + 0.5) / 1e6)
      .filter(col("cos") >= threshold)
      .select("cell", "vec_a", "vec_b", "cos")
  }

  /** The clustering leg of [[semanticDedupPairs]]: deterministic k-means
    * cell per vector (hash-ordered seeds + one fixed-point Lloyd step),
    * UNGATED. Exposed separately so Verify's occupancy diagnostics can
    * watch cell sizes against the gate cap (the oracle runs uncapped —
    * a lake whose cells cross `maxCell` must fail loudly, not as an
    * opaque hash mismatch). Returns (vec_id, cell, embedding) plus any
    * `keep` passthrough columns (e.g. a label to scope candidates by —
    * the assignment kernel carries them through untouched).
    */
  def semanticCells(df: DataFrame, idCol: String, embCol: String,
      k: Int = 0, keep: Seq[String] = Nil): DataFrame = {
    register(df.sparkSession)
    import graft.operators.AnnSuite
    val e = df.select((Seq(col(idCol).as("vec_id"),
      col(embCol).as("embedding")) ++ keep.map(col)): _*)
    val kk = if (k > 0) k
      else math.max(10L, math.ceil(math.sqrt(e.count().toDouble)).toLong).toInt
    // seeds and centroids are k×dims rows — localCheckpoint each (the
    // Graft.kmeans lineage pattern) so every corpus pass below is ONE
    // narrow scan against materialized centroids, never a re-derivation
    // of the previous round (exchange reuse does not dedupe
    // differently-pruned consumers — the r10 twin-subtree lesson)
    val seeds = AnnSuite.kmeansSeeds(e, kk).localCheckpoint()
    val cents = AnnSuite.lloydStep(
        AnnSuite.kmeansAssign(e, seeds)
          .select(col("vec_id"), col("cid"), col("embedding")))
      .localCheckpoint()
    AnnSuite.kmeansAssign(e, cents)
      .select((Seq(col("vec_id"), col("cid").as("cell"),
        col("embedding")) ++ keep.map(col)): _*)
  }

  def exactDedupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__norm", regexp_replace(lower(col(textCol)), "\\s+", " "))
      .groupBy(md5(col("__norm")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** MinHash-LSH near-duplicate pairs: word-3-gram shingles → fused
    * native signature → (band, bucket) join → exact-Jaccard verify at
    * `threshold`. Only candidate pairs ever join; shuffles carry
    * (id, band, bucket) — the 100 TB shape.
    *
    * The (id, shingles) projection is materialized once via an eager
    * `localCheckpoint` (it feeds the signature pass and both verify-join
    * sides); the checkpoint blocks are released by the ContextCleaner
    * when the returned plan is dereferenced — no CacheManager entry to
    * clear.
    *
    * `maxBucket` caps LSH bucket size: buckets beyond it (boilerplate-
    * dominated collision patterns) are dropped before the self-join so
    * one degenerate key can never go quadratic.
    */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 12, bandRows: Int = 3, threshold: Double = 0.7,
      maxBucket: Long = 4096L): DataFrame = {
    register(df.sparkSession)
    val sh = df
      .withColumn("__ws", split(lower(col(textCol)), " "))
      .filter(size(col("__ws")) >= 3)
      .withColumn("__sh", expr(
        """array_distinct(transform(sequence(1, size(__ws) - 2),
          |  i -> concat_ws(' ', element_at(__ws, i), element_at(__ws, i+1), element_at(__ws, i+2))))""".stripMargin))
      .select(col(idCol).as("__id"), col("__sh"))
      .localCheckpoint()
    // hot-bucket guard: buckets beyond maxBucket are boilerplate
    // collisions, not near-dup signal — dropping them bounds the
    // self-join below at candidate_pairs ≤ Σ min(bucket, cap)² instead
    // of going quadratic in one degenerate key (one count-over-window
    // on the partitioning the join needs anyway)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__band"), col("__bucket"))
    val bands = sh
      .withColumn("__sig", expr(s"minhash_sigs(__sh, $numPerm)"))
      .select(col("__id"), posexplode(expr(
        s"""transform(sequence(0, ${numPerm / bandRows - 1}), b ->
           |  md5(concat_ws(',', slice(__sig, b * $bandRows + 1, $bandRows))))""".stripMargin)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")
    val cands = bands.as("a").join(bands.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .withColumn("jaccard", expr("jaccard_sim(__sh_a, __sh_b)"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact top-k cosine neighbors: broadcast the (small) query set over
    * one scan of the corpus — the corpus never shuffles (the only viable
    * layout when queries ≪ corpus). Uses the native codegen'd
    * cosine_sim expression.
    */
  def annBruteForce(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int = 5): DataFrame = {
    register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("__qe"))
    val c = corpus.select(col(idCol).as("cand_id"), col(embCol).as("__ce"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("cand_id"))
    c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", expr("cosine_sim(__qe, __ce)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "cos", "rk")
  }

  /** IVF approximate-nearest-neighbor: a deterministic coarse quantizer
    * (hash-sampled seeds + one fixed-point Lloyd step) partitions the
    * corpus; each query probes only `nprobe` cells, pruning the scanned
    * fraction to ~nprobe/k. Fully reproducible — the registry's lake
    * instance is oracle-checked end-to-end, index build included.
    */
  def annIvf(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String,
      k: Int = 10, nprobe: Int = 2, topK: Int = 3): DataFrame =
    graft.operators.AnnSuite.ivfSearch(corpus, queries, idCol, embCol, k, nprobe, topK)

  /** Build the IVF index once — the returned pair of DataFrames
    * (cell-assigned corpus, refined centroids) is persistable/writable,
    * so many query batches amortize one build. Deterministic: a rebuild
    * is bit-identical.
    */
  def ivfBuild(corpus: DataFrame, idCol: String, embCol: String,
      k: Int = 10): graft.operators.AnnSuite.IvfIndex =
    graft.operators.AnnSuite.ivfBuild(corpus, idCol, embCol, k)

  /** Serve a query batch against a built [[ivfBuild]] index: probe the
    * `nprobe` nearest cells, exact-cosine re-rank inside them only.
    */
  def ivfQuery(index: graft.operators.AnnSuite.IvfIndex, queries: DataFrame,
      idCol: String, embCol: String, nprobe: Int = 2, topK: Int = 3): DataFrame =
    graft.operators.AnnSuite.ivfQuery(index, queries, idCol, embCol, nprobe, topK)

  /** Train a product-quantization codebook (Jégou et al. TPAMI 2011):
    * `m` subspaces of `dsub` dims, `ksub` sub-centroids each —
    * deterministic (hash-ordered seeds + one fixed-point Lloyd step per
    * subspace), so retraining is bit-identical. Returned as the
    * one-row broadcastable codebook frame.
    */
  def pqTrain(corpus: DataFrame, idCol: String, embCol: String,
      m: Int = 8, dsub: Int = 8, ksub: Int = 16,
      sampleMod: Int = 1): DataFrame =
    graft.operators.AnnSuite.pqTrain(
      corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      m, dsub, ksub, sampleMod)

  /** Persist a trained PQ index (codebook + M-byte-per-vector codes);
    * reload with [[pqLoad]] and serve with [[pqQuery]] — no retraining,
    * no corpus access beyond the codes. Codes carrying a `cell` column
    * (the IVFADC composition) persist cell-partitioned so probed-cell
    * serving prunes partitions at the scan.
    */
  def pqSave(index: graft.operators.AnnSuite.PqIndex, dir: String): Unit =
    graft.operators.AnnSuite.pqSave(index, dir)

  def pqLoad(spark: SparkSession, dir: String): graft.operators.AnnSuite.PqIndex =
    graft.operators.AnnSuite.pqLoad(spark, dir)

  /** Serve a query batch from a (possibly reloaded) flat-PQ index by
    * asymmetric distance computation: per-query integer tables, M
    * lookups per candidate.
    */
  def pqQuery(index: graft.operators.AnnSuite.PqIndex, queries: DataFrame,
      idCol: String, embCol: String, topK: Int = 5): DataFrame =
    graft.operators.AnnSuite.pqQuery(index,
      queries.select(col(idCol).as("query_id"), col(embCol).as("embedding")), topK)

  /** Build the IVFADC composition (coarse cells + PQ codes): queries
    * probe `nprobe` cells and run integer ADC only within them —
    * memory M bytes/vector AND compute ~nprobe/k of the corpus per
    * query batch. The codebook trains on plain sub-vectors (documented
    * simplification vs per-cell residuals — keeps codes
    * cell-independent). `residual = true` is the paper's full-fidelity
    * variant (eq. 13): codebook trained on and codes encoding
    * x − q1(x), finer quantization at the same bit budget for the
    * price of one query-side ADC table per probed cell
    * (`ann_ivfpq_residual_recall` publishes the measured gain). Both
    * variants are deterministic and oracle-checked end-to-end.
    */
  def ivfPqBuild(corpus: DataFrame, idCol: String, embCol: String,
      kCoarse: Int = 10, m: Int = 8, dsub: Int = 8, ksub: Int = 16,
      residual: Boolean = false)
      : graft.operators.AnnSuite.IvfPqIndex =
    graft.operators.AnnSuite.ivfPqBuild(corpus, idCol, embCol, kCoarse,
      m, dsub, ksub, residual)

  def ivfPqSave(index: graft.operators.AnnSuite.IvfPqIndex, dir: String): Unit =
    graft.operators.AnnSuite.ivfPqSave(index, dir)

  def ivfPqLoad(spark: SparkSession, dir: String): graft.operators.AnnSuite.IvfPqIndex =
    graft.operators.AnnSuite.ivfPqLoad(spark, dir)

  /** Serve a query batch from an IVFADC index: probe `nprobe` coarse
    * cells, ADC-score only their codes (partition-pruned against a
    * [[ivfPqSave]]d index), top-k per query.
    */
  def ivfPqQuery(index: graft.operators.AnnSuite.IvfPqIndex, queries: DataFrame,
      idCol: String, embCol: String, nprobe: Int = 2, topK: Int = 5): DataFrame =
    graft.operators.AnnSuite.ivfPqQuery(index, queries, idCol, embCol, nprobe, topK)

  /** Incremental IVFADC maintenance — [[ivfAppend]]'s twin for the
    * composed quantized index: assign the arriving batch at the
    * persisted index's FIXED coarse centroids, encode at its FIXED
    * codebook (residual-aware), land a batchId-keyed cell-partitioned
    * code segment. Queries then see old + new corpus with no retrain.
    * Cost ∝ batch; the standing codes are never read. Same replay
    * contract as [[ivfAppend]] (idempotent per batchId, no-op at or
    * below the compaction watermark, ids monotonically increasing —
    * foreachBatch's contract). Returns false for a watermarked replay.
    */
  def ivfPqAppend(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, embCol: String, batchId: Long): Boolean =
    graft.operators.AnnSuite.ivfPqAppend(spark, dir, batch, idCol, embCol, batchId)

  /** Fold every committed [[ivfPqAppend]] code segment into a new
    * compacted base generation — [[ivfCompact]]'s twin for the code
    * store (same crash-safe manifest commit, folded-batchId watermark,
    * and one-generation reader retention). Returns false when there
    * was nothing to fold.
    */
  def ivfPqCompact(spark: SparkSession, dir: String, retain: Int = 1): Boolean =
    graft.operators.AnnSuite.CodesStore.compact(spark, dir, retain = retain)

  /** Tombstone a batch of vector ids out of a persisted IVFADC index —
    * right-to-be-forgotten without a rebuild: the ids land as a
    * batchId-keyed DELETE segment (cost ∝ the delete batch; the
    * standing codes are never read or rewritten), every [[ivfPqLoad]]
    * anti-joins them out immediately (broadcast — the tombstone set is
    * delete-traffic-sized), and the next [[ivfPqCompact]] purges the
    * code rows physically and clears the tombstones. Delete-wins and
    * TERMINAL per id: re-inserting a deleted id is out of contract
    * (corpus ids are unique). Shares [[ivfPqAppend]]'s monotonic
    * batchId space and watermark — that shared watermark is what stops
    * an append replay from resurrecting rows a folded delete removed.
    * Returns false for a watermarked replay.
    */
  def ivfPqDelete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String, batchId: Long): Boolean =
    graft.operators.AnnSuite.CodesStore.delete(spark, dir, ids, idCol, batchId)

  /** ZERO-DOWNTIME REINDEX of a persisted IVFADC index —
    * [[ivfRetrain]]'s twin for the quantized store. Codes are lossy,
    * so pass the SOURCE corpus frame: the index's current tombstones
    * are masked out of it, coarse centroids + codebook + codes rebuild
    * with the index's own hyperparameters (derived from the persisted
    * tables), and the whole quadruple swaps in atomically as the next
    * generation (generation-versioned sidecars — a torn retrain is
    * invisible, readers never see a mixed pair, post-retrain appends
    * encode at the new parameters). Single-writer discipline with
    * append/compact applies.
    */
  def ivfPqRetrain(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, embCol: String, retain: Int = 1): Boolean =
    graft.operators.AnnSuite.ivfPqRetrain(spark, dir, corpus, idCol, embCol,
      retain = retain)

  /** Deterministic k-means over an embedding column: hash-ordered seed
    * sample, `iters` exact fixed-point Lloyd iterations, then a
    * per-cluster rollup (member count, e6-quantized inertia summed as
    * integers so the result is reduction-order-proof, centroid squared
    * norm). Same kernels as the oracle-checked `emb_kmeans` registry
    * entry — `iters = 2` reproduces it row-for-row (GraftApiSpec pins
    * this).
    *
    * Iteration-safe lineage for arbitrary `iters` (the graph_pagerank
    * pattern): each Lloyd round's centroids — k × dims rows — are
    * `localCheckpoint`ed eagerly, truncating both lineage and logical
    * plan, so iteration N's plan scans the corpus ONCE against
    * materialized centroids instead of re-deriving every earlier
    * round's aggregate (the unrolled registry form instead leans on
    * exchange reuse, which only Spark's canonical-plan matching
    * guarantees — fine at 2 rounds, fragile at 20). Per-iteration cost
    * at any scale: one narrow corpus scan vs broadcast centroids plus
    * a (k × dims)-row aggregate; total corpus scans = iters + 2
    * (seed pass, one per Lloyd round, final assignment).
    *
    * Fault tolerance: the per-round localCheckpoint pins only the
    * k × dims centroid rows (bytes, not a corpus-scale intermediate),
    * but the blocks are non-recomputable — an executor loss holding
    * them fails the job rather than replaying lineage. On a long
    * cluster run, swap in a reliable checkpoint dir (SURVEY §5); the
    * plan shape is identical.
    */
  def kmeans(df: DataFrame, idCol: String, embCol: String,
      k: Int = 10, iters: Int = 2): DataFrame = {
    require(k > 0 && iters >= 0, s"kmeans: need k > 0, iters >= 0 (got $k/$iters)")
    import graft.operators.AnnSuite
    val e = df.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    var cents = AnnSuite.kmeansSeeds(e, k).localCheckpoint()
    for (_ <- 1 to iters)
      cents = AnnSuite.lloydStep(
        AnnSuite.kmeansAssign(e, cents)
          .select(col("vec_id"), col("cid"), col("embedding")))
        .localCheckpoint()
    AnnSuite.kmeansRollup(AnnSuite.kmeansAssign(e, cents), cents)
  }

  /** Persist a built IVF index (centroids + cell-partitioned corpus
    * assignments) as parquet — build once, serve from any later
    * session via [[ivfLoad]].
    */
  def ivfSave(index: graft.operators.AnnSuite.IvfIndex, dir: String): Unit =
    graft.operators.AnnSuite.ivfSave(index, dir)

  /** Reload an [[ivfSave]]d index; serves [[ivfQuery]] identically to
    * the freshly built one.
    */
  def ivfLoad(spark: SparkSession, dir: String): graft.operators.AnnSuite.IvfIndex =
    graft.operators.AnnSuite.ivfLoad(spark, dir)

  /** LAST-WRITE-WINS reader view of a persisted IVF index — the
    * CDC-upsert read path (the reference sink's insert-mode=upsert /
    * LSN discipline): per cand_id the highest-batchId append-segment
    * row wins over the base and over any earlier tombstone, so a
    * feed routing `c`/`u` envelope ops through [[ivfAppend]] and `d`
    * ops through [[ivfDelete]] serves an index where an update of a
    * live id supersedes instead of duplicating and a delete stops
    * being terminal (a later re-insert wins; batchId ties go to the
    * tombstone). One op per id per batch — collapse the envelope
    * upstream (cdcApplyLatest) first. Winner selection runs on the
    * delta only; the base pays one broadcast anti-join.
    */
  def ivfLoadLww(spark: SparkSession, dir: String): graft.operators.AnnSuite.IvfIndex =
    graft.operators.AnnSuite.ivfLoadLww(spark, dir)

  /** Fold the LWW reader view into the next generation — the upsert
    * store's compaction ([[ivfLoadLww]]'s semantics made physical;
    * use [[ivfCompact]] only for terminal-delete stores).
    */
  def ivfUpsertCompact(spark: SparkSession, dir: String, retain: Int = 1): Boolean =
    graft.operators.AnnSuite.IvfStore.upsertCompact(spark, dir, retain = retain)

  /** Incremental IVF maintenance: assign an arriving batch at a
    * persisted index's FIXED centroids and land it as a batchId-keyed
    * cell-partitioned segment — queries then see old + new corpus with
    * no rebuild. Cost ∝ batch (the standing assignments are never
    * read); equal to a full assignment of the unioned corpus at the
    * same centroids (the oracle-checked `ann_ivf_append` contract).
    * Idempotent per `batchId` (each batch overwrites exactly its own
    * segment), so a streaming checkpoint replaying a torn micro-batch
    * rewrites rather than duplicates it — pass foreachBatch's batchId
    * through. `batchId` is REQUIRED: two appends sharing an id
    * overwrite each other, so replay semantics are opt-in via an
    * explicit id rather than a silent default (ad-hoc appends should
    * pass any caller-unique id, monotonically increasing per index —
    * foreachBatch's batchId already is). A batchId at or below the
    * compaction watermark is a replay of an already-folded batch and
    * lands NOTHING (returns false): without the watermark, a
    * checkpoint replay arriving after its segment was folded would
    * duplicate rows already in the compacted base. Re-cluster (a
    * fresh [[ivfBuild]]) when drift degrades recall —
    * `ann_recall_eval` is the gate.
    */
  def ivfAppend(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, embCol: String, batchId: Long): Boolean =
    graft.operators.AnnSuite.ivfAppend(spark, dir, batch, idCol, embCol, batchId)

  /** Fold every committed [[ivfAppend]] segment into a new compacted
    * base generation — the living index's small-files maintenance
    * (a 1 s-trigger stream lands ~86k segment directories per day;
    * load-time listing degrades long before the data does). Crash-safe
    * land-then-swap: the folded base lands under the next generation's
    * name, a MANIFEST write commits it atomically (a torn write is
    * self-invalidating and readers stay on the old generation), and
    * the manifest records the folded-batchId watermark replays check
    * against. Reader-vs-compactor isolation is by GENERATION
    * RETENTION: committing generation n+1 retires generation n−1,
    * never n, so an in-flight reader that resolved the
    * pre-compaction layout keeps a complete generation on disk until
    * the NEXT compaction. Run it from the SAME maintenance loop that
    * drives ivfAppend (single-writer discipline). `retain` sizes the
    * reader grace window: keep the newest `retain` previous
    * generations (default 1), matched to the longest query a
    * deployment lets run across compaction cadences. Returns false
    * when there was nothing to fold.
    */
  def ivfCompact(spark: SparkSession, dir: String, retain: Int = 1): Boolean =
    graft.operators.AnnSuite.IvfStore.compact(spark, dir, retain = retain)

  /** Tombstone a batch of vector ids out of a persisted IVF index —
    * [[ivfPqDelete]]'s twin on the assignments store (same delete
    * channel, same watermark, same purge-at-[[ivfCompact]] lifecycle).
    * Returns false for a watermarked replay.
    */
  def ivfDelete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String, batchId: Long): Boolean =
    graft.operators.AnnSuite.IvfStore.delete(spark, dir, ids, idCol, batchId)

  /** ZERO-DOWNTIME REINDEX of a persisted IVF index — the drift
    * answer (`ann_recall_eval` is the gate that says when): re-cluster
    * the CURRENT reader view (base ∪ appends − deletes, carried
    * attributes preserved) with a fresh deterministic build and swap
    * it in as the next generation through the compactions' crash-safe
    * land-then-commit. Readers keep serving the old centroids +
    * assignments pair until the manifest commits (centroid tables are
    * generation-versioned, so a serving pair can never mix
    * generations); a torn retrain is invisible; in-flight readers are
    * protected by the same `retain` window as compactions. Appends
    * after the retrain assign at the NEW centroids. Also purges
    * tombstones (it trains on the filtered view). Works with zero
    * pending segments; single-writer discipline with append/compact
    * applies. Equal to a fresh [[ivfBuild]]+[[ivfSave]] over the live
    * corpus — but without ivfSave's reset window, during which a
    * concurrent reader would observe a half-written base.
    *
    * `k` defaults to the persisted index's own geometry (its centroid
    * count); pass a positive value only to deliberately re-cluster at
    * a new nlist.
    */
  def ivfRetrain(spark: SparkSession, dir: String, k: Int = -1,
      retain: Int = 1): Boolean =
    graft.operators.AnnSuite.ivfRetrain(spark, dir, k, retain = retain)

  // ---- Joins ---------------------------------------------------------

  /** AS-OF LEFT JOIN through the custom physical operator
    * (org.apache.spark.sql.graft.AsofJoin): each left row matched to the
    * right row with the greatest rightTime <= leftTime for its key.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame =
    org.apache.spark.sql.graft.GraftAsof
      .asofJoin(left, right, leftKey, rightKey, leftTime, rightTime)

  /** Forward AS-OF LEFT JOIN: each left row matched to the right row
    * with the SMALLEST rightTime >= leftTime for its key (next event
    * at-or-after — conversion attribution, next-quote lookups). Runs
    * the same native merge with both numeric time columns negated, so
    * the backward operator's plan shape (one exchange + sort per side,
    * O(1)-state merge) carries over unchanged.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    def numeric(df: DataFrame, c: String): Unit = {
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"asofJoinForward: time column '$c' must be numeric (epoch micros), got ${dt.sql}")
    }
    numeric(left, leftTime); numeric(right, rightTime)
    org.apache.spark.sql.graft.GraftAsof
      .asofJoin(
        left.withColumn("__neg_lt", -col(leftTime)),
        right.withColumn("__neg_rt", -col(rightTime)),
        leftKey, rightKey, "__neg_lt", "__neg_rt")
      .drop("__neg_lt", "__neg_rt")
  }

  /** Pure range join (no equality key): points matched to every window
    * with winStart <= t < winEnd. Spark plans a bare inequality join as
    * a broadcast-nested-loop — quadratic at scale; this instead explodes
    * each window into the time bins it overlaps and equality-joins on
    * the bin, so the shuffle is hash-partitioned and each point meets
    * only windows near it in time. Pick `binWidth` ≈ the typical window
    * length: each window then lands in ≤ 2 bins and the residual filter
    * does the exact bounds. A point's single bin meets each window at
    * most once, so no dedup is needed. Column names must be disjoint.
    */
  /** Exact global or per-group row ranks AT SCALE — the
    * distributed-selection kernel behind the exact median / quartile /
    * percentile / decile operators. The naive shape (a rank window
    * partitioned by a low-cardinality group key) sorts each group on
    * ONE task — parallelism = group count on any cluster size — and
    * buffers whole partitions for its count-over-partition frame; the
    * r9 sf1→sf10 gate measured 20.8× wall for 10× data on exactly
    * that. Here instead: range-partition on (group, order) so every
    * group spreads across all tasks while partitions stay ordered
    * BETWEEN themselves, rank locally per (group, range-partition id)
    * cell — many small cells, each sorted in parallel — then lift
    * local ranks to global ones with broadcast per-partition offsets
    * (valid precisely because range partition p's keys never exceed
    * p+1's). Appends `rn` (1-based rank by `order` within each group;
    * give `order` a unique tiebreak when rank ASSIGNMENT matters, not
    * just the value at a rank) and `cnt` (group size).
    *
    * CONTRACT (checked where possible): the offsets branch and the
    * rank branch must observe the SAME range bounds, which holds
    * because their exchanges are canonically identical and Spark's
    * exchange-reuse executes them once (RangePartitioner SAMPLES it's
    * input with an rdd-id-derived seed, so two independent executions
    * may pick different bounds). Therefore: exchange reuse must be
    * enabled (required below), and `df` must carry ONLY the group and
    * order columns — a payload column would be pruned below one
    * branch's exchange but not the other's, breaking the canonical
    * match (also required below, which doubles as the guard against
    * the appended/internal name collisions). PlanShapeSpec pins the
    * ReusedExchange node on the registry instances.
    *
    * `parts` = 0 (default) resolves to max(64, 2 × shuffle
    * partitions). At extreme scale pass it explicitly: each (group,
    * partition) cell sorts on one task and carries an Int local rank,
    * so parts must keep cells comfortably under 2^31 rows (e.g.
    * ~10^12-row groups want parts ≥ ~10^4). `groupCols` empty = one
    * global ranking.
    */
  def rankedByGroup(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], parts: Int = 0): DataFrame = {
    require(df.sparkSession.sessionState.conf.exchangeReuseEnabled,
      "rankedByGroup needs spark.sql.exchange.reuse=true: its two branches must " +
        "observe one shared range exchange (independent executions may sample " +
        "different range bounds, silently corrupting the offset join)")
    val reserved = Seq("rn", "cnt", "__pid", "__rnl", "__off", "__c")
    // order-column names from the EXPRESSION TREE, not toString-munging
    // (a column literally named "x DESC" or needing backtick quoting
    // would mis-strip under a regex): every attribute an order
    // expression references is an order input — this also admits the
    // inputs of a computed sort key (e.g. col("a") + col("b")), which
    // feed the sort and are therefore not payload
    val orderNames = order.flatMap(
      org.apache.spark.sql.graft.Bridge.expressionOf(_).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
      }).toSet
    val clash = df.columns.filter(c => reserved.contains(c) ||
      !(groupCols.contains(c) || orderNames.contains(c)))
    require(clash.isEmpty,
      s"rankedByGroup input must carry only group+order columns (project first); " +
        s"offending: ${clash.mkString(", ")} — payload columns break exchange " +
        "dedup (bounds divergence) and reserved names would be overwritten")
    val nParts = if (parts > 0) parts
      else math.max(64, 2 * df.sparkSession.sessionState.conf.numShufflePartitions)
    val gs = groupCols.map(col)
    val ranged = df.repartitionByRange(nParts, (gs ++ order): _*)
      .withColumn("__pid", spark_partition_id())
    val cnts = ranged.groupBy((gs :+ col("__pid")): _*).agg(count(lit(1)).as("__c"))
    val wOff = Window.partitionBy(gs: _*).orderBy(col("__pid"))
    val offs = cnts
      .withColumn("__off", coalesce(
        sum(col("__c")).over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cnt", sum(col("__c")).over(Window.partitionBy(gs: _*)))
      .select((gs :+ col("__pid") :+ col("__off") :+ col("cnt")): _*)
    val wLocal = Window.partitionBy((gs :+ col("__pid")): _*).orderBy(order: _*)
    ranged
      .withColumn("__rnl", row_number().over(wLocal))
      .join(broadcast(offs), groupCols :+ "__pid")
      .withColumn("rn", col("__off") + col("__rnl"))
      .drop("__pid", "__rnl", "__off")
  }

  /** Scale variant of an exact ntile decile rollup: bucket BOUNDARIES
    * come from one approx_percentile aggregate pass, then a broadcast
    * of the (buckets−1)-element boundary array assigns each row its
    * bucket map-side — no global window sort anywhere, so the shape
    * survives a key dimension too large to sort on one partition
    * (the exact q_decile_stats entry is the oracle-checkable variant
    * that validates this one). Bucket 1 = highest values, matching
    * ntile over a descending sort. Returns per-bucket
    * (decile, n, total, min_v, max_v); boundary-tie rows land by value
    * (ntile splits ties by rank), which is the approximation's only
    * systematic divergence.
    */
  def decileStatsApprox(df: DataFrame, valCol: String,
      buckets: Int = 10, accuracy: Int = 10000): DataFrame = {
    val probs = (1 until buckets).map(i => i.toDouble / buckets).mkString(", ")
    val bounds = df.agg(
      expr(s"approx_percentile($valCol, array($probs), $accuracy)").as("__bs"))
    df.crossJoin(broadcast(bounds))
      .withColumn("decile",
        expr(s"1 + size(filter(__bs, b -> b > $valCol))").cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), Portable.dsum(col(valCol)).as("total"),
        min(col(valCol)).as("min_v"), max(col(valCol)).as("max_v"))
      .orderBy("decile")
  }

  def rangeJoinBinned(points: DataFrame, windows: DataFrame,
      pointTime: String, winStart: String, winEnd: String,
      binWidth: Long): DataFrame = {
    val binned = windows.withColumn("__bin",
      explode(sequence(expr(s"$winStart div $binWidth"), expr(s"$winEnd div $binWidth"))))
    points.withColumn("__bin", expr(s"$pointTime div $binWidth"))
      .join(binned, "__bin")
      .filter(col(pointTime) >= col(winStart) && col(pointTime) < col(winEnd))
      .drop("__bin")
  }

  // ---- Text / training-data ops --------------------------------------

  /** Benchmark-contamination pairs: corpus docs sharing ≥1 word-`n`-gram
    * with `benchmark`. Grams are 60-bit hashes (8-byte join keys).
    */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    register(corpus.sparkSession)
    def grams(df: DataFrame, as: String) = df
      .withColumn("__ws", split(lower(col(textCol)), " "))
      .filter(size(col("__ws")) >= n)
      .withColumn("__gh", expr(s"coalesce(array_distinct(gram_hashes60(__ws, $n)), array())"))
      .select(col(idCol).as(as), explode(col("__gh")).as("__h"))
    grams(corpus, "doc_id").join(grams(benchmark, "bench_id"), "__h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Deterministic hash-based sampling: keeps a row iff
    * hash60(id) % 100 < ratePercent — identical across engines, reruns
    * and parallelism.
    */
  def hashSample(df: DataFrame, idCol: String, ratePercent: Column): DataFrame =
    df.filter(Portable.rowHash60(col(idCol).cast("string")) % 100 < ratePercent)

  /** Per-row acceptance sampling at a per-row probability: keep iff
    * hash60(salt:id) mod 1e6 < prob·1e6. Like [[hashSample]] but the
    * rate is a column (e.g. a quality score in [0,1]) — deterministic
    * importance sampling with no RNG state.
    */
  def weightedHashSample(df: DataFrame, idCol: String, prob: Column,
      salt: String = "sample"): DataFrame =
    df.filter(
      pmod(Portable.rowHash60(concat(lit(salt + ":"), col(idCol).cast("string"))),
        lit(1000000L)) < floor(prob * lit(1e6) + lit(0.5)).cast("long"))

  /** Overlapping fixed-window chunking: (chunk_idx, start_off, chunk)
    * rows per input row — the document→passage step before an
    * embedding encode. Closed-form chunk count, zero shuffle.
    */
  def chunkSplit(df: DataFrame, textCol: String, lenCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"chunkSplit: need 0 < stride <= chunkSize (got $chunkSize/$stride)")
    df.withColumn("__n", expr(
        s"CASE WHEN $lenCol <= $chunkSize THEN CAST(1 AS BIGINT) " +
          s"ELSE 1 + ($lenCol - $chunkSize + ${stride - 1}) div $stride END"))
      .select(col("*"),
        posexplode(expr(s"transform(sequence(0, CAST(__n - 1 AS INT)), i -> i * $stride)")))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "start_off")
      .withColumn("chunk", expr(s"substring($textCol, start_off + 1, $chunkSize)"))
      .drop("__n")
  }

  /** Domain-mixture sampling weights over any (domain, weight) pair:
    * per-domain totals, natural and uniform shares, a 50/50 blended
    * target and the over/under-sampling factor — all integer
    * parts-per-million (exact on every engine, no pow-based
    * temperature). One shuffle on the domain + a broadcast totals row.
    */
  def mixWeights(df: DataFrame, domainCol: String, weightCol: Column): DataFrame = {
    val per = df.select(col(domainCol).as("domain"), weightCol.cast("long").as("__w"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__w")).as("weight"))
      .localCheckpoint()
    val tot = per.agg(sum(col("weight")).as("__tot"), count(lit(1)).cast("long").as("__k"))
    per.crossJoin(broadcast(tot))
      .withColumn("natural_ppm", expr("weight * 1000000 DIV __tot"))
      .withColumn("uniform_ppm", expr("1000000 DIV __k"))
      .withColumn("target_ppm", expr("(natural_ppm + uniform_ppm) DIV 2"))
      .withColumn("boost_ppm",
        expr("CASE WHEN natural_ppm > 0 THEN target_ppm * 1000000 DIV natural_ppm END"))
      .select("domain", "n_rows", "weight", "natural_ppm", "uniform_ppm",
        "target_ppm", "boost_ppm")
  }

  /** Leak-proof train/valid/test assignment: the split key is the
    * 60-bit hash of the NORMALIZED CONTENT column, so byte-identical
    * rows always land in the same split — the eval-contamination guard
    * a pretraining corpus needs. Returns the input plus a `split`
    * column; pure narrow projection. trainPct/validPct are percentage
    * points (the remainder is test).
    */
  def leakproofSplit(df: DataFrame, contentCol: Column,
      trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"invalid split percentages: train=$trainPct valid=$validPct")
    val hm = Portable.rowHash60(
      regexp_replace(lower(contentCol), "\\s+", " ")) % 100
    df.withColumn("split",
      when(hm < trainPct, "train")
        .when(hm < trainPct + validPct, "valid")
        .otherwise("test"))
  }

  /** Vocabulary coverage curve: fraction of corpus tokens covered by
    * the top-K whitespace words, for each K (ppm, exact integer
    * arithmetic). The global rank sorts only the vocabulary (bounded by
    * language, not corpus bytes).
    */
  /** Top-`topK` dimension pairs of the exact-integer embedding
    * covariance matrix, by |cov|. `dim` = 0 derives the dimension from
    * the data (one bounded 1-row probe); pass it explicitly to keep the
    * plan probe-free. `embCol` must be an array of floats/doubles in
    * [-1, 1] (the e4 fixed-point quantization's overflow contract).
    */
  def embCovarianceTop(df: DataFrame, embCol: String,
      topK: Int = 20, dim: Int = 0): DataFrame =
    graft.operators.LlmExtra.covUpperOf(
        df.select(col(embCol).as("embedding")), dim)
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("c").as("cov_e6"))
      .orderBy(abs(col("cov_e6")).desc, col("i"), col("j"))
      .limit(topK)

  /** Leading covariance eigendirection via `iters` rounds of
    * exact-integer power iteration (deterministic all-ones start,
    * per-step ppm rescale — same contract as the emb_pca_power registry
    * entry). Returns (dim, v_ppm). `dim` as in [[embCovarianceTop]].
    */
  def embPcaPower(df: DataFrame, embCol: String,
      iters: Int = 3, dim: Int = 0): DataFrame = {
    val up = graft.operators.LlmExtra.covUpperOf(
        df.select(col(embCol).as("embedding")), dim)
      .localCheckpoint()
    graft.operators.LlmExtra.pcaPowerOf(
      graft.operators.LlmExtra.mirrorCells(up), iters)
  }

  /** Tokens covered by the top-k words of `textCol` (lower-cased,
    * split on ' '), per k; no row for k < 1. The sum depends only on
    * the sorted counts (words tied at the k boundary have equal counts),
    * so it is read off the (count → number of words) histogram: each k
    * takes the count level its k-th word falls in. The ordered window
    * spans the distinct counts (at most √(2·tokens)), not the vocabulary.
    */
  def vocabCoverage(df: DataFrame, textCol: Column, ks: Seq[Long]): DataFrame = {
    import df.sparkSession.implicits._
    val upTo = Window.orderBy(desc("cnt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val levels = df.select(explode(split(lower(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("n_w"))
      .select(col("cnt"), col("n_w"),
        // words / tokens at counts >= cnt
        sum(col("n_w")).over(upTo).as("words_to"),
        sum(col("cnt") * col("n_w")).over(upTo).as("tokens_to"),
        sum(col("cnt") * col("n_w")).over(all).as("total_tokens"),
        sum(col("n_w")).over(all).as("n_vocab"))
    val nTop = least(col("k"), col("words_to"))
    ks.toDF("k")
      .join(levels, col("words_to") - col("n_w") < col("k") &&
        (col("k") <= col("words_to") || col("words_to") === col("n_vocab")))
      .select(col("k"), nTop.as("n_top"),
        (col("tokens_to") - (col("words_to") - nTop) * col("cnt")).as("covered_tokens"),
        col("total_tokens"), col("n_vocab"))
      .withColumn("coverage_ppm", expr("covered_tokens * 1000000 DIV total_tokens"))
  }
}
