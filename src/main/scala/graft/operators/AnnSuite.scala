package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2 E (similarity search) — approximate-nearest-neighbor over the
  * embedding column.
  *
  * Brute-force is the exactness baseline: broadcast the (small) query
  * set against a scan of the corpus — one narrow pass, no shuffle of the
  * corpus itself, which is the right shape when queries ≪ corpus (the
  * corpus side never moves; at 100 TB that's the only viable layout).
  *
  * IVF is the scale path: a coarse quantizer (k-means-style centroids)
  * partitions the corpus; queries probe only `nprobe` cells, pruning the
  * scanned fraction to ~nprobe/k. Centroids are derived deterministically
  * (seed vectors + one Lloyd step) so the result is reproducible.
  *
  * Vector math is double-fold `aggregate`/`zip_with` — sequential fold
  * order is part of the contract, so cosines are engine-exact and the
  * brute-force top-k is oracle-checked; IVF's recall-vs-speed tradeoff
  * is checked by spec (rows-only here).
  */
object AnnSuite {

  /** IVF parameters (overridable per call via [[ivf]]). */
  private[graft] val IvfK = 10
  private[graft] val IvfNProbe = 2

  /** Per-centroid squared distances as an array of (dist, cid) structs —
    * dist first so struct ordering is (dist, cid).
    */
  private val DistsExpr =
    """transform(cents, c -> named_struct('dist',
      |  aggregate(zip_with(embedding, c.ce, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0 AS DOUBLE), (acc, v) -> acc + v),
      |  'cid', c.cid))""".stripMargin

  /** IVF index build + probe over ARBITRARY frames, parameterized by
    * centroid count / probe width / result depth. Assignment is a narrow
    * per-row argmin expression over the broadcast centroid array: no n·k
    * row explosion, no window exchange — the shape that survives 100 TB
    * (each executor scans its rows once). This is the generic kernel the
    * public API (graft.api.Graft.annIvf) exposes; the registry's
    * `ann_ivf` pins it to the lake.
    */
  /** A built IVF index: the corpus assigned to cells plus the refined
    * centroids. Both are plain DataFrames — persist or write them once
    * and serve many query batches through [[ivfQuery]].
    */
  case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  private[graft] def ivfSearch(corpus: DataFrame, queriesDf0: DataFrame,
      idCol: String, embCol: String,
      k: Int, nprobe: Int, topK: Int): DataFrame =
    ivfQuery(ivfBuild(corpus, idCol, embCol, k), queriesDf0, idCol, embCol, nprobe, topK)

  /** Build phase: seeds → assign → one fixed-point Lloyd step →
    * reassign. Everything deterministic, so a rebuilt index is
    * bit-identical.
    */
  /** `carry` names ATTRIBUTE columns of the corpus to store alongside
    * each index row (label, language, license …) — the filtered-search
    * layout: a predicate on a carried column evaluates at the parquet
    * scan of the persisted index (pushed filter), so attribute-filtered
    * ANN never joins the corpus back in. Training ignores them.
    */
  private[graft] def ivfBuild(corpus: DataFrame,
      idCol: String, embCol: String, k: Int,
      carry: Seq[String] = Nil): IvfIndex = {
    val e = corpus.select(
      (col(idCol).as("vec_id") +: col(embCol).as("embedding") +:
        carry.map(col)): _*)
    val assign0 = kmeansAssign(e, kmeansSeeds(e, k))
      .select(col("vec_id"), col("cid"), col("embedding"))
    // k rows — localCheckpoint (the Graft.kmeans/semanticCells lineage
    // pattern): without it every consumer of the centroids (the assign1
    // broadcast below, ivfSave's centroid write, every probeCells
    // broadcast) re-runs the full seeds → assign → Lloyd lineage,
    // i.e. one EXTRA CORPUS SCAN per consuming action at any scale
    val refined = lloydStep(assign0).localCheckpoint()
    val assign1 = kmeansAssign(e, refined)
      .select((col("vec_id").as("cand_id") +: col("cid").as("cell") +:
        col("embedding").as("ce2") +: carry.map(col)): _*)
    IvfIndex(assign1, refined)
  }

  /** Deterministic hash-ordered seed sample: the k vectors with the
    * smallest 60-bit hash of vec_id — an unbiased pseudo-random seed
    * set (the first-k-rows init would sample one corner of the file),
    * still reproducible in the oracle's md5-prefix ORDER BY. Shared by
    * ivfBuild and emb_kmeans so their shared-oracle seeding can never
    * drift apart. TakeOrdered keeps only k rows.
    */
  private[graft] def kmeansSeeds(e: DataFrame, k: Int): DataFrame = {
    import graft.functions.Portable.rowHash60
    e.orderBy(rowHash60(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
  }

  /** Nearest-centroid assignment: argmin by sequential scan with strict
    * '<' over the cid-ascending array — ties keep the lowest cid,
    * identical to ORDER BY dist, cid. Keeps the winning squared
    * distance as `dist` (emb_kmeans' inertia reads it; ivfBuild drops
    * it). Narrow per-row expression over the broadcast centroid array:
    * no n·k row explosion, no window exchange. Runs through the fused
    * native `nearest_centroid` (bit-equal to the composed
    * DistsExpr + aggregate-argmin form — NearestCentroidSpec pins it):
    * the composed higher-order pipeline evaluated corpus-rows × k ×
    * dims interpreted boxed lambdas and topped the sf10 headline tail
    * across every build/append/clustering entry.
    */
  private[graft] def kmeansAssign(points: DataFrame, cents: DataFrame): DataFrame = {
    org.apache.spark.sql.graft.Bridge.register(points.sparkSession)
    points.crossJoin(broadcast(centArray(cents)))
      .withColumn("best", expr("nearest_centroid(embedding, cents)"))
      .withColumn("cid", col("best.cid"))
      .withColumn("dist", col("best.dist"))
      .drop("cents", "best")
  }

  /** The composed (pre-native) assignment argmin — kept as the
    * executable specification `nearest_centroid` is spec-pinned
    * bit-equal against (NearestCentroidSpec).
    */
  private[graft] def kmeansAssignComposed(points: DataFrame, cents: DataFrame): DataFrame =
    points.crossJoin(broadcast(centArray(cents)))
      .withColumn("dists", expr(DistsExpr))
      .withColumn("best", expr(
        """aggregate(dists, named_struct('dist', CAST('Infinity' AS DOUBLE), 'cid', CAST(-1 AS BIGINT)),
          |  (b, x) -> IF(x.dist < b.dist, x, b))""".stripMargin))
      .withColumn("cid", col("best.cid"))
      .withColumn("dist", col("best.dist"))
      .drop("cents", "dists", "best")

  /** Lloyd step: per-(cluster, dim) mean, rebuilt into float vectors.
    * The mean uses exact fixed-point accumulation (a bare avg() over
    * floats is reduction-order nondeterministic, which would make the
    * result irreproducible); the one exact double division per
    * (cluster, dim) is engine-deterministic.
    */
  private[graft] def lloydStep(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(floor(col("col").cast("double") * 1e6 + 0.5)).cast("double")
        / count(lit(1)) / 1e6).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("ce"))

  /** Single-row cid-ascending centroid array, broadcast to every task. */
  private def centArray(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("cid"), col("ce")))).as("cents"))

  /** Per-cluster rollup over a final assignment: member count, exact
    * e6-quantized inertia (distances quantize to integers BEFORE the
    * cluster sum, so the result is reduction-order-proof), and the
    * centroid's squared norm. Shared by the emb_kmeans registry entry
    * and the k-iteration Graft.kmeans API so their shared oracle can
    * never drift apart.
    */
  private[graft] def kmeansRollup(assigned: DataFrame, cents: DataFrame): DataFrame = {
    val norms = cents.select(col("cid"), expr(
      """CAST(FLOOR(aggregate(ce, CAST(0 AS DOUBLE),
        |  (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"""
        .stripMargin).as("norm_e6"))
    assigned.withColumn("dist_e6", floor(col("dist") * 1e6 + 0.5).cast("long"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist_e6")).as("inertia_e6"))
      .join(broadcast(norms), "cid")
      .select("cid", "n_members", "inertia_e6", "norm_e6")
      .orderBy("cid")
  }

  /** The `nprobe` nearest cells per query — (query_id, cell, qe) rows,
    * ranked inside one array expression (sort k structs per query row —
    * no window, no shuffle). Shared by [[ivfQuery]] and the ann_tune
    * operating-point sweep (which also needs the probed-cell set to
    * price each nprobe in corpus rows scanned). `queriesDf` must carry
    * (query_id, embedding).
    */
  private def probeCells(cents: DataFrame, queriesDf: DataFrame,
      nprobe: Int): DataFrame =
    queriesDf.crossJoin(broadcast(centArray(cents)))
      .withColumn("dists", expr(DistsExpr))
      .select(col("query_id"), col("embedding").as("qe"),
        explode(expr(s"slice(array_sort(dists), 1, $nprobe)")).as("p"))
      .select(col("query_id"), col("p.cid").as("cell"), col("qe"))

  /** Product-quantization search (Jégou et al., TPAMI 2011 — the
    * memory-bounded ANN scale path: an M-byte code per vector instead
    * of the raw floats). Training mirrors [[ivfBuild]] per SUBSPACE:
    * the same hash-ordered seed rule, one fixed-point Lloyd step, and
    * the native argmin — everything deterministic, so both codebook
    * and codes are bit-reproducible and the whole chain is
    * oracle-checkable. Query is asymmetric distance computation (ADC):
    * each query precomputes its (subspace × sub-centroid) distance
    * table ONCE (e6-quantized to integers BEFORE the cross-subspace
    * sum, so scoring is reduction-order-proof BIGINT adds), then every
    * candidate costs M integer table lookups instead of a 64-dim float
    * loop. Scale shape: codebooks and per-query tables are broadcast
    * (ksub·M sub-centroids ≈ KBs); encoding is ONE narrow projection
    * over the corpus (no row explosion — the per-j argmin runs inside
    * an array expression); only Lloyd's mean explodes (corpus × dims,
    * the [[lloydStep]] cost class, training-time only).
    */
  private[graft] def pqSearch(corpus: DataFrame, queriesDf: DataFrame,
      m: Int, dsub: Int, ksub: Int, topK: Int): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"))
    val book = pqTrain(e, m, dsub, ksub)
    val codes = pqEncode(e, book, m, dsub)
    val dtab = pqAdcTables(queriesDf, book, m, dsub)
    val scored = codes.crossJoin(broadcast(dtab))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adist_e6", expr(adcSumExpr(m)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist_e6"), col("cand_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select("query_id", "cand_id", "adist_e6", "rk")
  }

  /** One row: subcents[j+1] = cid-ascending array<struct<cid, ce>> of
    * subspace j's codebook (array order IS the oracle's ORDER BY cid).
    */
  private def subcentsArr(cents: DataFrame): DataFrame =
    cents.groupBy(col("j"))
      .agg(array_sort(collect_list(struct(col("cid"), col("sc").as("ce")))).as("jc"))
      .agg(array_sort(collect_list(struct(col("j"), col("jc")))).as("jcs"))
      .select(expr("transform(jcs, x -> x.jc)").as("subcents"))

  /** PQ codebook training over (vec_id, embedding): per-subspace
    * hash-ordered seeds + one fixed-point Lloyd step (the [[ivfBuild]]
    * kernels per SUBSPACE), returned as the one-row broadcastable
    * `subcents` frame, localCheckpointed — everything deterministic,
    * so a retrained codebook is bit-identical and the oracle's md5
    * ORDER BY reproduces it. The Lloyd mean is the one corpus × dims
    * explode in the PQ family — training-time only.
    *
    * `sampleMod` is the 100 TB training-economics knob: the codebook
    * learns from the deterministic 1/sampleMod hash-sample of the
    * input (rowHash60(vec_id) % sampleMod == 0 — reproducible,
    * unbiased, oracle-mirrorable) while callers still ENCODE every
    * vector. At corpus scale the codebook trains on ~0.1–1% of rows;
    * `ann_pq_sampled_recall` publishes the measured recall delta per
    * rate so the trade is a number, not a guess. Default 1 = train on
    * everything (the fused entries' behavior).
    */
  private[graft] def pqTrain(e0: DataFrame, m: Int, dsub: Int, ksub: Int,
      sampleMod: Int = 1): DataFrame = {
    val e =
      if (sampleMod <= 1) e0
      else e0.filter(
        graft.functions.Portable.rowHash60(col("vec_id").cast("string"))
          % sampleMod === 0)
    org.apache.spark.sql.graft.Bridge.register(e.sparkSession)
    // seed codebook: subspace slices of the hash-ordered seed vectors
    // (the ivfBuild seed rule, so the oracle shares its md5 ORDER BY)
    val cents0 = kmeansSeeds(e, ksub)
      .select(explode(expr(s"sequence(0, ${m - 1})")).as("j"), col("cid"), col("ce"))
      .select(col("j"), col("cid"), expr(s"slice(ce, j * $dsub + 1, $dsub)").as("sc"))
    // winning seed cid per (vec, subspace) — native argmin, ties lowest
    // cid (the codebook array is cid-ascending) — then ONE explode to
    // (j, cid, pos) for the fixed-point Lloyd mean
    val refined = e.crossJoin(broadcast(subcentsArr(cents0)))
      .withColumn("c0", expr(
        s"""transform(sequence(0, ${m - 1}), j ->
           |  nearest_centroid(slice(embedding, j * $dsub + 1, $dsub),
           |    element_at(subcents, j + 1)).cid)""".stripMargin))
      .select(col("vec_id"), col("embedding"),
        explode(expr(s"sequence(0, ${m - 1})")).as("j"), col("c0"))
      .select(col("j"), expr("element_at(c0, j + 1)").as("cid"),
        posexplode(expr(s"slice(embedding, j * $dsub + 1, $dsub)")))
      .groupBy(col("j"), col("cid"), col("pos"))
      .agg((sum(floor(col("col").cast("double") * 1e6 + 0.5)).cast("double")
        / count(lit(1)) / 1e6).as("mv"))
      .groupBy(col("j"), col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
      .select(col("j"), col("cid"),
        expr("transform(pm, x -> CAST(x.mv AS FLOAT))").as("sc"))
    subcentsArr(refined).localCheckpoint()
  }

  /** Encode: slot (1-based position in the cid-ascending codebook) of
    * the winning sub-centroid per subspace, all M subspaces in one
    * narrow projection — the input is scanned once, nothing explodes.
    * `carry` columns (e.g. the coarse `cell` for IVFADC) pass through
    * alongside the codes.
    */
  private[graft] def pqEncode(e: DataFrame, book: DataFrame,
      m: Int, dsub: Int, carry: Seq[String] = Seq.empty): DataFrame = {
    org.apache.spark.sql.graft.Bridge.register(e.sparkSession)
    e.crossJoin(broadcast(book))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${m - 1}), j ->
           |  array_position(
           |    transform(element_at(subcents, j + 1), c -> c.cid),
           |    nearest_centroid(slice(embedding, j * $dsub + 1, $dsub),
           |      element_at(subcents, j + 1)).cid))""".stripMargin))
      .select((col("vec_id").as("cand_id") +: col("codes") +: carry.map(col)): _*)
  }

  /** ADC tables: per (query, subspace, slot) squared distance,
    * e6-floored to BIGINT before any summing, one row per query —
    * broadcastable (queries ≪ corpus).
    */
  private[graft] def pqAdcTables(queriesDf: DataFrame, book: DataFrame,
      m: Int, dsub: Int, carry: Seq[String] = Seq.empty): DataFrame =
    queriesDf.select((col("query_id") +: col("embedding") +: carry.map(col)): _*)
      .crossJoin(broadcast(book))
      .withColumn("dtab", expr(
        s"""transform(sequence(0, ${m - 1}), j ->
           |  transform(element_at(subcents, j + 1), c ->
           |    CAST(FLOOR(aggregate(
           |      zip_with(slice(embedding, j * $dsub + 1, $dsub), c.ce,
           |        (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
           |                * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
           |      CAST(0 AS DOUBLE), (acc, v) -> acc + v) * 1e6 + 0.5) AS BIGINT)))"""
          .stripMargin))
      .select((col("query_id") +: col("dtab") +: carry.map(col)): _*)

  /** The ADC score: M integer table lookups summed as BIGINTs —
    * reduction-order-proof. Expects `codes` and `dtab` in scope.
    */
  private def adcSumExpr(m: Int): String =
    s"""aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT),
       |  (acc, j) -> acc + element_at(element_at(dtab, j + 1),
       |    CAST(element_at(codes, j + 1) AS INT)))""".stripMargin

  /** A persisted-PQ serving index: the one-row codebook plus the
    * M-byte-per-vector codes (codes may also carry the coarse `cell`
    * for the IVFADC composition). `m`/`dsub` ride along so a loaded
    * index can rebuild its ADC expressions without re-deriving them
    * from the book row.
    */
  case class PqIndex(book: DataFrame, codes: DataFrame, m: Int, dsub: Int)

  /** The (IVF)PQ CODE store — a living index exactly like the IVF
    * assignments ([[ivfPqAppend]] lands batchId-keyed cell-partitioned
    * segments, `CodesStore.compact` folds them) on the same
    * generation-manifest discipline. Keyed by cand_id; `cell` is
    * present (and the partition column) for the IVFADC composition;
    * [[ivfPqRetrain]] versions the centroids/book/flags sidecars; every
    * terminal compaction records its purged ids (the rebuild-from-lake
    * retrain anti-joins them).
    */
  private[graft] val CodesStore = graft.sources.SegmentStore.Scheme(
    "codes.parquet", "codes_appends.parquet", "codes_v", "codes_appends_v",
    "codes_deletes.parquet", "codes_deletes_v", "codes_purged.parquet",
    keyCols = Seq("cand_id"), partitionCols = Seq("cell"),
    sidecars = Seq("centroids", "book", "flags"), recordPurged = true,
    core = Seq("cand_id", "codes", "cell"), carriesAttrs = true,
    expectedKeys = _.select(col("vec_id").as("cand_id")))

  /** Persist a trained PQ index — build-once-serve-many across
    * sessions, the [[ivfSave]] twin. Codes partition by `cell` when
    * the IVFADC composition carries it, so probed-cell serving prunes
    * whole partitions at the scan. A save is a FULL rebuild: the code
    * store resets to generation 0 (prior append segments / compacted
    * generations must not leak into reloads).
    */
  private[graft] def pqSave(idx: PqIndex, dir: String): Unit =
    CodesStore.save(dir, idx.codes, "book" -> idx.book)

  /** The codebook and its geometry (m, dsub, ksub), read from the book
    * row itself (one head() on a one-row frame).
    */
  private def bookLoad(spark: SparkSession, dir: String): (DataFrame, Int, Int, Int) = {
    val book = CodesStore.sidecar(spark, dir, "book")
    val g = book.select(
      size(col("subcents")).as("m"),
      size(expr("element_at(element_at(subcents, 1), 1).ce")).as("dsub"),
      size(expr("element_at(subcents, 1)")).as("ksub")).head()
    (book, g.getInt(0), g.getInt(1), g.getInt(2))
  }

  /** The codebook half of a persisted index, without touching the
    * codes — the append path needs (book, m, dsub) only.
    */
  private[graft] def pqBookLoad(spark: SparkSession, dir: String)
      : (DataFrame, Int, Int) = {
    val (book, m, dsub, _) = bookLoad(spark, dir)
    (book, m, dsub)
  }

  /** A quantized store's full metadata quadruple, read ONCE per entry:
    * codebook (+ geometry head), residual flag (driver-side record
    * read), carried attribute columns (base-schema footer read). An
    * entry's maintain and serve phases each re-derived all of these
    * (two book head() jobs, two flag reads per append+load chain);
    * appends, deletes and plain compactions change none of them —
    * only a retrain does, via its atomic sidecar swap — so one read
    * is valid across a maintain+serve chain that does not retrain.
    */
  private[graft] case class PqMeta(book: DataFrame, m: Int, dsub: Int,
      ksub: Int, residual: Boolean, carry: Seq[String])

  private[graft] def pqMetaLoad(spark: SparkSession, dir: String): PqMeta = {
    val (book, m, dsub, ksub) = bookLoad(spark, dir)
    PqMeta(book, m, dsub, ksub, ivfPqResidualFlag(spark, dir),
      CodesStore.carryOf(spark, dir))
  }

  /** Reload a [[pqSave]]d index; serves identically to the freshly
    * trained one (training is deterministic, the round-trip lossless —
    * PqPersistSpec pins reload equality). Codes are the base table
    * UNION committed [[ivfPqAppend]] segments (both cell-partitioned
    * when the IVFADC composition carries `cell`, so probe pruning
    * holds on each leg).
    */
  private[graft] def pqLoad(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil,
      bookOpt: Option[(DataFrame, Int, Int)] = None): PqIndex = {
    val (book, m, dsub) = bookOpt.getOrElse(pqBookLoad(spark, dir))
    PqIndex(book, CodesStore.load(spark, dir, carry), m, dsub)
  }

  /** LAST-WRITE-WINS reader view of a persisted code store —
    * [[pqLoad]]'s CDC-UPSERT twin ([[ivfLoadLww]]'s quantized mirror):
    * per cand_id the highest-batchId code segment wins over the base
    * and over any earlier tombstone (ties to the tombstone), so `u`
    * ops of LIVE ids encode+append (`ivfPqAppend`) and supersede the
    * standing code row instead of duplicating it, and a delete stops
    * being terminal. Same delta-only winner selection + one broadcast
    * anti-join on the corpus-sized codes.
    */
  private[graft] def pqLoadLww(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil): PqIndex = {
    val (book, m, dsub) = pqBookLoad(spark, dir)
    PqIndex(book, CodesStore.loadLww(spark, dir, carry), m, dsub)
  }

  /** [[ivfPqLoad]]'s LWW twin: the composed quantized index served
    * with last-write-wins code rows (see [[pqLoadLww]]).
    */
  private[graft] def ivfPqLoadLww(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil): IvfPqIndex =
    IvfPqIndex(CodesStore.sidecar(spark, dir, "centroids"),
      pqLoadLww(spark, dir, carry), ivfPqResidualFlag(spark, dir))

  /** Serve a query batch from a (possibly reloaded) flat-PQ index:
    * ADC tables from the index's own book, integer lookups over every
    * code — no retraining, no corpus access beyond the codes.
    */
  private[graft] def pqQuery(idx: PqIndex, queriesDf: DataFrame, topK: Int): DataFrame = {
    val dtab = pqAdcTables(queriesDf, idx.book, idx.m, idx.dsub)
    val scored = idx.codes.crossJoin(broadcast(dtab))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adist_e6", expr(adcSumExpr(idx.m)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist_e6"), col("cand_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select("query_id", "cand_id", "adist_e6", "rk")
  }

  /** The IVFADC composition (Jégou et al. TPAMI 2011 §IV): coarse
    * quantizer + PQ codes in one index. Flat ADC ([[pqSearch]]) solved
    * MEMORY (M bytes per vector) but still linear-scans every code per
    * query batch; here queries probe `nprobe` coarse cells first and
    * run integer ADC only within them — corpus rows scanned drop by
    * ~nprobe/k exactly as [[ivfQuery]]'s exact path demonstrates. The
    * PQ codebook trains on PLAIN sub-vectors, not per-cell residuals —
    * a documented simplification (Jégou et al. encode the residual
    * x − q1(x); plain sub-vectors keep the codebook cell-independent,
    * so the same code serves every probing pattern and the whole chain
    * stays deterministic + oracle-mirrorable with the kernels already
    * proven here).
    */
  case class IvfPqIndex(centroids: DataFrame, pq: PqIndex,
      residual: Boolean = false)

  /** The k-row (cell, cce) centroid table of an IVFADC index — the
    * broadcastable lookup both residual legs (corpus encode, query
    * ADC tables) subtract against.
    */
  private def cellCents(centroids: DataFrame): DataFrame =
    centroids.select(col("cid").as("cell"), col("ce").as("cce"))

  /** Build: one coarse [[ivfBuild]] (cells), one [[pqTrain]]
    * (codebook), then codes encoded FROM the coarse assignment frame —
    * which already carries (cand_id, cell, vector), so encoding adds
    * no extra corpus scan and `cell` rides along with the codes.
    *
    * `residual = true` is FULL-FIDELITY IVFADC (Jégou et al. §IV,
    * eq. 13): the codebook trains on and the codes encode the residual
    * x − q1(x) — the vector relative to its own coarse cell's centroid
    * — rather than plain sub-vectors. Residual magnitudes concentrate
    * around 0, so the same bit budget quantizes finer (the paper's
    * reported IVFADC-vs-ADC accuracy gap; `ann_ivfpq_residual_recall`
    * measures it here). The residual is a narrow pass over the
    * already-assigned corpus × the broadcast k-row centroid table —
    * no extra corpus scan class; the price moves to the QUERY side
    * (one ADC table per probed cell — see [[ivfPqQuery]]).
    */
  private[graft] def ivfPqBuild(corpus: DataFrame, idCol: String, embCol: String,
      kCoarse: Int, m: Int, dsub: Int, ksub: Int,
      residual: Boolean = false, sampleMod: Int = 1,
      carry: Seq[String] = Nil): IvfPqIndex = {
    val e = corpus.select((col(idCol).as("vec_id") +:
      col(embCol).as("embedding") +: carry.map(col)): _*)
    if (!residual) {
      // coarse quantizer and codebook train from the same corpus but
      // are otherwise independent — overlap their (checkpointed) build
      // jobs instead of paying the two walls back to back
      val (coarse, book) = graft.functions.Par.inParallel(
        ivfBuild(e, "vec_id", "embedding", kCoarse, carry),
        pqTrain(e.select("vec_id", "embedding"), m, dsub, ksub, sampleMod))
      val codes = pqEncode(
        coarse.assigned.select((col("cand_id").as("vec_id") +: col("cell") +:
          col("ce2").as("embedding") +: carry.map(col)): _*),
        book, m, dsub, carry = "cell" +: carry)
      IvfPqIndex(coarse.centroids, PqIndex(book, codes, m, dsub))
    } else {
      // residual training depends on the coarse assignment, so the two
      // builds cannot overlap here
      val coarse = ivfBuild(e, "vec_id", "embedding", kCoarse, carry)
      // corpus residuals: one narrow pass over the (already-assigned)
      // corpus × the broadcast k-row centroid table, materialized once
      // (the codebook training and the encode both consume it)
      val resid = coarse.assigned.join(broadcast(cellCents(coarse.centroids)), Seq("cell"))
        .select((col("cand_id").as("vec_id") +: col("cell") +:
          expr(residExpr("ce2", "cce")).as("embedding") +: carry.map(col)): _*)
        .localCheckpoint()
      val book = pqTrain(resid.select("vec_id", "embedding"), m, dsub, ksub,
        sampleMod)
      val codes = pqEncode(resid, book, m, dsub, carry = "cell" +: carry)
      IvfPqIndex(coarse.centroids, PqIndex(book, codes, m, dsub), residual = true)
    }
  }

  /** Persist the composed index: coarse centroids + book +
    * cell-partitioned codes — the serving layout where a probe of
    * `nprobe` cells prunes whole code partitions at the scan — plus a
    * one-row flags table recording whether the codes are residual
    * (a loaded index must know which query-side ADC derivation
    * matches its codes).
    */
  private[graft] def ivfPqSave(idx: IvfPqIndex, dir: String): Unit =
    CodesStore.save(dir, idx.pq.codes, "centroids" -> idx.centroids,
      "book" -> idx.pq.book,
      "flags" -> flagsTable(idx.centroids.sparkSession, idx.residual))

  /** The one-row `flags` sidecar: whether the codes are residual. */
  private def flagsTable(spark: SparkSession, residual: Boolean): DataFrame = {
    import spark.implicits._
    Seq(residual).toDF("residual").coalesce(1)
  }

  /** The index's residual-ness at its CURRENT generation (pre-flag
    * r13 layouts are plain-sub-vector by construction).
    */
  private[graft] def ivfPqResidualFlag(spark: SparkSession, dir: String): Boolean =
    // driver-side record read (ParquetMeta.headBoolean): the flag is
    // store metadata — a Spark head() on the one-row table paid full
    // planning + an AQE stage-job per call, and every load/append/
    // retrain/LWW path pays it (twice per maintain+serve entry)
    graft.sources.ParquetMeta.headBoolean(spark,
      CodesStore.sidecarPath(spark, dir, "flags"), "residual").getOrElse(false)

  private[graft] def ivfPqLoad(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil, meta: Option[PqMeta] = None): IvfPqIndex = {
    // `meta`: the entry already read the store's metadata for its
    // maintain phase and nothing between has retrained — reuse it
    // instead of re-paying the book head() (the flag read is now a
    // driver-side record read either way, so no Par needed here)
    val pq = pqLoad(spark, dir, carry, meta.map(mt => (mt.book, mt.m, mt.dsub)))
    val residual = meta.map(_.residual).getOrElse(ivfPqResidualFlag(spark, dir))
    IvfPqIndex(CodesStore.sidecar(spark, dir, "centroids"), pq, residual)
  }

  /** Incremental IVFADC maintenance — the composed quantized index as
    * a LIVING index: assign the arriving batch at the persisted
    * index's FIXED coarse centroids ([[ivfAssignBatch]] — cost ∝
    * batch), encode at the FIXED codebook ([[pqEncode]] — one narrow
    * projection, residual-aware), and land a batchId-keyed
    * cell-partitioned code segment that [[pqLoad]] unions with the
    * base. The standing codes are untouched and unread (IvfPqMaintSpec
    * pins the plan). Assignment and encoding at fixed parameters are
    * deterministic, so build-then-append equals one build over the
    * unioned corpus restricted to the base's training rows — which is
    * exactly what `ann_ivfpq_append`'s oracle checks.
    *
    * Same replay contract as [[ivfAppend]]: idempotent per batchId
    * (segment overwrite), no-op at or below the compaction watermark,
    * ids monotonically increasing per index.
    */
  private[graft] def ivfPqAppend(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, embCol: String,
      batchId: Long, meta: Option[PqMeta] = None): Boolean = {
    val mt = meta.getOrElse(pqMetaLoad(spark, dir))
    CodesStore.append(spark, dir,
      ivfPqEncodeBatch(spark, dir, batch, idCol, embCol, mt.book, mt.m,
        mt.dsub, mt.residual, mt.carry),
      batchId)
  }

  /** The append path's assign+encode frame (exposed so IvfPqMaintSpec
    * can pin that its plan reads batch + centroids + book ONLY — never
    * the standing codes).
    */
  private[graft] def ivfPqEncodeBatch(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, embCol: String,
      book: DataFrame, m: Int, dsub: Int, residual: Boolean,
      carry: Seq[String] = Nil): DataFrame = {
    val assigned = ivfAssignBatch(spark, dir, batch, idCol, embCol, carry)
    val toEncode =
      if (!residual)
        assigned.select((col("cand_id").as("vec_id") +: col("cell") +:
          col("ce2").as("embedding") +: carry.map(col)): _*)
      else {
        val cents = cellCents(CodesStore.sidecar(spark, dir, "centroids"))
        assigned.join(broadcast(cents), Seq("cell"))
          .select((col("cand_id").as("vec_id") +: col("cell") +:
            expr(residExpr("ce2", "cce")).as("embedding") +: carry.map(col)): _*)
      }
    pqEncode(toEncode, book, m, dsub, carry = "cell" +: carry)
  }

  /** ZERO-DOWNTIME REINDEX of the QUANTIZED index — [[ivfRetrain]]'s
    * twin for the store a 100 TB deployment actually serves. Codes are
    * lossy, so the retrain takes the SOURCE corpus frame (the lake
    * table), masks the index's current tombstones out of it, rebuilds
    * coarse centroids + codebook + codes with the index's OWN
    * hyperparameters (kCoarse from the centroid count, m/dsub/ksub
    * from the book row, residual-ness from the flags) and swaps
    * everything in as the next generation: the new codes land as the
    * folded base, the new centroids/book/flags land as
    * generation-versioned sidecars inside the atomic commit window
    * (`CodesStore.sidecar` — gen < next ignores them, so a torn
    * retrain is invisible and a serving (codes, centroids, book,
    * flags) quadruple can never mix generations). Appends after the
    * retrain encode at the NEW parameters; tombstones purge; the
    * watermark folds. Single-writer discipline with append/compact
    * applies. Deterministic build ⇒ the swapped index equals a fresh
    * [[ivfPqBuild]] over the live corpus — `ann_ivfpq_retrain`'s
    * oracle is the plain full-corpus IVFADC chain.
    *
    * Deletion contract: the retrain anti-joins BOTH the current
    * generation's tombstones and the store's cumulative purged-key
    * record (`CodesStore.purged`, written by every
    * `recordPurged` compaction) — so `corpus` may be the raw lake
    * frame even when it still carries rows whose purge already
    * completed. Rows deleted from the LAKE itself before this call
    * are naturally absent; rows deleted only in the index are masked
    * here.
    */
  /** The retrain's READ-AND-REBUILD half, split out so a caller can
    * overlap it with independent maintenance (guide §2.6): everything
    * here reads only the store's metadata quadruple, delete/purged
    * channels and the caller's corpus frame — never the appends channel
    * — so it may run concurrently with an [[ivfPqAppend]] landing.
    * (The [[ivfPqRetrain]] COMMIT must still come after every landing:
    * its compact folds the watermark over all committed segment ids.)
    * Eager through the coarse build + codebook training (ivfBuild and
    * pqTrain checkpoint); the codes frame stays lazy and materializes
    * at the commit's fold write.
    */
  private[graft] def ivfPqRetrainPrep(spark: SparkSession, dir: String,
      corpus: DataFrame, idCol: String, embCol: String): IvfPqIndex = {
    val mt = pqMetaLoad(spark, dir)
    // geometry parameter from the k-row table's footers — driver-side,
    // no Spark job (ParquetMeta.rowCountDriver)
    val kCoarse = graft.sources.ParquetMeta.rowCountDriver(spark,
      CodesStore.sidecarPath(spark, dir, "centroids")).toInt
    val src0 = corpus.select((col(idCol).as("vec_id") +:
      col(embCol).as("embedding") +: mt.carry.map(col)): _*)
    // mask BOTH the current generation's tombstones AND the cumulative
    // purged-key record: the caller's corpus frame is the LAKE table,
    // which may still carry rows an earlier compaction physically
    // purged (channel cleared) — without the purged list the rebuild
    // would quietly undo a completed right-to-be-forgotten purge.
    val masks = CodesStore.deletes(spark, dir).toSeq ++ CodesStore.purged(spark, dir).toSeq
    val src = masks.foldLeft(src0) { (acc, t) =>
      val m = t.select("cand_id")
      acc.join(broadcast(m), acc("vec_id") === m("cand_id"), "left_anti")
    }
    ivfPqBuild(src, "vec_id", "embedding", kCoarse, mt.m, mt.dsub, mt.ksub,
      mt.residual, carry = mt.carry)
  }

  private[graft] def ivfPqRetrain(spark: SparkSession, dir: String,
      corpus: DataFrame, idCol: String, embCol: String,
      crashBeforeCommit: Boolean = false, retain: Int = 1,
      prebuilt: Option[IvfPqIndex] = None): Boolean = {
    val idx = prebuilt.getOrElse(
      ivfPqRetrainPrep(spark, dir, corpus, idCol, embCol))
    CodesStore.swap(spark, dir, idx.pq.codes, crashBeforeCommit, retain)(
      "centroids" -> idx.centroids, "book" -> idx.pq.book,
      "flags" -> flagsTable(spark, idx.residual))
  }

  /** Serve: probe `nprobe` coarse cells per query (the [[probeCells]]
    * ranking — no window, no shuffle), then integer ADC over ONLY the
    * probed cells' codes. The probes leg localCheckpoints and carries
    * the likely-selective `cell >= 0` no-op so dynamic partition
    * pruning fires against the cell-partitioned persisted codes (the
    * [[ivfQuery]] pattern — PlanShapeSpec pins the pruned read); the
    * broadcast hash join on `cell` prunes row-level either way.
    *
    * A RESIDUAL index prices the paper's accuracy gain as one residual
    * PER PROBED CELL: its ADC tables are (query, cell)-keyed — nprobe
    * broadcast-sized tables instead of one — and the cell-keyed join
    * against the codes is simultaneously the probe restriction and the
    * score lookup.
    */
  private[graft] def ivfPqQuery(idx: IvfPqIndex, queriesDf0: DataFrame,
      idCol: String, embCol: String, nprobe: Int, topK: Int): DataFrame = {
    val queriesDf = queriesDf0
      .select(col(idCol).as("query_id"), col(embCol).as("embedding"))
    val scored = if (!idx.residual) {
      val probes = probeCells(idx.centroids, queriesDf, nprobe)
        .select("query_id", "cell")
        .localCheckpoint()
        .filter(col("cell") >= 0)
      val dtab = pqAdcTables(queriesDf, idx.pq.book, idx.pq.m, idx.pq.dsub)
      idx.pq.codes.join(broadcast(probes), Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .join(broadcast(dtab), Seq("query_id"))
        .withColumn("adist_e6", expr(adcSumExpr(idx.pq.m)))
    } else {
      // per-(query, probed cell) residual → per-(query, cell) ADC
      // table; the checkpoint + cell >= 0 pattern is the plain path's
      // (one probe derivation feeds both the pruning subquery and the
      // broadcast join side)
      val probesResid = probeCells(idx.centroids, queriesDf, nprobe)
        .join(broadcast(cellCents(idx.centroids)), Seq("cell"))
        .select(col("query_id"), col("cell"),
          expr(residExpr("qe", "cce")).as("embedding"))
        .localCheckpoint()
        .filter(col("cell") >= 0)
      val dtab = pqAdcTables(probesResid, idx.pq.book, idx.pq.m, idx.pq.dsub,
        carry = Seq("cell"))
      idx.pq.codes.join(broadcast(dtab), Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("adist_e6", expr(adcSumExpr(idx.pq.m)))
    }
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist_e6"), col("cand_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select("query_id", "cand_id", "cell", "adist_e6", "rk")
  }

  /** Portable residual: elementwise double subtraction re-narrowed to
    * float (IEEE round-to-nearest on both engines — the proven
    * lloydStep CAST-to-FLOAT/REAL pattern), keeping every downstream
    * PQ kernel (which contracts array<float>) unchanged.
    */
  private def residExpr(vec: String, cent: String): String =
    s"""zip_with($vec, $cent,
       |  (x, y) -> CAST(CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS FLOAT))""".stripMargin

  /** FULL-FIDELITY IVFADC (Jégou et al. §IV, eq. 13) as one fused
    * chain — [[ivfPqBuild]] with `residual = true` composed with the
    * residual branch of [[ivfPqQuery]] (one kernel pair for both the
    * fused registry entry and the persisted serving path, so they can
    * never drift apart). Everything rides the deterministic kernels
    * above, so the whole chain — coarse cells, residual codebook,
    * codes, served top-k — is hash-checked against the DuckDB mirror.
    */
  private[graft] def ivfPqResidualSearch(corpus: DataFrame, queriesDf0: DataFrame,
      kCoarse: Int, nprobe: Int, m: Int, dsub: Int, ksub: Int,
      topK: Int): DataFrame =
    ivfPqQuery(
      ivfPqBuild(corpus, "vec_id", "embedding", kCoarse, m, dsub, ksub,
        residual = true),
      queriesDf0, "vec_id", "embedding", nprobe, topK)

  /** Query phase against a built index: probe `nprobe` nearest cells,
    * exact-cosine re-rank inside them only. The index never rebuilds.
    */
  private[graft] def ivfQuery(idx: IvfIndex, queriesDf0: DataFrame,
      idCol: String, embCol: String, nprobe: Int, topK: Int): DataFrame = {
    val queriesDf = queriesDf0
      .select(col(idCol).as("query_id"), col(embCol).as("embedding"))
    // nprobe nearest cells per query, ranked inside one array expression
    // (sort k structs per query row — no window, no shuffle).
    // localCheckpoint: against a cell-PARTITIONED persisted index this
    // leg is consumed TWICE — as the dynamic-partition-pruning filter
    // subquery and as the broadcast join side — and Spark plans the DPP
    // subquery as an independent derivation, re-running the query×k
    // probe ranking. Materializing the (query_id, cell, qe) rows once
    // (query-set-sized — tiny) makes both consumers read the same
    // blocks, so a large query batch pays the probe compute once
    // (the r10 twin-subtree pattern; PlanShapeSpec pins the shape).
    val probes = probeCells(idx.centroids, queriesDf, nprobe)
      .localCheckpoint()
      // semantically a no-op (cells are non-negative by construction),
      // but DPP's logical rule only fires when the filtering side
      // carries a likely-selective predicate — a bare checkpoint scan
      // has none, and losing dynamic pruning would re-read EVERY cell
      // directory of the standing index. PlanShapeSpec pins that
      // pruning survives the checkpoint.
      .filter(col("cell") >= 0)

    // search only the probed cells; the exact re-rank cosine runs
    // through the native cosine_sim — on equal-length vectors (the
    // family's contract: every kernel here, DistsExpr included,
    // assumes one fixed dimensionality, as does the oracle's
    // range-over-len indexing) it is bit-identical to the composed
    // dot/(norm·norm) fold (sequential element-order double
    // accumulation), so the oracle is unchanged while the
    // per-candidate HOF walk goes away. A ragged corpus diverges in
    // all three formulations and is out of contract.
    org.apache.spark.sql.graft.Bridge.register(queriesDf0.sparkSession)
    val scored = idx.assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", floor(expr("cosine_sim(qe, ce2)") * 1e6 + 0.5) / 1e6)
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("cand_id"))))
      .filter(col("rk") <= topK)
      .select("query_id", "cand_id", "cell", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** Persist a built index as two parquet tables — the operational
    * shape at 100 TB is build-once-serve-many ACROSS sessions, so the
    * index must survive the building session. `assigned` is
    * cell-partitioned on disk: a probe of `nprobe` cells then prunes
    * whole files/partitions at the scan (cell is the partition column),
    * instead of re-filtering the full corpus.
    */
  private[graft] def ivfSave(idx: IvfIndex, dir: String): Unit =
    // a save is a FULL rebuild: incremental segments from prior
    // ivfAppend batches, compacted generations and retrain-versioned
    // centroid tables must not leak into reloads
    IvfStore.save(dir, idx.assigned, "centroids" -> idx.centroids)

  /** ZERO-DOWNTIME REINDEX — the answer to codebook/centroid drift on
    * a living index: re-cluster the CURRENT reader view (base ∪
    * appends − deletes, attributes carried) with a fresh [[ivfBuild]]
    * and swap it in as the next generation through the same crash-safe
    * land-then-commit the compactions use. Readers keep serving the
    * old generation (old centroids + old assignments — the versioned
    * centroid table means the pair can never mix) until the manifest
    * commits; a torn retrain is invisible; generation retention keeps
    * in-flight readers whole. Appends after the retrain assign at the
    * NEW centroids ([[ivfAssignBatch]] resolves `IvfStore.sidecar`).
    * The retrain corpus is exactly what a reader sees, so
    * build-on-the-view determinism makes the swapped index equal a
    * fresh full build over the live corpus — which is the oracle
    * (`ann_ivf_retrain` = the plain ann_ivf chain). Works with ZERO
    * pending segments (pure drift re-cluster) and doubles as a purge.
    * Single-writer discipline with append/compact applies.
    */
  private[graft] def ivfRetrain(spark: SparkSession, dir: String,
      k: Int = -1, crashBeforeCommit: Boolean = false, retain: Int = 1): Boolean = {
    // k defaults to the PERSISTED index's geometry (the centroid-table
    // row count) — a caller re-clustering for drift keeps the nlist it
    // built with unless it explicitly asks for a new one; a hardcoded
    // numeric default silently re-clustered at the wrong geometry.
    // (a footer read of the k-row table, ParquetMeta.rowCountDriver,
    // not a Spark count job)
    val kEff =
      if (k > 0) k
      else graft.sources.ParquetMeta.rowCountDriver(spark,
        IvfStore.sidecarPath(spark, dir, "centroids")).toInt
    val carry = IvfStore.carryOf(spark, dir)
    val view = IvfStore.load(spark, dir, carry)
      .select((col("cand_id").as("vec_id") +: col("ce2").as("embedding") +:
        carry.map(col)): _*)
    val idx = ivfBuild(view, "vec_id", "embedding", kEff, carry)
    IvfStore.swap(spark, dir, idx.assigned, crashBeforeCommit, retain)(
      "centroids" -> idx.centroids)
  }

  /** The IVF ASSIGNMENT store — generation manifests, batchId-keyed
    * segments, folded watermark and one-generation reader retention
    * all live in [[graft.sources.SegmentStore]]. Keyed by cand_id,
    * partitioned by `cell` (probe pruning on both union legs), core
    * (cand_id, cell, ce2) plus carried attributes, one versioned
    * sidecar family ([[ivfRetrain]]'s centroid tables). Its `compact`
    * is the living index's answer to the small-files problem (a 1 s
    * trigger lands ~86k segment directories/day, and the load's union
    * + FileIndex listing degrade long before the data does); run it
    * from the SAME maintenance loop that drives [[ivfAppend]]
    * (single-writer discipline). IvfPersistSpec kills between every
    * compaction stage and proves the served top-k is byte-identical
    * before/during/after.
    */
  private[graft] val IvfStore = graft.sources.SegmentStore.Scheme(
    "assigned.parquet", "appends.parquet", "assigned_v", "appends_v",
    keyCols = Seq("cand_id"), partitionCols = Seq("cell"),
    sidecars = Seq("centroids"), core = Seq("cand_id", "cell", "ce2"),
    carriesAttrs = true, expectedKeys = _.select(col("vec_id").as("cand_id")))

  /** Reload a persisted index; the result serves [[ivfQuery]] exactly
    * like the freshly built one (build is deterministic and the
    * round-trip is lossless — IvfPersistSpec pins row-level equality).
    * `cell` comes back as a partition column; restore its BIGINT type
    * (partition-value inference would otherwise widen/narrow per lake).
    * The served corpus is base assignments UNION committed append
    * segments (both cell-partitioned, so probe pruning holds on each
    * leg of the union).
    */
  private[graft] def ivfLoad(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil): IvfIndex =
    IvfIndex(IvfStore.load(spark, dir, carry),
      IvfStore.sidecar(spark, dir, "centroids"))

  /** LAST-WRITE-WINS reader view of a persisted IVF index —
    * [[ivfLoad]]'s CDC-UPSERT twin (the reference sink's
    * insert-mode=upsert / LSN discipline): per cand_id the
    * highest-batchId append-segment row wins over the base and over
    * any EARLIER tombstone, so routing envelope `c` and `u` ops
    * through [[ivfAppend]] and `d` ops through `IvfStore.delete` yields an
    * index where an update of a live id SUPERSEDES instead of
    * duplicating, and a delete is no longer terminal (a later
    * re-insert revives the id). Within one batch an id must carry at
    * most one op — collapse the envelope per key upstream
    * (cdc_apply_latest) — and on an insert/delete batchId TIE the
    * tombstone wins. Scale shape is `Scheme.loadLww`'s: winner
    * selection runs on the delta only; the corpus-sized base pays one
    * broadcast anti-join of the touched ids. Compact through
    * `IvfStore.upsertCompact`, which folds the LWW view (NOT the
    * terminal-delete view) into the next generation and carries no
    * tombstone across the fold.
    */
  private[graft] def ivfLoadLww(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil): IvfIndex =
    IvfIndex(IvfStore.loadLww(spark, dir, carry),
      IvfStore.sidecar(spark, dir, "centroids"))

  /** A new batch assigned at a PERSISTED index's centroids — the
    * incremental-maintenance kernel: cost ∝ batch (one narrow scan of
    * the arriving rows against the broadcast centroid array), never
    * ∝ corpus. The standing assignments are untouched and unread
    * (IvfPersistSpec asserts the plan never scans them).
    */
  private[graft] def ivfAssignBatch(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, embCol: String,
      carry: Seq[String] = Nil): DataFrame =
    kmeansAssign(
        batch.select((col(idCol).as("vec_id") +:
          col(embCol).as("embedding") +: carry.map(col)): _*),
        IvfStore.sidecar(spark, dir, "centroids"))
      .select((col("vec_id").as("cand_id") +: col("cid").as("cell") +:
        col("embedding").as("ce2") +: carry.map(col)): _*)

  /** Incremental IVF maintenance: append an arriving batch to a
    * persisted index. The batch is assigned at the LOADED (fixed)
    * centroids and landed as a batchId-keyed segment
    * (`appends.parquet/batch_id=<id>/cell=<c>/`) that [[ivfLoad]]
    * unions with the base — cell stays a partition column, so probe
    * pruning keeps working and queries see old + new corpus with no
    * rebuild. This is the ANN counterpart of dedup_incremental's
    * probe-the-standing-index shape: the daily operation of a living
    * 100 TB corpus (assignment at fixed centroids is exactly what a
    * full rebuild at those centroids would compute for the same rows,
    * so the append path is oracle-checkable — see ann_ivf_append).
    *
    * The landing is IDEMPOTENT per batchId: each batch OVERWRITES
    * exactly its own segment directory, so a replay — a streaming
    * checkpoint re-driving a micro-batch whose write landed but whose
    * offset commit did not (the torn-batch crash window) — rewrites the
    * same rows instead of duplicating them. Assignment at fixed
    * centroids is deterministic, so the replayed segment is
    * byte-equivalent to the torn one it replaces.
    *
    * `batchId` is REQUIRED (no default): two appends sharing an id
    * overwrite each other's segment — idempotent-replay semantics are
    * opt-in via an explicit id, never the silent out-of-the-box
    * behavior (pass foreachBatch's batchId, or any caller-unique id
    * for ad-hoc appends). Ids must be MONOTONICALLY INCREASING per
    * index (foreachBatch's contract): a batchId at or below the
    * compaction watermark is treated as a replay of an
    * already-folded batch and lands NOTHING (returns false) — without
    * this, a checkpoint replay arriving after its original segment
    * was folded into the base would duplicate its rows.
    */
  private[graft] def ivfAppend(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, embCol: String,
      batchId: Long, carry: Seq[String] = Nil): Boolean =
    IvfStore.append(spark, dir,
      ivfAssignBatch(spark, dir, batch, idCol, embCol, carry), batchId)

  /** The scheduled reconciliation fixture `recon_index` and
    * `recon_index_report` share: one deliberately-damaged IVF store
    * (a double-landed batch slice + tombstones for real ids and for
    * never-existed ids in the disjoint negative range) and one healthy
    * IVFADC code store — both fault classes counted, the clean store
    * reading clean. Returns the 16 (store, invariant, value) rows,
    * unordered (callers sort).
    *
    * BENCH WALL ATTRIBUTION: ~all of the entries' benched cost is the
    * two in-entry index builds this fixture pays (a fixture must
    * construct the damage it audits); the recon kernel itself is one
    * tag-union group-by plus delta-sized channel reads. A deployment's
    * scheduled pass runs against ALREADY-BUILT production stores and
    * pays only the kernel — do not price the scheduled recon at the
    * benched entry's wall.
    */
  private[graft] def reconIndexFixture(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val held = e.filter(col("vec_id") % 7 === 3)
    // the two stores live in disjoint directories and never read each
    // other: build + damage + audit each on its own thread (guide §2.6)
    // — the audits' blocking head()/count() calls otherwise serialize
    // the whole fixture
    val (ra, rb) = graft.functions.Par.inParallel({
      val dirA = graft.sources.Scratch.perLake("recon_index_ivf", d)
      ivfSave(ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", IvfK), dirA)
      // the three landings write disjoint batch_id dirs under the
      // static gen-0 layout — co-land them (Par.all doc)
      graft.functions.Par.all(
        () => ivfAppend(s, dirA, held, "vec_id", "embedding", batchId = 0L),
        // fault 1: a slice of batch 0 lands AGAIN under a fresh batchId
        () => ivfAppend(s, dirA, held.filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", batchId = 1L),
        // fault 2: tombstones for real ids (% 13 = 2) AND for ids that
        // never existed (orphans — the NEGATIVE range, provably disjoint
        // from real vec_ids at every SF; an additive offset would collide
        // once the corpus reaches it and silently corrupt the counts)
        () => IvfStore.delete(s, dirA,
          e.filter(col("vec_id") % 13 === 2).select("vec_id")
            .unionByName(e.filter(col("vec_id") % 17 === 4)
              .select((-col("vec_id") - 1L).as("vec_id"))),
          "vec_id", batchId = 2L))
      IvfStore.audit(s, dirA, "ivf", e)
    }, {
      val dirB = graft.sources.Scratch.perLake("recon_index_ivfpq", d)
      ivfPqSave(ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", IvfK, m = 8, dsub = 8, ksub = 16), dirB)
      ivfPqAppend(s, dirB, held, "vec_id", "embedding", batchId = 0L)
      CodesStore.audit(s, dirB, "ivfpq", e)
    })
    ra.unionByName(rb)
  }

  /** The held-out slice (% 7 = 3) displaced by a constant +0.5 on
    * every dimension — the drift fixture of the shifted gate entries
    * and of bench/drift_curve.json. The offset is computed in doubles
    * and cast back to FLOAT (IEEE-identical in DuckDB as
    * CAST(... AS REAL)), so drifted chains stay hash-checked.
    */
  private[graft] def driftedCorpus(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      when(col("vec_id") % 7 === 3,
        expr("transform(embedding, v -> CAST(CAST(v AS DOUBLE) + 0.5D AS FLOAT))"))
        .otherwise(col("embedding")).as("embedding"))

  /** Every (query, candidate ≠ query) pair for the `queryPred` rows of
    * `e` (vec_id, embedding): the broadcast query side against one
    * narrow corpus scan, the brute-force shape (queries ≪ corpus; the
    * corpus never shuffles). Columns query_id, qe, cand_id, ce.
    */
  private def exactPairs(e: DataFrame, queryPred: Column): DataFrame = {
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
  }

  /** Exact squared-L2 distance of every [[exactPairs]] pair, summed in
    * dimension order in doubles and e6-floored to BIGINT `d_e6` (the
    * metric ADC approximates). The L2 truth ranks it; the shortlist
    * re-rank legs (ann_pq_recall, ann_ivfpq_tune) join it too.
    */
  private def l2Dist(e: DataFrame, queryPred: Column): DataFrame =
    exactPairs(e, queryPred)
      .withColumn("d_e6", floor(expr(
        """aggregate(zip_with(qe, ce,
          |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
          |          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
          |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        * 1e6 + 0.5).cast("long"))
      .select(col("query_id"), col("d_e6"), col("cand_id"))

  /** The k nearest (query_id, cand_id) per query of a scored-pair frame:
    * by `cos` descending when it carries one, else by `d_e6` ascending;
    * ties by cand_id. Distributed selection (rankedByGroup): a window
    * partitioned by query_id would sort each query's full-corpus
    * candidate list on one task (parallelism = query count).
    */
  private def nearest(scored: DataFrame, k: Int): DataFrame = {
    val byScore =
      if (scored.columns.contains("cos")) col("cos").desc else col("d_e6").asc
    graft.api.Graft.rankedByGroup(scored, Seq("query_id"), Seq(byScore, col("cand_id")))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id")
  }

  /** The exact top-k truth every recall entry grades against: `cosine`
    * ranks by the native cosine_sim rounded to e6, `l2` by [[l2Dist]].
    * Returned unmaterialized — callers checkpoint it where they share it.
    */
  private def exactTruth(e: DataFrame, queryPred: Column, metric: String,
      k: Int): DataFrame =
    nearest(metric match {
      case "cosine" => exactPairs(e, queryPred)
        .withColumn("cos", floor(expr("cosine_sim(qe, ce)") * 1e6 + 0.5) / 1e6)
        .select(col("query_id"), col("cos"), col("cand_id"))
      case "l2" => l2Dist(e, queryPred)
    }, k)

  /** Recall of served sets against `truth` (query_id, cand_id): one left
    * join per leg `(got, hitsCol, recallCol)` (`got` carries query_id,
    * cand_id), then `n_truth`, each leg's hits and its e6-rounded recall,
    * per query (`perQuery`, query_id first) or as one row.
    */
  private def recallOf(truth: DataFrame, perQuery: Boolean,
      legs: (DataFrame, String, String)*): DataFrame = {
    val marks = legs.indices.map(i => if (i == 0) "got" else s"got$i")
    val joined = legs.zip(marks).foldLeft(truth) { case (t, ((got, _, _), m)) =>
      t.join(got.select(col("query_id"), col("cand_id"), lit(1L).as(m)),
        Seq("query_id", "cand_id"), "left")
    }
    val keys = if (perQuery) Seq(col("query_id")) else Nil
    val hits = legs.zip(marks).map { case ((_, h, _), m) =>
      sum(when(col(m).isNotNull, 1L).otherwise(0L)).as(h)
    }
    joined.groupBy(keys: _*).agg(count(lit(1)).as("n_truth"), hits: _*)
      .select(keys ++ (col("n_truth") +: legs.flatMap { case (_, h, r) =>
        Seq(col(h), floor(col(h).cast("double") * 1e6 / col("n_truth") + 0.5)
          .cast("long").as(r))
      }): _*)
  }

  /** One operating point of the sweep entries (ann_tune,
    * ann_ivfpq_tune): the one-row recall of `got` against `truth` beside
    * the price paid — index rows inside each query's `np` probed cells
    * (`occ`: cell → cell_n) and their e6 share of queries × corpus —
    * under `lead`.
    */
  private def sweepRow(truth: DataFrame, got: DataFrame, cents: DataFrame,
      queriesDf: DataFrame, occ: DataFrame, np: Int, corpusN: Long,
      lead: Column*): DataFrame = {
    val scan = probeCells(cents, queriesDf, np)
      .join(occ, Seq("cell"))
      .agg(sum(col("cell_n")).as("scanned_rows"),
        countDistinct(col("query_id")).as("nq"))
    // 1-row × 1-row broadcast-scalar join (the recon_report pattern)
    recallOf(truth, perQuery = false, (got, "hits", "recall_e6"))
      .crossJoin(scan).select(lead ++ Seq(
      col("n_truth"), col("hits"), col("recall_e6"), col("scanned_rows"),
      floor(col("scanned_rows").cast("double") * 1e6
        / (col("nq") * lit(corpusN)) + 0.5)
        .cast("long").as("frac_scanned_e6")): _*)
  }

  /** The when-to-retrain gate shared by ann_ivf_drift (IVF, cosine
    * truth) and the quantized gates (IVFADC, L2 truth): recall@3 against
    * the exact truth for the STALE serving state (`build` on the %7≠3
    * base rows, then `restale` serves the full corpus at those frozen
    * parameters) vs the RETRAINED state (`build` on everything). One
    * truth pass grades both rows; everything rides the deterministic
    * kernels, so the drift delta is engine-exact.
    */
  private def driftGate[I](e: DataFrame, queryPred: Column, metric: String)(
      build: DataFrame => I, restale: I => I,
      serve: (I, DataFrame) => DataFrame): DataFrame = {
    val queriesDf = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // the exact-truth pass and the two index builds are independent —
    // overlap all three (guide §2.6); each is itself checkpoint-bounded
    val (truth, (base, fresh)) = graft.functions.Par.inParallel(
      exactTruth(e, queryPred, metric, 3).localCheckpoint(),
      graft.functions.Par.inParallel(
        build(e.filter(col("vec_id") % 7 =!= 3)), build(e)))
    def row(idx: I, variant: String): DataFrame =
      recallOf(truth, perQuery = false, (serve(idx, queriesDf), "hits", "recall_e6"))
        .select(lit(variant).as("variant"), col("*"))
    row(restale(base), "stale")
      .unionByName(row(fresh, "retrained"))
      .orderBy("variant")
  }

  /** The quantized when-to-retrain gate (`ann_ivfpq_drift` /
    * `ann_ivfpq_drift_shifted`): [[driftGate]] over IVFADC builds, the
    * stale state assigning and encoding the full corpus at the base
    * build's centroids and codebook, graded by the exact L2 truth.
    */
  private[graft] def ivfPqDriftGate(e0: DataFrame, queryPred: Column): DataFrame = {
    val e = e0.select(col("vec_id"), col("embedding"))
    driftGate[IvfPqIndex](e, queryPred, "l2")(
      ivfPqBuild(_, "vec_id", "embedding", IvfK, m = 8, dsub = 8, ksub = 16),
      base => {
        // ivfBuild centroids are checkpointed
        val assigned = kmeansAssign(e, base.centroids)
          .select(col("vec_id"), col("cid").as("cell"), col("embedding"))
        IvfPqIndex(base.centroids, PqIndex(base.pq.book,
          pqEncode(assigned, base.pq.book, m = 8, dsub = 8, carry = Seq("cell")), 8, 8))
      },
      ivfPqQuery(_, _, "query_id", "embedding", IvfNProbe, topK = 3))
  }

  /** Sample-trained flat-PQ serve (the 100 TB training economics —
    * see [[pqTrain]]'s sampleMod doc): codebook from the 1/sampleMod
    * deterministic hash-sample, encode + ADC over the FULL corpus.
    * The sample is hash-derived, so it is reproducible, unbiased, and
    * oracle-mirrorable — the whole chain stays hash-checked, making
    * the codebook-quality trade a measurable delta rather than a leap
    * of faith.
    */
  private[graft] def pqSampledServe(sampleMod: Int)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    org.apache.spark.sql.graft.Bridge.register(s)
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val book = pqTrain(e, m = 8, dsub = 8, ksub = 16, sampleMod = sampleMod)
    pqQuery(PqIndex(book, pqEncode(e, book, m = 8, dsub = 8), 8, 8),
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding")),
      topK = 5)
      .orderBy("query_id", "rk")
  }

  /** Lake-pinned registry instance of [[ivfSearch]]. */
  private[graft] def ivf(k: Int, nprobe: Int): (SparkSession, String) => DataFrame = { (s, d) =>
    val e = Tables.embeddings(s, d)
    ivfSearch(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k, nprobe, 3)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_bruteforce" -> { (s, d) =>
      // cosine via the native codegen'd expression (graft.plans.CosineSimilarity)
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cand_id"), col("label"), col("embedding").as("ce"))
      val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
        .withColumn("cos", floor(expr("cosine_sim(qe, ce)") * 1e6 + 0.5) / 1e6)
      val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("cand_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("query_id", "cand_id", "label", "cos", "rk")
        .orderBy("query_id", "rk")
    },

    "ann_ivf" -> ivf(IvfK, IvfNProbe),

    // the cross-session serving path, oracle-checked end-to-end: build,
    // parquet-persist, reload, THEN query — same deterministic result
    // as the fused ann_ivf, so the same oracle applies. This is the
    // operational shape at 100 TB (one index build scans the corpus;
    // query batches served from the persisted index never do).
    "ann_ivf_persisted" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      // stable per-lake path + overwrite writes: repeated Verify/bench
      // passes reuse one directory instead of leaking a fresh index
      // copy into the scratch root per invocation
      val dir = graft.sources.Scratch.perLake("ann_ivf_persisted", d)
      ivfSave(ivfBuild(e, "vec_id", "embedding", IvfK), dir)
      ivfQuery(ivfLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", IvfNProbe, 3)
    },

    // incremental index maintenance, oracle-checked end-to-end: build
    // on the base corpus (~6/7 of the rows), persist, append the
    // arriving batch (the other ~1/7) at the LOADED centroids, reload,
    // query — the daily shape of a living corpus. Append cost ∝ batch
    // (IvfPersistSpec pins that the standing assignments are never
    // rescanned); the oracle is a full assignment of the unioned
    // corpus at the same fixed centroids, which the
    // assign-at-fixed-centroids algebra makes exactly equal.
    "ann_ivf_append" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivf_append", d)
      // ivfSave's overwrite clears the layout, so repeated invocations
      // (bench warm runs) stay idempotent — each run is one fresh
      // build-then-append cycle in the same directory
      ivfSave(ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", IvfK), dir)
      ivfAppend(s, dir, e.filter(col("vec_id") % 7 === 3), "vec_id", "embedding",
        batchId = 0L)
      ivfQuery(ivfLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", IvfNProbe, 3)
    },

    // the living index's maintenance third leg (build → append →
    // COMPACT): fold the committed segments into a new base generation
    // and serve from it — same corpus, same fixed centroids, so the
    // served result is identical to ann_ivf_append's and its oracle
    // checks the whole fold (crash-safety is IvfPersistSpec's
    // kill-between-every-stage job; the driver checks the values)
    "ann_ivf_compact" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivf_compact", d)
      ivfSave(ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", IvfK), dir)
      ivfAppend(s, dir, e.filter(col("vec_id") % 7 === 3), "vec_id", "embedding",
        batchId = 0L)
      IvfStore.compact(s, dir)
      ivfQuery(ivfLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", IvfNProbe, 3)
    },

    // the living index's DELETE leg — right-to-be-forgotten without a
    // rebuild: tombstone ids land as a batchId-keyed delete segment
    // (cost ∝ the delete batch; the standing assignments are never read
    // or rewritten) and every load anti-joins them out immediately
    // (broadcast — tombstones are delete-traffic-sized). The oracle is
    // the plain build chain with the deleted ids excluded from the
    // SERVE leg only — training ran before the deletes and centroids
    // are fixed, exactly what the engine computes.
    "ann_ivf_delete" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivf_delete", d)
      ivfSave(ivfBuild(e, "vec_id", "embedding", IvfK), dir)
      IvfStore.delete(s, dir, e.filter(col("vec_id") % 11 === 5).select("vec_id"),
        "vec_id", batchId = 0L)
      ivfQuery(ivfLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", IvfNProbe, 3)
    },

    // delete → COMPACT → serve: the purge leg. Compaction folds the
    // tombstone-filtered reader view into a new base generation, so the
    // deleted rows are PHYSICALLY gone (the GDPR requirement — a
    // tombstone masks, a purge erases) and the tombstone set returns to
    // zero; serving is unchanged, so ann_ivf_delete's oracle checks the
    // purged index end-to-end (IvfPersistSpec pins the physical side:
    // no deleted id in any base file, delete channel cleared).
    "ann_ivf_purge" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivf_purge", d)
      ivfSave(ivfBuild(e, "vec_id", "embedding", IvfK), dir)
      IvfStore.delete(s, dir, e.filter(col("vec_id") % 11 === 5).select("vec_id"),
        "vec_id", batchId = 0L)
      IvfStore.compact(s, dir)
      ivfQuery(ivfLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", IvfNProbe, 3)
    },

    // attribute-FILTERED ANN — top-k within a metadata predicate (the
    // production "nearest English-language docs" shape): the attribute
    // is CARRIED on the index rows at build time, so the predicate
    // evaluates at the parquet scan of the persisted index (pushed
    // filter, PlanShapeSpec pins it) — filtered search never joins the
    // corpus back in, and cell partition pruning still applies on top.
    "ann_ivf_filtered" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivf_filtered", d)
      ivfSave(ivfBuild(e, "vec_id", "embedding", IvfK, carry = Seq("label")), dir)
      val idx = ivfLoad(s, dir, carry = Seq("label"))
      ivfQuery(
        IvfIndex(idx.assigned.filter(col("label") === 3), idx.centroids),
        e.filter(col("vec_id") < 5), "vec_id", "embedding", IvfNProbe, 3)
    },

    // ZERO-DOWNTIME REINDEX: the drift answer. Build on ~6/7 of the
    // corpus, append the rest at the STALE centroids, then retrain —
    // re-cluster the live reader view and swap it in as the next
    // generation (readers keep serving the old centroids+assignments
    // pair until the manifest commits; a torn retrain is invisible).
    // Build-on-the-view determinism makes the swapped index equal a
    // fresh full-corpus build, so the plain ann_ivf chain is the
    // oracle — the strongest possible check that the retrain healed
    // the append's stale assignments.
    "ann_ivf_retrain" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivf_retrain", d)
      ivfSave(ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", IvfK), dir)
      ivfAppend(s, dir, e.filter(col("vec_id") % 7 === 3), "vec_id", "embedding",
        batchId = 0L)
      ivfRetrain(s, dir, IvfK)
      ivfQuery(ivfLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", IvfNProbe, 3)
    },

    // the WHEN-TO-RETRAIN gate, as a measured number: recall@3 against
    // the exact cosine truth for the STALE serving state (index built
    // on the base rows, the held-out batch assigned at those frozen
    // centroids — exactly what ann_ivf_append serves) vs the RETRAINED
    // state (fresh full-corpus build — exactly what ann_ivf_retrain
    // swaps in). One shared truth pass; both legs the deterministic
    // kernels, so the drift delta is engine-exact and hash-checked —
    // a deployment reruns this on a query sample and retrains when
    // the stale row's recall drops below its bar. The stale leg
    // re-assigns the whole corpus at the base build's centroids
    // (kmeansAssign) — the assignment a persisted standing index's base
    // + append segments already hold; only the RETRAINED leg prices a
    // build, on the corpus the reindex would cover.
    "ann_ivf_drift" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      driftGate[IvfIndex](e, col("vec_id") < 5, "cosine")(
        ivfBuild(_, "vec_id", "embedding", IvfK),
        base => IvfIndex(
          kmeansAssign(e.select(col("vec_id"), col("embedding")), base.centroids)
            .select(col("vec_id").as("cand_id"), col("cid").as("cell"),
              col("embedding").as("ce2")),
          base.centroids),
        ivfQuery(_, _, "query_id", "embedding", IvfNProbe, 3))
    },

    // ANN quality evaluation: recall@3 of the IVF path against the
    // exact brute-force ground truth — the accept/reject gate every
    // production ANN deployment runs before trading exactness for
    // pruning (raise nprobe until recall clears the bar). Both legs are
    // the deterministic kernels above, so recall itself is
    // engine-exact and oracle-checked, not a spec-only bound. Cost is
    // one brute-force pass over the corpus for the (small) query set
    // plus one IVF search — at 100 TB the truth leg runs on a sampled
    // query set, which is exactly this shape (queries ≪ corpus;
    // corpus never shuffles).
    "ann_recall_eval" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      recallOf(exactTruth(e, col("vec_id") < 5, "cosine", 3), perQuery = true,
        (ivfSearch(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          IvfK, IvfNProbe, 3), "hits", "recall_e6"))
        .orderBy("query_id")
    },

    // The nprobe OPERATING-POINT SWEEP — the table a production ANN
    // deployment tunes from: for each nprobe ∈ {1,2,4,8}, aggregate
    // recall@3 against the exact brute-force truth AND the price paid
    // for it (corpus rows inside the probed cells, as an e6 fraction of
    // queries × corpus). The accept/reject decision becomes a curve,
    // not ann_recall_eval's single point. One index build and one truth
    // pass serve all four legs (localCheckpointed — the sweep re-ranks
    // the same materialized index); each leg adds only its probe join
    // and top-3. All legs are the deterministic kernels above, so the
    // whole table is engine-exact and oracle-checked. Corpus size for
    // the fraction comes from parquet footers (ParquetMeta) — no extra
    // corpus count job.
    "ann_tune" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      val queriesDf = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpusN = graft.sources.ParquetMeta.rowCount(s, s"$d/embeddings.parquet")
      // index build (+ assignment/occupancy materialization) and the
      // exact-truth pass are independent — overlap them (guide §2.6)
      val ((idx, occ), truth) = graft.functions.Par.inParallel({
        val built = ivfBuild(e, "vec_id", "embedding", IvfK)
        // centroids are already checkpointed by ivfBuild; the
        // assignment checkpoint materializes it once for all four legs
        val ix = IvfIndex(built.assigned.localCheckpoint(), built.centroids)
        (ix, ix.assigned.groupBy(col("cell"))
          .agg(count(lit(1)).as("cell_n")).localCheckpoint())
      }, exactTruth(e, col("vec_id") < 5, "cosine", 3).localCheckpoint())
      // each leg's serve checkpoints its probe set at construction —
      // build the four legs concurrently
      val legs = graft.functions.Par.all(Seq(1, 2, 4, 8).map(np => () =>
        sweepRow(truth, ivfQuery(idx, queriesDf, "query_id", "embedding", np, 3),
          idx.centroids, queriesDf, occ, np, corpusN, lit(np.toLong).as("nprobe"))): _*)
      legs.reduce(_.unionByName(_)).orderBy("nprobe")
    },

    // Product-quantization ANN (the M-bytes-per-vector memory scale
    // path): 8 subspaces × 8 dims, 16 sub-centroids each — one byte of
    // code per subspace — trained with ivfBuild's seed + fixed-point
    // Lloyd kernels per subspace, queried by integer ADC table lookups.
    // Deterministic end to end, so codebook, codes, AND the served
    // top-5 are all hash-checked against the DuckDB mirror.
    "ann_pq" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      pqSearch(e,
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding")),
        m = 8, dsub = 8, ksub = 16, topK = 5)
        .orderBy("query_id", "rk")
    },

    // PQ's quantization-error gate, graded against the EXACT
    // full-vector L2 truth (the same metric ADC approximates, so the
    // gap is purely the codebook's) in BOTH operating modes a
    // deployment chooses between: raw ADC top-3, and the standard
    // production remedy — exact re-rank over the ADC top-50 shortlist
    // (PQ prunes the corpus, floats re-rank only the shortlist). Truth
    // distances e6-floor to BIGINT before ranking (ties by cand_id);
    // one pqSearch serves both legs (top-3 = shortlist rk ≤ 3). All
    // legs deterministic → the whole table is oracle-checked, the
    // ann_recall_eval convention.
    "ann_pq_recall" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dist = l2Dist(e, col("vec_id") < 5)
      val short = pqSearch(e,
          e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("embedding")),
          m = 8, dsub = 8, ksub = 16, topK = 50)
        .select("query_id", "cand_id", "rk")
      recallOf(nearest(dist, 3), perQuery = true,
        (short.filter(col("rk") <= 3), "hits_adc", "recall_adc_e6"),
        (nearest(dist.join(short.select("query_id", "cand_id"), Seq("query_id", "cand_id")), 3),
          "hits_rerank", "recall_rerank_e6"))
        .orderBy("query_id")
    },

    // The cross-session PQ serving path, oracle-checked end-to-end:
    // train + encode, parquet-persist codebook + codes, reload, THEN
    // serve query batches by ADC — no retraining, no corpus access
    // beyond the codes (the ann_ivf_persisted precedent: ann_pq's
    // fused entry re-ran the Lloyd explode on every invocation of what
    // is conceptually a serving query). Training is deterministic and
    // the round-trip lossless, so the fused entry's oracle checks it.
    "ann_pq_persisted" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dir = graft.sources.Scratch.perLake("ann_pq_persisted", d)
      val book = pqTrain(e, m = 8, dsub = 8, ksub = 16)
      pqSave(PqIndex(book, pqEncode(e, book, m = 8, dsub = 8), 8, 8), dir)
      pqQuery(pqLoad(s, dir),
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding")),
        topK = 5)
        .orderBy("query_id", "rk")
    },

    // IVFADC (Jégou et al. §IV) — the full 100 TB ANN serving shape:
    // coarse cells prune WHICH codes a query batch scans (~nprobe/k of
    // the corpus), PQ codes bound what each scanned row costs (M
    // integer lookups). Runs the operational chain end-to-end: build,
    // persist (cell-partitioned codes), reload, serve — deterministic
    // throughout, so the whole composition is hash-checked against the
    // DuckDB mirror (coarse chain CTEs ∪ PQ chain CTEs).
    "ann_ivfpq" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivfpq", d)
      ivfPqSave(ivfPqBuild(e, "vec_id", "embedding",
        kCoarse = IvfK, m = 8, dsub = 8, ksub = 16), dir)
      ivfPqQuery(ivfPqLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // the quantized ZERO-DOWNTIME REINDEX: build on the base rows,
    // append the rest at the STALE centroids+codebook, then retrain —
    // rebuild coarse/book/codes from the live corpus with the index's
    // own hyperparameters and swap the quadruple in atomically
    // (generation-versioned sidecars; readers on the old generation
    // never see a mixed pair). Deterministic build ⇒ equals a fresh
    // full-corpus IVFADC build, so the plain ann_ivfpq chain is the
    // oracle — proof the retrain healed the stale-codebook encodings.
    "ann_ivfpq_retrain" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivfpq_retrain", d)
      ivfPqSave(ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3), "vec_id", "embedding",
        kCoarse = IvfK, m = 8, dsub = 8, ksub = 16), dir)
      // the retrain's read-and-rebuild half never touches the appends
      // channel (ivfPqRetrainPrep doc) — overlap it with the batch
      // landing; only the COMMIT (compact) must see the landed segment
      val (_, prep) = graft.functions.Par.inParallel(
        ivfPqAppend(s, dir, e.filter(col("vec_id") % 7 === 3),
          "vec_id", "embedding", batchId = 0L),
        ivfPqRetrainPrep(s, dir, e, "vec_id", "embedding"))
      ivfPqRetrain(s, dir, e, "vec_id", "embedding", prebuilt = Some(prep))
      ivfPqQuery(ivfPqLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // The QUANTIZED when-to-retrain gate — ann_ivf_drift's twin for
    // the store a deployment actually serves (IVFADC), where the
    // CODEBOOK goes stale along with the coarse centroids: recall@3
    // against the exact L2 truth for the STALE serving state (coarse
    // cells + codebook trained on the base rows, the FULL corpus
    // assigned and encoded at those frozen parameters — exactly what
    // ann_ivfpq_append serves as the corpus grows past the build) vs
    // the RETRAINED state (fresh full-corpus build — exactly what
    // ivfPqRetrain swaps in). One shared truth pass grades both legs;
    // everything rides the deterministic kernels, so the drift delta
    // is engine-exact and hash-checked. This number is what pulls the
    // ivfPqRetrain trigger: rerun on a query sample, retrain when the
    // stale row drops below the bar. At 100 TB both legs serve from
    // persisted state — the stale leg IS the standing index
    // (ivfPqLoad, no corpus re-encode; the full-corpus encode here
    // mirrors what its append segments already hold), and the
    // retrained leg prices the reindex before committing to it.
    "ann_ivfpq_drift" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      ivfPqDriftGate(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        col("vec_id") < 5)
    },

    // ann_ivfpq_drift over a corpus that GENUINELY drifted — the gate's
    // positive-trigger demonstration. The held-out slice (% 7 = 3) is
    // displaced by a constant +0.5 offset on every dimension before it
    // (re)joins the corpus — a deterministic, exactly-reversible shift
    // (double-add-then-CAST-to-FLOAT is IEEE-identical on both engines,
    // so the whole chain stays hash-checked) that models a new data
    // source the base training never saw. Queries are drawn FROM the
    // drifted slice (drift matters when traffic follows it): the stale
    // parameters crowd every drifted row into the nearest old cells and
    // snap all of them to the same near-zero sub-centroids (ADC
    // discrimination collapses), while the retrained build allocates
    // cells and sub-centroids in the displaced region. This entry is
    // the FORM at oracle size; bench/drift_curve.json carries the
    // measurement-size reading (100 queries, recall@10) where
    // retrained beats stale beyond the noise band —
    // the committed number that justifies pulling the ivfPqRetrain
    // trigger (ref: the reference's recon discipline exists to detect
    // divergence worth repairing, src/reconciliation/report/
    // generator.py:226).
    "ann_ivfpq_drift_shifted" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      ivfPqDriftGate(driftedCorpus(Tables.embeddings(s, d)),
        col("vec_id") % 7 === 3 && col("vec_id") < 40)
    },

    // The scheduled reconciliation pass over the LIVING STORES
    // (the stores' `audit`) — run against one deliberately-damaged IVF
    // store and one healthy IVFADC code store, so the entry proves
    // both that every fault class is caught AND that a clean store
    // reads clean. Faults injected (the real crash shapes): a
    // double-landed batch slice (the same rows under two batchIds —
    // what a replay past a LOST watermark would do) and tombstones for
    // ids that never arrived (delete-before-insert traffic). A
    // deployment runs exactly this on a cadence and alerts on any
    // non-zero dup/foreign/stale row.
    "recon_index" -> { (s, d) =>
      reconIndexFixture(s, d).orderBy("store", "invariant")
    },

    // the store audit's LWW form, run against a deliberately
    // damaged UPSERT store (the stream_ivf_upsert discipline): live-id
    // updates, a delete batch, a re-insert batch reviving half the
    // deleted keys, orphan tombstones in the disjoint negative range,
    // and — the LWW-specific fault — a writer violating the one-row-
    // per-key-per-batch contract (a slice landed TWICE inside one
    // segment), which `Scheme.loadLww` cannot detect at read time: the
    // view serves duplicate rows for those keys, and this pass's
    // `dup_keys` is the scheduled detection path.
    // `superseded_rows` prices the standing compaction debt the next
    // IvfStore.upsertCompact clears. All counts are modular-arithmetic
    // replayable, so the whole audit is hash-checked.
    "recon_index_lww" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dir = graft.sources.Scratch.perLake("recon_index_lww", d)
      ivfSave(ivfBuild(e, "vec_id", "embedding", IvfK), dir)
      // batches 0-4 write disjoint batch_id dirs under the static gen-0
      // layout — co-land all five (Par.all doc)
      graft.functions.Par.all(
        // batch 0: updates of live ids (% 5 = 1) — vector reversed
        () => ivfAppend(s, dir,
          e.filter(col("vec_id") % 5 === 1)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", batchId = 0L),
        // batch 1: deletes (% 13 = 2)
        () => IvfStore.delete(s, dir,
          e.filter(col("vec_id") % 13 === 2).select("vec_id"),
          "vec_id", batchId = 1L),
        // batch 2: re-insert of the even half of the deleted keys
        // (% 26 = 2) — under LWW these revive
        () => ivfAppend(s, dir,
          e.filter(col("vec_id") % 26 === 2)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", batchId = 2L),
        // batch 3: tombstones for keys that never existed (negative range)
        () => IvfStore.delete(s, dir,
          e.filter(col("vec_id") % 17 === 4)
            .select((-col("vec_id") - 1L).as("vec_id")),
          "vec_id", batchId = 3L),
        // batch 4, the DAMAGE: % 29 = 7 landed twice in ONE segment — a
        // writer that skipped the per-key envelope collapse
        // (cdc_apply_latest) upstream of the append
        () => {
          val dup = e.filter(col("vec_id") % 29 === 7)
            .select("vec_id", "embedding")
          ivfAppend(s, dir, dup.unionByName(dup), "vec_id", "embedding",
            batchId = 4L)
        })
      IvfStore.audit(s, dir, "lww_ivf", e, lww = true)
        .orderBy("store", "invariant")
    },

    // THE OPERATIONAL HEALTH REPORT — the entry a deployment actually
    // schedules (the reference's severity/recommendation discipline,
    // ref: src/reconciliation/report/generator.py:226, pointed at the
    // engine's own stores): recon_index's store invariants, the
    // SHIFTED drift gate, and the run-level recon metrics rolled into
    // one severity-graded table. Severity grammar: CRITICAL = store
    // corruption (duplicate keys, foreign rows, stale segments) or a
    // table-level checksum mismatch; HIGH = index/corpus parity holes;
    // MEDIUM = standing tombstone debt, or a measured RELATIVE retrain
    // win past the 50%-of-stale bar (the row that pulls the
    // ivfPqRetrain trigger — and on this fixture it FIRES, because the
    // drifted gate's retrained leg genuinely wins); INFO =
    // observability rows. All
    // inputs deterministic ⇒ the whole report is hash-checked. Wall
    // attribution: ~all of this entry's cost is the in-entry fixture
    // builds (two index stores + two IVFADC drift builds + the
    // multi-table recon), not the report rollup itself — the scheduled
    // pass over ALREADY-BUILT production stores pays only the
    // tag-union group-bys and delta reads.
    "recon_index_report" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      // the store fixture and the drift gate touch disjoint scratch
      // dirs/frames — overlap them (guide §2.6; both are internally
      // parallel already)
      val (inv0, drift) = graft.functions.Par.inParallel(
        reconIndexFixture(s, d),
        ivfPqDriftGate(driftedCorpus(
            Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))),
          col("vec_id") % 7 === 3 && col("vec_id") < 40))
      val inv = inv0
        .select(concat(lit("index:"), col("store")).as("component"),
          col("invariant").as("metric"), col("value"))
      // the retrain trigger is RELATIVE (gain as a fraction of the
      // stale recall): an absolute e-6 bar can't hold across corpus
      // sizes (absolute recall shrinks as the corpus grows), while
      // "retrained wins by > 50% of stale" fires at every committed SF
      // exactly when the drift is genuine (bench/drift_curve.json) and
      // never on the unshifted corpus
      val driftRows = drift.agg(
          max(when(col("variant") === "stale", col("recall_e6"))).as("st"),
          max(when(col("variant") === "retrained", col("recall_e6"))).as("rt"))
        .select(explode(array(
          struct(lit("stale_recall_e6").as("metric"), col("st").as("value")),
          struct(lit("retrained_recall_e6").as("metric"), col("rt").as("value")),
          struct(lit("retrain_gain_ratio_e6").as("metric"),
            floor((col("rt") - col("st")).cast("double") * 1e6
              / greatest(col("st"), lit(1L)) + 0.5).cast("long")
              .as("value")))).as("r"))
        .select(lit("drift:ivfpq_shifted").as("component"),
          col("r.metric").as("metric"), col("r.value").as("value"))
      val runRows = SafetySuite.queries("recon_run_metrics")(s, d)
        .select(explode(array(
          struct(lit("tables_checked").as("metric"),
            col("tables_checked").as("value")),
          struct(lit("tables_mismatched").as("metric"),
            col("tables_mismatched").as("value")),
          struct(lit("max_row_delta").as("metric"),
            col("max_row_delta").as("value")))).as("r"))
        .select(lit("runs:recon").as("component"),
          col("r.metric").as("metric"), col("r.value").as("value"))
      inv.unionByName(driftRows).unionByName(runRows)
        .withColumn("severity",
          when(col("metric").isin("dup_keys", "foreign_in_index",
              "stale_segments") && col("value") > 0, "CRITICAL")
            .when(col("metric") === "tables_mismatched" && col("value") > 0,
              "CRITICAL")
            .when(col("metric") === "missing_from_index" && col("value") > 0,
              "HIGH")
            .when(col("metric") === "orphan_tombstones" && col("value") > 0,
              "MEDIUM")
            .when(col("metric") === "retrain_gain_ratio_e6" &&
              col("value") > 500000, "MEDIUM")
            .otherwise("INFO"))
        .withColumn("recommendation",
          when(col("severity") === "CRITICAL" &&
              col("metric") === "tables_mismatched",
            lit("Run recon_bisect and recon_rowlevel on the mismatched tables."))
            .when(col("severity") === "CRITICAL",
              lit("Halt writers; rebuild or replay the store from the last good manifest."))
            .when(col("severity") === "HIGH",
              lit("Verify the missing keys are intentional deletes; else re-drive the lost segments."))
            .when(col("metric") === "orphan_tombstones" && col("value") > 0,
              lit("Match tombstones against the upstream delete feed; they purge at the next compaction."))
            .when(col("metric") === "retrain_gain_ratio_e6" &&
              col("value") > 500000,
              lit("Schedule ivfPqRetrain: the retrained index wins by more than the noise band."))
            .otherwise(lit("No action.")))
        .orderBy("component", "metric")
    },

    // attribute-FILTERED IVFADC — ann_ivf_filtered's twin on the
    // quantized index: the attribute is carried INTO the code rows at
    // encode time, so filtered quantized search evaluates its
    // predicate at the code scan (pushed filter, under the cell
    // partition pruning) and never joins the corpus back in; carry
    // survives append/compact/retrain (derived from the base codes'
    // schema). Oracle = the IVFADC chain with the label predicate on
    // the served candidates.
    "ann_ivfpq_filtered" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivfpq_filtered", d)
      ivfPqSave(ivfPqBuild(e, "vec_id", "embedding",
        kCoarse = IvfK, m = 8, dsub = 8, ksub = 16,
        carry = Seq("label")), dir)
      val idx = ivfPqLoad(s, dir, carry = Seq("label"))
      ivfPqQuery(
        IvfPqIndex(idx.centroids,
          PqIndex(idx.pq.book, idx.pq.codes.filter(col("label") === 3),
            idx.pq.m, idx.pq.dsub), idx.residual),
        e.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // the quantized index's DELETE leg — ann_ivf_delete's twin on the
    // code store: tombstone ids land as a delete segment, pqLoad
    // anti-joins them (broadcast) on every serve, CodesStore.compact purges
    // them physically. The oracle is the IVFADC chain with the deleted
    // ids excluded from the served candidates only (both trainings saw
    // the full corpus and are fixed — exactly the engine's state).
    "ann_ivfpq_delete" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.perLake("ann_ivfpq_delete", d)
      ivfPqSave(ivfPqBuild(e, "vec_id", "embedding",
        kCoarse = IvfK, m = 8, dsub = 8, ksub = 16), dir)
      // the tombstone landing touches only the delete channel; the
      // serve's metadata reads touch only book/flags/base schema —
      // overlap them (guide §2.6). The SERVING view (codes ∪ segments −
      // tombstones) is constructed below, after both finish.
      val (_, meta) = graft.functions.Par.inParallel(
        CodesStore.delete(s, dir, e.filter(col("vec_id") % 11 === 5).select("vec_id"),
          "vec_id", batchId = 0L),
        pqMetaLoad(s, dir))
      ivfPqQuery(ivfPqLoad(s, dir, meta = Some(meta)),
        e.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // IVFADC's quality gate against the exact full-vector L2 truth —
    // what cell pruning COSTS on top of quantization error: recall@3
    // of the probed-cells ADC top-3 (the ann_pq_recall convention;
    // compare its recall_adc_e6 to price the nprobe/k pruning).
    "ann_ivfpq_recall" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      recallOf(exactTruth(e, col("vec_id") < 5, "l2", 3), perQuery = true,
        (ivfPqQuery(
          ivfPqBuild(e, "vec_id", "embedding",
            kCoarse = IvfK, m = 8, dsub = 8, ksub = 16),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          nprobe = IvfNProbe, topK = 3), "hits_adc", "recall_adc_e6"))
        .orderBy("query_id")
    },

    // FULL-FIDELITY IVFADC — PQ over RESIDUALS (x − coarse centroid),
    // Jégou et al. §IV eq. 13, closing ann_ivfpq's documented
    // plain-sub-vector simplification: residuals concentrate around 0,
    // so the same 4-bit subspace budget quantizes finer; the query
    // side prices this as one residual + ADC table PER PROBED CELL
    // (nprobe broadcast-sized tables instead of one). Deterministic
    // end-to-end (double-subtract → float re-narrow is the proven
    // portable cast), so coarse cells, residual codebook, codes, and
    // the served top-5 are all hash-checked.
    "ann_ivfpq_residual" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      ivfPqResidualSearch(e, e.filter(col("vec_id") < 5),
        kCoarse = IvfK, nprobe = IvfNProbe, m = 8, dsub = 8, ksub = 16, topK = 5)
        .orderBy("query_id", "rk")
    },

    // residual IVFADC's cross-session serving path: build (residual
    // codebook + codes), persist (flags row records residual-ness),
    // reload, serve — no retraining, the ann_ivfpq precedent. The
    // round-trip is lossless and the build deterministic, so the fused
    // entry's oracle checks the persisted path too.
    "ann_ivfpq_residual_persisted" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dir = graft.sources.Scratch.perLake("ann_ivfpq_residual_persisted", d)
      ivfPqSave(ivfPqBuild(e, "vec_id", "embedding",
        kCoarse = IvfK, m = 8, dsub = 8, ksub = 16, residual = true), dir)
      ivfPqQuery(ivfPqLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // what the residual codebook BUYS over plain sub-vectors (Jégou et
    // al.'s motivation for eq. 13), as a measured number: recall@3 of
    // residual-IVFADC's top-3 against the exact full-vector L2 truth —
    // compare per-query to ann_ivfpq_recall's recall_adc_e6 (the plain
    // variant at the same nprobe/bit budget).
    "ann_ivfpq_residual_recall" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      recallOf(exactTruth(e, col("vec_id") < 5, "l2", 3), perQuery = true,
        (ivfPqResidualSearch(e, e.filter(col("vec_id") < 5),
          kCoarse = IvfK, nprobe = IvfNProbe, m = 8, dsub = 8, ksub = 16,
          topK = 3), "hits_adc", "recall_adc_e6"))
        .orderBy("query_id")
    },

    // IVFADC as a LIVING index — the composed quantized index's
    // incremental-maintenance path, oracle-checked end-to-end: build
    // on the base corpus (~6/7 of the rows), persist, append the
    // arriving batch at the LOADED fixed centroids + codebook, reload,
    // serve. Assignment and encoding at fixed parameters are
    // deterministic, so build-then-append equals one build over the
    // unioned corpus with training restricted to the base rows — the
    // ann_ivf_append algebra lifted to the quantized index.
    "ann_ivfpq_append" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dir = graft.sources.Scratch.perLake("ann_ivfpq_append", d)
      ivfPqSave(ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", kCoarse = IvfK, m = 8, dsub = 8, ksub = 16), dir)
      // one metadata read serves BOTH the append's encode and the
      // reload (appends change no metadata — PqMeta doc); previously
      // each phase re-paid the book head() + flag read
      val meta = pqMetaLoad(s, dir)
      ivfPqAppend(s, dir, e.filter(col("vec_id") % 7 === 3),
        "vec_id", "embedding", batchId = 0L, meta = Some(meta))
      ivfPqQuery(ivfPqLoad(s, dir, meta = Some(meta)),
        e.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // the quantized living index's maintenance third leg (build →
    // append → COMPACT): fold the committed code segments into a new
    // base generation and serve from it — same corpus, same fixed
    // parameters, so the served result is identical to
    // ann_ivfpq_append's and its oracle checks the whole fold
    // (crash-safety is IvfPqMaintSpec's job; the driver checks values)
    "ann_ivfpq_compact" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dir = graft.sources.Scratch.perLake("ann_ivfpq_compact", d)
      ivfPqSave(ivfPqBuild(e.filter(col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", kCoarse = IvfK, m = 8, dsub = 8, ksub = 16), dir)
      ivfPqAppend(s, dir, e.filter(col("vec_id") % 7 === 3),
        "vec_id", "embedding", batchId = 0L)
      CodesStore.compact(s, dir)
      ivfPqQuery(ivfPqLoad(s, dir), e.filter(col("vec_id") < 5),
        "vec_id", "embedding", nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // The composed 100 TB recipe in one entry: the PQ codebook trains
    // on the deterministic 1/16 hash-sample (training economics),
    // every vector still encodes, and serving is IVFADC (coarse cells
    // prune, integer ADC scores) — sampled training and cell pruning
    // composed, each proven separately above, hash-checked together
    // here (PQ chain with the sampled training predicate ∪ the coarse
    // chain).
    "ann_ivfpq_sampled" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      ivfPqQuery(
        ivfPqBuild(e, "vec_id", "embedding",
          kCoarse = IvfK, m = 8, dsub = 8, ksub = 16, sampleMod = 16),
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        nprobe = IvfNProbe, topK = 5)
        .orderBy("query_id", "rk")
    },

    // The QUANTIZED operating-point sweep — the knob table a PQ
    // deployment actually tunes (ann_tune covers exact-re-rank IVF):
    // for nprobe ∈ {1,2,4,8} × shortlist ∈ {0 = raw ADC, 50 = exact
    // re-rank over the ADC top-50}, aggregate recall@3 against the
    // exact L2 truth AND the price paid — code rows inside the probed
    // cells, as an e6 fraction of queries × corpus. One index build,
    // one truth pass, one full-corpus distance table (all
    // localCheckpointed) serve all eight legs; each leg adds only its
    // probe join, ranking, and (for shortlist legs) the 50-row
    // re-rank. All legs deterministic → the whole table hash-checks.
    "ann_ivfpq_tune" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val corpusN = graft.sources.ParquetMeta.rowCount(s, s"$d/embeddings.parquet")
      val queriesDf = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // the index build (+ code/occupancy materialization) and the
      // exact-truth distance pass are independent — overlap them
      // (guide §2.6, the drift-gate pattern)
      val ((idx, occ), tdist) = graft.functions.Par.inParallel({
        val built = ivfPqBuild(e, "vec_id", "embedding",
          kCoarse = IvfK, m = 8, dsub = 8, ksub = 16)
        // centroids are already checkpointed by ivfBuild; the codes
        // checkpoint materializes the encode once for all eight legs
        val ix = built.copy(
          pq = built.pq.copy(codes = built.pq.codes.localCheckpoint()))
        (ix, ix.pq.codes.groupBy(col("cell"))
          .agg(count(lit(1)).as("cell_n")).localCheckpoint())
      },
        // full (query × corpus) exact L2 distances, shared by the truth
        // ranking and every shortlist re-rank leg
        l2Dist(e, col("vec_id") < 5).localCheckpoint())
      val truth = nearest(tdist, 3).localCheckpoint()
      def legOf(np: Int, sl: Int): DataFrame = {
        val served = ivfPqQuery(idx, queriesDf, "query_id", "embedding",
            nprobe = np, topK = if (sl == 0) 3 else sl)
          .select("query_id", "cand_id")
        val got = if (sl == 0) served
          else nearest(tdist.join(served, Seq("query_id", "cand_id")), 3)
        sweepRow(truth, got, idx.centroids, queriesDf, occ, np, corpusN,
          lit(np.toLong).as("nprobe"), lit(sl.toLong).as("shortlist"))
      }
      // leg CONSTRUCTION is also eager (each serve checkpoints its
      // probe set) — build the eight legs concurrently
      val legs = graft.functions.Par.all(
        (for { np <- Seq(1, 2, 4, 8); sl <- Seq(0, 50) }
          yield { () => legOf(np, sl) }): _*)
      legs.reduce(_.unionByName(_)).orderBy("nprobe", "shortlist")
    },

    // Sample-trained codebook — the 100 TB training economics: the PQ
    // codebook learns from a deterministic 50% hash-sample of the
    // corpus (seeds + Lloyd touch half the rows) while the ENCODE pass
    // still covers every vector. The sample is hash-derived
    // (rowHash60 % 2), so it is reproducible, unbiased, and
    // oracle-mirrorable — the whole chain stays hash-checked, making
    // the codebook-quality trade a measurable delta against ann_pq's
    // full-corpus-trained top-5 rather than a leap of faith.
    "ann_pq_sampled" -> pqSampledServe(sampleMod = 2),

    // the same chain at a 16× cheaper training rate — together with
    // ann_pq_sampled (mod 2) and ann_pq (mod 1) the family publishes
    // the training-economics curve; ann_pq_sampled_recall grades what
    // each rate costs in recall
    "ann_pq_sampled16" -> pqSampledServe(sampleMod = 16),

    // The sampled-training QUALITY curve — recall@3 of the ADC top-3
    // against the exact full-vector L2 truth, at training rates
    // 1/1, 1/2, 1/16, 1/256 (one row per rate): the measured evidence
    // that a corpus-scale codebook can train on a sample — and where
    // the cliff is. One truth pass (localCheckpointed) grades all
    // legs; each leg retrains its own codebook (that is the thing
    // under test) but encodes the full corpus. All legs deterministic
    // → the whole table is hash-checked. The rate is only meaningful
    // relative to corpus size: a rate whose SAMPLE falls under ksub
    // rows trains a degenerate book (sf0.01's 1/16 ≈ 26 rows is past
    // the cliff; 1/256 needs ≥ sf1 — the committed curve at sf0.1/sf1
    // lives in bench/pq_sampled_curve.json, where the three cheap
    // rates separate cleanly). The 100 TB read: pick the rate by
    // target SAMPLE SIZE (≥ ~100 × ksub rows), not by a fixed divisor.
    "ann_pq_sampled_recall" -> { (s, d) =>
      org.apache.spark.sql.graft.Bridge.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val truth = exactTruth(e, col("vec_id") < 5, "l2", 3).localCheckpoint()
      val queriesDf = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // each rate's codebook training is an eager checkpoint — train
      // the four concurrently (guide §2.6; the truth pass above already
      // ran, so the pool is otherwise idle)
      val books = graft.functions.Par.all(Seq(1, 2, 16, 256).map(mod =>
        () => mod -> pqTrain(e, m = 8, dsub = 8, ksub = 16,
          sampleMod = mod)): _*)
      books.map { case (mod, book) =>
        recallOf(truth, perQuery = false,
          (pqQuery(PqIndex(book, pqEncode(e, book, m = 8, dsub = 8), 8, 8),
            queriesDf, topK = 3), "hits_adc", "recall_adc_e6"))
          .select(lit(mod.toLong).as("sample_mod"), col("*"))
      }.reduce(_.unionByName(_)).orderBy("sample_mod")
    },

    // Deterministic k-means over the embedding corpus (k = IvfK, TWO
    // Lloyd iterations — one past ivfBuild's single step): the
    // clustering primitive behind domain mixing, corpus cartography,
    // and IVF nlist tuning. Seeds, assignment, and centroid updates
    // are ivfBuild's exact-arithmetic kernels, so the whole clustering
    // — including per-cluster inertia — is engine-exact and
    // oracle-checked, not a "close enough" sketch. Per-member squared
    // distances quantize to integers BEFORE the cluster sum (a double
    // group-sum is reduction-order nondeterministic); centroid norms
    // fold dims in array order (deterministic on both engines).
    //
    // Runs through the k-iteration Graft.kmeans kernel: each round's
    // k × dims centroids are localCheckpoint'ed, so per-iteration cost
    // is ONE narrow corpus scan against materialized centroids. The
    // earlier fully-unrolled form leaned on exchange reuse to dedupe
    // the rollup's twin consumers of the last Lloyd aggregate — and
    // the executed plan showed reuse does NOT fire there (column
    // pruning makes the two consumers' partial aggregates canonically
    // different), so it re-ran the aggregate AND a fifth corpus scan.
    // GraftApiSpec pins row-equality with the unrolled form;
    // PlanShapeSpec pins the single-scan final plan.
    "emb_kmeans" -> { (s, d) =>
      graft.api.Graft.kmeans(Tables.embeddings(s, d), "vec_id", "embedding",
        k = IvfK, iters = 2)
    }
  )

  def oracles: Map[String, String] = oraclesBase +
    // the persisted-index path is value-identical to the fused build+
    // query (the round-trip is lossless and the build deterministic),
    // so the same oracle checks it — what makes "reload serves the
    // same answers" a driver-checked claim instead of a spec-only one
    ("ann_ivf_persisted" -> oraclesBase("ann_ivf")) +
    // same algebra for PQ: train+persist+reload+serve ≡ the fused
    // train+serve, so ann_pq's oracle checks the persisted path too
    ("ann_pq_persisted" -> oraclesBase("ann_pq")) +
    // compaction folds segments without changing the served set —
    // build-then-append-then-compact ≡ build-then-append, so the
    // append chain's oracle checks the folded index end-to-end
    ("ann_ivf_compact" -> oraclesBase("ann_ivf_append")) +
    // the persisted residual index is value-identical to the fused
    // residual chain (deterministic build, lossless round-trip)
    ("ann_ivfpq_residual_persisted" -> oraclesBase("ann_ivfpq_residual")) +
    // code-store compaction folds segments without changing the served
    // set, so the quantized append chain's oracle checks the fold
    ("ann_ivfpq_compact" -> oraclesBase("ann_ivfpq_append")) +
    // a purge (delete-then-compact) serves exactly what the tombstone
    // mask served — compaction only makes the exclusion physical — so
    // the delete chain's oracle checks the purged index end-to-end
    ("ann_ivf_purge" -> oraclesBase("ann_ivf_delete")) +
    // a retrain re-clusters the LIVE view (here: the full corpus after
    // the append) with the same deterministic build, so the swapped
    // index must equal a fresh full-corpus build — the plain chain
    ("ann_ivf_retrain" -> oraclesBase("ann_ivf")) +
    // same algebra for the quantized retrain: rebuild-on-the-live-
    // corpus determinism ⇒ the plain full-corpus IVFADC chain
    ("ann_ivfpq_retrain" -> oraclesBase("ann_ivfpq"))

  /** The coarse-quantizer CTE chain every IVF and IVFADC oracle
    * composes (seeds → one Lloyd step → final assignment + probes) —
    * never inline a second copy. Ends at `${p}a1` (cand_id, cell, the
    * `carry` columns, ce2) and `${p}pr` (each query's FULL cell ranking
    * `rn`, `qe` the query vector — a serve probes the cells with
    * `rn <= nprobe`). `basePred`
    * picks the index-BUILD corpus: seeds and the Lloyd step run over
    * matching rows (`${p}eb`), the final assignment and probes cover all
    * of `serveBase` — `TRUE` checks the plain build, a proper subset
    * checks build-then-append at the base's fixed centroids (the
    * ann_ivf_append algebra). `p` prefixes every emitted CTE so two
    * differently-trained chains can share one WITH list (the drift
    * oracles compare them); `carry` columns (e.g. `label`) ride from
    * `serveBase` into `${p}a1` for serve-side predicates.
    */
  private def ivfCellChainSql(basePred: String, p: String = "iv_",
      serveBase: String = "e", queryPred: String = "vec_id < 5",
      carry: Seq[String] = Nil): String =
    s"""${p}eb AS (SELECT vec_id, embedding FROM e WHERE $basePred),
       |${p}seeds AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM ${p}eb
       |  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
       |  LIMIT $IvfK),
       |${p}d0 AS (
       |  SELECT e.vec_id, s.cid, e.embedding,
       |    ${oracleDist("s.ce")} AS dist
       |  FROM ${p}eb e, ${p}seeds s),
       |${p}a0 AS (
       |  SELECT vec_id, cid, embedding FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ${p}d0) t WHERE rn = 1),
       |${p}dims AS (
       |  SELECT cid, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM ${p}a0, range(1, 65) r(i)),
       |${p}cents AS (
       |  SELECT cid, list(CAST(m AS REAL) ORDER BY i) AS ce FROM (
       |    SELECT cid, i,
       |      CAST(SUM(FLOOR(v*1e6 + 0.5)) AS DOUBLE)/COUNT(*)/1e6 AS m
       |    FROM ${p}dims GROUP BY cid, i) t GROUP BY cid),
       |${p}d1 AS (
       |  SELECT e.vec_id, c.cid, ${carry.map(c => s"e.$c, ").mkString}e.embedding,
       |    ${oracleDist("c.ce")} AS dist
       |  FROM $serveBase e, ${p}cents c),
       |${p}a1 AS (
       |  SELECT vec_id AS cand_id, cid AS cell, ${carry.map(_ + ", ").mkString}embedding AS ce2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ${p}d1) t WHERE rn = 1),
       |${p}pr AS (
       |  SELECT vec_id AS query_id, cid AS cell, embedding AS qe,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM ${p}d1 WHERE $queryPred)""".stripMargin

  /** Shared DuckDB-oracle fragments for the embedding-distance family —
    * one source of truth for each formula the Spark kernels are mirrored
    * by (a fix applied to one copy and not the others would produce a
    * hash mismatch that is expensive to localize). `e` is the
    * conventional embeddings-CTE alias, `q` the queries CTE (query_id,
    * embedding). Oracles compose these fragments; none inlines a copy.
    */
  private val OracleSq = "(CAST(e.embedding[i] AS DOUBLE) - CAST(%s[i] AS DOUBLE))"
  private def oracleDist(c: String) =
    s"""list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> ${OracleSq.format(c)} * ${OracleSq.format(c)}))""".stripMargin
  private val OracleNorm =
    "sqrt(list_sum(list_transform(%s, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
  /** e6-rounded cosine of two FLOAT[] columns (native cosine_sim's twin). */
  private def cosSql(a: String, b: String): String =
    s"""FLOOR(
       |      list_sum(list_transform(range(1, len($a) + 1),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
       |      (${OracleNorm.format(a)} * ${OracleNorm.format(b)}) * 1e6 + 0.5)/1e6""".stripMargin

  /** The exact top-3 truth CTEs every recall oracle grades against:
    * `tdist` scores each (query of `q`, candidate ≠ query of `e`) pair —
    * `cosine`: e6-rounded `cos`, higher is nearer; `l2`: e6-floored
    * BIGINT squared distance `d_e6`, lower is nearer — and `truth`
    * keeps each query's top 3, ties by cand_id.
    */
  private def truthSql(metric: String): String = {
    val (score, order) = metric match {
      case "cosine" => (s"${cosSql("q.embedding", "c.embedding")} AS cos", "cos DESC")
      case "l2" =>
        ("""CAST(FLOOR(list_sum(list_transform(range(1, 65),
           |      i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
           |         * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))))
           |      * 1e6 + 0.5) AS BIGINT) AS d_e6""".stripMargin, "d_e6")
    }
    s"""tdist AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    $score
       |  FROM q JOIN e c ON q.query_id <> c.vec_id),
       |truth AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY $order, cand_id) AS rk
       |    FROM tdist) t WHERE rk <= 3)""".stripMargin
  }

  /** The recall aggregate over `truth`: per leg `(served, hitsCol,
    * recallCol)` — `served` a (query_id, cand_id) relation — a left join,
    * the hit count and the e6-rounded recall, after the `lead` select
    * items; per query (grouped and ordered) when `perQuery`.
    */
  private def recallSql(lead: String, perQuery: Boolean,
      legs: (String, String, String)*): String = {
    def hit(i: Int) = s"SUM(CASE WHEN g$i.cand_id IS NOT NULL THEN 1 ELSE 0 END)"
    val cols = legs.zipWithIndex.map { case ((_, h, r), i) =>
      s"""CAST(${hit(i)} AS BIGINT) AS $h,
         |  CAST(FLOOR(CAST(${hit(i)} AS DOUBLE) * 1e6 / COUNT(*) + 0.5) AS BIGINT) AS $r""".stripMargin
    }
    val joins = legs.zipWithIndex.map { case ((g, _, _), i) =>
      s"LEFT JOIN $g g$i ON g$i.query_id = t.query_id AND g$i.cand_id = t.cand_id"
    }
    s"""SELECT $lead${if (perQuery) "t.query_id, " else ""}CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  ${cols.mkString(",\n  ")}
       |FROM truth t
       |${joins.mkString("\n")}""".stripMargin +
      (if (perQuery) "\nGROUP BY t.query_id ORDER BY t.query_id" else "")
  }

  /** The top `k` (query_id, cand_id) of a query with a per-query `rk`,
    * as a parenthesized relation.
    */
  private def topSql(ranked: String, k: Int): String =
    s"(SELECT query_id, cand_id FROM ($ranked) r WHERE rk <= $k)"

  /** Exact-L2 re-rank of a (query_id, cand_id) `short`list relation: its
    * top 3 by `tdist.d_e6`, ties by cand_id.
    */
  private def rerankSql(short: String): String =
    s"""(SELECT query_id, cand_id FROM (
       |  SELECT t.query_id, t.cand_id,
       |    ROW_NUMBER() OVER (PARTITION BY t.query_id
       |                       ORDER BY t.d_e6, t.cand_id) AS rk
       |  FROM tdist t JOIN $short sh
       |    ON sh.query_id = t.query_id AND sh.cand_id = t.cand_id) x WHERE rk <= 3)""".stripMargin

  /** The IVF serve: exact cosine of the candidates (`${iv}a1`) in each
    * query's `np` nearest cells (`${iv}pr`) passing `pred` — delete
    * masks, attribute filters — ranked per query by (cos DESC, cand_id)
    * as `rk`.
    */
  private def ivfCosRankSql(iv: String = "iv_", np: Int = IvfNProbe,
      pred: String = "TRUE"): String =
    s"""SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, cand_id) AS rk FROM (
       |  SELECT p.query_id, a.cand_id, a.cell, ${cosSql("p.qe", "a.ce2")} AS cos
       |  FROM ${iv}a1 a JOIN ${iv}pr p ON a.cell = p.cell AND p.rn <= $np
       |  WHERE p.query_id <> a.cand_id AND ($pred)) sc""".stripMargin

  /** The IVFADC serve: `${pq}sc2` ADC candidates whose cell (`${iv}a1`)
    * is one of the query's `np` nearest cells (`${iv}pr`), passing
    * `pred`, ranked per query by (adist_e6, cand_id) as `rk`.
    */
  private def probedAdcSql(pq: String = "", iv: String = "iv_", np: Int = IvfNProbe,
      pred: String = "TRUE"): String =
    s"""SELECT s.query_id, s.cand_id, a.cell, s.adist_e6,
       |    ROW_NUMBER() OVER (PARTITION BY s.query_id
       |                       ORDER BY s.adist_e6, s.cand_id) AS rk
       |  FROM ${pq}sc2 s
       |  JOIN ${iv}a1 a ON a.cand_id = s.cand_id
       |  JOIN ${iv}pr p
       |    ON p.query_id = s.query_id AND p.cell = a.cell AND p.rn <= $np
       |  WHERE $pred""".stripMargin

  /** Unpruned ADC ranking of a (query_id, cand_id, adist_e6) relation. */
  private def adcRankSql(scores: String): String =
    s"""SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY adist_e6, cand_id) AS rk
       |  FROM $scores""".stripMargin

  /** A served top-5: query_id, cand_id, `cols`, rk of a ranked query. */
  private def top5Sql(cols: String, ranked: String): String =
    s"""SELECT query_id, cand_id, $cols, CAST(rk AS BIGINT) AS rk FROM (
       |  $ranked) t
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The deterministic 1/`mod` hash-sample (pqTrain's sampleMod rule). */
  private def sampleSql(mod: Int): String =
    s"('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % $mod = 0"

  /** The sweep oracles (ann_tune, ann_ivfpq_tune): after the `chains`
    * WITH list (ending in the `iv_` cell chain), the probed cells'
    * occupancy and the exact `metric` truth, then per leg `(lead, got,
    * np)` one row: the recall of `got` and the price of `np` probes —
    * index rows in the probed cells and their e6 share of queries ×
    * corpus.
    */
  private def sweepOracleSql(chains: String, metric: String,
      legs: Seq[(String, String, Int)], order: String): String = {
    val rows = legs.map { case (lead, got, np) =>
      s"""SELECT $lead, r.n_truth, r.hits, r.recall_e6, s.scanned_rows,
         |    CAST(FLOOR(CAST(s.scanned_rows AS DOUBLE) * 1e6
         |      / (s.nq * (SELECT COUNT(*) FROM e)) + 0.5) AS BIGINT) AS frac_scanned_e6
         |  FROM (${recallSql("", false, (got, "hits", "recall_e6"))}) r,
         |    (SELECT CAST(SUM(occ.cell_n) AS BIGINT) AS scanned_rows,
         |       CAST(COUNT(DISTINCT p.query_id) AS BIGINT) AS nq
         |     FROM iv_pr p JOIN iv_occ occ ON occ.cell = p.cell
         |     WHERE p.rn <= $np) s""".stripMargin
    }
    s"""$chains,
       |iv_occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_n
       |           FROM iv_a1 GROUP BY cell),
       |${truthSql(metric)}
       |SELECT * FROM (
       |${rows.mkString("\nUNION ALL\n")}
       |) u ORDER BY $order""".stripMargin
  }

  /** Squared distance of two 8-dim sub-vectors (indexed expressions). */
  private def pqSubDist(sv: String, sc: String) =
    s"""list_sum(list_transform(range(1, 9),
       |      i -> (CAST($sv AS DOUBLE) - CAST($sc AS DOUBLE))
       |         * (CAST($sv AS DOUBLE) - CAST($sc AS DOUBLE))))""".stripMargin
  /** The PQ train+encode CTE fragment (seeds → slots → codes),
    * parameterized so both the raw-vector chains and the residual
    * IVFADC chain share one source of truth: train over `$trainBase`,
    * encode every row of `$encodeBase` (both CTE names whose rows are
    * (vec_id, embedding)); all emitted CTE names carry prefix `$p`.
    */
  private def pqCodesSql(trainBase: String, encodeBase: String, p: String): String =
    s"""${p}seeds AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM $trainBase
       |  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
       |  LIMIT 16),
       |${p}sub0 AS (
       |  SELECT j, cid, ce[j*8+1 : j*8+8] AS sc FROM ${p}seeds, range(0, 8) r(j)),
       |${p}d0 AS (
       |  SELECT e.vec_id, s.j, s.cid,
       |    ${pqSubDist("e.embedding[s.j*8+i]", "s.sc[i]")} AS dist
       |  FROM $trainBase e, ${p}sub0 s),
       |${p}a0 AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
       |    FROM ${p}d0) t WHERE rn = 1),
       |${p}dims AS (
       |  SELECT a0.j, a0.cid, i AS pos,
       |    CAST(e.embedding[a0.j*8+i] AS DOUBLE) AS v
       |  FROM ${p}a0 a0 JOIN $trainBase e USING (vec_id), range(1, 9) r(i)),
       |${p}cents AS (
       |  SELECT j, cid, list(CAST(mv AS REAL) ORDER BY pos) AS sc FROM (
       |    SELECT j, cid, pos,
       |      CAST(SUM(FLOOR(v*1e6 + 0.5)) AS DOUBLE)/COUNT(*)/1e6 AS mv
       |    FROM ${p}dims GROUP BY j, cid, pos) t GROUP BY j, cid),
       |${p}slots AS (
       |  SELECT j, cid, sc, ROW_NUMBER() OVER (PARTITION BY j ORDER BY cid) AS slot
       |  FROM ${p}cents),
       |${p}d1 AS (
       |  SELECT e.vec_id, c.j, c.slot, c.cid,
       |    ${pqSubDist("e.embedding[c.j*8+i]", "c.sc[i]")} AS dist
       |  FROM $encodeBase e, ${p}slots c),
       |${p}codes AS (
       |  SELECT vec_id, j, slot FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
       |    FROM ${p}d1) t WHERE rn = 1)""".stripMargin

  /** The PQ oracles' ADC scoring (after [[pqCodesSql]] with prefix
    * `p`): `${p}dt` holds each query's per-(subspace, slot) distance
    * e6-floored to BIGINT BEFORE the cross-subspace sum, `${p}sc2` each
    * (query, candidate ≠ query) integer ADC distance `adist_e6`.
    */
  private def adcScoreSql(p: String): String =
    s"""${p}dt AS (
       |  SELECT q.query_id, c.j, c.slot,
       |    CAST(FLOOR(${pqSubDist("q.embedding[c.j*8+i]", "c.sc[i]")} * 1e6 + 0.5) AS BIGINT) AS d_e6
       |  FROM q, ${p}slots c),
       |${p}sc2 AS (
       |  SELECT dt.query_id, cd.vec_id AS cand_id,
       |    CAST(SUM(dt.d_e6) AS BIGINT) AS adist_e6
       |  FROM ${p}codes cd JOIN ${p}dt dt ON dt.j = cd.j AND dt.slot = cd.slot
       |  WHERE dt.query_id <> cd.vec_id
       |  GROUP BY dt.query_id, cd.vec_id)""".stripMargin

  /** The drift gates' oracle (ann_ivf_drift, ann_ivfpq_drift and its
    * shifted twin), [[driftGate]]'s mirror: two complete chains in one
    * WITH list — stale (`s_` prefixes) trains on the %7≠3 base rows,
    * retrained (`f_`) on everything, both serve the full corpus —
    * emitted by `served(prefix, basePred)` down to its top-3
    * `<prefix>got`; one exact `metric` truth grades both. `eSelect`
    * defines the corpus (the shifted twin bakes the +0.5 drift into
    * it); `qPred` picks the query rows.
    */
  private def driftOracleSql(eSelect: String, qPred: String, metric: String)(
      served: (String, String) => String): String =
    s"""WITH e AS ($eSelect),
       |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE $qPred),
       |${served("s_", "vec_id % 7 <> 3")},
       |${served("f_", "TRUE")},
       |${truthSql(metric)}
       |SELECT * FROM (
       |${recallSql("'stale' AS variant, ", false, ("s_got", "hits", "recall_e6"))}
       |UNION ALL
       |${recallSql("'retrained' AS variant, ", false, ("f_got", "hits", "recall_e6"))}
       |) u ORDER BY variant""".stripMargin

  /** The quantized drift oracle: per variant the coarse chain and the
    * PQ chain, both trained on the variant's build rows (`qPred` rides
    * into the probes), served through the probed-cell ADC ranking.
    */
  private def ivfPqDriftOracleSql(eSelect: String, qPred: String): String =
    driftOracleSql(eSelect, qPred, "l2") { (p, basePred) =>
      s"""${ivfCellChainSql(basePred, s"${p}iv_", queryPred = qPred)},
         |${pqCodesSql(s"${p}iv_eb", "e", s"${p}pq_")},
         |${adcScoreSql(s"${p}pq_")},
         |${p}got AS ${topSql(probedAdcSql(s"${p}pq_", s"${p}iv_"), 3)}""".stripMargin
    }

  /** The shifted drift gate's oracle (shared by
    * ann_ivfpq_drift_shifted and recon_index_report's drift rows).
    */
  private lazy val DriftShiftedOracleSql: String = ivfPqDriftOracleSql(
    """SELECT vec_id,
      |    CASE WHEN vec_id % 7 = 3
      |      THEN list_transform(embedding, v -> CAST(CAST(v AS DOUBLE) + 0.5 AS REAL))
      |      ELSE embedding END AS embedding
      |  FROM embeddings""".stripMargin,
    "vec_id % 7 = 3 AND vec_id < 40")

  /** recon_index's oracle — the fixture's construction, replayed
    * arithmetically: the IVF store double-lands the % 3 = 0 slice of
    * the held-out batch and tombstones % 13 = 2 (real) plus % 17 = 4
    * (negative-range fabrications, orphans); the code store is clean.
    * Segment counts / watermark are construction constants (2 appends
    * + 1 delete batch, never compacted). Shared with
    * recon_index_report, which rolls the same invariants into the
    * severity-graded health view.
    */
  private lazy val ReconIndexOracleSql: String =
    """WITH e AS (SELECT vec_id FROM embeddings),
      |iv AS (
      |  SELECT 'append_segments' AS invariant, CAST(2 AS BIGINT) AS value
      |  UNION ALL SELECT 'dup_keys',
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e
      |     WHERE vec_id % 7 = 3 AND vec_id % 3 = 0 AND NOT vec_id % 13 = 2)
      |  UNION ALL SELECT 'foreign_in_index', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'missing_from_index',
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE vec_id % 13 = 2)
      |  UNION ALL SELECT 'orphan_tombstones',
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE vec_id % 17 = 4)
      |  UNION ALL SELECT 'served_rows',
      |    CAST((SELECT COUNT(*) FROM e WHERE NOT vec_id % 13 = 2)
      |      + (SELECT COUNT(*) FROM e
      |         WHERE vec_id % 7 = 3 AND vec_id % 3 = 0
      |           AND NOT vec_id % 13 = 2) AS BIGINT)
      |  UNION ALL SELECT 'stale_segments', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'watermark', CAST(-1 AS BIGINT)),
      |pq AS (
      |  SELECT 'append_segments' AS invariant, CAST(1 AS BIGINT) AS value
      |  UNION ALL SELECT 'dup_keys', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'foreign_in_index', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'missing_from_index', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'orphan_tombstones', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'served_rows',
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e)
      |  UNION ALL SELECT 'stale_segments', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'watermark', CAST(-1 AS BIGINT))
      |SELECT * FROM (
      |  SELECT 'ivf' AS store, invariant, value FROM iv
      |  UNION ALL
      |  SELECT 'ivfpq' AS store, invariant, value FROM pq) u
      |ORDER BY store, invariant""".stripMargin

  /** The PQ oracle chain: per subspace j (0..7), hash-ordered seeds
    * sliced into sub-vectors, argmin assignment (ties lowest cid), one
    * fixed-point Lloyd mean, re-encode, then ADC ([[adcScoreSql]]).
    * `slot` (ROW_NUMBER over cid within j) is the oracle twin of the
    * Spark side's array_position into the cid-ascending codebook
    * array. Parameterized by the TRAINING corpus (`et` — seeds and the
    * Lloyd mean run over rows matching `trainPred`; the encode and ADC
    * legs always cover the whole table): `TRUE` is the full-corpus
    * codebook, a hash predicate ([[sampleSql]]) checks sample-trained
    * codebooks. Ends at `sc2` (query_id, cand_id, adist_e6).
    */
  private def pqChainSqlFor(trainPred: String): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |et AS (SELECT vec_id, embedding FROM e WHERE $trainPred),
       |${pqCodesSql("et", "e", "")},
       |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 5),
       |${adcScoreSql("")}""".stripMargin

  /** The full-corpus-trained instance every fused PQ oracle rides. */
  private lazy val PqChainSql: String = pqChainSqlFor("TRUE")

  /** The residual-IVFADC oracle chain, shared by ann_ivfpq_residual,
    * its persisted twin, and its recall gate: coarse chain → per-row
    * residuals (r) → the shared PQ train/encode fragment over r →
    * per-(query, probed cell) residual ADC tables → cell-keyed integer
    * scoring. Ends at `scr` (query_id, cand_id, cell, adist_e6).
    */
  private lazy val ResidualChainSql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |${ivfCellChainSql("TRUE")},
       |r AS (
       |  SELECT a.cand_id AS vec_id, a.cell,
       |    list_transform(range(1, 65), i ->
       |      CAST(CAST(e2.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE) AS REAL)) AS embedding
       |  FROM iv_a1 a
       |  JOIN e e2 ON e2.vec_id = a.cand_id
       |  JOIN iv_cents c ON c.cid = a.cell),
       |${pqCodesSql("r", "r", "r_")},
       |qr AS (
       |  SELECT p.query_id, p.cell,
       |    list_transform(range(1, 65), i ->
       |      CAST(CAST(q.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE) AS REAL)) AS embedding
       |  FROM iv_pr p
       |  JOIN e q ON q.vec_id = p.query_id
       |  JOIN iv_cents c ON c.cid = p.cell
       |  WHERE p.rn <= $IvfNProbe),
       |dtr AS (
       |  SELECT qr.query_id, qr.cell, c.j, c.slot,
       |    CAST(FLOOR(${pqSubDist("qr.embedding[c.j*8+i]", "c.sc[i]")} * 1e6 + 0.5) AS BIGINT) AS d_e6
       |  FROM qr, r_slots c),
       |scr AS (
       |  SELECT dtr.query_id, cr.vec_id AS cand_id, rr.cell,
       |    CAST(SUM(dtr.d_e6) AS BIGINT) AS adist_e6
       |  FROM r_codes cr
       |  JOIN r rr ON rr.vec_id = cr.vec_id
       |  JOIN dtr ON dtr.j = cr.j AND dtr.slot = cr.slot AND dtr.cell = rr.cell
       |  WHERE dtr.query_id <> cr.vec_id
       |  GROUP BY dtr.query_id, cr.vec_id, rr.cell)""".stripMargin

  /** The full IVF oracle: [[ivfCellChainSql]] (carrying `label`) served
    * by [[ivfCosRankSql]]'s top-3. `basePred = TRUE` checks the plain
    * build (ann_ivf / ann_ivf_persisted); a proper subset checks
    * build-then-append — appending a batch at the persisted index's
    * FIXED centroids is algebraically one assignment of the unioned
    * corpus at those centroids. `servePred` restricts which CANDIDATE
    * rows the serve may score (training and probes are untouched):
    * `NOT (cand_id …)` mirrors tombstone deletes, an attribute
    * predicate (`label = …`) mirrors filtered search. `serveBase` swaps
    * the frame the serve-side assignment/probes cover (default the raw
    * corpus `e`): an LWW-upserted index serves the corpus's FINAL state,
    * which `extraCtes` defines as a (vec_id, label, embedding) CTE.
    */
  private def ivfOracleSql(basePred: String, servePred: String = "TRUE",
      serveBase: String = "e", extraCtes: String = ""): String =
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |$extraCtes${ivfCellChainSql(basePred, serveBase = serveBase, carry = Seq("label"))}
       |SELECT query_id, cand_id, cell, cos, rk FROM (
       |  ${ivfCosRankSql(pred = servePred)}) r
       |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  /** The CDC-maintained living index's oracle (stream_ivf_cdc): base
    * build on the rows the stream does not insert, serve with the
    * stream's deletes masked — insert order and batch boundaries are
    * irrelevant because appends at fixed centroids are an assignment
    * algebra and deletes are delete-wins.
    */
  private[graft] lazy val IvfCdcOracleSql: String =
    ivfOracleSql("vec_id % 7 <> 3", "NOT (cand_id % 13 = 2)")

  /** The LWW CDC-UPSERT index's oracle (stream_ivf_upsert): the index
    * builds on the base rows, then one envelope stream UPDATES live
    * base ids (vec_id % 5 = 1 — vector reversed), INSERTS the held-out
    * rows (% 7 = 3) and DELETES a disjoint base slice (% 13 = 2); under
    * last-write-wins the served corpus is exactly the FINAL state per
    * id, so the serve side of the plain chain runs over `fin` — the
    * corpus with updates applied and deletes absent — while training
    * stays on the base rows the build saw. Every id carries exactly one
    * op, so the final state is independent of batch assignment (the
    * ORDERED multi-op-per-id algebra is IvfPersistSpec's LWW case).
    */
  private[graft] lazy val IvfUpsertOracleSql: String = ivfOracleSql(
    basePred = "vec_id % 7 <> 3", serveBase = "fin", extraCtes = s"$FinSql,\n")

  /** The upsert oracles' `fin`: the corpus's FINAL per-id state after
    * the stream (updates of live base ids % 5 = 1 reverse the vector;
    * base deletes % 13 = 2 are absent; inserts % 7 = 3 are as-is).
    */
  private val FinSql: String =
    """fin AS (
      |  SELECT vec_id, label,
      |    CASE WHEN vec_id % 7 <> 3 AND vec_id % 5 = 1
      |         THEN list_transform(range(1, len(embedding) + 1),
      |                i -> embedding[len(embedding) + 1 - i])
      |         ELSE embedding END AS embedding
      |  FROM e
      |  WHERE NOT (vec_id % 13 = 2 AND vec_id % 5 <> 1 AND vec_id % 7 <> 3))""".stripMargin

  /** The quantized CDC twin (stream_ivfpq_cdc): the IVFADC
    * build-then-append chain (both trainings on the base rows) with
    * the stream's deletes masked from the served candidates.
    */
  private[graft] lazy val IvfPqCdcOracleSql: String =
    ivfPqOracleSql("vec_id % 7 <> 3", "vec_id % 7 <> 3", "NOT (s.cand_id % 13 = 2)")

  /** An IVFADC oracle: the PQ chain trained on `trainPred` rows ∪ the
    * coarse chain built on `basePred` rows, serving the probed-cell ADC
    * top-5 among candidates passing `servePred`.
    */
  private def ivfPqOracleSql(trainPred: String, basePred: String,
      servePred: String = "TRUE"): String =
    s"""${pqChainSqlFor(trainPred)},
       |${ivfCellChainSql(basePred)}
       |${top5Sql("cell, adist_e6", probedAdcSql(pred = servePred))}""".stripMargin

  /** The quantized LWW upsert oracle (stream_ivfpq_upsert): coarse
    * cells AND codebook train on the base rows (original vectors —
    * the build predates the updates), but assignment, encoding, ADC
    * and probes all run over `fin`, the corpus's FINAL per-id state
    * (updates applied, deletes absent) — exactly what the LWW read of
    * the maintained code store serves. Queries probe with fin's own
    * vectors (a deployment queries the state it serves).
    */
  private[graft] lazy val IvfPqUpsertOracleSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |$FinSql,
       |${ivfCellChainSql("vec_id % 7 <> 3", serveBase = "fin")},
       |${pqCodesSql("iv_eb", "fin", "")},
       |q AS (SELECT vec_id AS query_id, embedding FROM fin WHERE vec_id < 5),
       |${adcScoreSql("")}
       |${top5Sql("cell, adist_e6", probedAdcSql())}""".stripMargin

  private def oraclesBase: Map[String, String] = Map(
    "ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS cand_id, label, embedding AS ce FROM embeddings),
        |scored AS (
        |  SELECT query_id, cand_id, label, ${cosSql("qe", "ce")} AS cos
        |  FROM c JOIN q ON query_id <> cand_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rk
        |  FROM scored)
        |SELECT query_id, cand_id, label, cos, rk FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // the IVF index is fully deterministic (fixed seeds, fixed-point
    // Lloyd means, tie-broken argmins), so even the index build is
    // oracle-checkable end-to-end
    "ann_ivf" -> ivfOracleSql("TRUE"),

    // build-then-append at fixed centroids = one assignment of the
    // unioned corpus at those centroids, so the same chain checks the
    // incremental path: seeds + Lloyd run on the BASE rows only, the
    // final assignment covers the full table
    "ann_ivf_append" -> ivfOracleSql("vec_id % 7 <> 3"),

    // tombstone deletes mask candidates at SERVE time (training ran
    // before the deletes; the centroids are fixed), so the oracle is
    // the full-corpus chain with the deleted ids excluded from the
    // scored candidates only
    "ann_ivf_delete" -> ivfOracleSql("TRUE", "NOT (cand_id % 11 = 5)"),

    // filtered search restricts the scored candidates by a carried
    // attribute — same serve-side algebra as a delete mask
    "ann_ivf_filtered" -> ivfOracleSql("TRUE", "label = 3"),

    // the ann_ivf chain's served top-3 graded against the exact cosine
    // truth; recall is matched/|truth| in portable fixed-point
    "ann_recall_eval" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 5),
         |${ivfCellChainSql("TRUE")},
         |${truthSql("cosine")}
         |${recallSql("", true, (topSql(ivfCosRankSql(), 3), "hits", "recall_e6"))}""".stripMargin,

    // two full coarse chains (stale on the base rows, retrained on
    // everything), one exact-cosine truth, recall per variant
    "ann_ivf_drift" -> driftOracleSql(
        "SELECT vec_id, embedding FROM embeddings", "vec_id < 5", "cosine") { (p, basePred) =>
      s"""${ivfCellChainSql(basePred, p)},
         |${p}got AS ${topSql(ivfCosRankSql(p), 3)}""".stripMargin
    },

    "ann_ivfpq_drift" -> ivfPqDriftOracleSql(
      "SELECT vec_id, embedding FROM embeddings", "vec_id < 5"),

    // the same two-chain gate over the SHIFTED corpus: the held slice
    // carries the +0.5 all-dims offset (REAL cast — IEEE-identical to
    // the Spark side's FLOAT cast) and the queries come from it
    "ann_ivfpq_drift_shifted" -> DriftShiftedOracleSql,

    "recon_index" -> ReconIndexOracleSql,

    "recon_index_lww" -> {
      // the LWW fixture replayed arithmetically, by per-key priority:
      // batch 4 (% 29 = 7, landed twice → 2 rows) > batch 2 re-insert
      // (% 26 = 2 → 1 row) > batch 1 delete (% 13 = 2 → 0 rows) >
      // batch 0 update / base (1 row). superseded_rows = raw base +
      // segment rows − served rows; orphans are the % 17 = 4 negative
      // fabrications; 3 append segments (batches 0, 2, 4), never
      // compacted
      """WITH e AS (SELECT vec_id FROM embeddings),
        |st AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 29 = 7 THEN 2
        |         WHEN vec_id % 26 = 2 THEN 1
        |         WHEN vec_id % 13 = 2 THEN 0
        |         ELSE 1 END AS srv
        |  FROM e),
        |inv AS (
        |  SELECT 'append_segments' AS invariant, CAST(3 AS BIGINT) AS value
        |  UNION ALL SELECT 'dup_keys',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM st WHERE srv = 2)
        |  UNION ALL SELECT 'foreign_in_index', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'missing_from_index',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM st WHERE srv = 0)
        |  UNION ALL SELECT 'orphan_tombstones',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE vec_id % 17 = 4)
        |  UNION ALL SELECT 'served_rows',
        |    (SELECT CAST(SUM(srv) AS BIGINT) FROM st)
        |  UNION ALL SELECT 'stale_segments', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'superseded_rows',
        |    (SELECT CAST(
        |        (SELECT COUNT(*) FROM e)
        |      + (SELECT COUNT(*) FROM e WHERE vec_id % 5 = 1)
        |      + (SELECT COUNT(*) FROM e WHERE vec_id % 26 = 2)
        |      + 2 * (SELECT COUNT(*) FROM e WHERE vec_id % 29 = 7)
        |      - (SELECT SUM(srv) FROM st) AS BIGINT))
        |  UNION ALL SELECT 'watermark', CAST(-1 AS BIGINT))
        |SELECT 'lww_ivf' AS store, invariant, value FROM inv
        |ORDER BY store, invariant""".stripMargin
    },

    "recon_index_report" -> {
      // composition of three already-mirrored chains (each wrapped as
      // a parenthesized WITH subquery — scopes don't collide), plus
      // the severity/recommendation CASE grammar mirrored from the
      // Spark side verbatim
      s"""WITH inv AS (
         |  SELECT 'index:' || store AS component, invariant AS metric, value
         |  FROM (${ReconIndexOracleSql}) ri),
         |dr AS (
         |  SELECT MAX(CASE WHEN variant = 'stale' THEN recall_e6 END) AS st,
         |         MAX(CASE WHEN variant = 'retrained' THEN recall_e6 END) AS rt
         |  FROM (${DriftShiftedOracleSql}) dd),
         |driftrows AS (
         |  SELECT 'drift:ivfpq_shifted' AS component, m AS metric,
         |    CASE m WHEN 'stale_recall_e6' THEN st
         |           WHEN 'retrained_recall_e6' THEN rt
         |           ELSE CAST(FLOOR(CAST(rt - st AS DOUBLE) * 1e6
         |                  / GREATEST(st, 1) + 0.5) AS BIGINT) END AS value
         |  FROM dr, (VALUES ('stale_recall_e6'), ('retrained_recall_e6'),
         |                   ('retrain_gain_ratio_e6')) v(m)),
         |rm AS (SELECT * FROM (${SafetySuite.oracles("recon_run_metrics")}) r0),
         |runrows AS (
         |  SELECT 'runs:recon' AS component, m AS metric,
         |    CASE m WHEN 'tables_checked' THEN tables_checked
         |           WHEN 'tables_mismatched' THEN tables_mismatched
         |           ELSE max_row_delta END AS value
         |  FROM rm, (VALUES ('tables_checked'), ('tables_mismatched'),
         |                   ('max_row_delta')) v(m)),
         |rows0 AS (
         |  SELECT * FROM inv
         |  UNION ALL SELECT * FROM driftrows
         |  UNION ALL SELECT * FROM runrows)
         |SELECT component, metric, CAST(value AS BIGINT) AS value,
         |  CASE WHEN metric IN ('dup_keys', 'foreign_in_index', 'stale_segments')
         |         AND value > 0 THEN 'CRITICAL'
         |       WHEN metric = 'tables_mismatched' AND value > 0 THEN 'CRITICAL'
         |       WHEN metric = 'missing_from_index' AND value > 0 THEN 'HIGH'
         |       WHEN metric = 'orphan_tombstones' AND value > 0 THEN 'MEDIUM'
         |       WHEN metric = 'retrain_gain_ratio_e6' AND value > 500000 THEN 'MEDIUM'
         |       ELSE 'INFO' END AS severity,
         |  CASE WHEN metric = 'tables_mismatched' AND value > 0
         |         THEN 'Run recon_bisect and recon_rowlevel on the mismatched tables.'
         |       WHEN metric IN ('dup_keys', 'foreign_in_index', 'stale_segments')
         |         AND value > 0
         |         THEN 'Halt writers; rebuild or replay the store from the last good manifest.'
         |       WHEN metric = 'missing_from_index' AND value > 0
         |         THEN 'Verify the missing keys are intentional deletes; else re-drive the lost segments.'
         |       WHEN metric = 'orphan_tombstones' AND value > 0
         |         THEN 'Match tombstones against the upstream delete feed; they purge at the next compaction.'
         |       WHEN metric = 'retrain_gain_ratio_e6' AND value > 500000
         |         THEN 'Schedule ivfPqRetrain: the retrained index wins by more than the noise band.'
         |       ELSE 'No action.' END AS recommendation
         |FROM rows0 ORDER BY component, metric""".stripMargin
    },

    // ann_recall_eval's chain swept over nprobe ∈ {1,2,4,8}: each leg
    // serves the cells its query's rn <= nprobe probes cover
    "ann_tune" -> sweepOracleSql(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 5),
         |${ivfCellChainSql("TRUE")}""".stripMargin, "cosine",
      Seq(1, 2, 4, 8).map(np => (s"CAST($np AS BIGINT) AS nprobe",
        topSql(ivfCosRankSql(np = np), 3), np)),
      "nprobe"),

    // the shared PqChainSql (see its doc) + the served top-5
    "ann_pq" -> s"$PqChainSql\n${top5Sql("adist_e6", adcRankSql("sc2"))}",

    // same serve as ann_pq, codebook trained on the hash-half sample
    "ann_pq_sampled" ->
      s"${pqChainSqlFor(sampleSql(2))}\n${top5Sql("adist_e6", adcRankSql("sc2"))}",

    // the quantization-error gate in both operating modes: ADC top-3
    // and exact re-rank over the ADC top-50 shortlist, each graded
    // against the exact full-vector L2 truth
    "ann_pq_recall" ->
      s"""$PqChainSql,
         |${truthSql("l2")},
         |adc AS (${adcRankSql("sc2")})
         |${recallSql("", true,
              (topSql("SELECT * FROM adc", 3), "hits_adc", "recall_adc_e6"),
              (rerankSql(topSql("SELECT * FROM adc", 50)), "hits_rerank", "recall_rerank_e6"))}""".stripMargin,

    // PqChainSql (codes + ADC scores) ∪ the coarse chain (cells +
    // probes): the served set is ADC scores restricted to candidates
    // whose cell one of the query's probes covers, ranked within it
    "ann_ivfpq" -> ivfPqOracleSql("TRUE", "TRUE"),

    // the carried-attribute predicate on the served candidates
    // (trainings saw the full corpus)
    "ann_ivfpq_filtered" -> ivfPqOracleSql("TRUE", "TRUE",
      "s.cand_id IN (SELECT vec_id FROM embeddings WHERE label = 3)"),

    // tombstoned ids masked out of the served candidates (trainings saw
    // the full corpus and are fixed)
    "ann_ivfpq_delete" -> ivfPqOracleSql("TRUE", "TRUE", "NOT (s.cand_id % 11 = 5)"),

    // sampled-training PQ chain ∪ full-corpus coarse chain
    "ann_ivfpq_sampled" -> ivfPqOracleSql(sampleSql(16), "TRUE"),

    // build-then-append at FIXED coarse centroids + FIXED codebook
    // equals one build over the unioned corpus with BOTH trainings
    // restricted to the base rows
    "ann_ivfpq_append" -> ivfPqOracleSql("vec_id % 7 <> 3", "vec_id % 7 <> 3"),

    // the quantized sweep: per (nprobe, shortlist) leg the probed-cell
    // ADC ranking served raw (rk <= 3) or exact-re-ranked over its
    // rk <= 50 shortlist, priced by the probed cells' code rows
    "ann_ivfpq_tune" -> sweepOracleSql(
      s"$PqChainSql,\n${ivfCellChainSql("TRUE")}", "l2",
      for { np <- Seq(1, 2, 4, 8); sl <- Seq(0, 50) } yield {
        val cand = probedAdcSql(np = np)
        (s"CAST($np AS BIGINT) AS nprobe, CAST($sl AS BIGINT) AS shortlist",
          if (sl == 0) topSql(cand, 3) else rerankSql(topSql(cand, sl)), np)
      },
      "nprobe, shortlist"),

    // same serve as ann_pq, codebook trained on the 1/16 hash-sample
    "ann_pq_sampled16" ->
      s"${pqChainSqlFor(sampleSql(16))}\n${top5Sql("adist_e6", adcRankSql("sc2"))}",

    // one sampled-training PQ chain per rate (m<mod>_ prefixes) graded
    // against one exact-L2 truth — the recall-per-training-rate curve
    "ann_pq_sampled_recall" -> {
      val mods = Seq(1, 2, 16, 256)
      def chain(mod: Int): String =
        s"""m${mod}_et AS (SELECT vec_id, embedding FROM e WHERE ${sampleSql(mod)}),
           |${pqCodesSql(s"m${mod}_et", "e", s"m${mod}_")},
           |${adcScoreSql(s"m${mod}_")}""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 5),
         |${truthSql("l2")},
         |${mods.map(chain).mkString(",\n")}
         |SELECT * FROM (
         |${mods.map(mod => recallSql(s"CAST($mod AS BIGINT) AS sample_mod, ", false,
              (topSql(adcRankSql(s"m${mod}_sc2"), 3), "hits_adc", "recall_adc_e6")))
            .mkString("\nUNION ALL\n")}
         |) u ORDER BY sample_mod""".stripMargin
    },

    // the shared residual chain + the served top-5
    "ann_ivfpq_residual" ->
      s"$ResidualChainSql\n${top5Sql("cell, adist_e6", adcRankSql("scr"))}",

    // the shared residual chain's ADC top-3 graded against the exact
    // full-vector L2 truth — compare per-query to ann_ivfpq_recall's
    // recall_adc_e6 to price what the residual codebook buys
    "ann_ivfpq_residual_recall" ->
      s"""$ResidualChainSql,
         |q AS (SELECT vec_id AS query_id, embedding FROM e WHERE vec_id < 5),
         |${truthSql("l2")}
         |${recallSql("", true, (topSql(adcRankSql("scr"), 3), "hits_adc", "recall_adc_e6"))}""".stripMargin,

    // probed-cells ADC top-3 graded against the exact full-vector L2
    // truth (the ann_pq_recall convention, single-leg)
    "ann_ivfpq_recall" ->
      s"""$PqChainSql,
         |${ivfCellChainSql("TRUE")},
         |${truthSql("l2")}
         |${recallSql("", true, (topSql(probedAdcSql(), 3), "hits_adc", "recall_adc_e6"))}""".stripMargin,

    "emb_kmeans" -> {
      // the ann_ivf chain extended one Lloyd round, then the
      // per-cluster rollup; distances quantize to e6 integers before
      // the cluster SUM so the inertia is reduction-order-proof
      def lloyd(from: String, dimsN: String, centsN: String) =
        s"""$dimsN AS (
           |  SELECT cid, i, CAST(embedding[i] AS DOUBLE) AS v
           |  FROM $from, range(1, 65) r(i)),
           |$centsN AS (
           |  SELECT cid, list(CAST(m AS REAL) ORDER BY i) AS ce FROM (
           |    SELECT cid, i,
           |      CAST(SUM(FLOOR(v*1e6 + 0.5)) AS DOUBLE)/COUNT(*)/1e6 AS m
           |    FROM $dimsN GROUP BY cid, i) t GROUP BY cid)""".stripMargin
      def assign(centsN: String, outN: String) =
        s"""$outN AS (
           |  SELECT vec_id, cid, embedding, dist FROM (
           |    SELECT e.vec_id, c.cid, e.embedding, ${oracleDist("c.ce")} AS dist,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |                         ORDER BY ${oracleDist("c.ce")}, c.cid) AS rn
           |    FROM e, $centsN c) t WHERE rn = 1)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |seeds AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM e
         |  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
         |  LIMIT $IvfK),
         |${assign("seeds", "a0")},
         |${lloyd("a0", "dims1", "cents1")},
         |${assign("cents1", "a1")},
         |${lloyd("a1", "dims2", "cents2")},
         |${assign("cents2", "a2")},
         |norms AS (
         |  SELECT cid, CAST(FLOOR(list_sum(list_transform(ce,
         |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) AS norm_e6
         |  FROM cents2)
         |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(SUM(CAST(FLOOR(dist*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS inertia_e6,
         |  norm_e6
         |FROM a2 JOIN norms USING (cid)
         |GROUP BY cid, norm_e6 ORDER BY cid""".stripMargin
    }
  )
}
