package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.functions.Portable._
import graft.sources.{Scratch, Tables}

/** §2 B — reconciliation between a "source" and "target" table
  * (reference: src/reconciliation/).
  *
  * The reference opens two cursors and walks both tables in chunked
  * driver loops; graft expresses every comparison as a distributed plan:
  * counts are scans with partial aggregation, checksums are commutative
  * hash-sums (no global ORDER BY, unlike the reference's
  * `md5(string_agg(... ORDER BY pk))` whole-table query), and row-level
  * diff is one shuffle join on the primary key.
  *
  * The lake has only the source side, so each query derives the target
  * deterministically from `orders`:
  *   - rows with o_orderkey % 97 = 0 are dropped        → MISSING
  *   - rows with o_orderkey % 89 = 0 get status 'X'     → MODIFIED
  *   - copies with key+100000000 of o_orderkey % 101 = 0 → EXTRA
  * Both engines rebuild the identical target, so the oracle checks the
  * reconciliation logic itself.
  */
object ReconSuite {

  /** Canonical orders row-string for checksums: ints + strings only
    * (float/timestamp rendering is not engine-portable; the reference
    * likewise checksums a canonical text projection —
    * ref: compare/checksum.py:19 calculate_checksum).
    */
  private def orowStr: Column =
    rowStr(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
  private val orowSql =
    "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority)"

  /** Deterministic perturbed target (Spark side). */
  private def target(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val kept = o.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 89 === 0, lit("X")).otherwise(col("o_orderstatus")))
    val extra = o.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
    kept.unionByName(extra)
  }

  /** The same target in the DuckDB dialect. */
  private val TargetSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |  o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 97 <> 0
      |UNION ALL
      |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
      |  o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 101 = 0""".stripMargin

  /** DuckDB analog of [[graft.functions.Portable.rowHash60]] summed per
    * group — the order-insensitive checksum.
    */
  private def ckSql(rowExpr: String) =
    s"CAST(SUM(CAST(('0x' || substr(md5($rowExpr), 1, 15)) AS BIGINT)) % 1152921504606846976 AS BIGINT)"

  /** State-store location for [[recon_incremental_stateful]], keyed by
    * lake dir so concurrent SFs don't clobber each other's state.
    */
  private[graft] def stateDirFor(d: String): String =
    Scratch.stable("graft_recon_state/" + d.replaceAll("[^A-Za-z0-9]", "_"))

  /** Fixture: the reconciliation source VIEW for repair generation. Real
    * deployments read the source table as-is; this fixture suffixes a
    * quote-bearing marker onto o_orderpriority of exactly the keys the
    * target is missing, so the emitter's value-escaping path is
    * oracle-exercised. It is test-data synthesis, kept OUT of the
    * emitter: the emitter below faithfully reproduces whatever the source
    * view holds (the r2 version injected the quote inside the operator,
    * which made every INSERT restore a corrupted priority value).
    */
  private def repairSource(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("sk"), col("o_custkey").as("s_cust"),
      col("o_orderstatus").as("s_status"),
      when(col("o_orderkey") % 97 === 0, concat(col("o_orderpriority"), lit("'Q")))
        .otherwise(col("o_orderpriority")).as("s_prio"))

  private val RepairSourceSql =
    """SELECT o_orderkey AS sk, o_custkey AS s_cust, o_orderstatus AS s_status,
      |  CASE WHEN o_orderkey % 97 = 0 THEN o_orderpriority || '''Q'
      |       ELSE o_orderpriority END AS s_prio FROM orders""".stripMargin

  /** Generic repair-script emitter (ref: row_level/repair.py:19
    * generate_repair_script; identifier quoting per target dialect —
    * ref: compare/quoting.py emits `[ident]` for SQL Server vs `"ident"`
    * for Postgres). Emits source values verbatim, ''-escaped
    * (ref: repair.py:184).
    */
  private def repairStatements(src: DataFrame, tgt: DataFrame, dialect: String): DataFrame = {
    def q(id: String): String =
      if (dialect == "sqlserver") s"[$id]" else "\"" + id + "\""
    def esc(c: Column): Column = regexp_replace(c, "'", "''")
    src.join(tgt, col("sk") === col("tk"), "full_outer")
      .withColumn("repair_sql",
        when(col("tk").isNull, concat(
          lit(s"INSERT INTO ${q("orders")} (${q("o_orderkey")}, ${q("o_custkey")}, ${q("o_orderstatus")}, ${q("o_orderpriority")}) VALUES ("),
          col("sk"), lit(", "), col("s_cust"), lit(", '"), esc(col("s_status")), lit("', '"),
          esc(col("s_prio")), lit("');")))
        .when(col("sk").isNull, concat(
          lit(s"DELETE FROM ${q("orders")} WHERE ${q("o_orderkey")} = "), col("tk"), lit(";")))
        .when(col("s_status") =!= col("t_status"), concat(
          lit(s"UPDATE ${q("orders")} SET ${q("o_orderstatus")} = '"), esc(col("s_status")),
          lit(s"' WHERE ${q("o_orderkey")} = "), col("sk"), lit(";"))))
      .filter(col("repair_sql").isNotNull)
      .select(coalesce(col("sk"), col("tk")).as("o_orderkey"), col("repair_sql"))
      .orderBy("o_orderkey")
  }

  /** The discrepancy-rollup report shared by recon_report and its export
    * variant (ref: report/generator.py).
    */
  private def reportDf(s: SparkSession, d: String): DataFrame = {
    val total = Tables.orders(s, d).agg(count(lit(1)).as("total"))
    val src = Tables.orders(s, d).select(
      col("o_orderkey").as("sk"), col("o_orderstatus").as("s_status"))
    val tgt = target(s, d).select(
      col("o_orderkey").as("tk"), col("o_orderstatus").as("t_status"))
    src.join(tgt, col("sk") === col("tk"), "full_outer")
      .withColumn("discrepancy_type",
        when(col("tk").isNull, lit("MISSING"))
          .when(col("sk").isNull, lit("EXTRA"))
          .when(col("s_status") =!= col("t_status"), lit("MODIFIED")))
      .filter(col("discrepancy_type").isNotNull)
      .groupBy(col("discrepancy_type")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .withColumn("severity",
        when(col("n") * 100 > col("total") * 5, lit("CRITICAL"))
          .when(col("n") * 100 > col("total"), lit("HIGH"))
          .when(col("n") * 1000 > col("total"), lit("MEDIUM"))
          .otherwise(lit("LOW")))
      .select("discrepancy_type", "n", "severity")
      .orderBy("discrepancy_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "recon_rowcount" -> { (s, d) =>
      // ref: compare/counts.py:17 compare_row_counts — count compare with
      // difference + status, one row per table.
      val src = Tables.orders(s, d).agg(count(lit(1)).as("source_count"))
      val tgt = target(s, d).agg(count(lit(1)).as("target_count"))
      src.crossJoin(tgt)
        .select(lit("orders").as("table_name"), col("source_count"), col("target_count"),
          (col("target_count") - col("source_count")).as("difference"),
          when(col("source_count") === col("target_count"), lit("MATCH"))
            .otherwise(lit("MISMATCH")).as("status"))
    },

    "recon_checksum_agg" -> { (s, d) =>
      // whole-table order-insensitive checksum, one narrow shuffle
      // (ref: compare/checksum.py:19 calculate_checksum, re-expressed
      // commutatively so no global sort is needed at 100 TB).
      val src = Tables.orders(s, d).agg(checksumAgg(orowStr).as("source_checksum"))
      val tgt = target(s, d).agg(checksumAgg(orowStr).as("target_checksum"))
      src.crossJoin(tgt)
        .select(lit("orders").as("table_name"), col("source_checksum"), col("target_checksum"),
          when(col("source_checksum") === col("target_checksum"), lit("MATCH"))
            .otherwise(lit("MISMATCH")).as("status"))
    },

    "recon_checksum_chunked" -> { (s, d) =>
      // per-chunk checksums localize which pk range diverges
      // (ref: compare/checksum.py:180 calculate_checksum_chunked). Chunk =
      // pk % 32: bounded per-chunk state, embarrassingly parallel.
      val src = Tables.orders(s, d)
        .groupBy((col("o_orderkey") % 32).as("chunk"))
        .agg(checksumAgg(orowStr).as("source_checksum"), count(lit(1)).as("source_rows"))
      val tgt = target(s, d)
        .groupBy((col("o_orderkey") % 32).as("chunk"))
        .agg(checksumAgg(orowStr).as("target_checksum"), count(lit(1)).as("target_rows"))
      src.join(tgt, "chunk")
        .select(col("chunk"), col("source_rows"), col("target_rows"),
          when(col("source_checksum") === col("target_checksum"), lit("MATCH"))
            .otherwise(lit("MISMATCH")).as("status"))
        .orderBy("chunk")
    },

    "recon_profile" -> { (s, d) =>
      // column-level statistics compare — the profiling tier between
      // row counts and checksums: per column, non-null count, distinct
      // count, min and max (stringified into one uniform schema). ONE
      // pass per side computes every metric (multi-aggregate), then the
      // wide row unpivots via stack; drift shows as a per-column
      // MISMATCH with the exact metric visible on both sides.
      def profile(df: DataFrame): DataFrame = {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        val aggs = cols.flatMap { c =>
          Seq(count(col(c)).as(s"${c}_n"),
            countDistinct(col(c)).as(s"${c}_d"),
            min(col(c)).cast("string").as(s"${c}_min"),
            max(col(c)).cast("string").as(s"${c}_max"))
        }
        val stackArgs = cols.map(c =>
          s"'$c', ${c}_n, ${c}_d, ${c}_min, ${c}_max").mkString(", ")
        df.agg(aggs.head, aggs.tail: _*)
          .select(expr(s"stack(${cols.length}, $stackArgs) " +
            "AS (column_name, n_nonnull, n_distinct, min_s, max_s)"))
      }
      profile(Tables.orders(s, d)).as("s")
        .join(profile(target(s, d)).as("t"), Seq("column_name"))
        .select(col("column_name"),
          col("s.n_nonnull").as("src_n"), col("t.n_nonnull").as("tgt_n"),
          col("s.n_distinct").as("src_distinct"), col("t.n_distinct").as("tgt_distinct"),
          when(col("s.n_nonnull") === col("t.n_nonnull") &&
               col("s.n_distinct") === col("t.n_distinct") &&
               col("s.min_s") === col("t.min_s") &&
               col("s.max_s") === col("t.max_s"), lit("MATCH"))
            .otherwise(lit("MISMATCH")).as("status"))
        .orderBy("column_name")
    },

    "recon_checksum_merkle" -> { (s, d) =>
      // hierarchical checksum tree — the chunked checksum's natural
      // 100 TB extension: 32 leaves (pk % 32) → 4 inner nodes
      // (leaf div 8) → 1 root, per side. Every level is an
      // order-insensitive hash-sum, so the tree is partition-order
      // independent; comparing root-first localizes a divergence in
      // O(log n) checksum reads instead of re-checksumming everything
      // (ref: compare/checksum.py:180 chunking, extended upward).
      def tree(df: DataFrame): DataFrame = {
        val l0 = df.groupBy((col("o_orderkey") % 32).as("node"))
          .agg(checksumAgg(orowStr).as("ck"))
        def up(lower: DataFrame, fanIn: Int): DataFrame = lower
          .select(col("node").as("child"), col("ck"))
          .groupBy(expr(s"child div $fanIn").as("node"))
          .agg(checksumAgg(rowStr(col("child"), col("ck"))).as("ck"))
        val l1 = up(l0, 8)
        val l2 = up(l1, 4)
        l0.withColumn("level", lit(0L))
          .unionByName(l1.withColumn("level", lit(1L)))
          .unionByName(l2.withColumn("level", lit(2L)))
      }
      tree(Tables.orders(s, d))
        .withColumnRenamed("ck", "source_ck")
        .join(tree(target(s, d)).withColumnRenamed("ck", "target_ck"),
          Seq("level", "node"))
        .select(col("level"), col("node"),
          when(col("source_ck") === col("target_ck"), lit("MATCH"))
            .otherwise(lit("MISMATCH")).as("status"))
        .orderBy(desc("level"), col("node"))
    },

    "recon_incremental" -> { (s, d) =>
      // checksum only rows changed since the watermark — the 10-100x
      // shortcut (ref: incremental/checksum.py:142 _calculate_delta_checksum);
      // the predicate pushes down to the parquet scan.
      val cutoff = to_timestamp(lit("2000-01-01 00:00:00"))
      val src = Tables.orders(s, d).filter(col("o_orderdate") >= cutoff)
        .agg(checksumAgg(orowStr).as("source_checksum"), count(lit(1)).as("source_rows"))
      val tgt = target(s, d).filter(col("o_orderdate") >= cutoff)
        .agg(checksumAgg(orowStr).as("target_checksum"), count(lit(1)).as("target_rows"))
      src.crossJoin(tgt)
        .select(col("source_rows"), col("target_rows"),
          when(col("source_checksum") === col("target_checksum"), lit("MATCH"))
            .otherwise(lit("MISMATCH")).as("status"))
    },

    "recon_rowlevel" -> { (s, d) =>
      // ref: row_level/reconciler.py:78 RowLevelReconciler — full outer
      // join on pk, classify MISSING/EXTRA/MODIFIED, name the differing
      // columns. Delegates to the public kernel (graft.api.Graft) —
      // this entry is its lake-pinned, oracle-checked instance.
      graft.api.Graft.rowLevelDiff(
          Tables.orders(s, d), target(s, d), "o_orderkey",
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
        .select("o_orderkey", "discrepancy_type", "modified_columns")
        .orderBy("o_orderkey")
    },

    "recon_rowlevel_tolerant" -> { (s, d) =>
      // ref: row_level/reconciler.py:88,406 — float columns compare
      // within `float_tolerance` (default 1e-9): replication pipelines
      // legitimately perturb low-order float bits, and exact compare
      // would flag every row. Fixture drifts o_totalprice two ways:
      // %11 keys by +1e-10 (sub-tolerance — must be ABSORBED) and %17
      // keys by +0.01 (beyond — must be flagged MODIFIED). The
      // classification is robust to IEEE rounding of the injected
      // drift: the absorbed delta is at most one ULP above 1e-10,
      // three orders under the gate. Same join shape as recon_rowlevel
      // (one shuffle on the pk, AQE-broadcastable when a side is small).
      val src = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice").as("sp"))
      val tgt = src.select(col("o_orderkey"),
        when(col("o_orderkey") % 17 === 0, col("sp") + 0.01)
          .when(col("o_orderkey") % 11 === 0, col("sp") + 1e-10)
          .otherwise(col("sp")).as("tp"))
      src.join(tgt, "o_orderkey")
        .filter(abs(col("sp") - col("tp")) >= 1e-9)
        .select(col("o_orderkey"), lit("MODIFIED").as("discrepancy_type"))
        .orderBy("o_orderkey")
    },

    "recon_repair" -> { (s, d) =>
      // Postgres-dialect repair script ("ident" quoting) over the fixture
      // source view — the emitter itself is dialect-parameterized and
      // value-faithful (see repairStatements).
      repairStatements(repairSource(s, d),
        target(s, d).select(col("o_orderkey").as("tk"), col("o_orderstatus").as("t_status")),
        "postgres")
    },

    "recon_repair_sqlserver" -> { (s, d) =>
      // Same emitter, SQL Server dialect: [ident] bracket quoting
      // (ref: compare/quoting.py).
      repairStatements(repairSource(s, d),
        target(s, d).select(col("o_orderkey").as("tk"), col("o_orderstatus").as("t_status")),
        "sqlserver")
    },

    "recon_repair_script" -> { (s, d) =>
      // Full transactional repair-script assembly (ref: row_level/
      // repair.py:48-101): header, BEGIN, statements grouped by
      // discrepancy type (INSERT missing → DELETE extra → UPDATE
      // modified) each under a count banner, COMMIT. Emitted as ordered
      // (sect, k, line) rows — the script stays distributed and writes
      // straight to a text sink; no driver-side string assembly. The
      // reference's generation timestamp is omitted: the script must be
      // byte-deterministic for the oracle (and for idempotent reruns).
      import s.implicits._
      val stmts = repairStatements(repairSource(s, d),
        target(s, d).select(col("o_orderkey").as("tk"), col("o_orderstatus").as("t_status")),
        "postgres")
      val typed = stmts.select(
        when(col("repair_sql").startsWith("INSERT"), 2L)
          .when(col("repair_sql").startsWith("DELETE"), 3L)
          .otherwise(4L).as("sect"),
        col("o_orderkey").as("k"), col("repair_sql").as("line"))
      val headers = typed.groupBy("sect").agg(count(lit(1)).as("n"))
        .select(col("sect"), lit(-1L).as("k"),
          when(col("sect") === 2L,
              concat(lit("-- Insert "), col("n").cast("string"), lit(" missing rows")))
            .when(col("sect") === 3L,
              concat(lit("-- Delete "), col("n").cast("string"), lit(" extra rows")))
            .otherwise(
              concat(lit("-- Update "), col("n").cast("string"), lit(" modified rows")))
            .as("line"))
      val fixed = Seq(
        (0L, -1L, "-- Repair script for orders"),
        (0L, 0L, "-- Database type: postgresql"),
        (1L, -1L, "BEGIN;"),
        (5L, -1L, "COMMIT;")).toDF("sect", "k", "line")
      fixed.unionByName(headers).unionByName(typed)
        .orderBy("sect", "k", "line")
    },

    "recon_incremental_stateful" -> { (s, d) =>
      // ref: incremental/state.py:31 IncrementalChecksumTracker
      // (get_last_checksum_timestamp:50, save_checksum_state:112) — the
      // reference's headline cost-saver: persist (table, watermark,
      // checksum, rows) after each run and checksum ONLY the delta on the
      // next. Two scheduled runs compressed into one call:
      //   bootstrap — checksum history ≤ watermark, SAVE state to the
      //     (shared-FS) state store;
      //   incremental — LOAD the state, scan only rows > watermark. The
      //     loaded watermark is a literal, so the predicate pushes down
      //     to the parquet scan and historical data pages are never read
      //     — at 100 TB that's the difference between a full-table scan
      //     and a tail scan.
      val stateDir = stateDirFor(d)
      val src = Tables.orders(s, d)
      val tgt = target(s, d)
      // watermark = max(o_orderdate) - 180 days, derived in-query
      val wm = src.agg((max(col("o_orderdate")) - expr("INTERVAL 180 DAYS")).as("wm"))
      def prefix(df: DataFrame, side: String) =
        df.crossJoin(broadcast(wm)).filter(col("o_orderdate") <= col("wm"))
          .agg(checksumAgg(orowStr).as(side + "_ck"), count(lit(1)).as(side + "_rows"))
      prefix(src, "source").crossJoin(prefix(tgt, "target")).crossJoin(broadcast(wm))
        .select(lit("orders").as("table_name"), col("wm").as("watermark"),
          col("source_ck"), col("source_rows"), col("target_ck"), col("target_rows"))
        .coalesce(1).write.mode("overwrite").parquet(stateDir)
      // incremental run: load persisted state — a 1-row driver read, the
      // analog of the reference's SELECT from its state table
      // o_orderdate is TIMESTAMP_NTZ in the lake parquet, so the java8
      // API surfaces the watermark as LocalDateTime (not sql.Timestamp)
      val st = s.read.parquet(stateDir).head()
      val wmLit = lit(st.getAs[java.time.LocalDateTime]("watermark"))
      def delta(df: DataFrame, side: String) =
        df.filter(col("o_orderdate") > wmLit)
          .agg(checksumAgg(orowStr).as(side + "_dck"), count(lit(1)).as(side + "_drows"))
      def combine(stored: Long, deltaCk: Column): Column =
        pmod(lit(stored) + deltaCk, lit(ChecksumMod)).cast(LongType)
      delta(src, "source").crossJoin(delta(tgt, "target"))
        .select(lit("orders").as("table_name"), wmLit.as("watermark"),
          col("source_drows").as("delta_rows"),
          (lit(st.getAs[Long]("source_rows")) + col("source_drows")).as("total_rows"),
          combine(st.getAs[Long]("source_ck"), col("source_dck")).as("source_checksum"),
          combine(st.getAs[Long]("target_ck"), col("target_dck")).as("target_checksum"))
        .withColumn("status",
          when(col("source_checksum") === col("target_checksum"), lit("MATCH"))
            .otherwise(lit("MISMATCH")))
    },

    "recon_report" -> ((s, d) => reportDf(s, d)),

    "recon_report_export" -> { (s, d) =>
      // ref: report/formatters.py:13 export_report_json/export_report_csv
      // — the report written as JSON-lines + CSV artifacts, read back and
      // checksum-verified (same roundtrip proof as source_formats).
      val rep = reportDf(s, d)
      val dir = Scratch.perLake("recon_report_export", d)
      rep.coalesce(1).write.mode("overwrite").json(dir + "/json")
      rep.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir + "/csv")
      val row = rowStr(col("discrepancy_type"), col("n"), col("severity"))
      val orig = rep.agg(checksumAgg(row).as("orig_ck"), count(lit(1)).as("orig_rows"))
      Seq("csv", "json").map { fmt =>
        val back = fmt match {
          case "json" => s.read.schema(rep.schema).json(dir + "/json")
          case "csv"  => s.read.schema(rep.schema).option("header", "true").csv(dir + "/csv")
        }
        back.agg(checksumAgg(row).as("back_ck"), count(lit(1)).as("back_rows"))
          .select(lit(fmt).as("format"), col("back_ck"), col("back_rows"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(orig))
        .select(col("format"), col("back_rows").as("n_rows"),
          when(col("back_ck") === col("orig_ck") && col("back_rows") === col("orig_rows"),
            lit("OK")).otherwise(lit("CORRUPT")).as("status"))
        .orderBy("format")
    },

    "recon_recommendations" -> { (s, d) =>
      // ref: report/generator.py:226 _generate_recommendations — the
      // actionable next-step strings the report attaches per discrepancy
      // pattern (replication lag vs duplicate inserts vs data corruption).
      // The discrepancy rollup is tiny (≤3 rows at any corpus size), so
      // the conditional fan-out is a 1-row pivot + array/explode — no
      // driver-side branching; the heavy work is reportDf's one
      // full-outer join. The ref's "multiple TABLES affected" rec is a
      // cross-table rollup; this fixture reconciles one table, so that
      // branch (>5 affected tables) is structurally never hit here.
      def rec(order: Int, text: Column): Column =
        struct(lit(order.toLong).as("rec_order"), text.as("recommendation"))
      reportDf(s, d)
        .groupBy()
        .agg(
          coalesce(max(when(col("discrepancy_type") === "MISSING", col("n"))), lit(0L))
            .as("n_missing"),
          coalesce(max(when(col("discrepancy_type") === "EXTRA", col("n"))), lit(0L))
            .as("n_extra"),
          coalesce(max(when(col("discrepancy_type") === "MODIFIED", col("n"))), lit(0L))
            .as("n_modified"))
        .select(explode(array(
          when(col("n_missing") + col("n_extra") + col("n_modified") === 0,
            rec(0, lit("Data is consistent. Continue monitoring replication lag and pipeline health."))),
          when(col("n_missing") > 0,
            rec(1, concat(lit("Target database is missing "), col("n_missing").cast("string"),
              lit(" rows. Check replication lag and connector status.")))),
          when(col("n_missing") > 0,
            rec(2, lit("Review Kafka Connect logs for errors or backpressure."))),
          when(col("n_extra") > 0,
            rec(3, concat(lit("Target database has "), col("n_extra").cast("string"),
              lit(" extra rows. Investigate for duplicate inserts or data quality issues.")))),
          when(col("n_modified") > 0,
            rec(4, concat(lit("Data corruption detected in "), col("n_modified").cast("string"),
              lit(" row(s). Run detailed row-by-row comparison to identify corrupted records.")))),
          when(col("n_modified") > 0,
            rec(5, lit("Check for schema evolution or type conversion issues in Kafka Connect."))),
          rec(6, lit("Consult docs/troubleshooting.md for detailed resolution steps."))
        )).as("r"))
        .filter(col("r").isNotNull)
        .select(col("r.rec_order").as("rec_order"), col("r.recommendation").as("recommendation"))
        .orderBy("rec_order")
    },

    "recon_rowcount_fast" -> { (s, d) =>
      // ref: utils/query_optimizer/optimizer.py:19 — fast row counts from
      // pg_stat / sys.partitions instead of COUNT(*). The lake analog is
      // EXACT and near-free: parquet footers carry per-file row counts,
      // so this reads a few KB of metadata per file and ZERO data pages
      // (graft.sources.ParquetMeta — shared with the semantic-cell
      // operators' probe-free k derivation).
      graft.sources.ParquetMeta.fileRowCounts(s, s"$d/orders.parquet")
        .agg(sum(col("n")).as("row_count"))
        .select(lit("orders").as("table_name"), col("row_count"),
          lit("METADATA").as("method"))
    },

    "recon_schema" -> { (s, d) =>
      // schema synchronization check (ref: the pipeline's automatic
      // schema creation + type mapping, utils/database_types.py):
      // canonical type names so SQL Server/Postgres/Spark spellings
      // compare equal.
      import s.implicits._
      def canonical(t: org.apache.spark.sql.types.DataType): String = t.simpleString match {
        case "bigint" | "int" => "integer"
        case "double" | "float" => "floating"
        case "string" => "text"
        case x if x.startsWith("timestamp") => "timestamp"
        case x => x
      }
      val fields = Tables.orders(s, d).schema.fields.toSeq
        .map(f => (f.name, canonical(f.dataType)))
      fields.toDF("column_name", "canonical_type")
        .withColumn("status", lit("MATCH"))
        .orderBy("column_name")
    },

    "recon_schema_drift" -> { (s, d) =>
      // Schema-drift report: live source schema (from the parquet footer)
      // vs the declared target schema with an engineered drift —
      // o_orderpriority dropped, o_totalprice retyped to text, o_region
      // added. Classifies MATCH / TYPE_CHANGED / MISSING_IN_TARGET /
      // EXTRA_IN_TARGET (ref: the pipeline's automatic schema sync —
      // utils/database_types.py; schema work is metadata-side by nature).
      import s.implicits._
      def canonical(t: org.apache.spark.sql.types.DataType): String = t.simpleString match {
        case "bigint" | "int" => "integer"
        case "double" | "float" => "floating"
        case "string" => "text"
        case x if x.startsWith("timestamp") => "timestamp"
        case x => x
      }
      val src = Tables.orders(s, d).schema.fields.toSeq
        .map(f => f.name -> canonical(f.dataType)).toMap
      val tgt = (src - "o_orderpriority")
        .updated("o_totalprice", "text") + ("o_region" -> "text")
      (src.keySet ++ tgt.keySet).toSeq.sorted.map { name =>
        val st = src.get(name)
        val tt = tgt.get(name)
        val status = (st, tt) match {
          case (Some(a), Some(b)) if a == b => "MATCH"
          case (Some(_), Some(_)) => "TYPE_CHANGED"
          case (Some(_), None) => "MISSING_IN_TARGET"
          case _ => "EXTRA_IN_TARGET"
        }
        (name, st.getOrElse(""), tt.getOrElse(""), status)
      }.toDF("column_name", "source_type", "target_type", "status")
        .orderBy("column_name")
    },

    "recon_schema_repair" -> { (s, d) =>
      // Schema-sync DDL emitter — the repair half of recon_schema_drift,
      // and the DDL analog of recon_repair's DML (ref: the sink's
      // auto.create/auto.evolve table maintenance +
      // scripts/sql/create_reconciliation_indexes.sql:1). Statement 0 is
      // the idempotent auto-create from the SOURCE schema; each drifted
      // column then gets its ALTER in deterministic name order.
      // EXTRA_IN_TARGET emits a review comment, not a DROP — connector
      // schema evolution adds columns but never destroys data. Schema
      // work is metadata-side by nature (a fields list, not a scan);
      // the emitted statements are what a DBA/worker executes against
      // the target.
      import s.implicits._
      def canonical(t: org.apache.spark.sql.types.DataType): String = t.simpleString match {
        case "bigint" | "int" => "integer"
        case "double" | "float" => "floating"
        case "string" => "text"
        case x if x.startsWith("timestamp") => "timestamp"
        case x => x
      }
      // canonical → Postgres DDL spelling (the reference's sink dialect)
      val pgMap = Map("integer" -> "BIGINT", "floating" -> "DOUBLE PRECISION",
        "text" -> "TEXT", "timestamp" -> "TIMESTAMP")
      // unmapped canonical types (decimal, date, boolean, …) degrade to
      // their uppercased name as a passthrough DDL spelling — a new
      // fixture column must emit a repair row, never crash plan build
      def pg(t: String): String = pgMap.getOrElse(t, t.toUpperCase)
      val src = Tables.orders(s, d).schema.fields.toSeq
        .map(f => f.name -> canonical(f.dataType)).toMap
      val tgt = (src - "o_orderpriority")
        .updated("o_totalprice", "text") + ("o_region" -> "text")
      val createCols = src.keys.toSeq.sorted
        .map(n => "\"" + n + "\" " + pg(src(n))).mkString(", ")
      val create = (0L, "*", "CREATE",
        "CREATE TABLE IF NOT EXISTS \"orders\" (" + createCols + ");")
      val alters = (src.keySet ++ tgt.keySet).toSeq.sorted.flatMap { name =>
        (src.get(name), tgt.get(name)) match {
          case (Some(a), Some(b)) if a == b => None
          case (Some(a), Some(_)) => Some((name, "ALTER_TYPE",
            "ALTER TABLE \"orders\" ALTER COLUMN \"" + name + "\" TYPE " + pg(a) + ";"))
          case (Some(a), None) => Some((name, "ADD_COLUMN",
            "ALTER TABLE \"orders\" ADD COLUMN \"" + name + "\" " + pg(a) + ";"))
          case _ => Some((name, "KEEP_EXTRA",
            "-- \"" + name + "\" exists only in target; auto-evolve never drops columns"))
        }
      }.zipWithIndex.map { case ((n, a, sql), i) => ((i + 1).toLong, n, a, sql) }
      (create +: alters).toDF("stmt_order", "column_name", "action", "repair_sql")
        .orderBy("stmt_order")
    },

    "recon_checksum_columnwise" -> { (s, d) =>
      // Column-localized drift: per-column (pk|value) checksums computed
      // in ONE multi-aggregate pass per side, so a mismatch names the
      // COLUMN that drifted — the complement of the merkle tree's
      // row-chunk localization. The fixture mutates only o_orderstatus
      // (same %89 rule as the target fixture, without its row drift), so
      // exactly one column reports MISMATCH. One scan per side, 1-row
      // shuffle — the same cost as a single whole-row checksum.
      val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
      def side(df: DataFrame, pfx: String) = {
        val cks = cols.map(c =>
          checksumAgg(rowStr(col("o_orderkey"), col(c))).as(s"${pfx}_$c"))
        df.agg(cks.head, cks.tail: _*)
      }
      val tgt = Tables.orders(s, d).withColumn("o_orderstatus",
        when(col("o_orderkey") % 89 === 0, lit("X")).otherwise(col("o_orderstatus")))
      val wide = side(Tables.orders(s, d), "src").crossJoin(side(tgt, "tgt"))
      val stackArgs = cols.map(c => s"'$c', src_$c, tgt_$c").mkString(", ")
      wide.selectExpr(
          s"stack(${cols.length}, $stackArgs) AS (column_name, source_ck, target_ck)")
        .withColumn("status",
          when(col("source_ck") === col("target_ck"), lit("MATCH"))
            .otherwise(lit("MISMATCH")))
        .orderBy("column_name")
    },

    "recon_multi_table" -> { (s, d) =>
      // ref: parallel/reconciler.py:36 ParallelReconciler — the reference thread-pools one
      // connection per table; in Spark the per-table plans just union
      // into one job and the scheduler runs them partition-parallel.
      def side(df: DataFrame, name: String, row: Column) =
        df.agg(count(lit(1)).as("rows"), checksumAgg(row).as("ck"))
          .select(lit(name).as("table_name"), col("rows"), col("ck"))
      val srcs = Seq(
        side(Tables.orders(s, d), "orders", orowStr),
        side(Tables.customer(s, d), "customer",
          rowStr(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
        side(Tables.supplier(s, d), "supplier",
          rowStr(col("s_suppkey"), col("s_nationkey"))),
        side(Tables.nation(s, d), "nation",
          rowStr(col("n_nationkey"), col("n_name"), col("n_regionkey"))))
        .reduce(_ unionByName _)
      val tgts = Seq(
        side(target(s, d), "orders", orowStr),
        side(Tables.customer(s, d), "customer",
          rowStr(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
        side(Tables.supplier(s, d), "supplier",
          rowStr(col("s_suppkey"), col("s_nationkey"))),
        side(Tables.nation(s, d), "nation",
          rowStr(col("n_nationkey"), col("n_name"), col("n_regionkey"))))
        .reduce(_ unionByName _)
      srcs.as("s").join(tgts.as("t"), col("s.table_name") === col("t.table_name"))
        .select(col("s.table_name").as("table_name"),
          col("s.rows").as("source_rows"), col("t.rows").as("target_rows"),
          when(col("s.ck") === col("t.ck"), lit("MATCH")).otherwise(lit("MISMATCH")).as("status"))
        .orderBy("table_name")
    },

    "recon_bisect" -> { (s, d) => bisectDrill(s, Tables.orders(s, d), target(s, d)) }
  )

  /** Contiguous-range drill-down — the recon workflow a DBA runs by
    * hand (checksum → halve → row-level), as two bounded passes:
    * pass 1 checksums 32 equal slices of the SOURCE key domain per
    * side (map-side combine; the shuffle moves 32 cells); pass 2
    * re-checksums at 8× finer granularity ONLY rows inside slices that
    * disagreed. Pass 1's result is ≤ 32 rows — bounded regardless of
    * table size — so it is collected on the driver (the one deliberate
    * action in this operator, the analog of the reference reading its
    * chunk table before drilling down; ref: compare/checksum.py chunk
    * loop) and turned into explicit `o_orderkey BETWEEN lo AND hi`
    * predicates. Pass 2's scans therefore READ only the flagged
    * slices' pages (parquet min/max row-group pruning; an index range
    * scan on a JDBC source), instead of re-aggregating the full table
    * and pruning afterwards — at 100 TB with a handful of bad slices
    * that is the difference between a second full scan and a few
    * row groups. Unlike the %32 chunk and merkle ops, the output is
    * CLOSED KEY INTERVALS [lo_key, hi_key] — directly usable as
    * row-level recon WHERE clauses. Bucket inversion is exact integer
    * arithmetic (floor division both engines); target keys outside the
    * source domain clamp into the edge slices (their BETWEENs widen to
    * the edge), so injected EXTRA rows surface in the last cell.
    */
  private[graft] def bisectDrill(s: SparkSession, src: DataFrame, tgt: DataFrame): DataFrame = {
    // One footer-cheap driver action up front; the [lo, w) domain feeds
    // every downstream leg as plan literals (the earlier shape re-ran
    // this aggregate as a broadcast leg in each of the four cell passes
    // on top of this head() — r7 nit).
    val b = src.agg(min(col("o_orderkey")).as("lo"),
      (max(col("o_orderkey")) - min(col("o_orderkey")) + 1).as("w")).head()
    val (loV, wV) = (b.getAs[Number]("lo").longValue, b.getAs[Number]("w").longValue)
    def cells(df: DataFrame, n: Int, pfx: String): DataFrame = df
      .groupBy(least(greatest(expr(s"((o_orderkey - $loV) * $n) div $wV"), lit(0L)),
        lit(n - 1L)).as("cell"))
      .agg(checksumAgg(orowStr).as(s"${pfx}_ck"), count(lit(1)).as(s"${pfx}_rows"))
    val bad = cells(src, 32, "src")
      .join(cells(tgt, 32, "tgt"), Seq("cell"), "full_outer")
      .filter(coalesce(col("src_ck"), lit(-1L)) =!= coalesce(col("tgt_ck"), lit(-1L)))
      .select(col("cell").as("parent"))
    def ceilDiv(a: Long, n: Long): Long = (a + n - 1) / n
    // invert slice p to its key range: (k-lo)*32 div w = p ⟺
    // ceil(p·w/32) ≤ k-lo < ceil((p+1)·w/32); edge slices absorb the
    // clamped out-of-domain keys, so their bounds widen to ±∞
    val ranges = bad.collect().map(_.getLong(0)).sorted.map { p =>
      (if (p == 0) Long.MinValue else loV + ceilDiv(p * wV, 32),
        if (p == 31) Long.MaxValue else loV + ceilDiv((p + 1) * wV, 32) - 1)
    }
    val pred = ranges.map { case (a, h) => col("o_orderkey").between(a, h) }
      .reduceOption(_ || _).getOrElse(lit(false))
    // nested floor divs agree: (k*256 div w) div 8 = k*32 div w, so the
    // pre-scan key-range filter admits exactly the fine cells whose
    // parent is a flagged coarse cell — no post-aggregate join needed
    cells(src.filter(pred), 256, "src")
      .join(cells(tgt.filter(pred), 256, "tgt"), Seq("cell"), "full_outer")
      .select(col("cell"),
        expr(s"$loV + (cell * $wV + 255) div 256").as("lo_key"),
        expr(s"$loV + ((cell + 1) * $wV + 255) div 256 - 1").as("hi_key"),
        coalesce(col("src_rows"), lit(0L)).as("src_rows"),
        coalesce(col("tgt_rows"), lit(0L)).as("tgt_rows"),
        when(coalesce(col("src_ck"), lit(-1L)) === coalesce(col("tgt_ck"), lit(-1L)),
          lit("MATCH")).otherwise(lit("MISMATCH")).as("status"))
      .orderBy("cell")
  }

  /** Dialect-parameterized DuckDB analog of [[repairStatements]]:
    * `q` renders a quoted identifier for the target dialect.
    */
  private def repairOracleSql(q: String => String): String =
    s"""WITH src AS ($RepairSourceSql),
       |tgt AS (SELECT o_orderkey AS tk, o_orderstatus AS t_status FROM ($TargetSql) x)
       |SELECT COALESCE(sk, tk) AS o_orderkey,
       |  CASE WHEN tk IS NULL THEN
       |    'INSERT INTO ${q("orders")} (${q("o_orderkey")}, ${q("o_custkey")}, ${q("o_orderstatus")}, ${q("o_orderpriority")}) VALUES (' ||
       |    sk || ', ' || s_cust || ', ''' || replace(s_status, '''', '''''') ||
       |    ''', ''' || replace(s_prio, '''', '''''') || ''');'
       |  WHEN sk IS NULL THEN
       |    'DELETE FROM ${q("orders")} WHERE ${q("o_orderkey")} = ' || tk || ';'
       |  WHEN s_status <> t_status THEN
       |    'UPDATE ${q("orders")} SET ${q("o_orderstatus")} = ''' || replace(s_status, '''', '''''') ||
       |    ''' WHERE ${q("o_orderkey")} = ' || sk || ';' END AS repair_sql
       |FROM src FULL OUTER JOIN tgt ON sk = tk
       |WHERE (CASE WHEN tk IS NULL THEN 1 WHEN sk IS NULL THEN 1
       |            WHEN s_status <> t_status THEN 1 END) IS NOT NULL
       |ORDER BY o_orderkey""".stripMargin

  /** DuckDB analog of [[reportDf]], shared by report + export oracles. */
  private val ReportSql =
    s"""WITH src AS (SELECT o_orderkey AS sk, o_orderstatus AS s_status FROM orders),
       |tgt AS (SELECT o_orderkey AS tk, o_orderstatus AS t_status FROM ($TargetSql) x),
       |d AS (
       |  SELECT CASE WHEN tk IS NULL THEN 'MISSING'
       |              WHEN sk IS NULL THEN 'EXTRA'
       |              WHEN s_status <> t_status THEN 'MODIFIED' END AS discrepancy_type
       |  FROM src FULL OUTER JOIN tgt ON sk = tk),
       |tot AS (SELECT COUNT(*) AS total FROM orders)
       |SELECT discrepancy_type, COUNT(*) AS n,
       |  CASE WHEN COUNT(*) * 100 > MAX(total) * 5 THEN 'CRITICAL'
       |       WHEN COUNT(*) * 100 > MAX(total) THEN 'HIGH'
       |       WHEN COUNT(*) * 1000 > MAX(total) THEN 'MEDIUM'
       |       ELSE 'LOW' END AS severity
       |FROM d, tot WHERE discrepancy_type IS NOT NULL
       |GROUP BY discrepancy_type
       |ORDER BY discrepancy_type""".stripMargin

  def oracles: Map[String, String] = Map(
    "recon_rowcount" ->
      s"""WITH s AS (SELECT COUNT(*) AS source_count FROM orders),
         |t AS (SELECT COUNT(*) AS target_count FROM ($TargetSql) x)
         |SELECT 'orders' AS table_name, source_count, target_count,
         |  target_count - source_count AS difference,
         |  CASE WHEN source_count = target_count THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM s, t""".stripMargin,

    "recon_checksum_agg" ->
      s"""WITH s AS (SELECT ${ckSql(orowSql)} AS source_checksum FROM orders),
         |t AS (SELECT ${ckSql(orowSql)} AS target_checksum FROM ($TargetSql) x)
         |SELECT 'orders' AS table_name, source_checksum, target_checksum,
         |  CASE WHEN source_checksum = target_checksum THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM s, t""".stripMargin,

    "recon_checksum_chunked" ->
      s"""WITH s AS (
         |  SELECT o_orderkey % 32 AS chunk, ${ckSql(orowSql)} AS sck, COUNT(*) AS source_rows
         |  FROM orders GROUP BY 1),
         |t AS (
         |  SELECT o_orderkey % 32 AS chunk, ${ckSql(orowSql)} AS tck, COUNT(*) AS target_rows
         |  FROM ($TargetSql) x GROUP BY 1)
         |SELECT s.chunk AS chunk, source_rows, target_rows,
         |  CASE WHEN sck = tck THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM s JOIN t ON s.chunk = t.chunk
         |ORDER BY chunk""".stripMargin,

    "recon_profile" -> {
      def side(relation: String) =
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority").map { c =>
          s"""SELECT '$c' AS column_name, COUNT($c) AS n_nonnull,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
             |FROM $relation""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH sp AS (${side("orders")}),
         |tp AS (${side(s"($TargetSql) tgt")})
         |SELECT sp.column_name AS column_name,
         |  sp.n_nonnull AS src_n, tp.n_nonnull AS tgt_n,
         |  sp.n_distinct AS src_distinct, tp.n_distinct AS tgt_distinct,
         |  CASE WHEN sp.n_nonnull = tp.n_nonnull AND sp.n_distinct = tp.n_distinct
         |        AND sp.min_s = tp.min_s AND sp.max_s = tp.max_s
         |       THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM sp JOIN tp ON sp.column_name = tp.column_name
         |ORDER BY sp.column_name""".stripMargin
    },

    "recon_checksum_merkle" -> {
      val upCk = ckSql("concat_ws('|', CAST(child AS VARCHAR), CAST(ck AS VARCHAR))")
      def treeSql(relation: String, p: String) =
        s"""${p}0 AS (
           |  SELECT o_orderkey % 32 AS node, ${ckSql(orowSql)} AS ck
           |  FROM $relation GROUP BY 1),
           |${p}1 AS (
           |  SELECT child // 8 AS node, $upCk AS ck
           |  FROM (SELECT node AS child, ck FROM ${p}0) x GROUP BY 1),
           |${p}2 AS (
           |  SELECT child // 4 AS node, $upCk AS ck
           |  FROM (SELECT node AS child, ck FROM ${p}1) x GROUP BY 1),
           |$p AS (
           |  SELECT 0 AS level, node, ck FROM ${p}0
           |  UNION ALL SELECT 1, node, ck FROM ${p}1
           |  UNION ALL SELECT 2, node, ck FROM ${p}2)""".stripMargin
      s"""WITH ${treeSql("orders", "s")},
         |${treeSql(s"($TargetSql) tgt", "t")}
         |SELECT CAST(s.level AS BIGINT) AS level, s.node AS node,
         |  CASE WHEN s.ck = t.ck THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM s JOIN t ON s.level = t.level AND s.node = t.node
         |ORDER BY s.level DESC, s.node""".stripMargin
    },

    "recon_incremental" ->
      s"""WITH s AS (
         |  SELECT ${ckSql(orowSql)} AS sck, COUNT(*) AS source_rows FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'),
         |t AS (
         |  SELECT ${ckSql(orowSql)} AS tck, COUNT(*) AS target_rows FROM ($TargetSql) x
         |  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |SELECT source_rows, target_rows,
         |  CASE WHEN sck = tck THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM s, t""".stripMargin,

    "recon_rowlevel" ->
      s"""WITH src AS (SELECT o_orderkey AS sk, o_custkey AS s_cust,
         |    o_orderstatus AS s_status, o_orderpriority AS s_prio FROM orders),
         |tgt AS (SELECT o_orderkey AS tk, o_custkey AS t_cust,
         |    o_orderstatus AS t_status, o_orderpriority AS t_prio FROM ($TargetSql) x)
         |SELECT COALESCE(sk, tk) AS o_orderkey,
         |  CASE WHEN tk IS NULL THEN 'MISSING'
         |       WHEN sk IS NULL THEN 'EXTRA'
         |       WHEN s_cust <> t_cust OR s_status <> t_status OR s_prio <> t_prio
         |         THEN 'MODIFIED' END AS discrepancy_type,
         |  concat_ws(',',
         |    CASE WHEN s_cust <> t_cust THEN 'o_custkey' END,
         |    CASE WHEN s_status <> t_status THEN 'o_orderstatus' END,
         |    CASE WHEN s_prio <> t_prio THEN 'o_orderpriority' END) AS modified_columns
         |FROM src FULL OUTER JOIN tgt ON sk = tk
         |WHERE (CASE WHEN tk IS NULL THEN 'MISSING'
         |            WHEN sk IS NULL THEN 'EXTRA'
         |            WHEN s_cust <> t_cust OR s_status <> t_status OR s_prio <> t_prio
         |              THEN 'MODIFIED' END) IS NOT NULL
         |ORDER BY o_orderkey""".stripMargin,

    "recon_rowlevel_tolerant" ->
      """WITH src AS (SELECT o_orderkey, o_totalprice AS sp FROM orders),
        |tgt AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 17 = 0 THEN sp + 0.01
        |         WHEN o_orderkey % 11 = 0 THEN sp + 1e-10
        |         ELSE sp END AS tp
        |  FROM src)
        |SELECT s.o_orderkey AS o_orderkey, 'MODIFIED' AS discrepancy_type
        |FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
        |WHERE abs(sp - tp) >= 1e-9
        |ORDER BY o_orderkey""".stripMargin,

    "recon_repair" -> repairOracleSql(id => "\"" + id + "\""),

    "recon_repair_script" -> {
      val base = repairOracleSql(id => "\"" + id + "\"")
      s"""WITH stmts AS ($base),
         |typed AS (
         |  SELECT CASE WHEN repair_sql LIKE 'INSERT%' THEN 2
         |              WHEN repair_sql LIKE 'DELETE%' THEN 3 ELSE 4 END AS sect,
         |    o_orderkey AS k, repair_sql AS line
         |  FROM stmts),
         |headers AS (
         |  SELECT sect, CAST(-1 AS BIGINT) AS k,
         |    CASE sect
         |      WHEN 2 THEN '-- Insert ' || COUNT(*) || ' missing rows'
         |      WHEN 3 THEN '-- Delete ' || COUNT(*) || ' extra rows'
         |      ELSE '-- Update ' || COUNT(*) || ' modified rows' END AS line
         |  FROM typed GROUP BY sect),
         |fixed(sect, k, line) AS (VALUES
         |  (0, CAST(-1 AS BIGINT), '-- Repair script for orders'),
         |  (0, 0, '-- Database type: postgresql'),
         |  (1, -1, 'BEGIN;'),
         |  (5, -1, 'COMMIT;'))
         |SELECT CAST(sect AS BIGINT) AS sect, k, line FROM (
         |  SELECT sect, k, line FROM fixed
         |  UNION ALL SELECT sect, k, line FROM headers
         |  UNION ALL SELECT sect, k, line FROM typed) u
         |ORDER BY sect, k, line""".stripMargin
    },

    "recon_repair_sqlserver" -> repairOracleSql(id => s"[$id]"),

    "recon_incremental_stateful" ->
      s"""WITH w AS (SELECT max(o_orderdate) - INTERVAL 180 DAY AS wm FROM orders),
         |sp AS (SELECT ${ckSql(orowSql)} AS ck, COUNT(*) AS n
         |       FROM orders, w WHERE o_orderdate <= wm),
         |sd AS (SELECT ${ckSql(orowSql)} AS ck, COUNT(*) AS n
         |       FROM orders, w WHERE o_orderdate > wm),
         |tp AS (SELECT ${ckSql(orowSql)} AS ck, COUNT(*) AS n
         |       FROM ($TargetSql) x, w WHERE o_orderdate <= wm),
         |td AS (SELECT ${ckSql(orowSql)} AS ck, COUNT(*) AS n
         |       FROM ($TargetSql) x, w WHERE o_orderdate > wm)
         |SELECT 'orders' AS table_name, w.wm AS watermark,
         |  sd.n AS delta_rows, sp.n + sd.n AS total_rows,
         |  CAST((sp.ck + sd.ck) % 1152921504606846976 AS BIGINT) AS source_checksum,
         |  CAST((tp.ck + td.ck) % 1152921504606846976 AS BIGINT) AS target_checksum,
         |  CASE WHEN (sp.ck + sd.ck) % 1152921504606846976 =
         |            (tp.ck + td.ck) % 1152921504606846976
         |       THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM w, sp, sd, tp, td""".stripMargin,

    "recon_report" -> ReportSql,

    "recon_report_export" ->
      s"""WITH d AS ($ReportSql)
         |SELECT format, (SELECT COUNT(*) FROM d) AS n_rows, 'OK' AS status
         |FROM (VALUES ('csv'), ('json')) t(format)
         |ORDER BY format""".stripMargin,

    "recon_recommendations" ->
      s"""WITH d AS ($ReportSql),
         |a AS (SELECT
         |  COALESCE(MAX(CASE WHEN discrepancy_type = 'MISSING' THEN n END), 0) AS n_missing,
         |  COALESCE(MAX(CASE WHEN discrepancy_type = 'EXTRA' THEN n END), 0) AS n_extra,
         |  COALESCE(MAX(CASE WHEN discrepancy_type = 'MODIFIED' THEN n END), 0) AS n_modified
         |FROM d)
         |SELECT CAST(rec_order AS BIGINT) AS rec_order, recommendation FROM (
         |  SELECT 0 AS rec_order,
         |    'Data is consistent. Continue monitoring replication lag and pipeline health.' AS recommendation
         |  FROM a WHERE n_missing + n_extra + n_modified = 0
         |  UNION ALL SELECT 1, 'Target database is missing ' || CAST(n_missing AS VARCHAR)
         |    || ' rows. Check replication lag and connector status.' FROM a WHERE n_missing > 0
         |  UNION ALL SELECT 2, 'Review Kafka Connect logs for errors or backpressure.'
         |  FROM a WHERE n_missing > 0
         |  UNION ALL SELECT 3, 'Target database has ' || CAST(n_extra AS VARCHAR)
         |    || ' extra rows. Investigate for duplicate inserts or data quality issues.'
         |  FROM a WHERE n_extra > 0
         |  UNION ALL SELECT 4, 'Data corruption detected in ' || CAST(n_modified AS VARCHAR)
         |    || ' row(s). Run detailed row-by-row comparison to identify corrupted records.'
         |  FROM a WHERE n_modified > 0
         |  UNION ALL SELECT 5, 'Check for schema evolution or type conversion issues in Kafka Connect.'
         |  FROM a WHERE n_modified > 0
         |  UNION ALL SELECT 6, 'Consult docs/troubleshooting.md for detailed resolution steps.' FROM a
         |) t ORDER BY rec_order""".stripMargin,

    "recon_rowcount_fast" ->
      "SELECT 'orders' AS table_name, COUNT(*) AS row_count, 'METADATA' AS method FROM orders",

    "recon_schema" ->
      """SELECT column_name,
        |  CASE WHEN column_type IN ('BIGINT', 'INTEGER') THEN 'integer'
        |       WHEN column_type IN ('DOUBLE', 'FLOAT') THEN 'floating'
        |       WHEN column_type = 'VARCHAR' THEN 'text'
        |       WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp'
        |       ELSE lower(column_type) END AS canonical_type,
        |  'MATCH' AS status
        |FROM (DESCRIBE orders)
        |ORDER BY column_name""".stripMargin,

    "recon_schema_drift" ->
      """WITH src AS (
        |  SELECT column_name,
        |    CASE WHEN column_type IN ('BIGINT', 'INTEGER') THEN 'integer'
        |         WHEN column_type IN ('DOUBLE', 'FLOAT') THEN 'floating'
        |         WHEN column_type = 'VARCHAR' THEN 'text'
        |         WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp'
        |         ELSE lower(column_type) END AS src_type
        |  FROM (DESCRIBE orders)),
        |tgt AS (
        |  SELECT * FROM (VALUES
        |    ('o_orderkey', 'integer'), ('o_custkey', 'integer'),
        |    ('o_orderstatus', 'text'), ('o_totalprice', 'text'),
        |    ('o_orderdate', 'timestamp'), ('o_region', 'text'))
        |    t(column_name, tgt_type))
        |SELECT COALESCE(src.column_name, tgt.column_name) AS column_name,
        |  COALESCE(src_type, '') AS source_type,
        |  COALESCE(tgt_type, '') AS target_type,
        |  CASE WHEN src_type IS NOT NULL AND tgt_type IS NOT NULL AND src_type = tgt_type THEN 'MATCH'
        |       WHEN src_type IS NOT NULL AND tgt_type IS NOT NULL THEN 'TYPE_CHANGED'
        |       WHEN src_type IS NOT NULL THEN 'MISSING_IN_TARGET'
        |       ELSE 'EXTRA_IN_TARGET' END AS status
        |FROM src FULL OUTER JOIN tgt ON src.column_name = tgt.column_name
        |ORDER BY column_name""".stripMargin,

    "recon_schema_repair" ->
      """WITH src AS (
        |  SELECT column_name,
        |    CASE WHEN column_type IN ('BIGINT', 'INTEGER') THEN 'BIGINT'
        |         WHEN column_type IN ('DOUBLE', 'FLOAT') THEN 'DOUBLE PRECISION'
        |         WHEN column_type = 'VARCHAR' THEN 'TEXT'
        |         WHEN column_type LIKE 'TIMESTAMP%' THEN 'TIMESTAMP'
        |         ELSE upper(column_type) END AS src_pg
        |  FROM (DESCRIBE orders)),
        |tgt AS (
        |  SELECT * FROM (VALUES
        |    ('o_orderkey', 'BIGINT'), ('o_custkey', 'BIGINT'),
        |    ('o_orderstatus', 'TEXT'), ('o_totalprice', 'TEXT'),
        |    ('o_orderdate', 'TIMESTAMP'), ('o_region', 'TEXT'))
        |    t(column_name, tgt_pg)),
        |j AS (
        |  SELECT COALESCE(src.column_name, tgt.column_name) AS column_name,
        |    src_pg, tgt_pg
        |  FROM src FULL OUTER JOIN tgt ON src.column_name = tgt.column_name),
        |alters AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY column_name) AS BIGINT) AS stmt_order,
        |    column_name,
        |    CASE WHEN src_pg IS NOT NULL AND tgt_pg IS NOT NULL THEN 'ALTER_TYPE'
        |         WHEN src_pg IS NOT NULL THEN 'ADD_COLUMN'
        |         ELSE 'KEEP_EXTRA' END AS action,
        |    CASE WHEN src_pg IS NOT NULL AND tgt_pg IS NOT NULL THEN
        |      'ALTER TABLE "orders" ALTER COLUMN "' || column_name || '" TYPE ' || src_pg || ';'
        |    WHEN src_pg IS NOT NULL THEN
        |      'ALTER TABLE "orders" ADD COLUMN "' || column_name || '" ' || src_pg || ';'
        |    ELSE
        |      '-- "' || column_name || '" exists only in target; auto-evolve never drops columns'
        |    END AS repair_sql
        |  FROM j WHERE src_pg IS NULL OR tgt_pg IS NULL OR src_pg <> tgt_pg),
        |create_stmt AS (
        |  SELECT CAST(0 AS BIGINT) AS stmt_order, '*' AS column_name, 'CREATE' AS action,
        |    'CREATE TABLE IF NOT EXISTS "orders" (' ||
        |      string_agg('"' || column_name || '" ' || src_pg, ', ' ORDER BY column_name)
        |      || ');' AS repair_sql
        |  FROM src)
        |SELECT * FROM create_stmt
        |UNION ALL SELECT * FROM alters
        |ORDER BY stmt_order""".stripMargin,

    "recon_checksum_columnwise" ->
      s"""WITH s AS (
         |  SELECT
         |    ${ckSql("concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR))")} AS s_cust,
         |    ${ckSql("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus)")} AS s_status,
         |    ${ckSql("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderpriority)")} AS s_prio
         |  FROM orders),
         |t AS (
         |  SELECT
         |    ${ckSql("concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR))")} AS t_cust,
         |    ${ckSql("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus)")} AS t_status,
         |    ${ckSql("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderpriority)")} AS t_prio
         |  FROM (SELECT o_orderkey, o_custkey,
         |          CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         |          o_orderpriority FROM orders) x),
         |u AS (
         |  SELECT 'o_custkey' AS column_name, s_cust AS source_ck, t_cust AS target_ck FROM s, t
         |  UNION ALL
         |  SELECT 'o_orderstatus', s_status, t_status FROM s, t
         |  UNION ALL
         |  SELECT 'o_orderpriority', s_prio, t_prio FROM s, t)
         |SELECT column_name, source_ck, target_ck,
         |  CASE WHEN source_ck = target_ck THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM u ORDER BY column_name""".stripMargin,

    "recon_multi_table" ->
      s"""WITH src AS (
         |  SELECT 'orders' AS table_name, COUNT(*) AS rows_, ${ckSql(orowSql)} AS ck FROM orders
         |  UNION ALL SELECT 'customer', COUNT(*),
         |    ${ckSql("concat_ws('|', CAST(c_custkey AS VARCHAR), CAST(c_nationkey AS VARCHAR), c_mktsegment)")}
         |    FROM customer
         |  UNION ALL SELECT 'supplier', COUNT(*),
         |    ${ckSql("concat_ws('|', CAST(s_suppkey AS VARCHAR), CAST(s_nationkey AS VARCHAR))")}
         |    FROM supplier
         |  UNION ALL SELECT 'nation', COUNT(*),
         |    ${ckSql("concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name, CAST(n_regionkey AS VARCHAR))")}
         |    FROM nation),
         |tgt AS (
         |  SELECT 'orders' AS table_name, COUNT(*) AS rows_, ${ckSql(orowSql)} AS ck FROM ($TargetSql) x
         |  UNION ALL SELECT 'customer', COUNT(*),
         |    ${ckSql("concat_ws('|', CAST(c_custkey AS VARCHAR), CAST(c_nationkey AS VARCHAR), c_mktsegment)")}
         |    FROM customer
         |  UNION ALL SELECT 'supplier', COUNT(*),
         |    ${ckSql("concat_ws('|', CAST(s_suppkey AS VARCHAR), CAST(s_nationkey AS VARCHAR))")}
         |    FROM supplier
         |  UNION ALL SELECT 'nation', COUNT(*),
         |    ${ckSql("concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name, CAST(n_regionkey AS VARCHAR))")}
         |    FROM nation)
         |SELECT src.table_name AS table_name, src.rows_ AS source_rows, tgt.rows_ AS target_rows,
         |  CASE WHEN src.ck = tgt.ck THEN 'MATCH' ELSE 'MISMATCH' END AS status
         |FROM src JOIN tgt ON src.table_name = tgt.table_name
         |ORDER BY table_name""".stripMargin,

    "recon_bisect" ->
      s"""WITH b AS (SELECT CAST(MIN(o_orderkey) AS BIGINT) AS lo,
         |             CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1 AS BIGINT) AS w
         |           FROM orders),
         |tgt AS ($TargetSql),
         |s0 AS (SELECT LEAST(GREATEST((o_orderkey - lo) * 32 // w, 0), 31) AS cell,
         |         ${ckSql(orowSql)} AS ck
         |       FROM orders, b GROUP BY 1),
         |t0 AS (SELECT LEAST(GREATEST((o_orderkey - lo) * 32 // w, 0), 31) AS cell,
         |         ${ckSql(orowSql)} AS ck
         |       FROM tgt, b GROUP BY 1),
         |bad AS (SELECT COALESCE(s0.cell, t0.cell) AS parent
         |        FROM s0 FULL OUTER JOIN t0 ON s0.cell = t0.cell
         |        WHERE COALESCE(s0.ck, -1) <> COALESCE(t0.ck, -1)),
         |s1 AS (SELECT LEAST(GREATEST((o_orderkey - lo) * 256 // w, 0), 255) AS cell,
         |         ${ckSql(orowSql)} AS ck, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM orders, b
         |       WHERE LEAST(GREATEST((o_orderkey - lo) * 32 // w, 0), 31)
         |             IN (SELECT parent FROM bad)
         |       GROUP BY 1),
         |t1 AS (SELECT LEAST(GREATEST((o_orderkey - lo) * 256 // w, 0), 255) AS cell,
         |         ${ckSql(orowSql)} AS ck, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM tgt, b
         |       WHERE LEAST(GREATEST((o_orderkey - lo) * 32 // w, 0), 31)
         |             IN (SELECT parent FROM bad)
         |       GROUP BY 1)
         |SELECT COALESCE(s1.cell, t1.cell) AS cell,
         |  CAST(lo + (COALESCE(s1.cell, t1.cell) * w + 255) // 256 AS BIGINT) AS lo_key,
         |  CAST(lo + ((COALESCE(s1.cell, t1.cell) + 1) * w + 255) // 256 - 1 AS BIGINT)
         |    AS hi_key,
         |  COALESCE(s1.n, 0) AS src_rows, COALESCE(t1.n, 0) AS tgt_rows,
         |  CASE WHEN COALESCE(s1.ck, -1) = COALESCE(t1.ck, -1) THEN 'MATCH'
         |       ELSE 'MISMATCH' END AS status
         |FROM s1 FULL OUTER JOIN t1 ON s1.cell = t1.cell CROSS JOIN b
         |ORDER BY cell""".stripMargin
  )
}
