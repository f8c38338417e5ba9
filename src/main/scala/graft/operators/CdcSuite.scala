package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** §2 A — CDC envelope processing and sink semantics
  * (reference: Debezium source connector configs, JDBC sink upsert mode,
  * kafka-connect-transforms/AddDeletedField.java).
  *
  * The reference's change stream is Kafka topics of Debezium JSON; the
  * lake has no Kafka, so the suite synthesizes a deterministic change log
  * from `orders` (both engines build the identical log):
  *   seq 1: op 'c' for every order (snapshot read)
  *   seq 2: op 'u' for o_orderkey % 7 = 0 (status → 'U')
  *   seq 3: op 'd' for o_orderkey % 13 = 0
  * Applying the log with last-write-wins per key must yield: all orders
  * except %13 keys, with status 'U' on %7 keys (minus deleted ones).
  */
object CdcSuite {

  /** Synthesized change log (Spark side): (op, seq, ts_ms, id, status). */
  private[graft] def changeLog(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val base = o.select(col("o_orderkey").as("id"), col("o_custkey").as("custkey"),
      col("o_orderstatus").as("status"))
    val c = base.withColumn("op", lit("c")).withColumn("seq", lit(1L))
    val u = base.filter(col("id") % 7 === 0)
      .withColumn("status", lit("U"))
      .withColumn("op", lit("u")).withColumn("seq", lit(2L))
    val del = base.filter(col("id") % 13 === 0)
      .withColumn("op", lit("d")).withColumn("seq", lit(3L))
    c.unionByName(u).unionByName(del)
      .withColumn("ts_ms", lit(1700000000000L) + col("seq") * 1000 + col("id"))
  }

  /** The same change log in the DuckDB dialect. */
  private val LogSql =
    """SELECT o_orderkey AS id, o_custkey AS custkey, o_orderstatus AS status,
      |  'c' AS op, CAST(1 AS BIGINT) AS seq,
      |  1700000000000 + 1*1000 + o_orderkey AS ts_ms
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_custkey, 'U', 'u', 2, 1700000000000 + 2*1000 + o_orderkey
      |FROM orders WHERE o_orderkey % 7 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, 'd', 3, 1700000000000 + 3*1000 + o_orderkey
      |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin

  /** Debezium-style JSON envelope built from the log — engine-portably
    * (plain concat; ints and quoted strings only).
    */
  private val EnvelopeSql =
    s"""SELECT id,
       |  '{"op":"' || op || '","ts_ms":' || ts_ms ||
       |  ',"after":{"id":' || id || ',"custkey":' || custkey ||
       |  ',"status":"' || status || '"}}' AS envelope
       |FROM ($LogSql) log""".stripMargin

  /** Change log carrying BOTH images, like the real Debezium envelope
    * (ref: specs/001-sqlserver-pg-cdc/contracts/debezium-sqlserver-source.json —
    * `before` and `after` are both part of the value schema):
    * inserts have before=null, updates both, deletes after=null. A key
    * deleted after being updated carries the post-update image as its
    * before (the true pre-delete state).
    */
  private[graft] def changeLogBI(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey").as("id"),
      col("o_custkey").as("custkey"), col("o_orderstatus").as("status"))
    val c = base.select(col("id"),
      lit(null).cast(LongType).as("b_custkey"), lit(null).cast(StringType).as("b_status"),
      col("custkey").as("a_custkey"), col("status").as("a_status"),
      lit("c").as("op"), lit(1L).as("seq"))
    val u = base.filter(col("id") % 7 === 0).select(col("id"),
      col("custkey").as("b_custkey"), col("status").as("b_status"),
      col("custkey").as("a_custkey"), lit("U").as("a_status"),
      lit("u").as("op"), lit(2L).as("seq"))
    val del = base.filter(col("id") % 13 === 0).select(col("id"),
      col("custkey").as("b_custkey"),
      when(col("id") % 7 === 0, lit("U")).otherwise(col("status")).as("b_status"),
      lit(null).cast(LongType).as("a_custkey"), lit(null).cast(StringType).as("a_status"),
      lit("d").as("op"), lit(3L).as("seq"))
    c.unionByName(u).unionByName(del)
      .withColumn("ts_ms", lit(1700000000000L) + col("seq") * 1000 + col("id"))
  }

  private val LogBISql =
    """SELECT *, 1700000000000 + seq*1000 + id AS ts_ms FROM (
      |  SELECT o_orderkey AS id,
      |    CAST(NULL AS BIGINT) AS b_custkey, CAST(NULL AS VARCHAR) AS b_status,
      |    o_custkey AS a_custkey, o_orderstatus AS a_status,
      |    'c' AS op, CAST(1 AS BIGINT) AS seq
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_custkey, 'U', 'u', 2
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END,
      |    CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 'd', 3
      |  FROM orders WHERE o_orderkey % 13 = 0) log""".stripMargin

  /** Full dual-image envelope in the DuckDB dialect. */
  private val EnvelopeBISql =
    s"""SELECT id,
       |  '{"op":"' || op || '","ts_ms":' || ts_ms ||
       |  ',"before":' || CASE WHEN b_status IS NULL THEN 'null' ELSE
       |    '{"id":' || id || ',"custkey":' || b_custkey || ',"status":"' || b_status || '"}' END ||
       |  ',"after":' || CASE WHEN a_status IS NULL THEN 'null' ELSE
       |    '{"id":' || id || ',"custkey":' || a_custkey || ',"status":"' || a_status || '"}' END ||
       |  '}' AS envelope
       |FROM ($LogBISql) logbi""".stripMargin

  /** Spark-side dual-image envelope string (bit-identical to
    * [[EnvelopeBISql]]).
    */
  /** After-only JSON envelope rows (id, envelope) — shared by cdc_parse
    * and the DLQ router.
    */
  private def envelopeAfter(s: SparkSession, d: String): DataFrame =
    // spread: JSON envelope build (+ the from_json decode downstream) is
    // per-row compute on an under-split fixture scan
    Tables.spread(s, changeLog(s, d)).select(col("id"), concat(
      lit("{\"op\":\""), col("op"), lit("\",\"ts_ms\":"), col("ts_ms"),
      lit(",\"after\":{\"id\":"), col("id"), lit(",\"custkey\":"), col("custkey"),
      lit(",\"status\":\""), col("status"), lit("\"}}")).as("envelope"))

  private def envelopeBI(s: SparkSession, d: String): DataFrame = {
    // spread: same per-row JSON compute rationale as envelopeAfter
    val log = Tables.spread(s, changeLogBI(s, d))
    def image(ck: String, st: String): Column =
      when(col(st).isNull, lit("null")).otherwise(concat(
        lit("{\"id\":"), col("id"), lit(",\"custkey\":"), col(ck),
        lit(",\"status\":\""), col(st), lit("\"}")))
    log.select(col("id"), concat(
      lit("{\"op\":\""), col("op"), lit("\",\"ts_ms\":"), col("ts_ms"),
      lit(",\"before\":"), image("b_custkey", "b_status"),
      lit(",\"after\":"), image("a_custkey", "a_status"),
      lit("}")).as("envelope"))
  }

  /** Dual-image envelopes carrying the source.seq ordering block, as
    * line-per-event `value` strings — the feed shape the external-source
    * seam ingests (shared by cdc_source_roundtrip and its streaming twin
    * stream_source_envelope).
    */
  private[graft] def envelopeFeedLines(s: SparkSession, d: String): DataFrame = {
    def image(ck: String, st: String): Column =
      when(col(st).isNull, lit("null")).otherwise(concat(
        lit("{\"id\":"), col("id"), lit(",\"custkey\":"), col(ck),
        lit(",\"status\":\""), col(st), lit("\"}")))
    changeLogBI(s, d)
      .select(concat(
        lit("{\"op\":\""), col("op"), lit("\",\"ts_ms\":"), col("ts_ms"),
        lit(",\"source\":{\"seq\":"), col("seq"), lit("}"),
        lit(",\"before\":"), image("b_custkey", "b_status"),
        lit(",\"after\":"), image("a_custkey", "a_status"),
        lit("}")).as("value"))
  }

  /** from_json schema for the dual-image envelope. */
  private val BISchema = StructType(Seq(
    StructField("op", StringType), StructField("ts_ms", LongType),
    StructField("before", StructType(Seq(
      StructField("id", LongType), StructField("custkey", LongType),
      StructField("status", StringType)))),
    StructField("after", StructType(Seq(
      StructField("id", LongType), StructField("custkey", LongType),
      StructField("status", StringType))))))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_parse" -> { (s, d) =>
      // Parse the Debezium envelope with a typed from_json schema —
      // the Spark-native equivalent of the sink's JSON deserializer
      // (ref: Debezium ExtractNewRecordState + JDBC sink converter).
      val schema = StructType(Seq(
        StructField("op", StringType), StructField("ts_ms", LongType),
        StructField("after", StructType(Seq(
          StructField("id", LongType), StructField("custkey", LongType),
          StructField("status", StringType))))))
      val env = envelopeAfter(s, d)
      env.select(from_json(col("envelope"), schema).as("e"))
        .select(col("e.op").as("op"), col("e.ts_ms").as("ts_ms"),
          col("e.after.id").as("id"), col("e.after.custkey").as("custkey"),
          col("e.after.status").as("status"))
        .orderBy("id", "ts_ms")
    },

    "cdc_apply_latest" -> { (s, d) =>
      // Materialize current state: last-write-wins per key by (seq, ts),
      // deletes drop the key (ref: JDBC sink upsert+delete mode). One
      // shuffle on the key; max_by-style window keeps partial state
      // small. Delegates to the public kernel (graft.api.Graft).
      graft.api.Graft.cdcApplyLatest(changeLog(s, d), Seq("id"), Seq("seq", "ts_ms"))
        .select(col("id"), col("custkey"), col("status"))
        .orderBy("id")
    },

    "cdc_source_roundtrip" -> { (s, d) =>
      // The external-source seam end-to-end (ref: docker/configs —
      // Debezium topic → sink): full dual-image envelopes (with the
      // source.seq ordering block) land as a line-per-event text feed —
      // the same `value: string` column shape a Kafka source exposes —
      // then the ingest is ENTIRELY seam-generic: a SourceSpec load,
      // the shared envelope decode, and the LWW apply kernel. Swapping
      // the spec for CdcSource.kafkaTopic(...) changes nothing
      // downstream; the result must equal cdc_apply_latest's oracle.
      import graft.sources.{CdcSource, Scratch}
      val feedDir = Scratch.perLake("cdc_source_roundtrip", d)
      envelopeFeedLines(s, d).repartition(4).write.mode("overwrite").text(feedDir)
      val feed = CdcSource.load(s, CdcSource.fileEnvelopeFeed(feedDir))
      graft.api.Graft.cdcApplyLatest(
          CdcSource.parseEnvelope(feed), Seq("id"), Seq("seq", "ts_ms"))
        .select(col("id"), col("custkey"), col("status"))
        .orderBy("id")
    },

    "cdc_sink_upsert_script" -> { (s, d) =>
      // The sink half of the I/O seam as data (ref: postgresql-sink.json
      // insert.mode=upsert + delete rewrite): latest event per key →
      // the exact statement the JDBC sink would execute, values inlined
      // (recon_repair's emit-DML-as-rows contract — the script stays
      // distributed and writes straight to a text sink; the ?-template
      // prepared-statement form lives in CdcSink.upsertTemplate). One
      // key-shuffle for the compaction, then a narrow projection.
      val w = Window.partitionBy(col("id")).orderBy(desc("seq"), desc("ts_ms"))
      def esc(c: Column): Column = regexp_replace(c, "'", "''")
      changeLog(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"),
          when(col("op") === "d", concat(
            lit("DELETE FROM \"orders_target\" WHERE \"id\" = "), col("id"), lit(";")))
          .otherwise(concat(
            lit("INSERT INTO \"orders_target\" (\"id\", \"custkey\", \"status\") VALUES ("),
            col("id"), lit(", "), col("custkey"), lit(", '"), esc(col("status")),
            lit("') ON CONFLICT (\"id\") DO UPDATE SET \"custkey\" = EXCLUDED.\"custkey\", \"status\" = EXCLUDED.\"status\";")))
          .as("stmt"))
        .orderBy("id")
    },

    "cdc_bootstrap_merge" -> { (s, d) =>
      // snapshot + streaming tail — the real pipeline's bootstrap
      // (ref: Debezium initial-snapshot mode feeding the same sink as
      // the live stream): the initial snapshot materializes as seq=0
      // creates, the CDC tail (seq >= 1 events for a subset of keys)
      // unions on top, and ONE apply-latest pass resolves both — no
      // special bootstrap branch in the merge logic. Late snapshot rows
      // can never shadow tail events because seq orders them.
      val snapshot = Tables.orders(s, d)
        .select(col("o_orderkey").as("id"), col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"),
          lit("c").as("op"), lit(0L).as("seq"),
          (lit(1700000000000L) + col("o_orderkey")).as("ts_ms"))
      // the tail: only events past the snapshot point (updates+deletes)
      val tail = changeLog(s, d).filter(col("seq") >= 2)
      graft.api.Graft.cdcApplyLatest(snapshot.unionByName(tail),
          Seq("id"), Seq("seq", "ts_ms"))
        .select(col("id"), col("custkey"), col("status"))
        .orderBy("id")
    },

    "cdc_asof_state" -> { (s, d) =>
      // point-in-time state: the table as of sequence horizon S = 2 —
      // deletes at seq 3 have not happened yet, updates at seq 2 have.
      // Same single apply-latest kernel over the seq-filtered log (the
      // filter pushes to the scan side of the synthesized log), which
      // is exactly how a change-log store answers time travel.
      graft.api.Graft.cdcApplyLatest(changeLog(s, d).filter(col("seq") <= 2),
          Seq("id"), Seq("seq", "ts_ms"))
        .select(col("id"), col("custkey"), col("status"))
        .orderBy("id")
    },

    "cdc_dlq_route" -> { (s, d) =>
      // Dead-letter routing for malformed envelopes — every real CDC
      // consumer needs one: a corrupted message must quarantine, never
      // poison the apply. Fixture truncates %19 keys' JSON; Spark's
      // PERMISSIVE from_json yields a null-field struct for those, and
      // the router forks on a mandatory field. Narrow projection +
      // 2-group rollup — no shuffle beyond the final tiny aggregate.
      val schema = StructType(Seq(
        StructField("op", StringType), StructField("ts_ms", LongType),
        StructField("after", StructType(Seq(
          StructField("id", LongType), StructField("custkey", LongType),
          StructField("status", StringType))))))
      envelopeAfter(s, d)
        .withColumn("envelope",
          when(col("id") % 19 === 0, expr("substring(envelope, 1, length(envelope) - 2)"))
            .otherwise(col("envelope")))
        .withColumn("parsed", from_json(col("envelope"), schema))
        .withColumn("route",
          when(col("parsed").isNull || col("parsed.op").isNull, lit("dlq"))
            .otherwise(lit("ok")))
        .groupBy("route")
        .agg(count(lit(1)).as("n_events"), countDistinct(col("id")).as("n_keys"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy("route")
    },

    "cdc_compact_log" -> { (s, d) =>
      // Kafka-style log compaction (ref: the compacted change topics the
      // sink consumes; `cleanup.policy=compact` semantics): retain ONLY
      // the latest event per key, but unlike apply-latest KEEP delete
      // tombstones with a nulled payload — the compacted log replays to
      // the same table state as the full log at a fraction of its size.
      // One shuffle on the key; WindowGroupLimit keeps partial top-1
      // state map-side, so a 100 TB log compacts in one pass. Delegates
      // to the public kernel (graft.api.Graft.cdcCompactLog).
      graft.api.Graft.cdcCompactLog(changeLog(s, d), Seq("id"),
          Seq("seq", "ts_ms"), Seq("custkey", "status"))
        .select(col("id"), col("op"), col("seq"), col("custkey"), col("status"))
        .orderBy("id")
    },

    "cdc_scd2_build" -> { (s, d) =>
      // SCD Type-2 dimension build from the change log (ref: the
      // warehouse-side history table a reconciled CDC sink feeds): each
      // non-delete event opens a version valid [its ts_ms, next event's
      // ts_ms); a delete closes the last version; the open-ended version
      // is current. One shuffle on the key; lead() is a streaming
      // window with O(1) state — no self-join, scales linearly.
      // Delegates to the public kernel (graft.api.Graft.cdcScd2).
      graft.api.Graft.cdcScd2(changeLog(s, d), Seq("id"), "ts_ms", Seq("seq", "ts_ms"))
        .select(col("id"), col("custkey"), col("status"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("id", "valid_from")
    },

    "cdc_soft_delete" -> { (s, d) =>
      // __deleted flag per event (ref: AddDeletedField.java: DELETE →
      // "true", else "false") — then latest-per-key like the sink's
      // soft-delete mode, so deleted keys survive as tombstones.
      val w = Window.partitionBy(col("id")).orderBy(desc("seq"), desc("ts_ms"))
      changeLog(s, d)
        .withColumn("__deleted", when(col("op") === "d", lit("true")).otherwise(lit("false")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("custkey"), col("status"), col("__deleted"))
        .orderBy("id")
    },

    "cdc_route" -> { (s, d) =>
      // Topic → target-table routing (ref: RegexRouter in the connector
      // config: strips "server.schema." and applies env prefix).
      val topics = changeLog(s, d)
        .groupBy((col("id") % 4).as("shard"))
        .agg(count(lit(1)).as("n_events"))
        .select(concat(lit("sqlserver"), col("shard"), lit(".dbo.orders")).as("topic"), col("n_events"))
      topics
        .withColumn("target_table",
          concat(lit("cdc_"), regexp_replace(col("topic"), "^[^.]+\\.[^.]+\\.", "")))
        .orderBy("topic")
    },

    "cdc_schema_evolution" -> { (s, d) =>
      // schema evolution mid-stream (ref: the pipeline's automatic schema
      // migration): v1 envelopes lack `region`, v2 carry it; parsing with
      // the evolved schema leaves v1 rows null — exactly how the sink
      // backfills an added column.
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("region", org.apache.spark.sql.types.LongType)))
      val log = changeLog(s, d)
      val v1 = log.filter(col("seq") === 1)
        .select(col("id"), concat(lit("{\"id\":"), col("id"),
          lit(",\"status\":\""), col("status"), lit("\"}")).as("env"))
      val v2 = log.filter(col("seq") === 2)
        .select(col("id"), concat(lit("{\"id\":"), col("id"),
          lit(",\"status\":\""), col("status"),
          lit("\",\"region\":"), col("id") % 5, lit("}")).as("env"))
      v1.unionByName(v2)
        .select(from_json(col("env"), schema).as("e"))
        .select(col("e.id").as("id"), col("e.status").as("status"), col("e.region").as("region"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          count(col("region")).as("n_with_region"))
        .orderBy("status")
    },

    "cdc_before_image" -> { (s, d) =>
      // Parse the dual-image envelope: before/after structs flatten to
      // nullable columns — inserts have null befores, deletes null afters
      // (ref: Debezium value schema `before`+`after`,
      // specs/001-sqlserver-pg-cdc/contracts/debezium-sqlserver-source.json).
      envelopeBI(s, d)
        .select(from_json(col("envelope"), BISchema).as("e"))
        .select(col("e.op").as("op"), col("e.ts_ms").as("ts_ms"),
          coalesce(col("e.after.id"), col("e.before.id")).as("id"),
          col("e.before.custkey").as("before_custkey"),
          col("e.before.status").as("before_status"),
          col("e.after.custkey").as("after_custkey"),
          col("e.after.status").as("after_status"))
        .orderBy("id", "ts_ms")
    },

    "cdc_update_diff" -> { (s, d) =>
      // Per-update changed-column list computed FROM THE PARSED STREAM —
      // the diffing the after-only envelope can't express. Null-safe
      // compare (<=>) so a column appearing/disappearing also counts as
      // changed.
      envelopeBI(s, d)
        .select(from_json(col("envelope"), BISchema).as("e"))
        .filter(col("e.op") === "u")
        .select(col("e.after.id").as("id"), col("e.ts_ms").as("ts_ms"),
          concat_ws(",",
            when(!(col("e.before.custkey") <=> col("e.after.custkey")), lit("custkey")),
            when(!(col("e.before.status") <=> col("e.after.status")), lit("status")))
            .as("changed_columns"))
        .orderBy("id")
    },

    "cdc_type_map" -> { (s, d) =>
      // SQL Server → PostgreSQL → Spark type mapping matrix applied to
      // live columns (ref: schema-sync type mapping in docs/ +
      // utils/database_types.py). Values prove the casts round-trip.
      Tables.customer(s, d)
        .select(col("c_custkey"),
          col("c_custkey").cast("int").as("as_int"),
          col("c_custkey").cast("string").as("as_varchar"),
          col("c_acctbal").cast("string").as("money_as_text"),
          floor(col("c_acctbal") * 100).cast("long").as("money_cents"),
          (col("c_custkey") % 2 === 0).cast("string").as("bit_as_text"))
        .orderBy("c_custkey")
    }
  )

  def oracles: Map[String, String] = Map(
    "cdc_parse" ->
      s"""SELECT json_extract_string(envelope, '$$.op') AS op,
         |  CAST(json_extract(envelope, '$$.ts_ms') AS BIGINT) AS ts_ms,
         |  CAST(json_extract(envelope, '$$.after.id') AS BIGINT) AS id,
         |  CAST(json_extract(envelope, '$$.after.custkey') AS BIGINT) AS custkey,
         |  json_extract_string(envelope, '$$.after.status') AS status
         |FROM ($EnvelopeSql) e
         |ORDER BY id, ts_ms""".stripMargin,

    "cdc_apply_latest" ->
      s"""WITH ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC, ts_ms DESC) AS rn
         |  FROM ($LogSql) log)
         |SELECT id, custkey, status FROM ranked
         |WHERE rn = 1 AND op <> 'd'
         |ORDER BY id""".stripMargin,

    "cdc_sink_upsert_script" ->
      s"""WITH ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC, ts_ms DESC) AS rn
         |  FROM ($LogSql) log)
         |SELECT id,
         |  CASE WHEN op = 'd' THEN
         |    'DELETE FROM "orders_target" WHERE "id" = ' || id || ';'
         |  ELSE
         |    'INSERT INTO "orders_target" ("id", "custkey", "status") VALUES ('
         |      || id || ', ' || custkey || ', ''' || replace(status, '''', '''''')
         |      || ''') ON CONFLICT ("id") DO UPDATE SET "custkey" = EXCLUDED."custkey", "status" = EXCLUDED."status";'
         |  END AS stmt
         |FROM ranked WHERE rn = 1
         |ORDER BY id""".stripMargin,

    // the seam roundtrip must land exactly where the in-memory log
    // lands: same LWW oracle as cdc_apply_latest
    "cdc_source_roundtrip" ->
      s"""WITH ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC, ts_ms DESC) AS rn
         |  FROM ($LogSql) log)
         |SELECT id, custkey, status FROM ranked
         |WHERE rn = 1 AND op <> 'd'
         |ORDER BY id""".stripMargin,

    "cdc_bootstrap_merge" ->
      """WITH log AS (
        |  SELECT o_orderkey AS id, o_custkey AS custkey, o_orderstatus AS status,
        |    'c' AS op, CAST(0 AS BIGINT) AS seq, 1700000000000 + o_orderkey AS ts_ms
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U', 'u', 2, 1700000000000 + 2*1000 + o_orderkey
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, 'd', 3,
        |    1700000000000 + 3*1000 + o_orderkey
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC, ts_ms DESC) AS rn
        |  FROM log)
        |SELECT id, custkey, status FROM ranked
        |WHERE rn = 1 AND op <> 'd'
        |ORDER BY id""".stripMargin,

    "cdc_asof_state" ->
      s"""WITH ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC, ts_ms DESC) AS rn
         |  FROM ($LogSql) log WHERE seq <= 2)
         |SELECT id, custkey, status FROM ranked
         |WHERE rn = 1 AND op <> 'd'
         |ORDER BY id""".stripMargin,

    "cdc_soft_delete" ->
      s"""WITH ranked AS (
         |  SELECT *, CASE WHEN op = 'd' THEN 'true' ELSE 'false' END AS __deleted,
         |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC, ts_ms DESC) AS rn
         |  FROM ($LogSql) log)
         |SELECT id, custkey, status, __deleted FROM ranked
         |WHERE rn = 1
         |ORDER BY id""".stripMargin,

    "cdc_dlq_route" ->
      s"""WITH env AS ($EnvelopeSql),
         |r AS (
         |  SELECT id,
         |    CASE WHEN id % 19 = 0 THEN substr(envelope, 1, CAST(length(envelope) - 2 AS INT))
         |         ELSE envelope END AS envelope
         |  FROM env)
         |SELECT CASE WHEN json_valid(envelope) THEN 'ok' ELSE 'dlq' END AS route,
         |  COUNT(*) AS n_events, COUNT(DISTINCT id) AS n_keys,
         |  MIN(id) AS min_id, MAX(id) AS max_id
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "cdc_compact_log" ->
      s"""WITH ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC, ts_ms DESC) AS rn
         |  FROM ($LogSql) log)
         |SELECT id, op, seq,
         |  CASE WHEN op = 'd' THEN NULL ELSE custkey END AS custkey,
         |  CASE WHEN op = 'd' THEN NULL ELSE status END AS status
         |FROM ranked WHERE rn = 1
         |ORDER BY id""".stripMargin,

    "cdc_scd2_build" ->
      s"""WITH v AS (
         |  SELECT *, LEAD(ts_ms) OVER (PARTITION BY id ORDER BY seq, ts_ms) AS valid_to
         |  FROM ($LogSql) log)
         |SELECT id, custkey, status, ts_ms AS valid_from, valid_to,
         |  valid_to IS NULL AS is_current
         |FROM v WHERE op <> 'd'
         |ORDER BY id, valid_from""".stripMargin,

    "cdc_route" ->
      s"""WITH t AS (
         |  SELECT 'sqlserver' || CAST(id % 4 AS VARCHAR) || '.dbo.orders' AS topic,
         |    COUNT(*) AS n_events
         |  FROM ($LogSql) log GROUP BY 1)
         |SELECT topic, n_events,
         |  'cdc_' || regexp_replace(topic, '^[^.]+\\.[^.]+\\.', '') AS target_table
         |FROM t ORDER BY topic""".stripMargin,

    "cdc_schema_evolution" ->
      s"""WITH env AS (
         |  SELECT '{"id":' || id || ',"status":"' || status || '"}' AS env
         |  FROM ($LogSql) log WHERE seq = 1
         |  UNION ALL
         |  SELECT '{"id":' || id || ',"status":"' || status ||
         |         '","region":' || (id % 5) || '}'
         |  FROM ($LogSql) log WHERE seq = 2)
         |SELECT json_extract_string(env, '$$.status') AS status,
         |  COUNT(*) AS n,
         |  COUNT(CAST(json_extract(env, '$$.region') AS BIGINT)) AS n_with_region
         |FROM env
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "cdc_before_image" ->
      s"""SELECT json_extract_string(envelope, '$$.op') AS op,
         |  CAST(json_extract(envelope, '$$.ts_ms') AS BIGINT) AS ts_ms,
         |  COALESCE(CAST(json_extract(envelope, '$$.after.id') AS BIGINT),
         |           CAST(json_extract(envelope, '$$.before.id') AS BIGINT)) AS id,
         |  CAST(json_extract(envelope, '$$.before.custkey') AS BIGINT) AS before_custkey,
         |  json_extract_string(envelope, '$$.before.status') AS before_status,
         |  CAST(json_extract(envelope, '$$.after.custkey') AS BIGINT) AS after_custkey,
         |  json_extract_string(envelope, '$$.after.status') AS after_status
         |FROM ($EnvelopeBISql) e
         |ORDER BY id, ts_ms""".stripMargin,

    "cdc_update_diff" ->
      s"""SELECT CAST(json_extract(envelope, '$$.after.id') AS BIGINT) AS id,
         |  CAST(json_extract(envelope, '$$.ts_ms') AS BIGINT) AS ts_ms,
         |  concat_ws(',',
         |    CASE WHEN CAST(json_extract(envelope, '$$.before.custkey') AS BIGINT)
         |           IS DISTINCT FROM CAST(json_extract(envelope, '$$.after.custkey') AS BIGINT)
         |         THEN 'custkey' END,
         |    CASE WHEN json_extract_string(envelope, '$$.before.status')
         |           IS DISTINCT FROM json_extract_string(envelope, '$$.after.status')
         |         THEN 'status' END) AS changed_columns
         |FROM ($EnvelopeBISql) e
         |WHERE json_extract_string(envelope, '$$.op') = 'u'
         |ORDER BY id""".stripMargin,

    "cdc_type_map" ->
      """SELECT c_custkey,
        |  CAST(c_custkey AS INT) AS as_int,
        |  CAST(c_custkey AS VARCHAR) AS as_varchar,
        |  CAST(c_acctbal AS VARCHAR) AS money_as_text,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS money_cents,
        |  CAST(c_custkey % 2 = 0 AS VARCHAR) AS bit_as_text
        |FROM customer ORDER BY c_custkey""".stripMargin
  )
}
