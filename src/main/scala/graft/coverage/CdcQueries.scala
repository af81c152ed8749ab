package graft.coverage

import graft.{Q, Tables}
import graft.sources.CdcFormats
import graft.streaming.{StreamJoin, StreamOps}
import graft.streaming.StreamOps.san
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StructType}

/** CDC changelog-format ingestion (SURVEY §2.1 formats family — the
  * round-3 verdict's missing #2): debezium-json / canal-json /
  * maxwell-json wire messages parsed into tagged changelog rows and, for
  * the flagship query, driven through the streaming changelog join.
  *
  * Gating pattern: the CDC JSON is SYNTHESIZED deterministically from the
  * orders fixture (op chosen by orderkey modulus, payload from the row),
  * parsed back by [[CdcFormats]], and the resulting row_kind stream is
  * hash-compared against a DuckDB UNION ALL replaying the same op
  * mapping — a full wire-format round-trip with an independent oracle. */
object CdcQueries {

  private val orderPayload = new StructType()
    .add("o_orderkey", LongType).add("o_custkey", LongType).add("cents", LongType)

  private def ordersBase(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
              col("o_custkey").cast("long").as("o_custkey"),
              expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))

  /** debezium-json round-trip — ref DebeziumJsonDeserializationSchema
    * .java:63 (op c/r/u/d → +I / -U,+U / -D with before/after payloads).
    * to_json drops null fields, producing the real wire shape (c messages
    * carry no "before"). */
  val qCdcDebezium: Q = Q(
    run = (s, dir) => {
      val base = ordersBase(s, dir)
      val m = col("o_orderkey") % 10
      val before = struct(col("o_orderkey"), col("o_custkey"), col("cents"))
      val after = struct(col("o_orderkey"), col("o_custkey"),
        when(m.isin(6, 7), col("cents") + 100).otherwise(col("cents")).as("cents"))
      val op = when(m <= 5, "c").when(m.isin(6, 7), "u").when(m === 8, "d").otherwise("r")
      val json = to_json(struct(
        when(op.isin("u", "d"), before).as("before"),
        when(op.isin("c", "r", "u"), after).as("after"),
        op.as("op")))
      CdcFormats.debezium(base.select(json.as("json")), "json", orderPayload)
        .orderBy(col("o_orderkey"), col("row_kind"))
    },
    oracle = Some("""
      WITH base AS (SELECT o_orderkey AS k, o_custkey AS c,
                           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                           o_orderkey % 10 AS m
                    FROM orders)
      SELECT '+I' AS row_kind, k AS o_orderkey, c AS o_custkey, cents FROM base WHERE m <= 5 OR m = 9
      UNION ALL SELECT '-U', k, c, cents FROM base WHERE m IN (6, 7)
      UNION ALL SELECT '+U', k, c, cents + 100 FROM base WHERE m IN (6, 7)
      UNION ALL SELECT '-D', k, c, cents FROM base WHERE m = 8
      ORDER BY o_orderkey, row_kind"""))

  /** canal-json round-trip — ref CanalJsonDeserializationSchema: `data` is
    * an ARRAY of rows; UPDATE's `old[i]` carries only the changed fields'
    * previous values, so the -U row is data[i] patched with old[i]. */
  val qCdcCanal: Q = Q(
    run = (s, dir) => {
      val base = ordersBase(s, dir)
      val m = col("o_orderkey") % 4
      val dataRow = struct(col("o_orderkey"), col("o_custkey"),
        when(m === 2, col("cents") + 77).otherwise(col("cents")).as("cents"))
      val oldRow = struct(lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("long").as("o_custkey"), col("cents").as("cents"))
      val json = to_json(struct(
        array(dataRow).as("data"),
        when(m === 2, array(oldRow)).as("old"),
        when(m <= 1, "INSERT").when(m === 2, "UPDATE").otherwise("DELETE").as("type")))
      CdcFormats.canal(base.select(json.as("json")), "json", orderPayload)
        .orderBy(col("o_orderkey"), col("row_kind"))
    },
    oracle = Some("""
      WITH base AS (SELECT o_orderkey AS k, o_custkey AS c,
                           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                           o_orderkey % 4 AS m
                    FROM orders)
      SELECT '+I' AS row_kind, k AS o_orderkey, c AS o_custkey, cents FROM base WHERE m <= 1
      UNION ALL SELECT '-U', k, c, cents FROM base WHERE m = 2
      UNION ALL SELECT '+U', k, c, cents + 77 FROM base WHERE m = 2
      UNION ALL SELECT '-D', k, c, cents FROM base WHERE m = 3
      ORDER BY o_orderkey, row_kind"""))

  /** maxwell-json round-trip — ref MaxwellJsonDeserializationSchema:
    * single-row `data` object, `old` holds changed fields' pre-images. */
  val qCdcMaxwell: Q = Q(
    run = (s, dir) => {
      val base = ordersBase(s, dir)
      val m = col("o_orderkey") % 3
      val dataRow = struct(col("o_orderkey"), col("o_custkey"),
        when(m === 1, col("cents") + 33).otherwise(col("cents")).as("cents"))
      val oldRow = struct(lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("long").as("o_custkey"), col("cents").as("cents"))
      val json = to_json(struct(
        dataRow.as("data"),
        when(m === 1, oldRow).as("old"),
        when(m === 0, "insert").when(m === 1, "update").otherwise("delete").as("type")))
      CdcFormats.maxwell(base.select(json.as("json")), "json", orderPayload)
        .orderBy(col("o_orderkey"), col("row_kind"))
    },
    oracle = Some("""
      WITH base AS (SELECT o_orderkey AS k, o_custkey AS c,
                           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                           o_orderkey % 3 AS m
                    FROM orders)
      SELECT '+I' AS row_kind, k AS o_orderkey, c AS o_custkey, cents FROM base WHERE m = 0
      UNION ALL SELECT '-U', k, c, cents FROM base WHERE m = 1
      UNION ALL SELECT '+U', k, c, cents + 33 FROM base WHERE m = 1
      UNION ALL SELECT '-D', k, c, cents FROM base WHERE m = 2
      ORDER BY o_orderkey, row_kind"""))

  private val joinPayload = new StructType().add("key", LongType).add("id", LongType)

  /** Streaming CDC → changelog join, end-to-end — both join inputs arrive
    * as debezium-json streams (orders: batch-1 inserts, batch-2 deletes of
    * orderkey%4=1 and key-changing updates of %4=2; customers: plain
    * inserts), are parsed by [[CdcFormats.debezium]], mapped onto the
    * accumulate/retract lattice (+I/+U → +I, -U/-D → -D, ref
    * RowKind.java:25) and joined by [[StreamJoin.changelogJoin]]. The
    * MATERIALIZED changelog must equal the batch join of the post-CDC
    * state — deletions gone, updated ids replaced — which only a
    * retract-correct pipeline produces. */
  val qStreamCdcJoin: Q = Q(
    run = (s, dir) => {
      val ords = Tables.load(s, dir, "orders")
        .select(col("o_custkey").cast("long").as("key"), col("o_orderkey").cast("long").as("id"))
      val cust = Tables.load(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").cast("long").as("key"), col("c_custkey").cast("long").as("id"))
      def dbz(op: String, before: org.apache.spark.sql.Column, after: org.apache.spark.sql.Column) =
        to_json(struct(before.as("before"), after.as("after"), lit(op).as("op")))
      val pay = struct(col("key"), col("id"))
      val nullPay = lit(null).cast(joinPayload)
      val m = col("id") % 4
      val b1 = ords.select(lit(0).as("side"), dbz("c", nullPay, pay).as("json"))
        .unionByName(cust.select(lit(1).as("side"), dbz("c", nullPay, pay).as("json")))
      val b2 = ords.filter(m === 1)
          .select(lit(0).as("side"), dbz("d", pay, nullPay).as("json"))
        .unionByName(ords.filter(m === 2).select(lit(0).as("side"),
          dbz("u", pay, struct(col("key"), (col("id") + 10000000L).as("id"))).as("json")))
      val stream = StreamOps.replay(s, "cdc_join", dir, Seq(b1, b2))
      val parsed = CdcFormats.debezium(stream, "json", joinPayload)
        .select(col("key"), col("side"),
          when(col("row_kind").isin("+I", "+U"), "+I").otherwise("-D").as("kind"),
          col("id"),
          // deterministic in-batch order; retracts before inserts of one message
          (col("id") * 2 + when(col("row_kind").isin("+I", "+U"), 1).otherwise(0)).as("seq"))
      val changelog = StreamOps.runToMemory(
        s, StreamJoin.changelogJoin(s, parsed, "inner"), OutputMode.Update())
      StreamJoin.materialize(changelog)
        .select(col("key"), col("l_id"), col("r_id"))
        .orderBy(col("key"), col("l_id"), col("r_id"))
    },
    oracle = Some("""
      WITH l AS (SELECT o_custkey AS key,
                        CASE WHEN o_orderkey % 4 = 2 THEN o_orderkey + 10000000
                             ELSE o_orderkey END AS l_id
                 FROM orders WHERE o_orderkey % 4 <> 1),
           r AS (SELECT c_custkey AS key, c_custkey AS r_id
                 FROM customer WHERE c_acctbal > 5000)
      SELECT l.key, l.l_id, r.r_id FROM l JOIN r ON l.key = r.key
      ORDER BY l.key, l_id, r_id"""))

  /** CDC as a SQL-surface FORMAT — the reference's actual exposure:
    * `CREATE TABLE t (payload cols) WITH ('format'='debezium-json')`
    * (ref DebeziumJsonFormatFactory registered under flink-json). The
    * declared physical columns ARE the wire payload schema; the table
    * reads the line-delimited wire file and presents tagged changelog
    * rows to plain SQL. Same wire synthesis and oracle as
    * q_cdc_debezium — the added leg is the DDL surface. */
  val qCdcSqlSource: Q = Q(
    run = (s, dir) => {
      val base = ordersBase(s, dir)
      val m = col("o_orderkey") % 10
      val before = struct(col("o_orderkey"), col("o_custkey"), col("cents"))
      val after = struct(col("o_orderkey"), col("o_custkey"),
        when(m.isin(6, 7), col("cents") + 100).otherwise(col("cents")).as("cents"))
      val op = when(m <= 5, "c").when(m.isin(6, 7), "u").when(m === 8, "d").otherwise("r")
      val wire = graft.streaming.StreamOps.scratchRoot + s"/cdc_wire_${san(dir)}"
      base.select(to_json(struct(
          when(op.isin("u", "d"), before).as("before"),
          when(op.isin("c", "r", "u"), after).as("after"),
          op.as("op"))).as("value"))
        .write.mode("overwrite").text(wire)
      val e = new graft.sql.EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE orders_cdc (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT)
        WITH ('connector'='filesystem', 'path'='$wire', 'format'='debezium-json')""")
      e.sqlQuery("""
        SELECT row_kind, o_orderkey, o_custkey, cents FROM orders_cdc
        ORDER BY o_orderkey, row_kind""")
    },
    oracle = qCdcDebezium.oracle)

  /** Avro format round-trip — ref flink-formats/flink-avro: write the
    * nation dim as Avro container files via the Hadoop output format
    * (distributed, one file per partition — [[graft.sources.AvroFormat]]),
    * read back with header-discovered schema, aggregate; the oracle
    * recomputes off the source parquet, so roundtrip equality IS the
    * codec check (the q_sink_roundtrip_orc/gz pattern). */
  val qSinkRoundtripAvro: Q = Q(
    run = (s, dir) => {
      val out = graft.streaming.StreamOps.scratchRoot + s"/avro_rt_${san(dir)}"
      // logical-type columns (ref flink-avro AvroSchemaConverter): a
      // timestamp-micros and a decimal(12,2); COMPLEX columns: an array,
      // a string-keyed map and a nested record — all derived
      // deterministically so the round-trip values are oracle-computable
      graft.sources.AvroFormat.write(
        Tables.load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
            timestamp_seconds(col("n_nationkey") * 86400).as("asof_ts"),
            (col("n_nationkey").cast("decimal(10,0)") + lit(0.25))
              .cast("decimal(12,2)").as("bal"),
            array(col("n_nationkey"), col("n_regionkey") * 10).as("vals"),
            map(lit("k"), col("n_nationkey")).as("props"),
            struct(col("n_nationkey").as("nk"), col("n_name").as("nm")).as("meta")), out)
      graft.sources.AvroFormat.read(s, out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
          expr("unix_micros(max(asof_ts))").as("max_ts_us"),
          (sum(col("bal")) * 100).cast("long").as("bal_c"),
          sum(element_at(col("vals"), 1) + element_at(col("vals"), 2))
            .cast("long").as("vals_sum"),
          sum(element_at(col("props"), "k")).cast("long").as("props_sum"),
          min(col("meta.nm")).as("meta_min"))
        .orderBy(col("n_regionkey"))
    },
    oracle = Some("""
      SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name,
             CAST(MAX(n_nationkey) * 86400000000 AS BIGINT) AS max_ts_us,
             CAST(SUM(n_nationkey * 100 + 25) AS BIGINT) AS bal_c,
             CAST(SUM(n_nationkey + n_regionkey * 10) AS BIGINT) AS vals_sum,
             CAST(SUM(n_nationkey) AS BIGINT) AS props_sum,
             MIN(n_name) AS meta_min
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** FLIP-107 METADATA columns on the CDC SQL source — ref
    * SqlTableColumn.java:177 (`col TYPE METADATA [FROM 'key'] [VIRTUAL]`)
    * + DebeziumJsonDecodingFormat.listReadableMetadata (ingestion-
    * timestamp, source.timestamp, source.database, source.table). The wire
    * synthesis carries deterministic ts_ms/source envelope fields keyed by
    * orderkey, so the metadata values are oracle-computable; timestamps
    * compared as unix millis (the TIMESTAMP(3) declared type is exercised
    * by the cast inside the source). */
  val qCdcMetadata: Q = Q(
    run = (s, dir) => {
      val base = ordersBase(s, dir)
      val m = col("o_orderkey") % 10
      val before = struct(col("o_orderkey"), col("o_custkey"), col("cents"))
      val after = struct(col("o_orderkey"), col("o_custkey"),
        when(m.isin(6, 7), col("cents") + 100).otherwise(col("cents")).as("cents"))
      val op = when(m <= 5, "c").when(m.isin(6, 7), "u").when(m === 8, "d").otherwise("r")
      val wire = graft.streaming.StreamOps.scratchRoot + s"/cdc_meta_wire_${san(dir)}"
      base.select(to_json(struct(
          when(op.isin("u", "d"), before).as("before"),
          when(op.isin("c", "r", "u"), after).as("after"),
          op.as("op"),
          (col("o_orderkey") * 1000 + 500).as("ts_ms"),
          struct(lit("tpch").as("db"), lit("orders").as("table"),
                 (col("o_orderkey") * 1000).as("ts_ms")).as("source"))).as("value"))
        .write.mode("overwrite").text(wire)
      val e = new graft.sql.EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE orders_cdc_meta (
          o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT,
          ing_ts TIMESTAMP(3) METADATA FROM 'ingestion-timestamp' VIRTUAL,
          src_ts TIMESTAMP(3) METADATA FROM 'source.timestamp',
          src_db STRING METADATA FROM 'source.database',
          src_tbl STRING METADATA FROM 'source.table')
        WITH ('connector'='filesystem', 'path'='$wire', 'format'='debezium-json')""")
      e.sqlQuery("""
        SELECT row_kind, o_orderkey, cents,
               unix_millis(ing_ts) AS ing_ms, unix_millis(src_ts) AS src_ms,
               src_db, src_tbl
        FROM orders_cdc_meta ORDER BY o_orderkey, row_kind""")
    },
    oracle = Some("""
      WITH base AS (SELECT o_orderkey AS k,
                           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                           o_orderkey % 10 AS m
                    FROM orders),
      tagged AS (
        SELECT '+I' AS row_kind, k, cents FROM base WHERE m <= 5 OR m = 9
        UNION ALL SELECT '-U', k, cents FROM base WHERE m IN (6, 7)
        UNION ALL SELECT '+U', k, cents + 100 FROM base WHERE m IN (6, 7)
        UNION ALL SELECT '-D', k, cents FROM base WHERE m = 8)
      SELECT row_kind, k AS o_orderkey, cents,
             CAST(k * 1000 + 500 AS BIGINT) AS ing_ms,
             CAST(k * 1000 AS BIGINT) AS src_ms,
             'tpch' AS src_db, 'orders' AS src_tbl
      FROM tagged ORDER BY o_orderkey, row_kind"""))

  /** Debezium `schema-include` envelope — ref DebeziumJsonOptions.java:33
    * (SCHEMA_INCLUDE): converter-schema deployments wrap the changelog
    * envelope as `{"schema": {...}, "payload": {...}}`; with
    * `'debezium-json.schema-include'='true'` the source unwraps `payload`.
    * Same op mapping and oracle as q_cdc_debezium — the added leg is the
    * wrapped wire shape through the SQL surface. */
  val qCdcDebeziumSchema: Q = Q(
    run = (s, dir) => {
      val base = ordersBase(s, dir)
      val m = col("o_orderkey") % 10
      val before = struct(col("o_orderkey"), col("o_custkey"), col("cents"))
      val after = struct(col("o_orderkey"), col("o_custkey"),
        when(m.isin(6, 7), col("cents") + 100).otherwise(col("cents")).as("cents"))
      val op = when(m <= 5, "c").when(m.isin(6, 7), "u").when(m === 8, "d").otherwise("r")
      val wire = graft.streaming.StreamOps.scratchRoot + s"/cdc_schema_wire_${san(dir)}"
      base.select(to_json(struct(
          struct(lit("struct").as("type"), lit(true).as("optional")).as("schema"),
          struct(
            when(op.isin("u", "d"), before).as("before"),
            when(op.isin("c", "r", "u"), after).as("after"),
            op.as("op")).as("payload"))).as("value"))
        .write.mode("overwrite").text(wire)
      val e = new graft.sql.EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE orders_cdc_schema (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT)
        WITH ('connector'='filesystem', 'path'='$wire', 'format'='debezium-json',
              'debezium-json.schema-include'='true')""")
      e.sqlQuery("""
        SELECT row_kind, o_orderkey, o_custkey, cents FROM orders_cdc_schema
        ORDER BY o_orderkey, row_kind""")
    },
    oracle = qCdcDebezium.oracle)

  /** Filesystem METADATA columns — FLIP-107's `file.name`/`file.size` keys
    * over a parquet table (Spark's hidden `_metadata` struct underneath).
    * The fixture tables are single files, so `file.name` is a deterministic
    * oracle value; `file.size` is declared (exercising the cast path) but
    * not compared. */
  val qMetaFileName: Q = Q(
    run = (s, dir) => {
      val e = new graft.sql.EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE nation_meta (
          fname STRING METADATA FROM 'file.name' VIRTUAL,
          fsize BIGINT METADATA FROM 'file.size')
        WITH ('connector'='filesystem', 'path'='$dir/nation.parquet', 'format'='parquet')""")
      e.sqlQuery(
        "SELECT fname, COUNT(*) AS n, SUM(n_nationkey) AS key_sum FROM nation_meta GROUP BY fname")
    },
    oracle = Some("""
      SELECT 'nation.parquet' AS fname, COUNT(*) AS n,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum FROM nation"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_cdc_debezium" -> qCdcDebezium,
    "q_cdc_canal" -> qCdcCanal,
    "q_cdc_maxwell" -> qCdcMaxwell,
    "q_cdc_sql_source" -> qCdcSqlSource,
    "q_cdc_metadata" -> qCdcMetadata,
    "q_cdc_debezium_schema" -> qCdcDebeziumSchema,
    "q_meta_file_name" -> qMetaFileName,
    "q_stream_cdc_join" -> qStreamCdcJoin,
    "q_sink_roundtrip_avro" -> qSinkRoundtripAvro,
  )
}
