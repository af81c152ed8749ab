package graft.coverage

import graft.{Q, Tables}
import graft.sql.EngineEnv
import graft.streaming.StreamOps.san
import org.apache.spark.sql.functions._

/** Round-5 batch 2: the Table-API / SQL surfaces a Flink-1.12 program
  * drives programmatically — FLIP-113 dynamic table options (OPTIONS
  * hint), FLIP-84 StatementSet multi-sink execution, the temporal table
  * FUNCTION spelling of the versioned join, and the view/database/
  * function admin statements (SHOW VIEWS, DESCRIBE DATABASE, ALTER
  * FUNCTION). */
object Sql2Queries {

  /** FLIP-113 dynamic table options — ref planner/hint/FlinkHints.java:32
    * (HINT_NAME_OPTIONS): `SELECT ... FROM t [+OPTIONS hint]` merges
    * options into THIS query's table scan only. The table is registered
    * over the 'F' subset; the hinted leg overrides 'path' to the full
    * orders file and must see every status, while a re-read of the plain
    * table still sees only 'F' (per-query scope, catalog untouched). */
  val qSqlOptionsHint: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/hint_${san(dir)}"
      Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").parquet(s"$scratch/subset")
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE hint_t (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$scratch/subset', 'format'='parquet')""")
      e.sqlQuery(s"""
        SELECT 'plain' AS leg, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM hint_t
        GROUP BY o_orderstatus
        UNION ALL
        SELECT 'hinted' AS leg, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM hint_t /*+ OPTIONS('path'='$dir/orders.parquet') */
        GROUP BY o_orderstatus
        ORDER BY leg, o_orderstatus""")
    },
    oracle = Some("""
      SELECT 'plain' AS leg, o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderstatus
      UNION ALL
      SELECT 'hinted' AS leg, o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY leg, o_orderstatus"""))

  /** FLIP-84 StatementSet — ref StatementSet.java:30 / StatementSetImpl
    * .java: two sinks fed by one buffered execute(), one via addInsertSql
    * and one via addInsert(DataFrame); explain() exercised on the full
    * buffer. Read-back of BOTH sinks must show seed + inserted subsets —
    * proving both buffered statements ran. */
  val qSqlStatementSet: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/stmtset_${san(dir)}"
      val orders = Tables.load(s, dir, "orders")
      orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$scratch/a")
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$scratch/b")
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE base_ss (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP(3), o_orderpriority STRING
        ) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
      e.executeSql(s"""
        CREATE TABLE sink_ss_a (o_orderkey BIGINT, o_orderstatus STRING,
          o_orderpriority STRING, o_totalprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$scratch/a', 'format'='parquet')""")
      e.executeSql(s"""
        CREATE TABLE sink_ss_b (o_orderkey BIGINT, o_orderstatus STRING,
          o_orderpriority STRING, o_totalprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$scratch/b', 'format'='parquet')""")
      val set = e.createStatementSet()
        .addInsertSql("""
          INSERT INTO sink_ss_a
          SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
          FROM base_ss WHERE o_orderstatus = 'O'""")
        .addInsert("sink_ss_b", e.sqlQuery("""
          SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
          FROM base_ss WHERE o_orderpriority = '2-HIGH'"""))
      require(set.explain().contains("=="), "StatementSet.explain must render both plans")
      set.execute()
      e.sqlQuery("""
        SELECT 'a' AS leg, o_orderstatus AS k, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM sink_ss_a GROUP BY o_orderstatus
        UNION ALL
        SELECT 'b' AS leg, o_orderpriority AS k, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM sink_ss_b GROUP BY o_orderpriority
        ORDER BY leg, k""")
    },
    oracle = Some("""
      SELECT 'a' AS leg, o_orderstatus AS k, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders WHERE o_orderstatus IN ('F', 'O')
      GROUP BY o_orderstatus
      UNION ALL
      SELECT 'b' AS leg, o_orderpriority AS k, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority
      ORDER BY leg, k"""))

  /** Temporal table FUNCTION — ref TemporalTableFunction.java /
    * TemporalTableFunctionImpl.java: `createTemporalTableFunction(
    * timeAttr, primaryKey)` then `FROM Orders o, LATERAL TABLE
    * (Rates(o.rowtime)) r WHERE o.k = r.k`, the pre-FLIP-132 spelling of
    * the versioned join. Same data and oracle shape as
    * q_sql_temporal_join — the point is the FUNCTION surface rewriting
    * onto the identical keyed as-of plan. */
  val qSqlTemporalFn: Q = Q(
    run = (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/tfn_${san(dir)}"
      ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("version_id"))
        .write.mode("overwrite").parquet(s"$scratch/rates")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
        .write.mode("overwrite").parquet(s"$scratch/clicks")
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE rates_fn_t (user_id BIGINT, ts TIMESTAMP(3), version_id BIGINT
        ) WITH ('connector'='filesystem', 'path'='$scratch/rates', 'format'='parquet')""")
      e.executeSql(s"""
        CREATE TABLE clicks_fn_t (user_id BIGINT, click_id BIGINT, ts TIMESTAMP(3)
        ) WITH ('connector'='filesystem', 'path'='$scratch/clicks', 'format'='parquet')""")
      e.createTemporalTableFunction("rates_fn", "rates_fn_t", "ts", "user_id")
      e.sqlQuery("""
        SELECT f.user_id, f.click_id, r.version_id
        FROM clicks_fn_t f, LATERAL TABLE(rates_fn(f.ts)) AS r WHERE f.user_id = r.user_id
        ORDER BY f.user_id, f.click_id""")
    },
    oracle = Some("""
      WITH r AS (SELECT user_id, ts, MAX(event_id) AS version_id
                 FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
           c AS (SELECT user_id, event_id AS click_id, ts
                 FROM events WHERE event_type = 'click')
      SELECT c.user_id, c.click_id, r.version_id
      FROM c ASOF JOIN r ON c.user_id = r.user_id AND c.ts >= r.ts
      ORDER BY c.user_id, c.click_id"""))

  /** View / database / function admin statements — ref dql/SqlShowViews
    * .java, SqlDescribeDatabase.java, ddl/SqlAlterFunction.java. Three
    * legs: SHOW VIEWS is scoped to the current database (two views in
    * 'mart' are invisible from default, visible after USE); DESCRIBE
    * DATABASE reports the ALTER DATABASE properties; ALTER FUNCTION
    * re-points an alias (lower → upper) and the grouped read-through
    * proves the NEW target resolves. */
  val qSqlAdminDdl: Q = Q(
    run = (s, dir) => {
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE cust_adm (c_custkey BIGINT, c_name STRING, c_nationkey BIGINT,
          c_acctbal DOUBLE, c_mktsegment STRING
        ) WITH ('connector'='filesystem', 'path'='$dir/customer.parquet', 'format'='parquet')""")
      e.executeSql("CREATE DATABASE adm_mart")
      e.executeSql("ALTER DATABASE adm_mart SET ('owner'='graft', 'tier'='gold')")
      e.executeSql(
        "CREATE VIEW adm_mart.v_big AS SELECT * FROM cust_adm WHERE c_acctbal > 0")
      e.executeSql(
        "CREATE VIEW adm_mart.v_small AS SELECT * FROM cust_adm WHERE c_acctbal <= 0")
      val hidden = e.executeSql("SHOW VIEWS") // current db = default: none
      require(hidden.count() == 0, "SHOW VIEWS must scope to the current database")
      e.executeSql("USE adm_mart")
      val shown = e.executeSql("SHOW VIEWS")
      e.executeSql("USE default_database")
      val descDb = e.executeSql("DESCRIBE DATABASE adm_mart")
      e.executeSql("CREATE FUNCTION adm_fn AS 'lower'")
      e.executeSql("ALTER FUNCTION adm_fn AS 'upper'")
      val fnLeg = e.sqlQuery("""
        SELECT 'fn' AS leg, adm_fn(c_mktsegment) AS k, COUNT(*) AS n
        FROM cust_adm GROUP BY adm_fn(c_mktsegment)""")
      shown.select(lit("views").as("leg"), col("view_name").as("k"), lit(1L).as("n"))
        .unionAll(descDb.select(lit("descdb").as("leg"),
          concat_ws("=", col("info_name"), col("info_value")).as("k"), lit(1L).as("n")))
        .unionAll(fnLeg)
        .orderBy(col("leg"), col("k"))
    },
    oracle = Some("""
      SELECT leg, k, n FROM (VALUES
        ('views', 'v_big', CAST(1 AS BIGINT)), ('views', 'v_small', CAST(1 AS BIGINT)),
        ('descdb', 'name=adm_mart', CAST(1 AS BIGINT)),
        ('descdb', 'catalog=default_catalog', CAST(1 AS BIGINT)),
        ('descdb', 'property:owner=graft', CAST(1 AS BIGINT)),
        ('descdb', 'property:tier=gold', CAST(1 AS BIGINT))) AS t(leg, k, n)
      UNION ALL
      SELECT 'fn' AS leg, upper(c_mktsegment) AS k, COUNT(*) AS n
      FROM customer GROUP BY upper(c_mktsegment)
      ORDER BY leg, k"""))

  /** Flink builtin spellings that are renames/arg-fixings of native Spark
    * expressions — ref table/functions/sql/FlinkSqlOperatorTable.java
    * (WEEK, SHA256 family, TO_BASE64/FROM_BASE64) and runtime
    * SqlDateTimeUtils.convertTz (CONVERT_TZ re-expresses a
    * 'yyyy-MM-dd HH:mm:ss' wall-clock string from one zone in another).
    * Registered as analyzer-level aliases over codegen'd builtins
    * (FlinkFunctions.registerAll), auto-loaded by EngineEnv the way the
    * reference TableEnvironment loads BuiltInFunctionDefinitions — this
    * query proves the SQL surface resolves them with zero UDF overhead. */
  val qFlinkFns3: Q = Q(
    run = (s, dir) => {
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE fns3_t (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP(3), o_orderpriority STRING
        ) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
      e.sqlQuery("""
        SELECT o_orderkey,
               WEEK(o_orderdate) AS wk,
               SHA256(o_orderpriority) AS sha,
               TO_BASE64(o_orderpriority) AS b64,
               FROM_BASE64(TO_BASE64(o_orderstatus)) AS rt,
               CONVERT_TZ(CAST(o_orderdate AS STRING), 'UTC', 'America/Los_Angeles') AS lts
        FROM fns3_t WHERE MOD(o_orderkey, 97) = 0
        ORDER BY o_orderkey""")
    },
    oracle = Some("""
      SELECT o_orderkey,
             week(o_orderdate) AS wk,
             sha256(o_orderpriority) AS sha,
             to_base64(o_orderpriority::BLOB) AS b64,
             CAST(from_base64(to_base64(o_orderstatus::BLOB)) AS VARCHAR) AS rt,
             strftime(timezone('America/Los_Angeles', timezone('UTC', o_orderdate)),
                      '%Y-%m-%d %H:%M:%S') AS lts
      FROM orders WHERE o_orderkey % 97 = 0
      ORDER BY o_orderkey"""))

  /** Fourth builtin batch — the §2.11 long tail of FlinkSqlOperatorTable /
    * BuiltInFunctionDefinitions spellings not yet demonstrated: math
    * (DEGREES/RADIANS/SIGN/LOG2/LOG10/COT — transcendentals quantized to
    * µ-units, the cross-engine-libm contract), string padding/repetition
    * (LPAD/RPAD/REPEAT), char codes (CHR/ASCII), and ANSI
    * `POSITION(x IN y)` + INSTR. All resolve to native codegen'd Catalyst
    * expressions — no UDFs. */
  val qFlinkFns4: Q = Q(
    run = (s, dir) => {
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE fns4_t (p_partkey BIGINT, p_name STRING, p_brand STRING,
          p_type STRING, p_size INT, p_retailprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$dir/part.parquet', 'format'='parquet')""")
      e.sqlQuery("""
        SELECT p_partkey,
               CAST(FLOOR(DEGREES(p_retailprice / 1000.0) * 1000000.0) AS BIGINT) AS deg_u,
               CAST(FLOOR(RADIANS(CAST(p_size AS DOUBLE)) * 1000000.0) AS BIGINT) AS rad_u,
               SIGN(p_size - 25) AS sgn,
               CAST(FLOOR(LOG2(CASE WHEN p_size > 0 THEN CAST(p_size AS DOUBLE) END) * 1000000.0) AS BIGINT) AS l2_u,
               CAST(FLOOR(LOG10(CASE WHEN p_retailprice > 0 THEN p_retailprice END) * 1000000.0) AS BIGINT) AS l10_u,
               CAST(FLOOR(COT(CASE WHEN p_size > 0 THEN CAST(p_size AS DOUBLE) END) * 1000.0) AS BIGINT) AS cot_m,
               LPAD(p_brand, 12, '*') AS lp,
               RPAD(p_brand, 12, '#') AS rp,
               REPEAT(SUBSTRING(p_type, 1, 2), 3) AS rep,
               CHR(65 + MOD(p_size, 26)) AS ch,
               ASCII(p_name) AS asc_c,
               POSITION('a' IN p_name) AS pos_a,
               INSTR(p_name, 'o') AS in_o
        FROM fns4_t WHERE MOD(p_partkey, 29) = 0
        ORDER BY p_partkey""")
    },
    oracle = Some("""
      SELECT p_partkey,
             CAST(FLOOR(degrees(p_retailprice / 1000.0) * 1000000.0) AS BIGINT) AS deg_u,
             CAST(FLOOR(radians(CAST(p_size AS DOUBLE)) * 1000000.0) AS BIGINT) AS rad_u,
             CAST(sign(p_size - 25) AS DOUBLE) AS sgn,
             CAST(FLOOR(log2(CASE WHEN p_size > 0 THEN CAST(p_size AS DOUBLE) END) * 1000000.0) AS BIGINT) AS l2_u,
             CAST(FLOOR(log10(CASE WHEN p_retailprice > 0 THEN p_retailprice END) * 1000000.0) AS BIGINT) AS l10_u,
             CAST(FLOOR(cot(CASE WHEN p_size > 0 THEN CAST(p_size AS DOUBLE) END) * 1000.0) AS BIGINT) AS cot_m,
             lpad(p_brand, 12, '*') AS lp,
             rpad(p_brand, 12, '#') AS rp,
             repeat(p_type[1:2], 3) AS rep,
             chr(65 + p_size % 26) AS ch,
             ascii(p_name) AS asc_c,
             CAST(position('a' IN p_name) AS BIGINT) AS pos_a,
             CAST(instr(p_name, 'o') AS BIGINT) AS in_o
      FROM part WHERE p_partkey % 29 = 0
      ORDER BY p_partkey"""))

  /** SUM0 — ref FlinkSqlOperatorTable.SUM0 (the retract-agg counting
    * primitive): 0, not NULL, over all-null input. Groups whose filter
    * never fires prove the difference (plain SUM's NULL would hash-differ). */
  val qAggSum0: Q = Q(
    run = (s, dir) => {
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE sum0_t (p_partkey BIGINT, p_brand STRING, p_size INT,
          p_retailprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$dir/part.parquet', 'format'='parquet')""")
      e.sqlQuery("""
        SELECT p_brand,
               CAST(SUM0(CASE WHEN p_size > 48 THEN CAST(p_size AS BIGINT) END) AS BIGINT) AS big_sz,
               CAST(SUM0(CASE WHEN p_retailprice > 1990.0 THEN CAST(1 AS BIGINT) END) AS BIGINT) AS n_pricey
        FROM sum0_t GROUP BY p_brand ORDER BY p_brand""")
    },
    oracle = Some("""
      SELECT p_brand,
             CAST(COALESCE(SUM(CASE WHEN p_size > 48 THEN p_size END), 0) AS BIGINT) AS big_sz,
             CAST(COALESCE(SUM(CASE WHEN p_retailprice > 1990.0 THEN 1 END), 0) AS BIGINT) AS n_pricey
      FROM part GROUP BY p_brand ORDER BY p_brand"""))

  /** Async I/O, oracle-gated — ref AsyncWaitOperator.java:78 ordered mode.
    * The per-record async function is a pure deterministic "lookup"
    * (tier parse + md5 tag), so ordered emission makes the operator's
    * output value-identical to the synchronous map the oracle computes —
    * which is exactly the reference's ordered-mode contract (results in
    * input order regardless of completion order). 8 in-flight requests
    * per partition, executor-side pools, no driver coordination. */
  val qAsyncEnrich: Q = Q(
    run = (s, dir) => {
      import s.implicits._
      val ds = Tables.load(s, dir, "orders")
        .filter(expr("o_orderkey % 13 = 0"))
        .select(col("o_orderkey").cast("long"), col("o_orderpriority"))
        .as[(Long, String)]
      graft.operators.AsyncIO.mapAsyncOrdered(ds, 8) { case (k, pr) =>
        // non-numeric/empty priority prefix → tier 0 (the oracle's CASE)
        val tier = if (pr.nonEmpty && pr.head.isDigit) pr.substring(0, 1).toInt else 0
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$k:$pr".getBytes("UTF-8"))
        (k, pr, tier, md.map("%02x".format(_)).mkString)
      }.toDF("o_orderkey", "o_orderpriority", "tier", "tag")
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN substr(o_orderpriority, 1, 1) BETWEEN '0' AND '9'
                  THEN CAST(substr(o_orderpriority, 1, 1) AS INT)
                  ELSE 0 END AS tier,
             md5(o_orderkey || ':' || o_orderpriority) AS tag
      FROM orders WHERE o_orderkey % 13 = 0
      ORDER BY o_orderkey"""))

  /** Rolling file sink, oracle-gated end-to-end — ref StreamingFileSink +
    * RollingPolicy: the streamed write rolls part files at
    * `maxRecordsPerFile`, and the sink's CONTENT (multi-file read-back,
    * aggregated) must equal the batch oracle — the part-file layout is an
    * implementation detail, the committed rows are the contract. The
    * checkpointed commit log is what makes the sink exactly-once
    * (SinkSpec restarts it); here the value parity is the gate. */
  val qStreamFileSink: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/fsink_${san(dir)}"
      graft.streaming.StreamOps.wipeDir(scratch)
      // roll threshold scaled to the fixture so the policy provably splits
      // (≥3 part files at any SF); at scale this is the fixed size bound
      val rollAt = math.max(1L,
        Tables.load(s, dir, "events").count() / 3)
      val src = graft.streaming.StreamOps.readTable(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.streaming.StreamOps.withStreamingConf(src)(src.writeStream.format("parquet")
        .option("path", s"$scratch/out")
        .option("checkpointLocation", s"$scratch/ckpt")
        .option("maxRecordsPerFile", rollAt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination())
      val files = new java.io.File(s"$scratch/out").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(files > 1, s"rolling policy must split the sink into >1 part file, got $files")
      s.read.parquet(s"$scratch/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(expr("CAST(FLOOR(value * 100.0) AS BIGINT)")).cast("long").as("v_c"),
             max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS v_c,
             max(event_id) AS max_id
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Queryable state, oracle-gated — ref FLIP-21 QueryableStateClient (the
    * reference serves keyed state point lookups); the Spark spelling is
    * the State Data Source: the checkpoint IS the queryable store, read
    * back as a DataFrame. A keyed count aggregation runs to completion,
    * then `statestore`-format read of its checkpoint must reproduce the
    * batch GROUP BY exactly — state-as-a-table parity, stronger than a
    * point lookup. */
  val qQueryableState: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/qstate_${san(dir)}"
      graft.streaming.StreamOps.wipeDir(scratch)
      val src = graft.streaming.StreamOps.readTable(s, dir, "events")
      val agg = src.groupBy(col("event_type")).count()
      graft.streaming.StreamOps.withStreamingConf(agg)(agg.writeStream.format("memory")
        .queryName(s"qstate_sink_${san(dir)}")
        .outputMode("complete")
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination())
      val st = graft.streaming.StreamOps.readState(s, s"$scratch/ckpt")
      // the aggregation buffer's field name is internal — take the count
      // buffer positionally (last field), like the reference's state
      // descriptor addressing
      val buf = st.select(col("value.*")).columns.last
      st.select(col("key.event_type").as("event_type"),
                col("value").getField(buf).cast("long").as("n"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
      ORDER BY event_type"""))

  /** Early-fire (update-mode partials), oracle-gated — ref Flink
    * `table.exec.emit.early-fire.enabled` (GroupAggFunction emitting
    * per-arrival updates before the window/group closes): counts are
    * emitted per micro-batch, refined as data arrives; the LATEST
    * emission per key must equal the batch aggregate (counts are
    * monotone, so latest = max), and the partial trail must actually
    * exist (more emissions than keys — proof the operator fired early
    * rather than only once at the end). */
  val qStreamEarlyFire: Q = Q(
    run = (s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.StreamOps
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val mid = ev.agg(max(col("event_id"))).collect()(0).get(0)
        .asInstanceOf[Number].longValue / 2
      val stream = StreamOps.replay(s, "earlyfire", dir, Seq(
        ev.filter(col("event_id") <= mid), ev.filter(col("event_id") > mid)))
      val partials = StreamOps.runToMemory(s,
        stream.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("u")),
        OutputMode.Update())
      val nKeys = partials.select(col("event_type")).distinct().count()
      require(partials.count() > nKeys,
        "update mode must emit early partials (one per key per touched batch)")
      partials.groupBy(col("event_type"))
        .agg(max(col("n")).cast("long").as("n"), max(col("u")).cast("long").as("u"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS u
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** DataSet-facade operator chain, oracle-gated — ref DataSet.sortPartition
    * / DataSetUtils.zipWithIndex / DataSet.minBy/maxBy: a single-partition
    * sortPartition makes zipWithIndex's two-pass global index equal the
    * deterministic rank (index i = i-th smallest key), and minBy/maxBy
    * run on the UNIQUE composite (cents, key) ordering so the per-priority
    * argmin/argmax is reduce-order-independent. The facade ops compose into
    * one pipeline whose value output the batch oracle reproduces exactly. */
  val qDatastreamOps: Q = Q(
    run = (s, dir) => {
      import s.implicits._
      val env = new graft.datastream.DataStreamEnv(s)
      val base = Tables.load(s, dir, "orders")
        .filter(expr("o_orderkey % 7 = 0"))
        .select(col("o_orderkey").cast("long"), col("o_orderpriority"),
                expr("CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)"))
        .as[(Long, String, Long)]
      val indexed = env.fromDataset(base.repartition(1))
        .sortPartition(_._1)
        .zipWithIndex
        .map { case ((k, p, c), i) => (p, k, c, i) }
      val lo = indexed.keyBy(_._1).minBy(t => (t._3, t._2))
        .map { case (p, (_, k, c, i)) => (p, "min", k, c, i) }
      val hi = indexed.keyBy(_._1).maxBy(t => (t._3, t._2))
        .map { case (p, (_, k, c, i)) => (p, "max", k, c, i) }
      lo.ds.union(hi.ds)
        .toDF("prio", "leg", "o_orderkey", "cents", "idx")
        .orderBy(col("prio"), col("leg"))
    },
    oracle = Some("""
      WITH t AS (SELECT o_orderkey AS k, o_orderpriority AS p,
                        CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS c
                 FROM orders WHERE o_orderkey % 7 = 0),
      idx AS (SELECT k, p, c, row_number() OVER (ORDER BY k) - 1 AS i FROM t),
      lo AS (SELECT p AS prio, 'min' AS leg, k AS o_orderkey, c AS cents, i AS idx FROM (
               SELECT *, row_number() OVER (PARTITION BY p ORDER BY c, k) AS rn FROM idx)
             WHERE rn = 1),
      hi AS (SELECT p AS prio, 'max' AS leg, k AS o_orderkey, c AS cents, i AS idx FROM (
               SELECT *, row_number() OVER (PARTITION BY p ORDER BY c DESC, k DESC) AS rn FROM idx)
             WHERE rn = 1)
      SELECT * FROM lo UNION ALL SELECT * FROM hi ORDER BY prio, leg"""))

  /** FLIP-124 raw format on the DDL surface — ref flink-table-runtime-blink
    * formats/raw/RawFormatFactory.java:56 (single physical column; the
    * whole record IS the value) and docs/dev/table/connectors/formats/raw.
    * Source leg: documents' text staged as line-framed files, declared
    * `line STRING` with 'format'='raw'. Sink leg: INSERT INTO a raw table
    * whose payload is BYTES — the serializer writes the single field as
    * the record, and the read-back decodes it. The aggregate compares the
    * full round-trip (uppercased lines → bytes → lines) against the
    * documents table directly. */
  val qSqlRawFormat: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/raw_${san(dir)}"
      val docs = Tables.load(s, dir, "documents")
      // a raw TEXT file has no representation for a null line — drop nulls
      // explicitly on both sides of the round-trip
      docs.filter(col("text").isNotNull)
        .select(col("text").as("value")).write.mode("overwrite").text(s"$scratch/src")
      // seed the sink path so registration (and the Flink-style read-back
      // view) binds before the INSERT
      s.range(0).select(lit("seed").as("value")).write.mode("overwrite").text(s"$scratch/snk")
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE raw_src (line STRING)
        WITH ('connector'='filesystem', 'path'='$scratch/src', 'format'='raw',
              'raw.charset'='UTF-8')""")
      e.executeSql(s"""
        CREATE TABLE raw_snk (payload BYTES)
        WITH ('connector'='filesystem', 'path'='$scratch/snk', 'format'='raw')""")
      e.executeSql("INSERT OVERWRITE raw_snk SELECT UPPER(line) FROM raw_src")
      e.sqlQuery("""
        SELECT SPLIT_INDEX(CAST(payload AS STRING), ' ', 0) AS w, COUNT(*) AS n,
               CAST(SUM(CHAR_LENGTH(CAST(payload AS STRING))) AS BIGINT) AS total_chars
        FROM raw_snk
        GROUP BY SPLIT_INDEX(CAST(payload AS STRING), ' ', 0)
        ORDER BY w""")
    },
    // SPLIT_INDEX('' ...) is NULL, not '' — the reference's commons-lang3
    // splitByWholeSeparatorPreserveAllTokens yields ZERO tokens for an
    // empty input (SqlFunctionUtils.splitIndex:304), so the empty-text
    // docs the hostile fixture plants group under NULL
    oracle = Some("""
      SELECT CASE WHEN text = '' THEN NULL
                  ELSE string_split(upper(text), ' ')[1] END AS w,
             COUNT(*) AS n,
             CAST(SUM(length(upper(text))) AS BIGINT) AS total_chars
      FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY w NULLS FIRST"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_sql_options_hint" -> qSqlOptionsHint,
    "q_sql_statement_set" -> qSqlStatementSet,
    "q_sql_temporal_fn" -> qSqlTemporalFn,
    "q_sql_admin_ddl" -> qSqlAdminDdl,
    "q_flink_fns3" -> qFlinkFns3,
    "q_flink_fns4" -> qFlinkFns4,
    "q_agg_sum0" -> qAggSum0,
    "q_async_enrich" -> qAsyncEnrich,
    "q_stream_file_sink" -> qStreamFileSink,
    "q_queryable_state" -> qQueryableState,
    "q_stream_early_fire" -> qStreamEarlyFire,
    "q_datastream_ops" -> qDatastreamOps,
    "q_sql_raw_format" -> qSqlRawFormat,
  )
}
