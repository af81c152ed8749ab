package graft.coverage

import graft.{Q, Tables}
import graft.sql.EngineEnv
import graft.streaming.StreamOps.san
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-3 batch 5: TPC-DS planner shapes (reference gate:
  * flink-tpcds-test, 103 variants), the full DDL lifecycle as an
  * oracle-gated query, BIN/HEX scalar parity, and the compressed-format
  * roundtrip (flink-compress module analog). */
object Tpcds4Queries {

  private def sql(text: String): Q =
    Q(run = (s: SparkSession, dir: String) => { Tables.registerAll(s, dir); s.sql(text) },
      oracle = Some(text))

  /** TPC-DS q88 shape — eight independent single-row aggregates
    * cross-joined into one wide row. Each COUNT scans with its own
    * time-band predicate; the planner must keep them parallel independent
    * subplans (a 1×1 cross join chain, no shuffle beyond each agg). */
  val qDsTimeBandsCross: Q = sql("""
    SELECT h0.c AS c_h0_2, h1.c AS c_h3_5, h2.c AS c_h6_8, h3.c AS c_h9_11,
           h4.c AS c_h12_14, h5.c AS c_h15_17, h6.c AS c_h18_20, h7.c AS c_h21_23
    FROM (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 0 AND 2) h0,
         (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 3 AND 5) h1,
         (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 6 AND 8) h2,
         (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 9 AND 11) h3,
         (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 12 AND 14) h4,
         (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 15 AND 17) h5,
         (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 18 AND 20) h6,
         (SELECT COUNT(*) AS c FROM events WHERE EXTRACT(HOUR FROM ts) BETWEEN 21 AND 23) h7""")

  /** TPC-DS q10/q35 shape — EXISTS conjoined with an OR of two more
    * EXISTS (three semi joins, one under a disjunction the planner must
    * not collapse), then demographic aggregate stats. */
  val qDsExistsOr: Q = sql("""
    SELECT c_mktsegment, n_name, COUNT(*) AS n_cust,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT) AS sum_bal_c,
           MIN(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS min_bal_c,
           MAX(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS max_bal_c
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
      AND (EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                     AND o_totalprice > 300000)
        OR EXISTS (SELECT 1 FROM orders o JOIN lineitem ON l_orderkey = o_orderkey
                     WHERE o.o_custkey = c_custkey AND l_returnflag = 'R'))
    GROUP BY c_mktsegment, n_name
    ORDER BY c_mktsegment, n_name""")

  /** TPC-DS q65 shape — below-average-revenue pairs: per-(nation, brand)
    * revenue compared against 60% of that nation's per-brand average,
    * exactly by cross-multiplication (rev·10·n ≤ 6·total). */
  val qDsBelowStoreAvg: Q = sql("""
    WITH rev AS (SELECT n_name, p_brand,
                        CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS BIGINT) AS r
                 FROM lineitem
                 JOIN supplier ON l_suppkey = s_suppkey
                 JOIN nation ON s_nationkey = n_nationkey
                 JOIN part ON l_partkey = p_partkey
                 GROUP BY n_name, p_brand),
         tot AS (SELECT n_name, CAST(SUM(r) AS BIGINT) AS t, COUNT(*) AS nb
                 FROM rev GROUP BY n_name)
    SELECT rev.n_name, p_brand, r AS revenue_q
    FROM rev JOIN tot ON rev.n_name = tot.n_name
    WHERE r * 10 * nb <= t * 6
    ORDER BY rev.n_name, p_brand""")

  /** TPC-DS q59 shape — week-over-week self-join: per-(nation, week)
    * revenue for one year matched against the same week of the next year;
    * the ratio stays exact as the paired quantized sums. Week index =
    * (dayofyear − 1) / 7 — engine-agnostic, unlike WEEK()'s ISO dialects. */
  val qDsWeeklyYoy: Q = sql("""
    WITH wk AS (SELECT n_name,
                       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
                       CAST(FLOOR((dayofyear(o_orderdate) - 1) / 7.0) AS BIGINT) AS wk,
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS rev_c
                FROM orders JOIN customer ON o_custkey = c_custkey
                            JOIN nation ON c_nationkey = n_nationkey
                WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
                GROUP BY 1, 2, 3)
    SELECT a.n_name, a.wk, a.rev_c AS rev_1996_c, b.rev_c AS rev_1997_c
    FROM wk a JOIN wk b ON a.n_name = b.n_name AND a.wk = b.wk
    WHERE a.yr = 1996 AND b.yr = 1997
    ORDER BY a.n_name, a.wk""")

  /** TPC-DS q78 shape — sales with the returned lines removed by a
    * LEFT JOIN … IS NULL against a derived returns table (the planner
    * turns it into an anti join), then per-(customer, year) totals. */
  val qDsNoReturns: Q = sql("""
    WITH ret AS (SELECT l_orderkey AS rk, l_linenumber AS rl
                 FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                 WHERE o_orderstatus = 'F' AND l_returnflag = 'R')
    SELECT o_custkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_quantity * 100.0) AS BIGINT)) AS BIGINT) AS qty_c
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    LEFT JOIN ret ON rk = l_orderkey AND rl = l_linenumber
    WHERE rk IS NULL AND o_custkey <= 200
    GROUP BY o_custkey, yr
    ORDER BY o_custkey, yr""")

  /** TPC-DS q46/q68 shape — mismatch join-back: per-order amount over
    * lines whose supplier sits in a different nation than the customer,
    * then the customer detail joined back onto the top rows. */
  val qDsNationMismatch: Q = sql("""
    WITH mism AS (SELECT l_orderkey AS ok,
                         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS amt_c
                  FROM lineitem
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  WHERE s_nationkey <> c_nationkey
                  GROUP BY l_orderkey)
    SELECT c_custkey, c_name, o_orderkey, amt_c
    FROM mism JOIN orders ON o_orderkey = ok JOIN customer ON o_custkey = c_custkey
    ORDER BY amt_c DESC, o_orderkey LIMIT 50""")

  /** BIN / HEX — the two §2.11 math-family spellings not yet demonstrated
    * (ref FlinkSqlOperatorTable BIN/HEX → SqlFunctionUtils.bin/hex);
    * byte-level hex of both an integer and a string verified against
    * DuckDB's identical functions. */
  val qScalarBits: Q = sql("""
    SELECT p_partkey, bin(p_size) AS b, hex(p_size) AS hx_i, hex(p_brand) AS hx_s
    FROM part ORDER BY p_partkey""")

  /** Full DDL lifecycle, oracle-gated (ref flink-sql-parser ddl package — 30
    * statement classes; SqlCreateTableLike / SqlAlterTableRename /
    * SqlCreateDatabase / SqlUseDatabase): seed a sink, CREATE the base
    * table, clone it with CREATE TABLE … LIKE into a second database with
    * a path override, INSERT INTO (append + view refresh), ALTER RENAME,
    * and read the final table back through the qualified name. */
  val qSqlDdlLifecycle: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/ddl_${san(dir)}"
      val orders = Tables.load(s, dir, "orders")
      // seed: the 'F' subset pre-exists at the sink path (CREATE registers
      // the view by reading the path, so the dir must be non-empty)
      orders.filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").parquet(s"$scratch/sink")
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE base_t (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP(3), o_orderpriority STRING
        ) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
      e.executeSql("CREATE DATABASE mart")
      e.executeSql(s"CREATE TABLE mart.sink_t WITH ('path'='$scratch/sink') LIKE base_t")
      e.executeSql("INSERT INTO mart.sink_t SELECT * FROM base_t WHERE o_orderstatus = 'O'")
      e.executeSql("ALTER TABLE mart.sink_t RENAME TO mart.final_t")
      // leg 2: computed (virtual) column + PARTITIONED BY + NOT ENFORCED
      // constraint (ref SqlCreateTable.java:70 computed columns /
      // partitioned CREATE) — seed the F subset as a partitioned layout,
      // INSERT appends the O partition, the computed total_c derives on
      // every read (never persisted)
      orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        .repartition(col("o_orderstatus"))
        .write.partitionBy("o_orderstatus").mode("overwrite").parquet(s"$scratch/part")
      e.executeSql(s"""
        CREATE TABLE part_t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
          o_orderstatus STRING,
          total_c AS CAST(FLOOR(o_totalprice * 100.0) AS BIGINT),
          PRIMARY KEY (o_orderkey) NOT ENFORCED
        ) PARTITIONED BY (o_orderstatus)
        WITH ('connector'='filesystem', 'path'='$scratch/part', 'format'='parquet')""")
      e.executeSql("""
        INSERT INTO part_t
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM base_t WHERE o_orderstatus = 'O'""")
      e.sqlQuery("""
        SELECT 'plain' AS leg, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM mart.final_t
        GROUP BY o_orderstatus
        UNION ALL
        SELECT 'part' AS leg, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(total_c) AS BIGINT) AS total_c
        FROM part_t
        GROUP BY o_orderstatus
        ORDER BY leg, o_orderstatus""")
    },
    oracle = Some("""
      WITH agg AS (
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
        GROUP BY o_orderstatus)
      SELECT 'plain' AS leg, o_orderstatus, n, total_c FROM agg
      UNION ALL
      SELECT 'part' AS leg, o_orderstatus, n, total_c FROM agg
      ORDER BY leg, o_orderstatus"""))

  /** Static-partition INSERT — ref flink-sql-parser RichSqlInsert:
    * `INSERT INTO t PARTITION (k='v') SELECT …` writes the literal
    * partition (the values become constant columns under the k=v layout)
    * and `INSERT OVERWRITE … PARTITION` replaces ONLY that partition
    * (dynamic overwrite). Seeded with F, the O partition arrives via a
    * static insert, is overwritten once (amounts doubled then restored by
    * a second overwrite), and the read-back aggregate must equal the
    * plain F+O oracle — proving partition-scoped overwrite left F alone. */
  val qSqlStaticPartitionInsert: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/statpart_${san(dir)}"
      val orders = Tables.load(s, dir, "orders")
      orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        .repartition(col("o_orderstatus"))
        .write.partitionBy("o_orderstatus").mode("overwrite").parquet(scratch)
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE base_sp (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
          o_orderstatus STRING
        ) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
      e.executeSql(s"""
        CREATE TABLE spt (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
          o_orderstatus STRING
        ) PARTITIONED BY (o_orderstatus)
        WITH ('connector'='filesystem', 'path'='$scratch', 'format'='parquet')""")
      e.executeSql("""
        INSERT INTO spt PARTITION (o_orderstatus='O')
        SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        FROM base_sp WHERE o_orderstatus = 'O'""")
      // partition-scoped OVERWRITE: replaces O (restoring the amounts),
      // leaves the seeded F partition untouched
      e.executeSql("""
        INSERT OVERWRITE spt PARTITION (o_orderstatus='O')
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM base_sp WHERE o_orderstatus = 'O'""")
      e.sqlQuery("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM spt GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    oracle = Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders WHERE o_orderstatus IN ('F', 'O')
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** TPC-DS q25/q29 NATIVE shape — three-step order lineage
    * (sale → return → re-sale) per (customer, supplier) pair with strict
    * date ordering: the first sale, a first returned shipment at or after
    * it, and a later re-purchase, rolled up to the supplier nation. Each
    * lineage step pre-aggregates to one row per pair BEFORE the three-way
    * equi-join (the 100 TB-safe plan: three map-side-combined hash aggs +
    * hash joins on aggregated keys — never a row-level fact×fact×fact
    * join). The oracle states the algebraically identical single grouped
    * aggregation with FILTER clauses (all three steps share the grouping
    * key, so the 3-way join on it is a column-wise combine) — same rows,
    * measured 70× faster in DuckDB than the join spelling. */
  val qDsLineageChain: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH first_sale AS (
          SELECT o_custkey AS ck, l_suppkey AS sk, MIN(o_orderdate) AS sale_d,
                 CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS sale_c
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          GROUP BY 1, 2),
        first_ret AS (
          SELECT o_custkey AS ck, l_suppkey AS sk, MIN(l_shipdate) AS ret_d,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ret_qty
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          WHERE l_returnflag = 'R'
          GROUP BY 1, 2),
        last_sale AS (
          SELECT o_custkey AS ck, l_suppkey AS sk, MAX(o_orderdate) AS resale_d
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          GROUP BY 1, 2)
        SELECT n_name AS nation, COUNT(*) AS chains,
               CAST(SUM(f.sale_c) AS BIGINT) AS sale_c,
               CAST(SUM(r.ret_qty) AS BIGINT) AS ret_qty
        FROM first_sale f
        JOIN first_ret r ON r.ck = f.ck AND r.sk = f.sk
        JOIN last_sale l ON l.ck = f.ck AND l.sk = f.sk
        JOIN supplier ON s_suppkey = f.sk
        JOIN nation ON n_nationkey = s_nationkey
        WHERE r.ret_d >= f.sale_d AND l.resale_d > r.ret_d
        GROUP BY n_name ORDER BY n_name""")
    },
    oracle = Some("""
      WITH pair AS (
        SELECT o_custkey AS ck, l_suppkey AS sk,
               MIN(o_orderdate) AS sale_d,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS sale_c,
               MIN(l_shipdate) FILTER (WHERE l_returnflag = 'R') AS ret_d,
               CAST(SUM(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS ret_qty,
               MAX(o_orderdate) AS resale_d
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY 1, 2)
      SELECT n_name AS nation, COUNT(*) AS chains,
             CAST(SUM(sale_c) AS BIGINT) AS sale_c, CAST(SUM(ret_qty) AS BIGINT) AS ret_qty
      FROM pair JOIN supplier ON s_suppkey = sk JOIN nation ON n_nationkey = s_nationkey
      WHERE ret_d IS NOT NULL AND ret_d >= sale_d AND resale_d > ret_d
      GROUP BY n_name ORDER BY n_name"""))

  /** Catalog statements — ref ddl/SqlCreateCatalog.java, SqlUseCatalog
    * .java, dql/SqlShowCatalogs.java, SqlShowCurrentCatalog.java: two
    * catalogs created (one WITH options), a database inside one, tables
    * registered under each while USE CATALOG/USE switch the resolution
    * context, then a single query joins both through FULLY-QUALIFIED
    * three-part names from a third (default) catalog. SHOW CURRENT
    * CATALOG/DATABASE are asserted at each switch (metadata reads, not
    * part of the oracle row set). */
  val qSqlCatalogs: Q = Q(
    run = (s, dir) => {
      val e = new EngineEnv(s)
      def cur(stmt: String): String = e.executeSql(stmt).first().getString(0)
      e.executeSql("CREATE CATALOG hub WITH ('type'='generic_in_memory')")
      e.executeSql("CREATE CATALOG ods")
      e.executeSql("CREATE DATABASE ods.raw")
      e.executeSql("USE CATALOG ods")
      require(cur("SHOW CURRENT CATALOG") == "ods", "USE CATALOG did not switch")
      e.executeSql("USE raw")
      require(cur("SHOW CURRENT DATABASE") == "raw", "USE did not switch the database")
      e.executeSql(s"""
        CREATE TABLE ords (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
      e.executeSql("USE CATALOG hub")
      require(cur("SHOW CURRENT DATABASE") == "default_database",
        "USE CATALOG must reset to the catalog's default database")
      e.executeSql(s"""
        CREATE TABLE cust (c_custkey BIGINT, c_mktsegment STRING)
        WITH ('connector'='filesystem', 'path'='$dir/customer.parquet', 'format'='parquet')""")
      require(e.executeSql("SHOW CATALOGS").collect().map(_.getString(0)).toSet ==
        Set("default_catalog", "hub", "ods"), "SHOW CATALOGS must list all three")
      e.executeSql("USE CATALOG default_catalog")
      e.sqlQuery("""
        SELECT c.c_mktsegment AS seg, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM ods.raw.ords AS o
        JOIN hub.default_database.cust AS c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY seg""")
    },
    oracle = Some("""
      SELECT c_mktsegment AS seg, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY seg"""))

  /** Partition-admin DDL — ref ddl/SqlAddPartitions.java,
    * SqlDropPartitions.java, dql/SqlShowPartitions.java over a
    * PARTITIONED BY filesystem table: ADD creates an (empty, SHOW-visible)
    * partition directory, DROP removes one so its rows disappear from
    * read-back, SHOW PARTITIONS tracks the directory layout at every step
    * (asserted; the final aggregate is the oracle row set). */
  val qSqlPartitionAdmin: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/partadmin_${san(dir)}"
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        .repartition(col("o_orderstatus"))
        .write.partitionBy("o_orderstatus").mode("overwrite").parquet(scratch)
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE padm (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
          o_orderstatus STRING
        ) PARTITIONED BY (o_orderstatus)
        WITH ('connector'='filesystem', 'path'='$scratch', 'format'='parquet')""")
      def parts(sql: String = "SHOW PARTITIONS padm"): Seq[String] =
        e.executeSql(sql).collect().map(_.getString(0)).toSeq
      require(parts() == Seq("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"),
        s"unexpected initial layout: ${parts()}")
      e.executeSql("ALTER TABLE padm ADD PARTITION (o_orderstatus='X')")
      require(parts().contains("o_orderstatus=X"), "ADD PARTITION must appear in SHOW")
      require(parts("SHOW PARTITIONS padm PARTITION (o_orderstatus='X')") ==
        Seq("o_orderstatus=X"), "SHOW PARTITIONS filter must select the spec")
      e.executeSql("ALTER TABLE padm ADD IF NOT EXISTS PARTITION (o_orderstatus='X')") // no-op
      e.executeSql("ALTER TABLE padm DROP PARTITION (o_orderstatus='P')")
      require(parts() == Seq("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=X"),
        s"unexpected layout after DROP: ${parts()}")
      e.sqlQuery("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM padm GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    oracle = Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders WHERE o_orderstatus <> 'P'
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Compressed-format roundtrip — the flink-compress module analog:
    * write gzip'd CSV, read it back (codec from the extension), aggregate;
    * the oracle recomputes off the source parquet, so the roundtrip
    * equality IS the codec check. */
  val qSinkRoundtripGz: Q = Q(
    run = (s, dir) => {
      val out = s"/tmp/graft_sink/${san(dir)}/nation_gz"
      Tables.load(s, dir, "nation")
        .write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(out)
      s.read.option("header", "true").option("inferSchema", "true").csv(out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
        .orderBy(col("n_regionkey"))
    },
    oracle = Some("""
      SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_ds_time_bands_cross" -> qDsTimeBandsCross,
    "q_ds_exists_or" -> qDsExistsOr,
    "q_ds_below_store_avg" -> qDsBelowStoreAvg,
    "q_ds_weekly_yoy" -> qDsWeeklyYoy,
    "q_ds_no_returns" -> qDsNoReturns,
    "q_ds_nation_mismatch" -> qDsNationMismatch,
    "q_scalar_bits" -> qScalarBits,
    "q_sql_ddl_lifecycle" -> qSqlDdlLifecycle,
    "q_sql_catalogs" -> qSqlCatalogs,
    "q_sql_partition_admin" -> qSqlPartitionAdmin,
    "q_ds_lineage_chain" -> qDsLineageChain,
    "q_sql_static_partition_insert" -> qSqlStaticPartitionInsert,
    "q_sink_roundtrip_gz" -> qSinkRoundtripGz,
  )
}
