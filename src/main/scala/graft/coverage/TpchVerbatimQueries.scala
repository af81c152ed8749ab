package graft.coverage

import graft.Q
import graft.Tables
import org.apache.spark.sql.SparkSession

/** The reference's four MODIFIED TPC-H query texts, hosted BYTE-VERBATIM
  * and fully driver-gated (VERDICT r12 Next-round #2).
  *
  * Ref: flink-end-to-end-tests/test-scripts/test-data/tpch/modified-query/
  * {q6,q11,q15,q20}.sql — the TPC-H texts the reference's own Blink batch
  * e2e suite runs (view-free q15, backticked `value` in q11, decimal-free
  * discount arithmetic in q6; see each file's header comments, preserved
  * below). `tools/tpcds_byteaudit.py` pins the embedded texts byte-identical
  * to the kit files.
  *
  * Fixture mapping (the TPC-DS-verbatim recipe, applied to the native
  * TPC-H schema): the engine under test always receives the untouched
  * official text; only the SCHEMA VIEWS adapt the fixture, identically in
  * both engines from one template —
  *  - money/quantity columns become DECIMAL(12,2), so every in-text
  *    aggregate is exact and order-independent (raw double sums would
  *    differ in low bits between Spark's shuffled partials and DuckDB's
  *    serial fold), and q6's `0.06 - 0.01` literal arithmetic is exact
  *    decimal in BOTH engines (as doubles, Spark would compute
  *    0.049999999999999996 while DuckDB folds the literals to
  *    DECIMAL 0.05 — divergent BETWEEN membership);
  *  - l_shipdate shifts back 24 months so the official 1994/1996 windows
  *    land inside the fixture's 1995-2001 span;
  *  - nation keys 7/3 take the official names GERMANY/CANADA; every fifth
  *    part becomes a 'forest %' part (q20's LIKE target);
  *  - supplier gains deterministic s_address/s_phone (absent from the
  *    fixture schema);
  *  - partsupp (no fixture table) derives one row per observed
  *    (l_partkey, l_suppkey) pair: ps_supplycost = MIN line price,
  *    ps_availqty = a key-derived 1..120 value that STRADDLES q20's
  *    `0.5 * sum(l_quantity)` threshold and q11's HAVING fraction
  *    (verified non-degenerate at sf0.01: q11 keeps 1451 of 1690 groups,
  *    q20 keeps 3 of 4 CANADA suppliers).
  *
  * Decimal outputs (q6 revenue, q11 value, q15 total_revenue) are
  * rendered in the ORACLE as exact digit strings via CAST(dec AS VARCHAR)
  * — DuckDB's decimal-to-text is scale-complete ('4050706.3300'), equal to
  * java BigDecimal.toString / python Decimal.__str__ for these scales, so
  * the driver's rendered hash matches Spark's true DECIMAL while DuckDB's
  * float64-lowering pandas client never sees a decimal (the r9 red
  * mechanism). H1 raw-sort safety: each affected result is a single row
  * (q6, q15) or keyed by a unique leading sorted-name column
  * (q11 ps_partkey), so raw-value and rendered orders agree.
  *
  * Scale: lineitem-side filters sit directly over the parquet scan
  * (pushdown through the casting view), the q11/q20 dimension joins are
  * broadcast-size, and q15's revenue-vs-max self-aggregate is two hash
  * aggregates over one shuffle key — no cartesian anywhere.
  */
object TpchVerbatimQueries {

  /** Engine-divergent spellings; the view template below is shared text. */
  private final case class Dialect(
    tbl: String => String,    // fixture base-table spelling
    str: String,              // string type token
    shift: String => String)  // timestamp -> DATE minus 24 months

  private val sparkDialect = Dialect(t => s"tv_$t", "STRING",
    d => s"CAST(CAST($d AS DATE) - INTERVAL 24 MONTH AS DATE)")
  private val duckDialect = Dialect(t => s"main.$t", "VARCHAR",
    d => s"CAST(CAST($d AS DATE) - INTERVAL 24 MONTH AS DATE)")

  /** One schema-view template, instantiated per engine. */
  private def viewSql(t: Dialect): Seq[(String, String)] = {
    import t._
    Seq(
      "lineitem" -> s"""
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
               CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice,
               CAST(l_discount AS DECIMAL(12,2)) AS l_discount,
               CAST(l_tax AS DECIMAL(12,2)) AS l_tax,
               l_returnflag, l_linestatus,
               ${shift("l_shipdate")} AS l_shipdate
        FROM ${tbl("lineitem")}""",
      "supplier" -> s"""
        SELECT s_suppkey, s_name,
               'ADDR_' || CAST(s_suppkey * 37 % 101 AS $str) || '_' ||
                 CAST(s_suppkey AS $str) AS s_address,
               '27-' || lpad(CAST(s_suppkey * 91 % 10000 AS $str), 4, '0') AS s_phone,
               s_nationkey
        FROM ${tbl("supplier")}""",
      "nation" -> s"""
        SELECT n_nationkey,
               CASE WHEN n_nationkey = 7 THEN 'GERMANY'
                    WHEN n_nationkey = 3 THEN 'CANADA'
                    ELSE n_name END AS n_name,
               n_regionkey
        FROM ${tbl("nation")}""",
      "part" -> s"""
        SELECT p_partkey,
               CASE WHEN p_partkey % 5 = 2 THEN 'forest ' || p_name
                    ELSE p_name END AS p_name,
               p_brand, p_type, p_size
        FROM ${tbl("part")}""",
      "partsupp" -> s"""
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               CAST((l_partkey * 7 + l_suppkey * 13) % 120 + 1 AS BIGINT) AS ps_availqty,
               MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
        FROM ${tbl("lineitem")}
        GROUP BY l_partkey, l_suppkey""")
  }

  /** Register the adapted TPC-H schema as Spark temp views over `dir`,
    * once per session ([[Tables.bind]]); fixtures under a tv_ prefix so the
    * hosted names cannot collide with their own base tables — the th_ recipe. */
  def register(s: SparkSession, dir: String): Unit =
    Tables.bind(s, "tpch", dir,
      Seq("lineitem", "supplier", "nation", "part").map(t => s"tv_$t" -> t),
      viewSql(sparkDialect))

  /** DuckDB oracle = the same verbatim text with the schema CTEs
    * prepended; backticks re-quoted for DuckDB only (q11's `value`). */
  private def oracleFor(query: String): String = {
    val ctes = viewSql(duckDialect)
      .map { case (n, sql) => s"$n AS ($sql)" }.mkString(",\n")
    s"WITH $ctes\n" + query.trim.replace('`', '"')
  }

  private def mk(qtext: String, patches: (String, String)*): Q = Q(
    run = (s, dir) => { register(s, dir); new graft.sql.EngineEnv(s).sqlQuery(qtext) },
    oracle = Some(TpcdsVerbatimQueries.applyPatches(oracleFor(qtext), patches)))

  private val q6: String =
"""-- database: presto; groups: tpch; tables: lineitem
SELECT sum(l_extendedprice * l_discount) AS revenue
FROM
  lineitem
WHERE
  l_shipdate >= DATE '1994-01-01'
  AND l_shipdate < DATE '1994-01-01' + INTERVAL '1' YEAR
-- AND l_discount BETWEEN decimal '0.06' - decimal '0.01' AND decimal '0.06' + decimal '0.01'
-- Blink currently does not support the above feature
AND l_discount BETWEEN 0.06 - 0.01 AND 0.06 + 0.01
AND l_quantity < 24"""

  private val q11: String =
"""-- database: presto; groups: tpch; tables: partsupp,supplier,nation
SELECT
  ps_partkey,
--  sum(ps_supplycost * ps_availqty) AS value
  sum(ps_supplycost * ps_availqty) AS `value`
FROM
  partsupp,
  supplier,
  nation
WHERE
  ps_suppkey = s_suppkey
  AND s_nationkey = n_nationkey
  AND n_name = 'GERMANY'
GROUP BY
  ps_partkey
HAVING
  sum(ps_supplycost * ps_availqty) > (
    SELECT sum(ps_supplycost * ps_availqty) * 0.0001
    FROM
      partsupp,
      supplier,
      nation
    WHERE
      ps_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND n_name = 'GERMANY'
  )
ORDER BY
--  value DESC
  `value` DESC"""

  private val q15: String =
"""-- database: presto; groups: tpch; tables: lineitem,supplier
-- CREATE OR REPLACE VIEW revenue AS
--   SELECT
--     l_suppkey AS supplier_no,
--     sum(l_extendedprice * (1 - l_discount)) AS total_revenue
--   FROM
--     lineitem
--   WHERE
--     l_shipdate >= DATE '1996-01-01'
--     AND l_shipdate < DATE '1996-01-01' + INTERVAL '3' MONTH
-- GROUP BY
--   l_suppkey;
--
-- SELECT
--   s_suppkey,
--   s_name,
--   s_address,
--   s_phone,
--   total_revenue
-- FROM
--   supplier,
--   revenue
-- WHERE
--   s_suppkey = supplier_no
--   AND total_revenue = (
--     SELECT max(total_revenue)
--     FROM
--       revenue
--   )
-- ORDER BY
--   s_suppkey;
-- Blink does not support view

SELECT
  s_suppkey,
  s_name,
  s_address,
  s_phone,
  total_revenue
FROM
  supplier, (
  SELECT
    l_suppkey AS supplier_no,
    sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM
    lineitem
  WHERE
    l_shipdate >= DATE '1996-01-01'
    AND l_shipdate < DATE '1996-01-01' + INTERVAL '3' MONTH
  GROUP BY
    l_suppkey) AS revenue
WHERE
  s_suppkey = supplier_no
  AND total_revenue = (
    SELECT max(total_revenue)
    FROM (
      SELECT
        l_suppkey AS supplier_no,
        sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM
        lineitem
      WHERE
        l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-01-01' + INTERVAL '3' MONTH
      GROUP BY
        l_suppkey) AS revenue
  )
ORDER BY
  s_suppkey;"""

  private val q20: String =
"""-- database: presto; groups: tpch; tables: supplier,nation,partsupp,lineitem,part
SELECT
  s_name,
  s_address
FROM
  supplier, nation
WHERE
  s_suppkey IN (
    SELECT ps_suppkey
    FROM
      partsupp
    WHERE
      ps_partkey IN (
        SELECT p_partkey
        FROM
          part
        WHERE
          p_name LIKE 'forest%'
      )
      AND ps_availqty > (
        SELECT 0.5 * sum(l_quantity)
        FROM
          lineitem
        WHERE
          l_partkey = ps_partkey
          AND l_suppkey = ps_suppkey
          -- AND l_shipdate >= date('1994-01-01')
          -- AND l_shipdate < date('1994-01-01') + interval '1' YEAR
          -- Blink does not support the above format
          AND l_shipdate >= date '1994-01-01'
          AND l_shipdate < date '1994-01-01' + interval '1' YEAR
)
)
AND s_nationkey = n_nationkey
AND n_name = 'CANADA'
ORDER BY s_name"""

  val all: Map[String, Q] = Map(
    "q_tpch_v6" -> mk(q6,
      "SELECT sum(l_extendedprice * l_discount) AS revenue" ->
        "SELECT CAST(sum(l_extendedprice * l_discount) AS VARCHAR) AS revenue"),
    "q_tpch_v11" -> mk(q11,
      "  sum(ps_supplycost * ps_availqty) AS \"value\"" ->
        "  CAST(sum(ps_supplycost * ps_availqty) AS VARCHAR) AS \"value\""),
    "q_tpch_v15" -> mk(q15,
      "  s_phone,\n  total_revenue\nFROM" ->
        "  s_phone,\n  CAST(total_revenue AS VARCHAR) AS total_revenue\nFROM"),
    "q_tpch_v20" -> mk(q20))
}
