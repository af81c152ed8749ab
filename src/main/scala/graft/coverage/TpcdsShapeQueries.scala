package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** TPC-DS-shaped headline queries over the TPC-H fixture tables — the
  * multi-join / correlated-subquery / grouping-heavy family the reference
  * gates on (flink-end-to-end-tests/flink-tpcds-test/.../TpcdsTestProgram
  * .java:48, 103 queries): these shapes stress the planner (subquery
  * decorrelation, grouping-set expansion, join reordering) rather than
  * single operators. Money math is exact: cents BIGINTs and
  * cross-multiplied rational comparisons, never float thresholds. */
object TpcdsShapeQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** TPC-DS q1/q30 shape — correlated scalar subqueries: customers whose
    * order total exceeds 1.2 × their nation's average, as two correlated
    * aggregates (Catalyst decorrelates both into joins; cross-multiplied
    * BIGINT compare keeps it exact). */
  val qDsCorrSubquery: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH ctot AS (
          SELECT c_custkey, c_nationkey AS nk,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS tot
          FROM customer JOIN orders ON o_custkey = c_custkey
          GROUP BY c_custkey, c_nationkey)
        SELECT t1.c_custkey, t1.tot
        FROM ctot t1
        WHERE 5 * t1.tot * (SELECT COUNT(*) FROM ctot t2 WHERE t2.nk = t1.nk)
              > 6 * (SELECT SUM(t3.tot) FROM ctot t3 WHERE t3.nk = t1.nk)
        ORDER BY t1.c_custkey""")
    },
    oracle = Some("""
      WITH ctot AS (
        SELECT c_custkey, c_nationkey AS nk,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS tot
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_nationkey)
      SELECT t1.c_custkey, t1.tot
      FROM ctot t1
      WHERE 5 * t1.tot * (SELECT COUNT(*) FROM ctot t2 WHERE t2.nk = t1.nk)
            > 6 * (SELECT SUM(t3.tot) FROM ctot t3 WHERE t3.nk = t1.nk)
      ORDER BY t1.c_custkey"""))

  /** TPC-DS q27/q77 shape — GROUPING SETS over three dimensions with
    * grouping_id (bit order matches DuckDB) and a HAVING prune. */
  val qDsGroupingSets: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(s"""
        SELECT r_name, n_name, c_mktsegment,
               CAST(grouping_id(r_name, n_name, c_mktsegment) AS INT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v_cents
        FROM region JOIN nation ON n_regionkey = r_regionkey
                    JOIN customer ON c_nationkey = n_nationkey
                    JOIN orders ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((r_name, n_name, c_mktsegment), (r_name, n_name), (r_name), ())
        HAVING COUNT(*) >= 5
        ORDER BY gid, r_name, n_name, c_mktsegment""")
    },
    oracle = Some("""
      SELECT r_name, n_name, c_mktsegment,
             CAST(grouping_id(r_name, n_name, c_mktsegment) AS INT) AS gid,
             COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v_cents
      FROM region JOIN nation ON n_regionkey = r_regionkey
                  JOIN customer ON c_nationkey = n_nationkey
                  JOIN orders ON o_custkey = c_custkey
      GROUP BY GROUPING SETS ((r_name, n_name, c_mktsegment), (r_name, n_name), (r_name), ())
      HAVING COUNT(*) >= 5
      ORDER BY gid, r_name, n_name, c_mktsegment"""))

  /** TPC-DS q25 shape — 6-way star join with selective filters on three
    * arms; small dims broadcast, facts shuffle on their join keys. */
  val qDsMultijoin: Q = Q(
    run = (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_quantity") > 25)
        .join(t(s, dir, "orders").filter(col("o_orderstatus") =!= "P"),
              col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "part").filter(col("p_size") < 20), col("l_partkey") === col("p_partkey"))
        .groupBy(col("r_name"), col("p_brand"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("r_name"), col("p_brand")),
    oracle = Some(s"""
      SELECT r_name, p_brand, COUNT(*) AS n,
             ${oSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
                    JOIN part ON l_partkey = p_partkey
      WHERE l_quantity > 25 AND o_orderstatus <> 'P' AND p_size < 20
      GROUP BY r_name, p_brand
      ORDER BY r_name, p_brand"""))

  /** TPC-DS q38/q87 shape — cross-channel INTERSECT/EXCEPT: customers
    * active in both date bands, minus the single-band ones. */
  val qDsChannelIntersect: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH early AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
             late AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
        SELECT COUNT(*) AS n_both,
               (SELECT COUNT(*) FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late) x) AS n_early_only
        FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late) b""")
    },
    oracle = Some("""
      WITH early AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
           late AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
      SELECT COUNT(*) AS n_both,
             (SELECT COUNT(*) FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late) x) AS n_early_only
      FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late) b"""))

  /** TPC-DS q67 shape — rank within category over a two-level aggregate,
    * keep the top 2 priorities per market segment. */
  val qDsRankWithin: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH agg AS (
          SELECT c_mktsegment, o_orderpriority,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v_cents
          FROM customer JOIN orders ON o_custkey = c_custkey
          GROUP BY c_mktsegment, o_orderpriority)
        SELECT c_mktsegment, o_orderpriority, v_cents, rk FROM (
          SELECT *, CAST(rank() OVER (PARTITION BY c_mktsegment
                         ORDER BY v_cents DESC, o_orderpriority) AS INT) AS rk
          FROM agg) r
        WHERE rk <= 2
        ORDER BY c_mktsegment, rk""")
    },
    oracle = Some("""
      WITH agg AS (
        SELECT c_mktsegment, o_orderpriority,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v_cents
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_orderpriority)
      SELECT c_mktsegment, o_orderpriority, v_cents, rk FROM (
        SELECT *, CAST(rank() OVER (PARTITION BY c_mktsegment
                       ORDER BY v_cents DESC, o_orderpriority) AS INT) AS rk
        FROM agg) r
      WHERE rk <= 2
      ORDER BY c_mktsegment, rk"""))

  /** TPC-DS q10/q35 shape — correlated EXISTS + NOT EXISTS chain over two
    * fact arms (Catalyst plans semi + anti joins), aggregated per segment. */
  val qDsExistsChain: Q = {
    val sql = """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT) AS bal_cents
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                        WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q71/q76 shape — UNION ALL of three labeled channels re-grouped
    * into a (channel, year) matrix; each branch prunes on its own filter. */
  val qDsUnionChannels: Q = {
    val sql = """
      SELECT src, yr, COUNT(*) AS n, CAST(SUM(price_cents) AS BIGINT) AS v_cents
      FROM (
        SELECT 'open' AS src, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT 'filled', CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT),
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)
        FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'partial', CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT),
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)
        FROM orders WHERE o_orderstatus = 'P') u
      GROUP BY src, yr
      ORDER BY src, yr"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q88 shape — one fact scan fanned into bucketed conditional
    * counts (COUNT(CASE ...)): a single-pass multi-filter aggregate. */
  val qDsCaseCounts: Q = {
    val sql = """
      SELECT
        COUNT(CASE WHEN l_quantity < 10 THEN 1 END) AS n_q_lo,
        COUNT(CASE WHEN l_quantity >= 10 AND l_quantity < 25 THEN 1 END) AS n_q_mid,
        COUNT(CASE WHEN l_quantity >= 25 THEN 1 END) AS n_q_hi,
        COUNT(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'A' THEN 1 END) AS n_disc_a,
        COUNT(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F' THEN 1 END) AS n_rf,
        COUNT(CASE WHEN l_tax = 0.0 THEN 1 END) AS n_notax,
        COUNT(*) AS n_all
      FROM lineitem"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q67 shape — top-3 parts per brand by revenue with the brand
    * total carried by a second window (rank + windowed SUM over the same
    * partition; integer cents, no float thresholds). */
  val qDsWindowedShare: Q = {
    val sql = """
      WITH pr AS (
        SELECT p_brand, p_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS rev
        FROM part JOIN lineitem ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey)
      SELECT p_brand, p_partkey, rev, rk, brand_tot FROM (
        SELECT *, CAST(rank() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_partkey) AS INT) AS rk,
               CAST(SUM(rev) OVER (PARTITION BY p_brand) AS BIGINT) AS brand_tot
        FROM pr) x
      WHERE rk <= 3
      ORDER BY p_brand, rk, p_partkey"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q47 shape — year-over-year deltas per status via LAG over a
    * two-level aggregate. */
  val qDsYearOverYear: Q = {
    val sql = """
      WITH t AS (
        SELECT o_orderstatus AS st, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v_cents
        FROM orders GROUP BY 1, 2)
      SELECT st, yr, v_cents,
             lag(v_cents) OVER (PARTITION BY st ORDER BY yr) AS prev_cents,
             v_cents - COALESCE(lag(v_cents) OVER (PARTITION BY st ORDER BY yr), 0) AS delta_cents
      FROM t ORDER BY st, yr"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q5/q77 shape — ROLLUP over a multi-join (channel totals with
    * region/nation subtotal rows and a grand total). */
  // HAVING COUNT(*) > 0 is a no-op on any non-empty input; it pins the
  // EMPTY-input contract Spark implements (grouping sets emit no rows on
  // an empty relation) so DuckDB's standard grand-total row agrees.
  val qDsRollupJoin: Q = {
    val sql = """
      SELECT r_name, n_name,
             CAST(grouping_id(r_name, n_name) AS INT) AS gid,
             COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v_cents
      FROM region JOIN nation ON n_regionkey = r_regionkey
                  JOIN customer ON c_nationkey = n_nationkey
                  JOIN orders ON o_custkey = c_custkey
      GROUP BY ROLLUP (r_name, n_name)
      HAVING COUNT(*) > 0
      ORDER BY gid, r_name, n_name"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q23 shape — HAVING against a scalar subquery (segments whose
    * order count beats the all-segment average; cross-multiplied exact). */
  val qDsHavingSubquery: Q = {
    val sql = """
      WITH seg AS (
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_mktsegment)
      SELECT c_mktsegment, n FROM seg
      WHERE n * (SELECT COUNT(*) FROM seg) > (SELECT SUM(n) FROM seg)
      ORDER BY c_mktsegment"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-H q17 / TPC-DS q17 shape — correlated per-group average pushed
    * into a fact filter: lineitems under 20% of their part's average
    * quantity, compared exactly by cross-multiplication. */
  val qDsBelowAvgFilter: Q = {
    val sql = """
      WITH pq AS (
        SELECT l_partkey AS pk, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(l_quantity * 100.0) AS BIGINT)) AS BIGINT) AS sq
        FROM lineitem GROUP BY l_partkey)
      SELECT l.l_partkey, COUNT(*) AS n_small,
             CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem l JOIN pq ON pq.pk = l.l_partkey
      WHERE 5 * CAST(FLOOR(l.l_quantity * 100.0) AS BIGINT) * pq.n < pq.sq
      GROUP BY l.l_partkey
      ORDER BY l.l_partkey"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q97 shape — FULL OUTER join of two channel aggregates counting
    * both/left-only/right-only key overlap in one pass. */
  val qDsFullOuterOverlap: Q = {
    val sql = """
      WITH early AS (SELECT o_custkey AS k, COUNT(*) AS n FROM orders
                     WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
           late AS (SELECT o_custkey AS k, COUNT(*) AS n FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1)
      SELECT COUNT(CASE WHEN e.k IS NOT NULL AND l.k IS NOT NULL THEN 1 END) AS n_both,
             COUNT(CASE WHEN l.k IS NULL THEN 1 END) AS n_early_only,
             COUNT(CASE WHEN e.k IS NULL THEN 1 END) AS n_late_only
      FROM early e FULL OUTER JOIN late l ON e.k = l.k"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q31 shape — period-over-period share comparison across two
    * joined aggregates of the same fact (growth flags, exact integer
    * cross-multiplied ratio compare). */
  val qDsPeriodCompare: Q = {
    val sql = """
      WITH y97 AS (SELECT o_orderpriority AS pr,
                          CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v
                   FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997 GROUP BY 1),
           y98 AS (SELECT o_orderpriority AS pr,
                          CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v
                   FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1998 GROUP BY 1)
      SELECT a.pr, a.v AS v97, b.v AS v98,
             (b.v * 100 > a.v * 105) AS grew_5pct
      FROM y97 a JOIN y98 b ON a.pr = b.pr
      ORDER BY a.pr"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q38 shape — customers present in ALL THREE channels via a
    * chained INTERSECT, counted. */
  val qDsTripleIntersect: Q = {
    val sql = """
      SELECT COUNT(*) AS n_all3 FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') x"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q16 shape — NOT IN subquery (null-aware anti join): parts with
    * no lineitem shipped in the first window, counted per brand. */
  val qDsNotIn: Q = {
    val sql = """
      SELECT p_brand, COUNT(*) AS n_unsold
      FROM part
      WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                              WHERE l_shipdate < TIMESTAMP '1995-02-01 00:00:00')
      GROUP BY p_brand
      ORDER BY p_brand"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q51 shape — running cumulative sum compared against the running
    * max of another channel over the same day spine. */
  val qDsMovingCompare: Q = {
    val sql = """
      WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS dt, o_orderstatus AS st,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v
        FROM orders WHERE o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
        GROUP BY 1, 2),
      r AS (SELECT dt, st, v,
                   CAST(SUM(v) OVER (PARTITION BY st ORDER BY dt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   CAST(MAX(v) OVER (PARTITION BY st ORDER BY dt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmax
            FROM d)
      SELECT dt, st, v, cum, runmax FROM r
      WHERE cum > 20 * runmax
      ORDER BY dt, st"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q66 shape — month pivot in one scan via SUM(CASE), per status. */
  val qDsPivotCase: Q = {
    val sql = """
      SELECT o_orderstatus,
             CAST(SUM(CASE WHEN EXTRACT(MONTH FROM o_orderdate) = 1 THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS jan_cents,
             CAST(SUM(CASE WHEN EXTRACT(MONTH FROM o_orderdate) = 2 THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS feb_cents,
             CAST(SUM(CASE WHEN EXTRACT(MONTH FROM o_orderdate) = 3 THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS mar_cents,
             CAST(SUM(CASE WHEN EXTRACT(MONTH FROM o_orderdate) = 4 THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS apr_cents
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** Cohort shape (first-touch then aggregate — the q30/q81 family): first
    * order year per customer, then cohort size and value per (year,
    * segment). */
  val qDsCohort: Q = {
    val sql = """
      WITH firsts AS (
        SELECT o_custkey, CAST(MIN(EXTRACT(YEAR FROM o_orderdate)) AS BIGINT) AS first_yr
        FROM orders GROUP BY o_custkey),
      tot AS (
        SELECT o_custkey, CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS v
        FROM orders GROUP BY o_custkey)
      SELECT f.first_yr, c.c_mktsegment, COUNT(*) AS n_customers,
             CAST(SUM(t.v) AS BIGINT) AS v_cents
      FROM firsts f JOIN tot t ON t.o_custkey = f.o_custkey
                    JOIN customer c ON c.c_custkey = f.o_custkey
      GROUP BY f.first_yr, c.c_mktsegment
      ORDER BY f.first_yr, c.c_mktsegment"""
    Q(run = (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, oracle = Some(sql))
  }

  /** TPC-DS q44/q65 shape — LATERAL top-1-per-group: for each nation, the
    * single biggest-spending customer via a correlated LATERAL subquery
    * with ORDER BY + LIMIT (the planner must decorrelate the limit, not
    * re-execute per row). */
  val qDsLateralTopn: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_name, x.c_custkey, x.tot
        FROM nation JOIN LATERAL (
          SELECT c_custkey,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS tot
          FROM customer JOIN orders ON o_custkey = c_custkey
          WHERE c_nationkey = n_nationkey
          GROUP BY c_custkey
          ORDER BY tot DESC, c_custkey LIMIT 1) x
        ORDER BY n_name""")
    },
    oracle = Some("""
      SELECT n_name, x.c_custkey, x.tot
      FROM nation JOIN LATERAL (
        SELECT c_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS tot
        FROM customer JOIN orders ON o_custkey = c_custkey
        WHERE c_nationkey = n_nationkey
        GROUP BY c_custkey
        ORDER BY tot DESC, c_custkey LIMIT 1) x ON TRUE
      ORDER BY n_name"""))

  /** TPC-DS q14/q38 shape — several COUNT(DISTINCT) columns in one
    * aggregate (planner expands to a grouping-id Expand + two-level agg so
    * each distinct count shuffles once, never a per-column re-scan). */
  val qDsMultiDistinct: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_name,
               COUNT(DISTINCT o_custkey) AS n_cust,
               COUNT(DISTINCT o_orderpriority) AS n_prio,
               COUNT(DISTINCT o_orderstatus) AS n_status,
               COUNT(*) AS n_orders
        FROM nation JOIN customer ON c_nationkey = n_nationkey
                    JOIN orders ON o_custkey = c_custkey
        GROUP BY n_name ORDER BY n_name""")
    },
    oracle = Some("""
      SELECT n_name,
             COUNT(DISTINCT o_custkey) AS n_cust,
             COUNT(DISTINCT o_orderpriority) AS n_prio,
             COUNT(DISTINCT o_orderstatus) AS n_status,
             COUNT(*) AS n_orders
      FROM nation JOIN customer ON c_nationkey = n_nationkey
                  JOIN orders ON o_custkey = c_custkey
      GROUP BY n_name ORDER BY n_name"""))

  /** Month-over-month retention (TPC-DS q54-style repeat-buyer analysis):
    * distinct customer-months self-joined one month forward — active and
    * retained counts per month. The distinct frame is built once and
    * joined to itself on (customer, month+1). */
  val qDsRetention: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH om AS (SELECT DISTINCT o_custkey, date_format(o_orderdate, 'yyyy-MM') AS m,
                           date_format(add_months(o_orderdate, 1), 'yyyy-MM') AS m_next
                    FROM orders),
        base AS (SELECT DISTINCT o_custkey, m FROM om),
        nxt AS (SELECT DISTINCT o_custkey, m_next FROM om)
        SELECT b.m AS month, COUNT(*) AS active,
               CAST(SUM(CASE WHEN x.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained
        FROM base b LEFT JOIN nxt x
          ON x.o_custkey = b.o_custkey AND x.m_next = b.m
        GROUP BY b.m ORDER BY b.m""")
    },
    oracle = Some("""
      WITH om AS (SELECT DISTINCT o_custkey, strftime(o_orderdate, '%Y-%m') AS m,
                         strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m') AS m_next
                  FROM orders),
      base AS (SELECT DISTINCT o_custkey, m FROM om),
      nxt AS (SELECT DISTINCT o_custkey, m_next FROM om)
      SELECT b.m AS month, COUNT(*) AS active,
             CAST(SUM(CASE WHEN x.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained
      FROM base b LEFT JOIN nxt x
        ON x.o_custkey = b.o_custkey AND x.m_next = b.m
      GROUP BY b.m ORDER BY b.m"""))

  /** Customer-spend decile analysis (the "segment the customer base"
    * shape). Unique tiebreak keeps bucket assignment deterministic. The
    * input is one row per CUSTOMER — sf-scaled — so the decile split is
    * the exact [[graft.operators.RankSplit]] (bit-identical to
    * `NTILE(10) OVER (ORDER BY tot DESC, c_custkey)`, which the oracle
    * keeps), never a single-partition global-sort window (r15 window
    * lint). */
  val qDsDecile: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      import org.apache.spark.sql.functions._
      val ct = s.sql("""
        SELECT c_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS tot
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey""")
      graft.operators.RankSplit
        .ntileLazy(ct, "tot", "c_custkey", desc = true,
          binShift = 20, buckets = 10, bucketCol = "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), min(col("tot")).as("lo"), max(col("tot")).as("hi"),
          sum(col("tot")).as("v_cents"))
        .orderBy(col("decile"))
    },
    oracle = Some("""
      WITH ct AS (
        SELECT c_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS tot
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey),
      d AS (SELECT c_custkey, tot,
                   NTILE(10) OVER (ORDER BY tot DESC, c_custkey) AS decile FROM ct)
      SELECT decile, COUNT(*) AS n, MIN(tot) AS lo, MAX(tot) AS hi,
             CAST(SUM(tot) AS BIGINT) AS v_cents
      FROM d GROUP BY decile ORDER BY decile"""))

  /** Exact discrete median per group (no percentile_disc dependence: the
    * (cnt+1)/2-th value by row_number with a unique tiebreak — identical
    * on both engines, unlike interpolating percentile_cont). */
  val qDsMedian: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH o AS (
          SELECT n_name, CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v, o_orderkey
          FROM nation JOIN customer ON c_nationkey = n_nationkey
                      JOIN orders ON o_custkey = c_custkey),
        r AS (SELECT n_name, v,
                     row_number() OVER (PARTITION BY n_name ORDER BY v, o_orderkey) AS rn,
                     COUNT(*) OVER (PARTITION BY n_name) AS cnt
              FROM o)
        SELECT n_name, v AS median_cents FROM r
        WHERE rn = (cnt + 1) DIV 2 ORDER BY n_name""")
    },
    oracle = Some("""
      WITH o AS (
        SELECT n_name, CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v, o_orderkey
        FROM nation JOIN customer ON c_nationkey = n_nationkey
                    JOIN orders ON o_custkey = c_custkey),
      r AS (SELECT n_name, v,
                   row_number() OVER (PARTITION BY n_name ORDER BY v, o_orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY n_name) AS cnt
            FROM o)
      SELECT n_name, v AS median_cents FROM r
      WHERE rn = (cnt + 1) // 2 ORDER BY n_name"""))

  /** TPC-DS q34/q73 shape — frequency buckets then detail join-back:
    * customers with 8-12 orders (the HAVING BETWEEN bucket), re-joined to
    * the dimension for per-row detail. */
  val qDsFrequentBuckets: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH freq AS (
          SELECT o_custkey, COUNT(*) AS cnt
          FROM orders GROUP BY o_custkey
          HAVING COUNT(*) BETWEEN 8 AND 12)
        SELECT c.c_custkey, c.c_mktsegment, f.cnt
        FROM freq f JOIN customer c ON c.c_custkey = f.o_custkey
        ORDER BY f.cnt DESC, c.c_custkey""")
    },
    oracle = Some("""
      WITH freq AS (
        SELECT o_custkey, COUNT(*) AS cnt
        FROM orders GROUP BY o_custkey
        HAVING COUNT(*) BETWEEN 8 AND 12)
      SELECT c.c_custkey, c.c_mktsegment, f.cnt
      FROM freq f JOIN customer c ON c.c_custkey = f.o_custkey
      ORDER BY f.cnt DESC, c.c_custkey"""))

  /** TPC-DS q49 shape — UNION ALL of two differently-ranked metrics with a
    * channel tag, re-sorted globally: rank by revenue and rank by order
    * count over the same base aggregate, top-5 each. The global top-5 is
    * `ORDER BY … LIMIT 5` (Spark's TakeOrderedAndProject — per-partition
    * heaps, never a global sort; r15 window lint), with the rank window
    * running over the 5-row LIMIT result only. */
  val qDsUnionRanked: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH base AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS rev,
                 COUNT(*) AS cnt
          FROM orders GROUP BY o_custkey)
        SELECT 'revenue' AS metric, c_custkey, rnk FROM (
          SELECT o_custkey AS c_custkey,
                 row_number() OVER (ORDER BY rev DESC, o_custkey) AS rnk
          FROM (SELECT * FROM base ORDER BY rev DESC, o_custkey LIMIT 5) xt) x
        UNION ALL
        SELECT 'orders' AS metric, c_custkey, rnk FROM (
          SELECT o_custkey AS c_custkey,
                 row_number() OVER (ORDER BY cnt DESC, o_custkey) AS rnk
          FROM (SELECT * FROM base ORDER BY cnt DESC, o_custkey LIMIT 5) yt) y
        ORDER BY metric, rnk""")
    },
    oracle = Some("""
      WITH base AS (
        SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS rev,
               COUNT(*) AS cnt
        FROM orders GROUP BY o_custkey)
      SELECT 'revenue' AS metric, c_custkey, rnk FROM (
        SELECT o_custkey AS c_custkey,
               row_number() OVER (ORDER BY rev DESC, o_custkey) AS rnk FROM base) x
      WHERE rnk <= 5
      UNION ALL
      SELECT 'orders' AS metric, c_custkey, rnk FROM (
        SELECT o_custkey AS c_custkey,
               row_number() OVER (ORDER BY cnt DESC, o_custkey) AS rnk FROM base) y
      WHERE rnk <= 5
      ORDER BY metric, rnk"""))

  /** TPC-DS q93 shape — outer-join net-out arithmetic: per-order quantity
    * net of returns (returnflag 'R' lineitems), COALESCE on the outer side
    * so orders with no returns net in full. */
  val qDsReturnsNet: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH sold AS (
          SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem GROUP BY l_orderkey),
        ret AS (
          SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS rqty
          FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey)
        SELECT s.l_orderkey, s.qty, COALESCE(r.rqty, 0) AS rqty,
               s.qty - COALESCE(r.rqty, 0) AS net_qty
        FROM sold s LEFT JOIN ret r ON r.l_orderkey = s.l_orderkey
        WHERE s.qty - COALESCE(r.rqty, 0) < 30
        ORDER BY s.l_orderkey""")
    },
    oracle = Some("""
      WITH sold AS (
        SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY l_orderkey),
      ret AS (
        SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS rqty
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey)
      SELECT s.l_orderkey, s.qty, COALESCE(r.rqty, 0) AS rqty,
             s.qty - COALESCE(r.rqty, 0) AS net_qty
      FROM sold s LEFT JOIN ret r ON r.l_orderkey = s.l_orderkey
      WHERE s.qty - COALESCE(r.rqty, 0) < 30
      ORDER BY s.l_orderkey"""))

  /** TPC-DS q41/q48 shape — nested OR-of-AND predicate: the normalizer
    * must still push the common conjunct (p_size) to the scan while the
    * disjunction evaluates post-scan. */
  val qDsNestedOr: Q = Q(
    run = (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT p_partkey, p_brand, p_type, p_size
        FROM part
        WHERE p_size <= 12 AND (
              (p_type LIKE 'SMALL%' AND p_brand < 'Brand#3')
           OR (p_type LIKE 'LARGE%' AND p_brand >= 'Brand#4')
           OR (p_size <= 3 AND p_type LIKE 'MEDIUM%'))
        ORDER BY p_partkey""")
    },
    oracle = Some("""
      SELECT p_partkey, p_brand, p_type, p_size
      FROM part
      WHERE p_size <= 12 AND (
            (p_type LIKE 'SMALL%' AND p_brand < 'Brand#3')
         OR (p_type LIKE 'LARGE%' AND p_brand >= 'Brand#4')
         OR (p_size <= 3 AND p_type LIKE 'MEDIUM%'))
      ORDER BY p_partkey"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_ds_triple_intersect" -> qDsTripleIntersect,
    "q_ds_not_in" -> qDsNotIn,
    "q_ds_moving_compare" -> qDsMovingCompare,
    "q_ds_pivot_case" -> qDsPivotCase,
    "q_ds_cohort" -> qDsCohort,
    "q_ds_rollup_join" -> qDsRollupJoin,
    "q_ds_having_subquery" -> qDsHavingSubquery,
    "q_ds_below_avg_filter" -> qDsBelowAvgFilter,
    "q_ds_full_outer_overlap" -> qDsFullOuterOverlap,
    "q_ds_period_compare" -> qDsPeriodCompare,
    "q_ds_corr_subquery" -> qDsCorrSubquery,
    "q_ds_grouping_sets" -> qDsGroupingSets,
    "q_ds_multijoin" -> qDsMultijoin,
    "q_ds_channel_intersect" -> qDsChannelIntersect,
    "q_ds_rank_within" -> qDsRankWithin,
    "q_ds_exists_chain" -> qDsExistsChain,
    "q_ds_union_channels" -> qDsUnionChannels,
    "q_ds_case_counts" -> qDsCaseCounts,
    "q_ds_windowed_share" -> qDsWindowedShare,
    "q_ds_year_over_year" -> qDsYearOverYear,
    "q_ds_lateral_topn" -> qDsLateralTopn,
    "q_ds_multi_distinct" -> qDsMultiDistinct,
    "q_ds_retention" -> qDsRetention,
    "q_ds_decile" -> qDsDecile,
    "q_ds_median" -> qDsMedian,
    "q_ds_frequent_buckets" -> qDsFrequentBuckets,
    "q_ds_union_ranked" -> qDsUnionRanked,
    "q_ds_returns_net" -> qDsReturnsNet,
    "q_ds_nested_or" -> qDsNestedOr,
  )
}
