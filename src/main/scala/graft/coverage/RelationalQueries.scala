package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import graft.functions.FlinkFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch relational operator coverage (SURVEY.md §2.2–§2.5, §2.7–§2.11).
  *
  * Each entry re-expresses a reference (BoYiZhang/flink-1.12.2) operator
  * Spark-first: declarative DataFrame plans that Catalyst turns into
  * pushed-down scans + whole-stage-codegen'd joins/aggs. Scale notes per
  * query describe why the plan survives a 1000-executor / 100 TB run.
  *
  * Determinism conventions (the DuckDB oracle must hash-match exactly):
  * double sums go through [[Queries.dsum]]/[[Queries.cents]] (exact integer
  * reductions); double outputs of libm functions through [[Queries.qz6]];
  * every ordering carries a unique tie-break column.
  */
object RelationalQueries {

  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")
  private def cust(s: SparkSession, dir: String) = Tables.load(s, dir, "customer")
  private def supp(s: SparkSession, dir: String) = Tables.load(s, dir, "supplier")
  private def part(s: SparkSession, dir: String) = Tables.load(s, dir, "part")
  private def nat(s: SparkSession, dir: String) = Tables.load(s, dir, "nation")
  private def reg(s: SparkSession, dir: String) = Tables.load(s, dir, "region")

  // ------------------------------------------------------------ §2.2 Calc

  /** Fused project+filter+CASE — ref StreamExecCalc.scala / CalcCodeGenerator
    * .scala; Catalyst plans a single WholeStageCodegen stage, filter pushed
    * to the parquet scan. */
  val qCalc: Q = Q(
    run = (s, dir) =>
      li(s, dir)
        .filter(col("l_returnflag").isin("A", "R") && col("l_extendedprice").between(1000.0, 50000.0))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") < 10, "low").when(col("l_quantity") < 30, "mid").otherwise("high").as("qty_band"),
          coalesce(nullif(col("l_returnflag"), lit("R")), lit("ret")).as("flag2"),
          when(col("l_discount") > 0.05, "disc").otherwise("nodisc").as("disc_band"),
          cents(col("l_extendedprice")).as("price_cents"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    oracle = Some(s"""
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
             COALESCE(NULLIF(l_returnflag, 'R'), 'ret') AS flag2,
             CASE WHEN l_discount > 0.05 THEN 'disc' ELSE 'nodisc' END AS disc_band,
             ${oCents("l_extendedprice")} AS price_cents
      FROM lineitem
      WHERE l_returnflag IN ('A','R') AND l_extendedprice BETWEEN 1000.0 AND 50000.0
      ORDER BY l_orderkey, l_linenumber"""))

  // --------------------------------------------------- §2.11 scalar surface

  /** String-function surface — ref SqlFunctionUtils.java (102 statics),
    * BuiltInFunctionDefinitions.java. All Spark-native (codegen'd); no UDFs. */
  val qScalarString: Q = Q(
    run = (s, dir) =>
      part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        substring(col("p_name"), 3, 10).as("sub"),
        length(col("p_name")).as("len"),
        trim(lit("  x  ")).as("trimmed"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, "#").as("rp"),
        regexp_replace(col("p_name"), "a", "@").as("repl"),
        reverse(col("p_brand")).as("rev"),
        concat_ws("|", col("p_brand"), col("p_type")).as("cw"),
        element_at(split(col("p_type"), " "), 1).as("word0"),
        instr(col("p_name"), "a").as("pos_a"),
        ascii(col("p_brand")).as("asc"),
        chr(lit(65) + col("p_size") % 26).as("ch"),
        repeat(substring(col("p_brand"), 1, 2), 3).as("rep"),
        translate(col("p_name"), "abc", "xyz").as("tr"),
        md5(col("p_name")).as("fp"),
        expr("left(p_name, 4)").as("l4"),
        expr("right(p_name, 4)").as("r4"),
        base64(col("p_brand").cast("binary")).as("b64"))
        .orderBy(col("p_partkey")),
    oracle = Some("""
      SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
             substr(p_name, 3, 10) AS sub, length(p_name) AS len,
             trim('  x  ') AS trimmed,
             lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '#') AS rp,
             regexp_replace(p_name, 'a', '@', 'g') AS repl,
             reverse(p_brand) AS rev,
             concat_ws('|', p_brand, p_type) AS cw,
             string_split(p_type, ' ')[1] AS word0,
             strpos(p_name, 'a') AS pos_a,
             ascii(p_brand) AS asc,
             chr(65 + p_size % 26) AS ch,
             repeat(substr(p_brand, 1, 2), 3) AS rep,
             translate(p_name, 'abc', 'xyz') AS tr,
             md5(p_name) AS fp,
             left(p_name, 4) AS l4, right(p_name, 4) AS r4,
             to_base64(p_brand::BLOB) AS b64
      FROM part ORDER BY p_partkey"""))

  /** Math-function surface — libm results quantized via [[Queries.qz6]]
    * (identical IEEE doubles in, identical quantized doubles out). */
  val qScalarMath: Q = Q(
    run = (s, dir) =>
      part(s, dir).select(
        col("p_partkey"),
        qz6(abs(col("p_retailprice") - 1000.0)).as("ab"),
        floor(col("p_retailprice")).cast("long").as("fl"),
        ceil(col("p_retailprice")).cast("long").as("ce"),
        (col("p_size") % 7).as("md"),
        qz6(pow(col("p_size").cast("double"), 2.0)).as("pw"),
        qz6(sqrt(col("p_retailprice"))).as("sq"),
        // nonpositive input guard: Spark ln(0) yields NULL while DuckDB
        // raises — pin the shared NULL contract explicitly on both sides
        qz6(when(col("p_retailprice") > 0, log(col("p_retailprice")))).as("lnv"),
        qz6(when(col("p_retailprice") > 0, log10(col("p_retailprice")))).as("l10"),
        qz6(log2(col("p_size").cast("double") + 1.0)).as("l2"),
        qz6(exp(col("p_size").cast("double") / 100.0)).as("ex"),
        qz6(sin(col("p_retailprice") / 100.0)).as("sn"),
        qz6(cos(col("p_retailprice") / 100.0)).as("cs"),
        qz6(atan2(col("p_size").cast("double"), lit(7.0))).as("at2"),
        qz6(degrees(col("p_size").cast("double") / 10.0)).as("dg"),
        qz6(radians(col("p_size").cast("double"))).as("rd"),
        signum(col("p_retailprice") - 1000.0).cast("int").as("sg"),
        bin(col("p_size").cast("long")).as("bn"),
        hex(col("p_size").cast("long")).as("hx"))
        .orderBy(col("p_partkey")),
    oracle = Some(s"""
      SELECT p_partkey,
             ${oQz6("abs(p_retailprice - 1000.0)")} AS ab,
             CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
             CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
             p_size % 7 AS md,
             ${oQz6("power(CAST(p_size AS DOUBLE), 2.0)")} AS pw,
             ${oQz6("sqrt(p_retailprice)")} AS sq,
             ${oQz6("CASE WHEN p_retailprice > 0 THEN ln(p_retailprice) END")} AS lnv,
             ${oQz6("CASE WHEN p_retailprice > 0 THEN log10(p_retailprice) END")} AS l10,
             ${oQz6("log2(CAST(p_size AS DOUBLE) + 1.0)")} AS l2,
             ${oQz6("exp(CAST(p_size AS DOUBLE) / 100.0)")} AS ex,
             ${oQz6("sin(p_retailprice / 100.0)")} AS sn,
             ${oQz6("cos(p_retailprice / 100.0)")} AS cs,
             ${oQz6("atan2(CAST(p_size AS DOUBLE), 7.0)")} AS at2,
             ${oQz6("degrees(CAST(p_size AS DOUBLE) / 10.0)")} AS dg,
             ${oQz6("radians(CAST(p_size AS DOUBLE))")} AS rd,
             CAST(sign(p_retailprice - 1000.0) AS INT) AS sg,
             bin(CAST(p_size AS BIGINT)) AS bn,
             hex(CAST(p_size AS BIGINT)) AS hx
      FROM part ORDER BY p_partkey"""))

  /** Temporal surface — ref SqlDateTimeUtils.java (92 statics). Flink's
    * DATE_FORMAT uses Java patterns == Spark's date_format (compatible for
    * free); the oracle translates to strftime. */
  val qScalarDatetime: Q = Q(
    run = (s, dir) =>
      ord(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("d"),
        hour(col("o_orderdate")).as("h"),
        minute(col("o_orderdate")).as("mi"),
        second(col("o_orderdate")).as("sec"),
        (weekday(col("o_orderdate")) + 1).as("isodow"),
        dayofyear(col("o_orderdate")).as("doy"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).as("mstart"),
        date_add(col("o_orderdate").cast("date"), 30).as("d30"),
        datediff(col("o_orderdate").cast("date"), lit("2024-01-01").cast("date")).as("dd"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        timestamp_seconds(unix_timestamp(col("o_orderdate"))).as("ts_round"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm").as("fmt"))
        .orderBy(col("o_orderkey")),
    oracle = Some("""
      SELECT o_orderkey,
             year(o_orderdate) AS y, month(o_orderdate) AS mo, day(o_orderdate) AS d,
             hour(o_orderdate) AS h, minute(o_orderdate) AS mi,
             CAST(floor(second(o_orderdate)) AS BIGINT) AS sec,
             isodow(o_orderdate) AS isodow, dayofyear(o_orderdate) AS doy,
             quarter(o_orderdate) AS q,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mstart,
             CAST(o_orderdate AS DATE) + 30 AS d30,
             datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS dd,
             CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT) AS epoch_s,
             date_trunc('second', o_orderdate) AS ts_round,
             strftime(o_orderdate, '%Y-%m-%d %H:%M') AS fmt
      FROM orders ORDER BY o_orderkey"""))

  /** Flink-only scalar functions registered as SQL UDFs — ref
    * BuiltInFunctionDefinitions.java (SPLIT_INDEX, IS_DIGIT, IS_ALPHA,
    * IS_DECIMAL); thin wrappers (§2.11 note: upgrade to codegen'd
    * Expressions only if bench demands). */
  val qFlinkFns: Q = Q(
    run = (s, dir) => {
      FlinkFunctions.registerAll(s)
      part(s, dir).createOrReplaceTempView("part")
      s.sql("""
        SELECT p_partkey,
               SPLIT_INDEX(p_type, ' ', 1) AS word1,
               IS_DIGIT(CAST(p_size AS STRING)) AS isd,
               IS_ALPHA(p_brand) AS isa,
               IS_DECIMAL(CAST(p_retailprice AS STRING)) AS isdec
        FROM part ORDER BY p_partkey""")
    },
    oracle = Some("""
      SELECT p_partkey,
             string_split(p_type, ' ')[2] AS word1,
             regexp_matches(CAST(p_size AS VARCHAR), '^[0-9]+$') AS isd,
             regexp_matches(p_brand, '^[A-Za-z]+$') AS isa,
             regexp_matches(CAST(p_retailprice AS VARCHAR), '^[-+]?[0-9]*\.?[0-9]+$') AS isdec
      FROM part ORDER BY p_partkey"""))

  // ------------------------------------------------------------ §2.4 joins

  /** Multi-way equi-join with explicit broadcasts of the BOUNDED dims — ref
    * HashJoinOperator.java:58 + BatchExecHashJoinRule.scala:47 (broadcast
    * threshold). At 100 TB: lineitem⋈orders⋈customer shuffle on their keys;
    * nation/region (25/5 rows at ANY scale factor) broadcast. supplier is
    * sf-SCALED (~10⁹ rows at 100 TB) so it must NOT carry a forced broadcast
    * hint (VERDICT r15 #2) — AQE picks broadcast when it fits and a shuffle
    * join when it does not. */
  val qJoinInnerBcast: Q = Q(
    run = (s, dir) => {
      val revenue = dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")
      cust(s, dir)
        .join(ord(s, dir), col("c_custkey") === col("o_custkey"))
        .join(li(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(supp(s, dir), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, dir).filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenue, count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    oracle = Some(s"""
      SELECT n_name, ${oSum("l_extendedprice * (1.0 - l_discount)")} AS revenue, COUNT(*) AS n_items
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_suppkey = s_suppkey
        AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  /** Left outer join with unmatched rows — ref SortMergeFullOuterJoinIterator
    * family; Spark SortMergeJoinExec(LeftOuter). */
  val qJoinLeftOuter: Q = Q(
    run = (s, dir) =>
      cust(s, dir)
        .join(ord(s, dir).filter(col("o_orderstatus") === "P"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_open"),
             coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("open_cents"))
        .orderBy(col("c_custkey")),
    oracle = Some(s"""
      SELECT c_custkey, COUNT(o_orderkey) AS n_open,
             COALESCE(SUM(${oCents("o_totalprice")}), 0)::BIGINT AS open_cents
      FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey"""))

  /** Full outer join of two aggregated sides — ref HashJoinType FULL;
    * at scale both sides are pre-aggregated (small) then shuffled on key. */
  val qJoinFullOuter: Q = Q(
    run = (s, dir) => {
      val a = ev(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      val b = ord(s, dir).filter(col("o_custkey") < 300).groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      a.join(b, col("user_id") === col("o_custkey"), "full")
        .select(coalesce(col("user_id"), col("o_custkey")).as("key"),
                coalesce(col("n_events"), lit(0L)).as("n_events"),
                coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("key"))
    },
    oracle = Some("""
      SELECT COALESCE(user_id, o_custkey) AS key,
             COALESCE(n_events, 0)::BIGINT AS n_events,
             COALESCE(n_orders, 0)::BIGINT AS n_orders
      FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) a
      FULL JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders WHERE o_custkey < 300 GROUP BY o_custkey) b
        ON user_id = o_custkey
      ORDER BY key"""))

  /** Left-semi join (EXISTS) — ref StreamingSemiAntiJoinOperator.java:34 /
    * HashJoinType SEMI. */
  val qJoinSemi: Q = Q(
    run = (s, dir) =>
      cust(s, dir)
        .join(ord(s, dir).filter(col("o_orderstatus") === "P"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey"""))

  /** Left-anti join (NOT EXISTS) — ref HashJoinType ANTI. */
  val qJoinAnti: Q = Q(
    run = (s, dir) =>
      cust(s, dir)
        .join(ord(s, dir).filter(col("o_orderstatus") === "P"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey"""))

  /** Cartesian product of two tiny dims — ref CrossOperator.java /
    * BatchExecNestedLoopJoin. Only ever sane when one side is broadcast. */
  val qJoinCross: Q = Q(
    run = (s, dir) =>
      reg(s, dir).crossJoin(broadcast(nat(s, dir)))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name")),
    oracle = Some("SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"))

  /** Equi-join with a non-equi residual (theta) — ref
    * BatchExecNestedLoopJoinRule / join condition residuals. Planned as a
    * hash join on nationkey + filtered residual, NOT a cartesian product. */
  val qJoinTheta: Q = Q(
    run = (s, dir) =>
      broadcast(supp(s, dir))
        .join(cust(s, dir),
          col("s_nationkey") === col("c_nationkey") &&
            abs(col("s_acctbal") - col("c_acctbal")) < 100.0)
        .select(col("s_suppkey"), col("c_custkey"),
                cents(abs(col("s_acctbal") - col("c_acctbal"))).as("gap_cents"))
        .orderBy(col("s_suppkey"), col("c_custkey")),
    oracle = Some(s"""
      SELECT s_suppkey, c_custkey, ${oCents("abs(s_acctbal - c_acctbal)")} AS gap_cents
      FROM supplier JOIN customer
        ON s_nationkey = c_nationkey AND abs(s_acctbal - c_acctbal) < 100.0
      ORDER BY s_suppkey, c_custkey"""))

  // --------------------------------------------------- §2.5 aggregations

  /** ROLLUP + GROUPING/GROUPING_ID — ref DecomposeGroupingSetsRule.scala →
    * Expand; Catalyst plans the same Expand. Labels coalesced so the oracle
    * never compares NULL group keys. */
  val qAggRollup: Q = Q(
    run = (s, dir) =>
      li(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
             grouping_id().as("gid"))
        .select(
          when(col("gid") >= 2, "ALL").otherwise(col("l_returnflag")).as("flag"),
          when(col("gid") % 2 === 1, "ALL").otherwise(col("l_linestatus")).as("status"),
          col("n"), col("sum_qty"), col("gid"))
        .orderBy(col("gid"), col("flag"), col("status")),
    oracle = Some(s"""
      SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS flag,
             COUNT(*) AS n, ${oSum("l_quantity")} AS sum_qty,
             grouping_id(l_returnflag, l_linestatus) AS gid,
             CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS status
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY gid, flag, status"""))

  /** CUBE over two dims — same Expand machinery, all 4 grouping sets. */
  val qAggCube: Q = Q(
    run = (s, dir) =>
      ord(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("price_cents"), grouping_id().as("gid"))
        .select(
          when(col("gid") >= 2, "ALL").otherwise(col("o_orderstatus")).as("status"),
          when(col("gid") % 2 === 1, "ALL").otherwise(col("o_orderpriority")).as("prio"),
          col("n"), col("price_cents"), col("gid"))
        .orderBy(col("gid"), col("status"), col("prio")),
    oracle = Some(s"""
      SELECT CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
             CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS prio,
             COUNT(*) AS n, SUM(${oCents("o_totalprice")})::BIGINT AS price_cents,
             grouping_id(o_orderstatus, o_orderpriority) AS gid
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY gid, status, prio"""))

  /** DISTINCT aggregates (single + multi-arg) — ref SplitAggregateRule.scala
    * / FlinkAggregateExpandDistinctAggregatesRule; Catalyst's
    * RewriteDistinctAggregates plans the same expand. */
  val qAggDistinct: Q = Q(
    run = (s, dir) =>
      li(s, dir).groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(concat_ws("_", col("l_partkey"), col("l_suppkey"))).as("n_ps"),
          sum_distinct(cents(col("l_quantity"))).as("sum_dist_qty_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    oracle = Some(s"""
      SELECT l_returnflag,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT l_partkey || '_' || l_suppkey) AS n_ps,
             SUM(DISTINCT ${oCents("l_quantity")})::BIGINT AS sum_dist_qty_cents,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** STDDEV/VAR/CORR/COVAR family — ref FlinkSqlOperatorTable STDDEV_POP…
    * VAR_SAMP. Computed from exact integer moments (sum, sum-of-squares,
    * cross-sum as BIGINT) so the reduction is order-independent and the
    * closed-form double math is bit-identical cross-engine — the only way a
    * distributed merge can hash-match a serial oracle. */
  val qAggStats: Q = Q(
    run = (s, dir) => {
      val xq = floor(col("l_discount") * 10000.0).cast("long")
      val yq = floor(col("l_tax") * 10000.0).cast("long")
      li(s, dir).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(xq).as("sx"), sum(xq * xq).as("sxx"),
             sum(yq).as("sy"), sum(yq * yq).as("syy"),
             sum(xq * yq).as("sxy"))
        .select(
          col("l_returnflag"), col("n"),
          ((col("sxx") - col("sx") * col("sx") / col("n").cast("double")) / col("n")).as("var_pop_q"),
          ((col("sxx") - col("sx") * col("sx") / col("n").cast("double")) / (col("n") - 1)).as("var_samp_q"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n").cast("double")) / col("n")).as("stddev_pop_q"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n").cast("double")) / (col("n") - 1)).as("stddev_samp_q"),
          ((col("sxy") - col("sx") * col("sy") / col("n").cast("double")) / col("n")).as("covar_pop_q"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))).as("corr_q"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(xq)::BIGINT AS sx, SUM(xq*xq)::BIGINT AS sxx,
               SUM(yq)::BIGINT AS sy, SUM(yq*yq)::BIGINT AS syy,
               SUM(xq*yq)::BIGINT AS sxy
        FROM (SELECT l_returnflag,
                     CAST(FLOOR(l_discount * 10000.0) AS BIGINT) AS xq,
                     CAST(FLOOR(l_tax * 10000.0) AS BIGINT) AS yq
              FROM lineitem)
        GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             (sxx - sx*sx / CAST(n AS DOUBLE)) / n AS var_pop_q,
             (sxx - sx*sx / CAST(n AS DOUBLE)) / (n - 1) AS var_samp_q,
             sqrt((sxx - sx*sx / CAST(n AS DOUBLE)) / n) AS stddev_pop_q,
             sqrt((sxx - sx*sx / CAST(n AS DOUBLE)) / (n - 1)) AS stddev_samp_q,
             (sxy - sx*sy / CAST(n AS DOUBLE)) / n AS covar_pop_q,
             CAST(n*sxy - sx*sy AS DOUBLE) /
               (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr_q
      FROM m ORDER BY l_returnflag"""))

  /** MAX_BY / MIN_BY with a unique composite ordering key — ref
    * aggfunctions Max/MinWithRetractAggFunction; struct ordering keys give
    * deterministic tie-breaks. */
  val qAggMinMaxBy: Q = Q(
    run = (s, dir) =>
      cust(s, dir).groupBy(col("c_mktsegment"))
        .agg(
          max_by(col("c_name"), struct(col("c_acctbal"), col("c_custkey"))).as("richest"),
          min_by(col("c_name"), struct(col("c_acctbal"), col("c_custkey"))).as("poorest"),
          max(col("c_acctbal")).as("max_bal"),
          min(col("c_acctbal")).as("min_bal"))
        .orderBy(col("c_mktsegment")),
    oracle = Some("""
      WITH r AS (SELECT c_mktsegment, c_name, c_acctbal,
                        row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey DESC) AS rd,
                        row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS ra
                 FROM customer)
      SELECT c_mktsegment,
             max(CASE WHEN rd = 1 THEN c_name END) AS richest,
             max(CASE WHEN ra = 1 THEN c_name END) AS poorest,
             max(c_acctbal) AS max_bal, min(c_acctbal) AS min_bal
      FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** LISTAGG with deterministic ordering — ref ListAggFunction /
    * ListAggWsWithRetractAggFunction: collect_set → array_sort → join
    * (order-independent merge, then one canonical order). */
  val qAggListagg: Q = Q(
    run = (s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(array_join(array_sort(collect_set(col("source"))), ",").as("sources"),
             count(lit(1)).as("n_docs"))
        .orderBy(col("lang")),
    oracle = Some("""
      SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources, COUNT(*) AS n_docs
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** FIRST_VALUE/LAST_VALUE by event time — ref FirstValueWithRetract /
    * LastValueWithRetractAggFunction; expressed as min_by/max_by on a
    * (ts, id) key: order-independent, so partial aggregation still applies
    * (unlike a sort-based first()). */
  val qAggFirstLast: Q = Q(
    run = (s, dir) =>
      ev(s, dir).groupBy(col("user_id"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("first_v"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_v"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .orderBy(col("user_id")),
    oracle = Some("""
      WITH o AS (SELECT user_id, value, ts,
                        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                        count(*) OVER (PARTITION BY user_id) AS n
                 FROM events)
      SELECT user_id,
             max(CASE WHEN rn = 1 THEN value END) AS first_v,
             max(CASE WHEN rn = n THEN value END) AS last_v,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM o GROUP BY user_id ORDER BY user_id"""))

  /** SINGLE_VALUE (errors when a group has >1 row) — ref
    * SingleValueAggFunction; a custom typed Aggregator (§2.14), the Spark
    * analog of Flink's imperative AggregateFunction. The DISTINCT
    * pre-step makes the one-row-per-group CONTRACT explicit in the query
    * (r14: the hostile fixture plants byte-identical duplicate events,
    * which must collapse before SINGLE_VALUE — on raw duplicated input
    * the aggregate's >1-row error is the CORRECT behavior, proven in
    * FunctionsSpec, not a query result). */
  val qAggSingleValue: Q = Q(
    run = (s, dir) => {
      FlinkFunctions.registerAll(s)
      ev(s, dir).createOrReplaceTempView("events")
      s.sql("""
        SELECT event_id, SINGLE_VALUE(value) AS sv
        FROM (SELECT DISTINCT event_id, value FROM events)
        GROUP BY event_id ORDER BY event_id""")
    },
    oracle = Some("SELECT DISTINCT event_id, value AS sv FROM events ORDER BY event_id"))

  // ------------------------------------------------- §2.7 over windows

  /** ROWS-frame running + sliding aggregates — ref operators/over/frame/
    * (13 frame impls, OverWindowFrame.java:47); Spark WindowExec covers
    * every frame. Inputs pre-quantized to integer cents so running sums are
    * exact. */
  val qOverRows: Q = Q(
    run = (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("vc", cents(col("value")))
        .select(col("user_id"), col("event_id"),
          sum(col("vc")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run_sum"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run_n"),
          sum(col("vc")).over(w.rowsBetween(-3, 0)).as("win4_sum"),
          max(col("vc")).over(w.rowsBetween(-3, 0)).as("win4_max"))
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some(s"""
      SELECT user_id, event_id,
             SUM(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_sum,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n,
             SUM(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)::BIGINT AS win4_sum,
             MAX(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS win4_max
      FROM (SELECT user_id, event_id, ts, ${oCents("value")} AS vc FROM events)
      ORDER BY user_id, event_id"""))

  /** RANGE frames: time-interval range (ref RowTimeRangeBoundedPreceding
    * Function.java:55) and numeric range. */
  val qOverRange: Q = Q(
    run = (s, dir) =>
      ev(s, dir)
        .withColumn("vc", cents(col("value")))
        .withColumn("rsum", expr(
          "sum(vc) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)"))
        .withColumn("rcnt", expr(
          "count(1) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)"))
        .withColumn("vsum", expr(
          "sum(vc) OVER (PARTITION BY event_type ORDER BY vc RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)"))
        .select(col("event_id"), col("rsum"), col("rcnt"), col("vsum"))
        .orderBy(col("event_id")),
    oracle = Some(s"""
      SELECT event_id,
             SUM(vc) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)::BIGINT AS rsum,
             COUNT(1) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW) AS rcnt,
             SUM(vc) OVER (PARTITION BY event_type ORDER BY vc RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)::BIGINT AS vsum
      FROM (SELECT event_id, event_type, user_id, ts, ${oCents("value")} AS vc FROM events)
      ORDER BY event_id"""))

  /** Ranking window functions — ref RankAggFunction / FlinkSqlOperatorTable
    * RANK/DENSE_RANK/ROW_NUMBER/NTILE + PERCENT_RANK/CUME_DIST. */
  val qOverRank: Q = Q(
    run = (s, dir) => {
      val byVal = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val total = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      ev(s, dir).select(
        col("event_id"), col("event_type"),
        rank().over(byVal).as("rnk"),
        dense_rank().over(byVal).as("drnk"),
        qz6(percent_rank().over(byVal)).as("prnk"),
        qz6(cume_dist().over(byVal)).as("cdist"),
        row_number().over(total).as("rn"),
        ntile(4).over(total).as("quartile"))
        .orderBy(col("event_id"))
    },
    oracle = Some(s"""
      SELECT event_id, event_type,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             ${oQz6("percent_rank() OVER w")} AS prnk,
             ${oQz6("cume_dist() OVER w")} AS cdist,
             row_number() OVER t AS rn,
             ntile(4) OVER t AS quartile
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value),
             t AS (PARTITION BY event_type ORDER BY value, event_id)
      ORDER BY event_id"""))

  /** LEAD/LAG/FIRST_VALUE/LAST_VALUE/NTH_VALUE over frames — ref
    * LeadLagAggFunction. */
  val qOverLeadLag: Q = Q(
    run = (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev(s, dir)
        .withColumn("vc", cents(col("value")))
        .select(col("user_id"), col("event_id"),
          lead(col("vc"), 1, -1L).over(w).as("next_vc"),
          lag(col("vc"), 1, -1L).over(w).as("prev_vc"),
          lead(col("event_type"), 2, "none").over(w).as("next2_type"),
          first(col("vc")).over(full).as("first_vc"),
          last(col("vc")).over(full).as("last_vc"),
          nth_value(col("vc"), 2).over(full).as("second_vc"))
        .orderBy(col("event_id"))
    },
    oracle = Some(s"""
      SELECT user_id, event_id,
             lead(vc, 1, -1) OVER w AS next_vc,
             lag(vc, 1, -1) OVER w AS prev_vc,
             lead(event_type, 2, 'none') OVER w AS next2_type,
             first_value(vc) OVER wf AS first_vc,
             last_value(vc) OVER wf AS last_vc,
             nth_value(vc, 2) OVER wf AS second_vc
      FROM (SELECT user_id, event_id, event_type, ts, ${oCents("value")} AS vc FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             wf AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY event_id"""))

  // ------------------------------------- §2.8 rank / Top-N / deduplicate

  /** Per-group Top-N via ROW_NUMBER + filter — ref AppendOnlyTopNFunction
    * .java:48 + FlinkLogicalRankRule.scala. At scale: rank predicate lets
    * Spark push a partial TakeOrdered per partition before the shuffle. */
  val qTopNPerGroup: Q = Q(
    run = (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },
    oracle = Some(s"""
      SELECT o_orderpriority, rn, o_orderkey, ${oCents("o_totalprice")} AS price_cents
      FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders)
      WHERE rn <= 3 ORDER BY o_orderpriority, rn"""))

  /** Deduplicate keep-FIRST row per key by event time — ref
    * RowTimeDeduplicateFunction.java:31 (keep-first). */
  val qDedupKeepFirst: Q = Q(
    run = (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("user_id"), col("event_type"))
    },
    oracle = Some("""
      SELECT user_id, event_type, event_id, ts
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id, event_type"""))

  /** Deduplicate keep-LAST row per key — ref
    * ProcTimeDeduplicateKeepLastRowFunction.java. */
  val qDedupKeepLast: Q = Q(
    run = (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("ts").desc, col("event_id").desc)
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("user_id"), col("event_type"))
    },
    oracle = Some("""
      SELECT user_id, event_type, event_id, ts
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id, event_type"""))

  // ------------------------------------------- §2.9 sort / limit / set ops

  /** ORDER BY + LIMIT — ref SortLimitOperator.java; Spark plans
    * TakeOrderedAndProject (per-partition top-K, no full sort shuffle). */
  val qSortLimit: Q = Q(
    run = (s, dir) =>
      li(s, dir)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_extendedprice")).as("price_cents")),
    oracle = Some(s"""
      SELECT l_orderkey, l_linenumber, ${oCents("l_extendedprice")} AS price_cents
      FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"""))

  /** UNION ALL / INTERSECT / EXCEPT (+ALL multiset variants) — ref
    * ReplaceIntersectWithSemiJoinRule / RewriteIntersectAllRule etc.;
    * Catalyst has the identical rewrites. Output normalized to
    * (op, key, multiplicity). */
  val qSetOps: Q = Q(
    run = (s, dir) => {
      val a = li(s, dir).filter(col("l_returnflag") === "A").select(col("l_suppkey"))
      val r = li(s, dir).filter(col("l_returnflag") === "R").select(col("l_suppkey"))
      def counted(df: DataFrame, tag: String): DataFrame =
        df.groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt")).withColumn("op", lit(tag))
      counted(a.union(r), "union_all")
        .unionByName(counted(a.intersect(r), "intersect"))
        .unionByName(counted(a.except(r), "except"))
        .unionByName(counted(a.intersectAll(r), "intersect_all"))
        .unionByName(counted(a.exceptAll(r), "except_all"))
        .select(col("op"), col("l_suppkey"), col("cnt"))
        .orderBy(col("op"), col("l_suppkey"))
    },
    oracle = Some("""
      WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'),
           r AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
      SELECT op, l_suppkey, cnt FROM (
        SELECT 'union_all' AS op, l_suppkey, COUNT(*) AS cnt FROM (SELECT * FROM a UNION ALL SELECT * FROM r) GROUP BY l_suppkey
        UNION ALL SELECT 'intersect', l_suppkey, COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM r) GROUP BY l_suppkey
        UNION ALL SELECT 'except', l_suppkey, COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM r) GROUP BY l_suppkey
        UNION ALL SELECT 'intersect_all', l_suppkey, COUNT(*) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM r) GROUP BY l_suppkey
        UNION ALL SELECT 'except_all', l_suppkey, COUNT(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM r) GROUP BY l_suppkey)
      ORDER BY op, l_suppkey"""))

  // ------------------------------------------- §2.10 UNNEST / correlate

  /** UNNEST (explode) — ref LogicalUnnestRule.scala / SqlUnnestUtils.java;
    * Catalyst Generate node, stays inside codegen. */
  val qUnnestWords: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("word")),
    oracle = Some("""
      SELECT lang, w AS word, COUNT(*) AS n
      FROM documents, unnest(string_split(text, ' ')) u(w)
      GROUP BY lang, w ORDER BY lang, word"""))

  /** UNNEST WITH ORDINALITY (posexplode) — ref Table.joinLateral:511. */
  val qUnnestPos: Q = Q(
    run = (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .filter(col("pos") < 5)
        .select(col("doc_id"), (col("pos") + 1).as("pos1"), col("col").as("word"))
        .orderBy(col("doc_id"), col("pos1")),
    oracle = Some("""
      SELECT doc_id, i AS pos1, string_split(text, ' ')[i] AS word
      FROM documents, LATERAL generate_series(1, 5) g(i)
      WHERE i <= len(string_split(text, ' '))
      ORDER BY doc_id, pos1"""))

  /** Inline VALUES relation broadcast-joined to a fact — ref
    * StreamExecValues.scala / ValuesCodeGenerator; Spark LocalRelation. */
  val qValuesInline: Q = Q(
    run = (s, dir) => {
      val sess = s
      import sess.implicits._
      val weights = Seq(
        ("1-URGENT", 5), ("2-HIGH", 4), ("3-MEDIUM", 3), ("4-NOT SPECIFIED", 2), ("5-LOW", 1)
      ).toDF("o_orderpriority", "w")
      ord(s, dir).join(broadcast(weights), "o_orderpriority")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("w").cast("long")).as("weight_sum"))
        .orderBy(col("o_orderpriority"))
    },
    oracle = Some("""
      SELECT o.o_orderpriority, COUNT(*) AS n_orders, SUM(v.w)::BIGINT AS weight_sum
      FROM orders o JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                                 ('4-NOT SPECIFIED', 2), ('5-LOW', 1)) v(o_orderpriority, w)
        ON o.o_orderpriority = v.o_orderpriority
      GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""))

  // --------------------------------------------------- §4.1 subqueries

  /** Scalar subquery threshold — ref FlinkSubQueryRemoveRule.scala; the
    * aggregate side is a 1-row broadcast, no shuffle of the fact. */
  val qSubqueryScalar: Q = Q(
    run = (s, dir) => {
      val thr = ord(s, dir).agg(davg(col("o_totalprice")).as("thr"))
      ord(s, dir).join(broadcast(thr))
        .filter(col("o_totalprice") > col("thr") * 1.5)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some(s"""
      SELECT o_orderstatus, COUNT(*) AS n, ${oSum("o_totalprice")} AS sum_price
      FROM orders
      WHERE o_totalprice > (SELECT ${oAvg("o_totalprice")} FROM orders) * 1.5
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** IN-subquery (decorrelated to semi join) — ref SEMI_JOIN_RULES,
    * SubQueryDecorrelator.java. */
  val qSubqueryIn: Q = Q(
    run = (s, dir) =>
      ord(s, dir)
        .join(cust(s, dir).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")),
              col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
    oracle = Some("""
      SELECT o_orderpriority, COUNT(*) AS n FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_calc" -> qCalc,
    "q_scalar_string" -> qScalarString,
    "q_scalar_math" -> qScalarMath,
    "q_scalar_datetime" -> qScalarDatetime,
    "q_flink_fns" -> qFlinkFns,
    "q_join_inner_bcast" -> qJoinInnerBcast,
    "q_join_left_outer" -> qJoinLeftOuter,
    "q_join_full_outer" -> qJoinFullOuter,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_cross" -> qJoinCross,
    "q_join_theta" -> qJoinTheta,
    "q_agg_rollup" -> qAggRollup,
    "q_agg_cube" -> qAggCube,
    "q_agg_distinct" -> qAggDistinct,
    "q_agg_stats" -> qAggStats,
    "q_agg_minmaxby" -> qAggMinMaxBy,
    "q_agg_listagg" -> qAggListagg,
    "q_agg_first_last" -> qAggFirstLast,
    "q_agg_single_value" -> qAggSingleValue,
    "q_over_rows" -> qOverRows,
    "q_over_range" -> qOverRange,
    "q_over_rank" -> qOverRank,
    "q_over_leadlag" -> qOverLeadLag,
    "q_topn_per_group" -> qTopNPerGroup,
    "q_dedup_keep_first" -> qDedupKeepFirst,
    "q_dedup_keep_last" -> qDedupKeepLast,
    "q_sort_limit" -> qSortLimit,
    "q_setops" -> qSetOps,
    "q_unnest_words" -> qUnnestWords,
    "q_unnest_pos" -> qUnnestPos,
    "q_values_inline" -> qValuesInline,
    "q_subquery_scalar" -> qSubqueryScalar,
    "q_subquery_in" -> qSubqueryIn,
  )
}
