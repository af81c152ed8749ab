package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import graft.operators.GraphOps
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Second extension batch: streaming over-aggregate, connected components
  * (iterations), decimal exactness, TIME-of-day semantics, multiset
  * aggregation, temporal function batch 2, collection functions
  * (SURVEY §2.5/§2.7/§2.9/§2.11/§2.13, §1.2 type lattice). */
object Extra2Queries {

  /** Streaming over-aggregate (running sum/count per key by event time) —
    * ref RowTimeRowsUnboundedPrecedingFunction (§2.7 streaming over); see
    * [[StreamOps.runningAggPerUser]]. */
  val qStreamOver: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(s, StreamOps.runningAggPerUser(s, src), OutputMode.Update())
        .orderBy(col("user_id"), col("run_n"))
    },
    oracle = Some(s"""
      SELECT user_id, event_id,
             CAST(SUM(${oCents("value")}) OVER w AS BIGINT) AS run_sum,
             COUNT(*) OVER w AS run_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, run_n"""))

  /** Connected components of the purchase co-occurrence graph — Gelly
    * ConnectedComponents via driver-loop label propagation (§2.13
    * Iterations); oracle = recursive-CTE transitive closure. */
  val qGraphComponents: Q = Q(
    run = (s, dir) => {
      val p = ev(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), window(col("ts"), "10 minutes").getField("start").as("d")).distinct()
      val edges = p.as("a").join(p.as("b"), col("a.d") === col("b.d") && col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("src"), col("b.user_id").as("dst")).distinct()
      GraphOps.connectedComponents(edges).orderBy(col("v"))
    },
    oracle = Some("""
      WITH RECURSIVE
      e AS (SELECT DISTINCT a.user_id AS src, b.user_id AS dst
            FROM (SELECT DISTINCT user_id, time_bucket(INTERVAL '10 minutes', ts) AS d FROM events WHERE event_type = 'purchase') a
            JOIN (SELECT DISTINCT user_id, time_bucket(INTERVAL '10 minutes', ts) AS d FROM events WHERE event_type = 'purchase') b
              ON a.d = b.d AND a.user_id < b.user_id),
      bi AS (SELECT src AS v, dst AS u FROM e UNION SELECT dst, src FROM e),
      reach(v, u) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM bi)
        UNION
        SELECT r.v, bi.u FROM reach r JOIN bi ON r.u = bi.v)
      SELECT v, min(u) AS component FROM reach GROUP BY v ORDER BY v"""))

  /** DECIMAL exact arithmetic (§1.2: DecimalType p≤38) — exact sums/min/max
    * over DECIMAL(18,2), no float noise by construction. */
  val qDecimalAgg: Q = Q(
    run = (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").cast("decimal(18,2)").as("d"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("d")).cast("decimal(38,2)").as("sum_d"),
             min(col("d")).as("min_d"), max(col("d")).as("max_d"),
             count(col("d")).as("n"))
        .orderBy(col("l_returnflag")),
    // All three decimal outputs ride as exact digit strings: DuckDB's
    // pandas client lowers EVERY decimal to float64, whose render drops
    // trailing zeros ('904.1' vs Spark's scale-complete '904.10') and goes
    // lossy past ~13 significant digits — the VARCHAR cast is exact at any
    // magnitude (r9: min_d/max_d were green only by fixture luck).
    oracle = Some("""
      SELECT l_returnflag,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_d,
             CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS min_d,
             CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS max_d,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** TIME type semantics (§1.2: Flink TIME → millis-of-day INT, Spark has
    * no TIME type — this is the documented mapping). */
  val qTimeType: Q = Q(
    run = (s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        ((expr("unix_micros(ts)") % 86400000000L) / 1000L).cast("long").as("time_ms"),
        hour(col("ts")).as("h"), minute(col("ts")).as("m"),
        (floor(expr("unix_micros(ts)") / 1000000L) % 60L).cast("long").as("s"))
        .orderBy(col("event_id")),
    oracle = Some("""
      SELECT event_id,
             (epoch_us(ts) % 86400000000) // 1000 AS time_ms,
             hour(ts) AS h, minute(ts) AS m,
             CAST(FLOOR(epoch_us(ts) / 1000000) % 60 AS BIGINT) AS s
      FROM events ORDER BY event_id"""))

  /** MULTISET aggregation (§1.2: multiset → map elem→count; §2.5 COLLECT) —
    * canonical sorted string rendering so the oracle can hash it. */
  val qAggMultiset: Q = Q(
    run = (s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_list(concat(col("event_type"), lit(":"), col("cnt")))), ",").as("multiset"))
        .orderBy(col("user_id")),
    oracle = Some("""
      SELECT user_id, string_agg(event_type || ':' || cnt, ',' ORDER BY event_type) AS multiset
      FROM (SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2)
      GROUP BY user_id ORDER BY user_id"""))

  /** Temporal function batch 2: TIMESTAMPADD/TIMESTAMPDIFF/ADD_MONTHS/
    * LAST_DAY/MAKE_DATE/date_part (§2.11 temporal family). */
  val qScalarDatetime2: Q = Q(
    run = (s, dir) =>
      Tables.load(s, dir, "orders").select(
        col("o_orderkey"),
        expr("timestampadd(HOUR, 3, o_orderdate)").as("plus3h"),
        expr("timestampdiff(DAY, timestamp'1995-01-01 00:00:00', o_orderdate)").as("days_since"),
        add_months(col("o_orderdate").cast("date"), 2).as("plus2mo"),
        last_day(col("o_orderdate").cast("date")).as("eom"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("month_start"),
        dayofweek(col("o_orderdate")).as("dow1sun"))
        .orderBy(col("o_orderkey")),
    oracle = Some("""
      SELECT o_orderkey,
             o_orderdate + INTERVAL '3' HOUR AS plus3h,
             datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL '2' MONTH AS DATE) AS plus2mo,
             last_day(CAST(o_orderdate AS DATE)) AS eom,
             make_date(year(o_orderdate), month(o_orderdate), 1) AS month_start,
             dayofweek(o_orderdate) + 1 AS dow1sun
      FROM orders ORDER BY o_orderkey"""))

  /** Collection functions (§2.11: CARDINALITY / ELEMENT-AT / FLATTEN /
    * contains / sorted join) over the embedding arrays, scalar outputs. */
  val qCollectionFns: Q = Q(
    run = (s, dir) => {
      val arr = transform(slice(col("embedding"), 1, 4), x => floor(x.cast("double") * 1000.0).cast("long"))
      Tables.load(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("card"),
        arr.getItem(1).as("second_q"),
        size(flatten(array(arr, arr))).as("flat_card"),
        array_contains(arr, 0L).as("has_zero"),
        array_join(array_sort(arr), ",").as("sorted_q"),
        element_at(map(lit("a"), arr.getItem(0), lit("b"), arr.getItem(1)), "b").as("map_b"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id, embedding,
                        list_transform(embedding[1:4], x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS arr
                 FROM embeddings)
      SELECT vec_id, len(embedding) AS card,
             arr[2] AS second_q,
             len(flatten([arr, arr])) AS flat_card,
             list_contains(arr, 0) AS has_zero,
             array_to_string(list_sort(arr), ',') AS sorted_q,
             arr[2] AS map_b
      FROM q ORDER BY vec_id"""))

  /** Salted skew join — identical result to the plain equi-join (the
    * oracle), hot keys spread over `factor` reducers (see
    * [[graft.operators.SkewJoin]]). events.user_id ⋈ customer. */
  val qJoinSalted: Q = Q(
    run = (s, dir) => {
      val e = ev(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_custkey"), col("event_id"), cents(col("value")).as("vc"))
      val c = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(e, c, "c_custkey", factor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("v_cents"))
        .orderBy(col("c_mktsegment"))
    },
    oracle = Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n, SUM(${oCents("value")})::BIGINT AS v_cents
      FROM events JOIN customer ON user_id = c_custkey
      WHERE event_type = 'purchase'
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Approximate aggregates (HLL count-distinct, quantile sketch) — ref
    * FlinkSqlOperatorTable APPROX_COUNT_DISTINCT. Sketch internals aren't
    * oracle-replicable, but their error CONTRACTS are: the query emits the
    * exact answers plus in-plan booleans asserting the sketch estimates sit
    * inside their documented bounds (HLL++ rsd 5%; GK percentile within the
    * exact p45..p55 rank envelope), and the oracle expects TRUE — so the
    * driver gate now fails if either sketch ever drifts out of contract.
    * ScaleSpec still pins the numeric error magnitudes. */
  val qAggApprox: Q = Q(
    run = (s, dir) =>
      Tables.load(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
             count(lit(1)).as("n"),
             approx_count_distinct(col("l_partkey")).as("apx"),
             expr("approx_percentile(l_extendedprice, 0.5)").as("p50"),
             expr("percentile(l_extendedprice, 0.45)").as("lo"),
             expr("percentile(l_extendedprice, 0.55)").as("hi"))
        .select(col("l_returnflag"), col("exact_parts"), col("n"),
                (abs(col("apx") - col("exact_parts")) <=
                  col("exact_parts").cast("double") * 0.05).as("hll_ok"),
                (col("p50") >= col("lo") && col("p50") <= col("hi")).as("p50_ok"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts, COUNT(*) AS n,
             TRUE AS hll_ok, TRUE AS p50_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Remaining §2.11 scalar surface: REGEXP_EXTRACT / REGEXP predicate,
    * SHA2, COT, SINH/COSH/TANH (oracle composes exp — Math.sinh vs the
    * formula differ by ulps, absorbed by the 1e-6 quantization), NULLIF,
    * IF, PI, E, and Flink TRUNCATE(x, 2) as the exact floor rewrite. */
  val qScalarMisc: Q = Q(
    run = (s, dir) =>
      Tables.load(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("rx1"),
        col("p_type").rlike("^ECON").as("rxb"),
        sha2(col("p_brand"), 256).as("sh"),
        qz6(expr("cot(cast(p_size as double) + 1.5)")).as("ct"),
        qz6(expr("sinh(cast(p_size as double) / 10.0)")).as("snh"),
        qz6(expr("cosh(cast(p_size as double) / 10.0)")).as("csh"),
        qz6(expr("tanh(cast(p_size as double) / 10.0)")).as("tnh"),
        expr("nullif(p_size, 25)").as("nf"),
        expr("if(p_size > 25, 'big', 'small')").as("iff"),
        expr("pi()").as("piv"),
        qz6(expr("e()")).as("ev"),
        (floor(col("p_retailprice") * 100.0) / 100.0).as("tr2"))
        .orderBy(col("p_partkey")),
    oracle = Some(s"""
      SELECT p_partkey,
             regexp_extract(p_name, '([a-z]+)', 1) AS rx1,
             regexp_matches(p_type, '^ECON') AS rxb,
             sha256(p_brand) AS sh,
             ${oQz6("cot(CAST(p_size AS DOUBLE) + 1.5)")} AS ct,
             ${oQz6("(exp(CAST(p_size AS DOUBLE) / 10.0) - exp(-CAST(p_size AS DOUBLE) / 10.0)) / 2.0")} AS snh,
             ${oQz6("(exp(CAST(p_size AS DOUBLE) / 10.0) + exp(-CAST(p_size AS DOUBLE) / 10.0)) / 2.0")} AS csh,
             ${oQz6("(exp(CAST(p_size AS DOUBLE) / 5.0) - 1.0) / (exp(CAST(p_size AS DOUBLE) / 5.0) + 1.0)")} AS tnh,
             nullif(p_size, 25) AS nf,
             if(p_size > 25, 'big', 'small') AS iff,
             pi() AS piv,
             ${oQz6("exp(1.0)")} AS ev,
             FLOOR(p_retailprice * 100.0) / 100.0 AS tr2
      FROM part ORDER BY p_partkey"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_scalar_misc" -> qScalarMisc,
    "q_join_salted" -> qJoinSalted,
    "q_agg_approx" -> qAggApprox,
    "q_stream_over" -> qStreamOver,
    "q_graph_components" -> qGraphComponents,
    "q_decimal_agg" -> qDecimalAgg,
    "q_time_type" -> qTimeType,
    "q_agg_multiset" -> qAggMultiset,
    "q_scalar_datetime2" -> qScalarDatetime2,
    "q_collection_fns" -> qCollectionFns,
  )
}
