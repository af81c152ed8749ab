package graft.coverage

import graft.{Q, Tables}
import graft.Queries._
import graft.table.{GTable, Tumble, Session}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Programmatic Table-API DSL coverage (ref flink-table-api Table.java +
  * Tumble/Session builders): the same answers as the SQL/DataFrame
  * spellings, produced through the fluent facade — proving the third API
  * surface drives identical Catalyst plans. */
object TableApiQueries {

  /** `table.window(Tumble over 10.minutes on 'ts as 'w).groupBy('w,
    * 'event_type).select('w.start, ...)` — the Table-API group-window. */
  val qTableApiTumble: Q = Q(
    run = (s, dir) =>
      GTable(ev(s, dir))
        .window(Tumble over "10 minutes" on "ts" as "w")
        .groupBy(col("w"), col("event_type"))
        .select(col("w.start").as("ws"), col("event_type"),
                count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"))
        .orderBy(col("ws"), col("event_type"))
        .toDataFrame,
    oracle = Some(s"""
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, event_type,
             COUNT(*) AS n, SUM(${oCents("value")})::BIGINT AS v_cents
      FROM events GROUP BY ws, event_type ORDER BY ws, event_type"""))

  /** Session window through the DSL (`Session withGap "30 minutes" on 'ts
    * as 'w`) plus the relational chain: filter → addColumns →
    * renameColumns → join → groupBy/select → orderBy/fetch. */
  val qTableApiRelops: Q = Q(
    run = (s, dir) => {
      val orders = GTable(Tables.load(s, dir, "orders"))
        .filter(col("o_totalprice") > 100000)
        .addColumns("tp_c" -> cents(col("o_totalprice")))
        .renameColumns("o_custkey" -> "ck")
      val customer = GTable(Tables.load(s, dir, "customer"))
      orders.join(customer, col("ck") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .select(col("c_mktsegment"), count(lit(1)).as("n"),
                sum(col("tp_c")).cast("long").as("total_c"))
        .orderBy(col("c_mktsegment"))
        .toDataFrame
    },
    oracle = Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n, SUM(${oCents("o_totalprice")})::BIGINT AS total_c
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 100000
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Session group-window via the DSL — per-user activity islands, same
    * shape as q_window_session but built fluently. */
  val qTableApiSession: Q = Q(
    run = (s, dir) =>
      GTable(ev(s, dir))
        .window(Session withGap "30 minutes" on "ts" as "w")
        .groupBy(col("w"), col("user_id"))
        .select(col("user_id"), col("w.start").as("ws"), col("w.end").as("we"),
                count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("ws"))
        .toDataFrame,
    oracle = Some("""
      WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes' OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM events),
      grp AS (SELECT user_id, ts,
                     SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS g
              FROM ordered)
      SELECT user_id, MIN(ts) AS ws, MAX(ts) + INTERVAL '30 minutes' AS we, COUNT(*) AS n
      FROM grp GROUP BY user_id, g ORDER BY user_id, ws"""))

  /** Over-window through the DSL (`Over partitionBy 'user orderBy 'ts
    * precedingRows 2 ... 'v.sum over 'w`) — trailing 3-row sum per user,
    * the Table-API spelling of the §2.7 analytic frame. */
  val qTableApiOver: Q = Q(
    run = (s, dir) => {
      import graft.table.Over
      val w = Over.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .precedingRows(2)
      GTable(ev(s, dir))
        .select(col("user_id"), col("event_id"),
                w(sum(cents(col("value")))).as("trail3_c"))
        .orderBy(col("user_id"), col("event_id"))
        .toDataFrame
    },
    oracle = Some(s"""
      SELECT user_id, event_id,
             SUM(${oCents("value")}) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::BIGINT AS trail3_c
      FROM events ORDER BY user_id, event_id"""))

  /** FLIP-29 row-based Table API — ref Table.java map/flatMap/aggregate/
    * flatAggregate (1.12): all four composed in one pipeline. map = one
    * composite scalar call per row; flatMap = a table-function call whose
    * array elements become rows (the name-splitting UDTF); aggregate = a
    * struct-valued aggregate per group; flatAggregate = the reference's
    * Top2 TableAggregateFunction shape (multi-row emit per group), lowered
    * to sort_array+slice+explode — map-side partials, only groups shuffle,
    * never a per-group sort of the whole input at the driver. */
  val qTableApiRowops: Q = Q(
    run = (s, dir) => {
      val cust = GTable(Tables.load(s, dir, "customer"))
      val orders = GTable(Tables.load(s, dir, "orders"))
      val m = cust.map(struct(col("c_custkey").as("k"),
        upper(col("c_mktsegment")).as("seg"), cents(col("c_acctbal")).as("bal_c")))
      val fm = cust.flatMap(expr(
          "transform(sequence(1, size(split(c_name, '#'))), " +
          "i -> struct(c_custkey AS k2, cast(i AS bigint) AS pos, " +
          "element_at(split(c_name, '#'), i) AS part))"))
        .filter(col("pos") === 2)
      val ag = orders.groupBy(col("o_custkey"))
        .aggregate(struct(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_c")))
      val top = orders.groupBy(col("o_custkey"))
        .flatAggregate(slice(sort_array(
          collect_list(struct(cents(col("o_totalprice")).as("top_c"))), asc = false), 1, 2))
        .renameColumns("o_custkey" -> "k3")
      m.join(ag, col("k") === col("o_custkey"))
        .join(fm, col("k") === col("k2"))
        .join(top, col("k") === col("k3"))
        .select(col("k"), col("seg"), col("bal_c"), col("part"),
                col("n_orders"), col("sum_c"), col("top_c"))
        .orderBy(col("k"), col("top_c").desc)
        .toDataFrame
    },
    oracle = Some(s"""
      WITH m AS (SELECT c_custkey AS k, upper(c_mktsegment) AS seg,
                        ${oCents("c_acctbal")} AS bal_c FROM customer),
      fm AS (SELECT k2, pos, part FROM (
          SELECT c_custkey AS k2, pe.pos AS pos, pe.part AS part FROM (
            SELECT c_custkey, unnest(list_transform(
                generate_series(1, len(string_split(c_name, '#'))),
                i -> struct_pack(pos := i, part := string_split(c_name, '#')[i]))) AS pe
            FROM customer)) WHERE pos = 2),
      ag AS (SELECT o_custkey, COUNT(*) AS n_orders,
                    CAST(SUM(${oCents("o_totalprice")}) AS BIGINT) AS sum_c
             FROM orders GROUP BY o_custkey),
      top AS (SELECT o_custkey AS k3, top_c FROM (
          SELECT o_custkey, ${oCents("o_totalprice")} AS top_c,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY ${oCents("o_totalprice")} DESC) AS rn
          FROM orders) WHERE rn <= 2)
      SELECT k, seg, bal_c, part, n_orders, sum_c, top_c
      FROM m JOIN ag ON ag.o_custkey = m.k
             JOIN fm ON fm.k2 = m.k
             JOIN top ON top.k3 = m.k
      ORDER BY k, top_c DESC"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_table_api_tumble" -> qTableApiTumble,
    "q_table_api_relops" -> qTableApiRelops,
    "q_table_api_session" -> qTableApiSession,
    "q_table_api_over" -> qTableApiOver,
    "q_table_api_rowops" -> qTableApiRowops,
  )
}
