package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import graft.operators.GraphOps
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Remaining SURVEY §2 operators: lookup (stream-static) join, coGroup,
  * table-aggregate multi-row emit, count windows, Gelly-style graph
  * algorithms. */
object ExtraQueries {

  /** Lookup join: stream enriched against a static (per-batch re-readable)
    * dim table — ref LookupJoinRunner.java:34 + the proc-time temporal join
    * (SURVEY §2.4 maps both to Spark's stream-static join). The dim side is
    * broadcast per micro-batch; no stream-side state. */
  val qStreamLookupJoin: Q = Q(
    run = (s, dir) => {
      val cust = broadcast(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val stream = StreamOps.readTable(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"))
      StreamOps.runToMemory(s, stream, OutputMode.Complete()).orderBy(col("c_mktsegment"))
    },
    oracle = Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n, SUM(${oCents("value")})::BIGINT AS v_cents
      FROM events JOIN customer ON user_id = c_custkey
      WHERE event_type = 'purchase'
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Full coGroup (both sides' groups visible at once) — ref DataSet
    * CoGroupOperator.java / CoGroupedStreams.java; Spark
    * KeyValueGroupedDataset.cogroup. One co-partitioned shuffle. */
  val qCogroup: Q = Q(
    run = (s, dir) => {
      val sess = s
      import sess.implicits._
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("k"), cents(col("o_totalprice")).as("vc")).as[(Long, Long)]
        .groupByKey(_._1)
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("k"), cents(col("c_acctbal")).as("bal")).as[(Long, Long)]
        .groupByKey(_._1)
      orders.cogroup(cust) { (k, os, cs) =>
        val (n, sum) = os.foldLeft((0L, 0L)) { case ((c, t), o) => (c + 1, t + o._2) }
        val bal = cs.map(_._2).toSeq
        Iterator((k, n, sum, bal.length.toLong, bal.sorted.headOption.getOrElse(-1L)))
      }.toDF("k", "n_orders", "sum_cents", "n_cust", "bal_cents")
        .orderBy(col("k"))
    },
    oracle = Some(s"""
      SELECT COALESCE(o.k, c.k) AS k,
             COALESCE(n_orders, 0)::BIGINT AS n_orders, COALESCE(sum_cents, 0)::BIGINT AS sum_cents,
             COALESCE(n_cust, 0)::BIGINT AS n_cust, COALESCE(bal_cents, -1)::BIGINT AS bal_cents
      FROM (SELECT o_custkey AS k, COUNT(*) AS n_orders, SUM(${oCents("o_totalprice")}) AS sum_cents
            FROM orders GROUP BY 1) o
      FULL JOIN (SELECT c_custkey AS k, COUNT(*) AS n_cust, MIN(${oCents("c_acctbal")}) AS bal_cents
                 FROM customer GROUP BY 1) c ON o.k = c.k
      ORDER BY k"""))

  /** TableAggregateFunction (multi-row emit per group, the reference's Top2
    * example) — ref GroupTableAggFunction.java + TableAggregateFunction
    * .java; Spark `flatMapGroups` with a streaming fold that keeps only the
    * running top-2 (no per-group sort/materialization — constant memory per
    * group at any key cardinality). */
  val qTableAggTop2: Q = Q(
    run = (s, dir) => {
      val sess = s
      import sess.implicits._
      ev(s, dir)
        .select(col("event_type"), col("event_id").as("eid"), cents(col("value")).as("vc"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (k: String, it: Iterator[(String, Long, Long)]) =>
          // running top-2 by (vc desc, eid asc)
          var best: List[(Long, Long)] = Nil // (vc, eid)
          it.foreach { case (_, eid, vc) =>
            best = ((vc, eid) :: best).sortBy { case (v, id) => (-v, id) }.take(2)
          }
          best.zipWithIndex.map { case ((vc, eid), i) => (k, i + 1, eid, vc) }.iterator
        }
        .toDF("event_type", "rnk", "event_id", "vc")
        .orderBy(col("event_type"), col("rnk"))
    },
    oracle = Some(s"""
      SELECT event_type, rn AS rnk, event_id, vc
      FROM (SELECT event_type, event_id, ${oCents("value")} AS vc,
                   row_number() OVER (PARTITION BY event_type ORDER BY ${oCents("value")} DESC, event_id) AS rn
            FROM events)
      WHERE rn <= 2 ORDER BY event_type, rnk"""))

  /** Count-based tumbling window (no Spark native) — ref
    * CountTumblingWindowAssigner.java: per-key groups of 5 by event-time
    * arrival order via row_number arithmetic (declarative, shuffles once). */
  val qWindowCountTumble: Q = Q(
    run = (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("wid", floor((col("rn") - 1) / 5).cast("long"))
        .groupBy(col("user_id"), col("wid"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"),
             min(col("ts")).as("w_first"), max(col("ts")).as("w_last"))
        .orderBy(col("user_id"), col("wid"))
    },
    oracle = Some(s"""
      SELECT user_id, CAST(FLOOR((rn - 1) / 5.0) AS BIGINT) AS wid, COUNT(*) AS n,
             SUM(vc)::BIGINT AS v_cents, MIN(ts) AS w_first, MAX(ts) AS w_last
      FROM (SELECT user_id, ts, ${oCents("value")} AS vc,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events)
      GROUP BY 1, 2 ORDER BY user_id, wid"""))

  /** Co-occurrence graph from purchase events: edge when two users purchase
    * within the same 10-MINUTE tumbling window — vertex degrees = Gelly
    * getDegrees (see [[GraphOps]]). The narrow window keeps per-window
    * co-occurrence (and thus edge count / triangle fan-out) bounded as the
    * event volume grows — a day-sized window makes the graph near-complete
    * at 10× data and the triangle join quadratic, the exact hub-explosion
    * GraphOps' scaladoc warns about. */
  private def coEdges(s: SparkSession, dir: String): DataFrame = {
    val p = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), window(col("ts"), "10 minutes").getField("start").as("d")).distinct()
    p.as("a").join(p.as("b"), col("a.d") === col("b.d") && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      .distinct()
  }

  private val oEdges: String = """
    SELECT DISTINCT a.user_id AS src, b.user_id AS dst
    FROM (SELECT DISTINCT user_id, time_bucket(INTERVAL '10 minutes', ts) AS d FROM events WHERE event_type = 'purchase') a
    JOIN (SELECT DISTINCT user_id, time_bucket(INTERVAL '10 minutes', ts) AS d FROM events WHERE event_type = 'purchase') b
      ON a.d = b.d AND a.user_id < b.user_id"""

  val qGraphDegrees: Q = Q(
    run = (s, dir) => GraphOps.degrees(coEdges(s, dir)).orderBy(col("v")),
    oracle = Some(s"""
      WITH e AS ($oEdges)
      SELECT v, COUNT(*) AS degree
      FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
      GROUP BY v ORDER BY v"""))

  /** Triangle enumeration — Gelly library/clustering TriangleEnumerator. */
  val qGraphTriangles: Q = Q(
    run = (s, dir) => GraphOps.triangles(coEdges(s, dir))
      .orderBy(col("a"), col("b"), col("c")),
    oracle = Some(s"""
      WITH e AS ($oEdges)
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1 JOIN e e2 ON e1.dst = e2.src JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst
      ORDER BY a, b, c"""))

  /** Single-source shortest paths from the smallest edge endpoint over the
    * co-purchase graph — Gelly SingleSourceShortestPaths via the delta
    * iteration in [[GraphOps.sssp]]; oracle = bounded recursive-CTE BFS
    * (UNION-dedup keeps the walk table linear in V, never path-explosive). */
  val qGraphSssp: Q = Q(
    run = (s, dir) => {
      val e = coEdges(s, dir)
      val src = e.agg(min(col("src"))).collect()(0).getLong(0) // staging-time scalar
      GraphOps.sssp(e, src).orderBy(col("v"))
    },
    oracle = Some(s"""
      WITH RECURSIVE e AS ($oEdges),
      bi AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
      walk(v, dist) AS (
        SELECT (SELECT MIN(src) FROM e), 0::BIGINT
        UNION
        SELECT bi.v, w.dist + 1 FROM walk w JOIN bi ON bi.u = w.v WHERE w.dist < 20)
      SELECT v, MIN(dist)::BIGINT AS dist FROM walk GROUP BY v ORDER BY v"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_stream_lookup_join" -> qStreamLookupJoin,
    "q_cogroup" -> qCogroup,
    "q_table_agg_top2" -> qTableAggTop2,
    "q_window_count_tumble" -> qWindowCountTumble,
    "q_graph_degrees" -> qGraphDegrees,
    "q_graph_triangles" -> qGraphTriangles,
    "q_graph_sssp" -> qGraphSssp,
  )
}
