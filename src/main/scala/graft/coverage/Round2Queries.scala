package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import graft.operators.GraphOps
import graft.streaming.StreamOps
import graft.streaming.StreamOps.san
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Round-2 batch/graph/format additions: deterministic PageRank (Gelly
  * linkanalysis parity), the BroadcastProcessFunction rule-stream pattern,
  * and the ORC format roundtrip. */
object Round2Queries {

  /** Co-purchase graph (same edge build as q_graph_components). */
  private[coverage] def coEdges(s: SparkSession, dir: String): DataFrame = {
    val p = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), window(col("ts"), "10 minutes").getField("start").as("d")).distinct()
    p.as("a").join(p.as("b"), col("a.d") === col("b.d") && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst")).distinct()
  }

  private[coverage] val oBi = """
    e AS (SELECT DISTINCT a.user_id AS src, b.user_id AS dst
          FROM (SELECT DISTINCT user_id, time_bucket(INTERVAL '10 minutes', ts) AS d
                FROM events WHERE event_type = 'purchase') a
          JOIN (SELECT DISTINCT user_id, time_bucket(INTERVAL '10 minutes', ts) AS d
                FROM events WHERE event_type = 'purchase') b
            ON a.d = b.d AND a.user_id < b.user_id),
    bi AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    deg AS (SELECT u, COUNT(*) AS dg FROM bi GROUP BY u)"""

  /** Integer PageRank, 10 iterations — ref Gelly PageRank.java. The oracle
    * unrolls the same 10 exact-integer iterations as chained CTEs (floor
    * division per contribution makes every engine agree bit-for-bit). */
  val qGraphPagerank: Q = Q(
    run = (s, dir) => GraphOps.pageRank(coEdges(s, dir), iters = 10).orderBy(col("v")),
    oracle = Some {
      val steps = (1 to 10).map { i =>
        s"""p$i AS (SELECT b.v AS v, (150000 + (85 * SUM(p${i - 1}.s // d.dg)) // 100)::BIGINT AS s
           |        FROM bi b JOIN p${i - 1} ON p${i - 1}.v = b.u JOIN deg d ON d.u = b.u
           |        GROUP BY b.v)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH $oBi,
      p0 AS (SELECT u AS v, 1000000::BIGINT AS s FROM deg),
      $steps
      SELECT v, s AS score_ppm FROM p10 ORDER BY v"""
    })

  /** Broadcast rule stream — ref BroadcastProcessFunction/BroadcastState:
    * batch 1 installs thresholds for click/view/purchase and filters the
    * even-id events; batch 2 tightens click, adds error, and filters the
    * odd-id events under the UPDATED rules. Types without a rule drop
    * everything (signup never passes; error only from batch 2). */
  val qStreamBroadcastRules: Q = Q(
    run = (s, dir) => {
      val data = ev(s, dir).select(col("event_type").as("etype"), lit(1).as("side"),
        col("event_id").as("id"), expr("cast(floor(value * 100.0) as long)").as("v"),
        lit(1L).as("seq"))
      def rules(rs: Seq[(String, Long)]): DataFrame = {
        import s.implicits._
        rs.toDF("etype", "v").select(col("etype"), lit(0).as("side"),
          lit(-1L).as("id"), col("v"), lit(0L).as("seq"))
      }
      val b1 = rules(Seq(("click", 5000L), ("view", 7000L), ("purchase", 2000L)))
        .unionByName(data.filter(col("id") % 2 === 0))
      val b2 = rules(Seq(("click", 9000L), ("error", 1000L)))
        .unionByName(data.filter(col("id") % 2 === 1))
      val stream = StreamOps.replay(s, "bcast_rules", dir, Seq(b1, b2))
      StreamOps.runToMemory(s, StreamOps.broadcastRuleFilter(s, stream), OutputMode.Update())
        .orderBy(col("event_type"), col("event_id"))
    },
    oracle = Some("""
      WITH r1(etype, th) AS (VALUES ('click', 5000), ('view', 7000), ('purchase', 2000)),
           r2(etype, th) AS (VALUES ('click', 9000), ('view', 7000), ('purchase', 2000), ('error', 1000)),
           d AS (SELECT event_type, event_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS vc
                 FROM events)
      SELECT event_type, event_id, vc AS v_cents FROM d JOIN r1 ON r1.etype = event_type
      WHERE event_id % 2 = 0 AND vc >= th
      UNION ALL
      SELECT event_type, event_id, vc FROM d JOIN r2 ON r2.etype = event_type
      WHERE event_id % 2 = 1 AND vc >= th
      ORDER BY event_type, event_id"""))

  /** ORC format roundtrip — ref flink-formats/flink-orc: write ORC, read
    * back, aggregate; the oracle computes the same numbers off the source
    * parquet (DuckDB cannot read ORC — the roundtrip equality IS the
    * format check). */
  val qSinkRoundtripOrc: Q = Q(
    run = (s, dir) => {
      val out = s"/tmp/graft_sink/${san(dir)}/part_orc"
      Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
                cents(col("p_retailprice")).as("price_cents"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).cast("long").as("sum_cents"),
             min(col("p_size")).as("min_size"))
        .orderBy(col("p_brand"))
    },
    oracle = Some(s"""
      SELECT p_brand, COUNT(*) AS n, SUM(${oCents("p_retailprice")})::BIGINT AS sum_cents,
             min(p_size) AS min_size
      FROM part GROUP BY p_brand ORDER BY p_brand"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_graph_pagerank" -> qGraphPagerank,
    "q_stream_broadcast_rules" -> qStreamBroadcastRules,
    "q_sink_roundtrip_orc" -> qSinkRoundtripOrc,
  )
}
