package graft.coverage

import graft.{Q, Tables}
import graft.streaming.{ChangelogAgg, PrintSink, StreamOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Round-9: the iterative Gelly loops' partitioned fallback path,
  * oracle-gated (the 100×-design close-out). Each q_graph_*_part twin
  * forces `graft.graph.broadcastMaxRows = 0`, so the loop takes the path
  * a graph too big to broadcast would take on a real cluster — static
  * edge frame hash-partitioned on the loop join key once, per-iteration
  * shuffle_hash join building on the |V|-row state frame — and must
  * hash-match the SAME oracle as its broadcast twin (ref Gelly
  * PageRank.java / LabelPropagation.java / CommunityDetection.java /
  * HITS.java, which run on partitioned DataSets and never broadcast the
  * solution set).
  */
object Round9Queries {

  /** Run `body` with the loop broadcast threshold forced to zero. The
    * loops construct eagerly (every round localCheckpoints), so restoring
    * the conf afterwards cannot leak back into the returned plan. */
  private def partitioned[T](s: SparkSession)(body: => T): T =
    StreamOps.withConf(s, "graft.graph.broadcastMaxRows" -> "0")(body)

  val qGraphPagerankPart: Q = Q(
    run = (s, dir) => partitioned(s) {
      graft.operators.GraphOps.pageRank(Round2Queries.coEdges(s, dir), iters = 10)
        .orderBy(col("v"))
    },
    oracle = Round2Queries.qGraphPagerank.oracle)

  val qGraphLabelPropPart: Q = Q(
    run = (s, dir) => partitioned(s) {
      graft.operators.GraphOps.labelPropagation(Round2Queries.coEdges(s, dir), iters = 3)
        .orderBy(col("v"))
    },
    oracle = Round7Queries.qGraphLabelProp.oracle)

  val qGraphCommunityPart: Q = Q(
    run = (s, dir) => partitioned(s) {
      graft.operators.GraphOps.communityDetection(Round2Queries.coEdges(s, dir), iters = 3)
        .orderBy(col("v"))
    },
    oracle = Round7Queries.qGraphCommunity.oracle)

  val qGraphHitsPart: Q = Q(
    run = (s, dir) => partitioned(s) {
      graft.operators.GraphOps.hits(Round2Queries.coEdges(s, dir), iters = 4)
        .orderBy(col("v"))
    },
    oracle = Round7Queries.qGraphHits.oracle)

  /** Print-sink formatted-output contract (SURVEY §2.1 print sink, the
    * last spec-only row): the identifier-prefixed `+I[...]` line rendering
    * of a real retract stream, hash-matched line-for-line — ref
    * PrintTableSinkFactory.java:48 / RowKind.java:25 (see
    * [[graft.streaming.PrintSink]]). The stream is the changelog-agg
    * two-batch count; the oracle rebuilds the exact strings. */
  val qStreamPrintSink: Q = Q(
    run = (s, dir) => {
      val ev = Tables.load(s, dir, "events").select(col("event_id"), col("event_type"))
      val stream = StreamOps.replay(s, "print_sink", dir, Seq(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1)))
      val rendered = PrintSink.render(
        ChangelogAgg.countChangelog(s, stream, "event_type"), "print_sink")
      StreamOps.runToMemory(s, rendered, OutputMode.Update()).orderBy(col("line"))
    },
    oracle = Some("""
      WITH b1 AS (SELECT event_type, COUNT(*) AS c1 FROM events WHERE event_id % 2 = 0 GROUP BY 1),
           b2 AS (SELECT event_type, COUNT(*) AS c2 FROM events WHERE event_id % 2 = 1 GROUP BY 1),
           chg AS (
             SELECT '+I' AS row_kind, event_type AS key, c1 AS cnt FROM b1
             UNION ALL SELECT '-U', b1.event_type, c1 FROM b1
               JOIN b2 ON b1.event_type IS NOT DISTINCT FROM b2.event_type
             UNION ALL SELECT '+U', b1.event_type, c1 + c2 FROM b1
               JOIN b2 ON b1.event_type IS NOT DISTINCT FROM b2.event_type
             UNION ALL SELECT '+I', b2.event_type, c2 FROM b2 WHERE NOT EXISTS (
               SELECT 1 FROM b1 WHERE b1.event_type IS NOT DISTINCT FROM b2.event_type))
      SELECT 'print_sink> ' || row_kind || '[' || COALESCE(key, 'null') || ', ' ||
             CAST(cnt AS VARCHAR) || ']' AS line
      FROM chg ORDER BY line"""))

  val all: Map[String, Q] = Map(
    "q_stream_print_sink" -> qStreamPrintSink,
    "q_graph_pagerank_part" -> qGraphPagerankPart,
    "q_graph_label_prop_part" -> qGraphLabelPropPart,
    "q_graph_community_part" -> qGraphCommunityPart,
    "q_graph_hits_part" -> qGraphHitsPart)
}
