package graft.coverage

import graft.{Q, Queries}
import graft.Queries._
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured-Streaming coverage (SURVEY.md §2.6 windows, §2.8 streaming
  * Top-N/dedup, §2.13 watermarks, §2.12 CEP): every query here executes a
  * REAL streaming query (readStream → transform → memory sink) — see
  * [[StreamOps]] — and still hash-matches a DuckDB oracle because the
  * fixture is one file → one deterministic micro-batch. */
object StreamingQueries {

  /** Streaming tumbling-window aggregation with watermark, Complete mode —
    * ref WindowOperator.java:93 + WatermarkAssignerOperator; Spark's
    * StateStore-backed windowed agg (same partial/final design as the
    * reference's incremental pane agg). */
  val qStreamTumble: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      val agg = src
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"))
        .select(col("window.start").as("ws"), col("window.end").as("we"),
                col("event_type"), col("n"), col("v_cents"))
      StreamOps.runToMemory(s, agg, OutputMode.Complete()).orderBy(col("ws"), col("event_type"))
    },
    oracle = Some(s"""
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
             time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS we,
             event_type, COUNT(*) AS n, SUM(${oCents("value")})::BIGINT AS v_cents
      FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type"""))

  /** Streaming windowed coGroup — ref CoGroupedStreams.java:134 (see
    * [[StreamOps.windowCoGroup]]): clicks and purchases cogrouped per
    * (user, 10-min window); the "CoGroupFunction" summarizes both side
    * buffers — and windows where one side is EMPTY still emit (n=0, null
    * min), which the window join (q_window_join) by construction cannot
    * produce. APPEND mode: windows emit once finalized under the
    * watermark and their buffers are EVICTED from state (the reference
    * fires-and-purges the same way — state stays bounded by the open
    * window horizon, never all history). Oracle = the per-window FULL
    * OUTER of the two sides, restricted to watermark-finalized windows
    * (window end ≤ max event time − the 0 s delay). */
  val qStreamWindowCogroup: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      val tagged = src.filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id").as("key"),
                when(col("event_type") === "click", 0).otherwise(1).as("side"),
                col("event_id").as("id"), col("ts"))
      val cg = StreamOps.windowCoGroup(s, tagged, "10 minutes")
        .select(col("key"), col("ws"),
                size(col("lefts")).cast("long").as("n_click"),
                size(col("rights")).cast("long").as("n_purchase"),
                array_min(col("lefts")).as("min_click"),
                array_min(col("rights")).as("min_purchase"))
      StreamOps.runToMemory(s, cg, OutputMode.Append()).orderBy(col("key"), col("ws"))
    },
    oracle = Some("""
      WITH src AS (SELECT * FROM events WHERE event_type IN ('click', 'purchase')),
           wm AS (SELECT max(ts) AS w FROM src),
           l AS (SELECT user_id AS key, time_bucket(INTERVAL '10 minutes', ts) AS ws,
                        COUNT(*) AS n_click, MIN(event_id) AS min_click
                 FROM src WHERE event_type = 'click' GROUP BY 1, 2),
           r AS (SELECT user_id AS key, time_bucket(INTERVAL '10 minutes', ts) AS ws,
                        COUNT(*) AS n_purchase, MIN(event_id) AS min_purchase
                 FROM src WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT COALESCE(l.key, r.key) AS key, COALESCE(l.ws, r.ws) AS ws,
             COALESCE(n_click, 0) AS n_click, COALESCE(n_purchase, 0) AS n_purchase,
             min_click, min_purchase
      FROM l FULL JOIN r ON l.key = r.key AND l.ws = r.ws
      WHERE COALESCE(l.ws, r.ws) + INTERVAL '10 minutes' <= (SELECT w FROM wm)
      ORDER BY key, ws"""))

  /** Streaming dedup (keep-first per key) — ref deduplicate/
    * RowTimeDeduplicateFunction.java:31; Spark `dropDuplicates` on a stream
    * = state-backed keep-first. Output = just the keys, so intra-batch
    * arrival order can't affect the hash. */
  val qStreamDedup: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      val dd = src.dropDuplicates("user_id", "event_type").select(col("user_id"), col("event_type"))
      StreamOps.runToMemory(s, dd, OutputMode.Append()).orderBy(col("user_id"), col("event_type"))
    },
    oracle = Some("SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"))

  /** Streaming dedup keep-LAST per key — ref
    * ProcTimeDeduplicateKeepLastRowFunction.java (SURVEY §2.8 "keep-last →
    * flatMapGroupsWithState"): state holds the current winner; each batch
    * emits the refreshed last row per touched key (Update mode). Single
    * deterministic batch → the batch keep-last oracle. */
  val qStreamDedupLast: Q = Q(
    run = (s, dir) => {
      val sess = s
      import sess.implicits._
      val src = StreamOps.readTable(s, dir, "events")
        .select(col("user_id").cast("long").as("u"), col("event_type").as("t"),
                expr("unix_micros(ts)").as("tsu"), col("event_id").cast("long").as("eid"))
        .as[(Long, String, Long, Long)]
        .groupByKey(e => (e._1, e._2))
        .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Update,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          (key: (Long, String), it: Iterator[(Long, String, Long, Long)],
           state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) => {
            val cur = state.getOption
            val best = (cur.toList ++ it.map(e => (e._3, e._4)))
              .maxBy(identity) // (ts, event_id) lexicographic → latest wins
            state.update(best)
            Iterator((key._1, key._2, best._2))
          })
        .toDF("user_id", "event_type", "event_id")
      StreamOps.runToMemory(s, src, OutputMode.Update()).orderBy(col("user_id"), col("event_type"))
    },
    oracle = Some("""
      SELECT user_id, event_type, event_id
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id, event_type"""))

  /** Stream-stream interval join with watermarks on both sides — ref
    * interval/TimeIntervalJoin.java (485 LoC); Spark's native watermarked
    * stream-stream join IS this operator (SURVEY §2.4: "directly
    * supported"). */
  val qStreamIntervalJoin: Q = Q(
    run = (s, dir) => {
      val clicks = StreamOps.readTable(s, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
        .withWatermark("cts", "1 minute")
      val purchases = StreamOps.readTable(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("pts"))
        .withWatermark("pts", "1 minute")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") && col("pts") <= expr("cts + INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
      StreamOps.runToMemory(s, joined, OutputMode.Append())
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
    oracle = Some("""
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
      ORDER BY c.user_id, click_id, purchase_id"""))

  /** Streaming Top-N per key via flatMapGroupsWithState — ref
    * AppendOnlyTopNFunction.java:48 (see [[StreamOps.topNPerType]]). */
  val qStreamTopN: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(s, StreamOps.topNPerType(s, src, 3), OutputMode.Update())
        .orderBy(col("event_type"), col("rn"))
    },
    oracle = Some(s"""
      SELECT event_type, rn, event_id, vc
      FROM (SELECT event_type, event_id, ${oCents("value")} AS vc,
                   row_number() OVER (PARTITION BY event_type ORDER BY ${oCents("value")} DESC, event_id) AS rn
            FROM events)
      WHERE rn <= 3 ORDER BY event_type, rn"""))

  /** Streaming session windows (Update mode + watermark) — ref
    * SessionWindowAssigner.java / MergingWindowSet. */
  val qStreamSession: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      val agg = src
        .withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"))
        .select(col("session_window.start").as("ss"), col("session_window.end").as("se"),
                col("user_id"), col("n"), col("v_cents"))
      StreamOps.runToMemory(s, agg, OutputMode.Complete()).orderBy(col("user_id"), col("ss"))
    },
    oracle = Some(s"""
      WITH x AS (SELECT user_id, ts, value, event_id,
                        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL '30 minutes'
                             THEN 1 ELSE 0 END AS brk
                 FROM events),
           y AS (SELECT user_id, ts, value,
                        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
                 FROM x)
      SELECT min(ts) AS ss, max(ts) + INTERVAL '30 minutes' AS se, user_id,
             COUNT(*) AS n, SUM(${oCents("value")})::BIGINT AS v_cents
      FROM y GROUP BY user_id, sid ORDER BY user_id, ss"""))

  /** Streaming CEP (click → purchase, strict, ≤10 min) via
    * flatMapGroupsWithState — ref CepOperator.java:83 (see
    * [[StreamOps.cepClickPurchase]]); same oracle as the batch NFA. */
  val qStreamCep: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(s, StreamOps.cepClickPurchase(s, src, 10), OutputMode.Update())
        .orderBy(col("user_id"), col("click_id"))
    },
    oracle = Some("""
      WITH s AS (SELECT user_id, event_id, event_type, ts,
                        lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid, lead(ts) OVER w AS nts
                 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS click_id, nid AS purchase_id
      FROM s WHERE event_type = 'click' AND nt = 'purchase' AND nts < ts + INTERVAL '10 minutes'
      ORDER BY user_id, click_id"""))

  /** Streaming count-tumbling window with a count evictor (fires every 5
    * events per key, aggregates the last 3) — ref CountTumblingWindowAssigner
    * + CountEvictor via [[StreamOps.countTumbleWindow]]; partial windows
    * never fire, exactly like the reference. */
  val qStreamCountWindow: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(s, StreamOps.countTumbleWindow(s, src, size = 5, keep = 3), OutputMode.Update())
        .orderBy(col("user_id"), col("win_seq"))
    },
    oracle = Some(s"""
      WITH r AS (SELECT user_id, event_id, ${oCents("value")} AS vc,
                        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                 FROM events),
           g AS (SELECT user_id, event_id, vc,
                        CAST(FLOOR((rn - 1) / 5.0) AS BIGINT) AS win_seq,
                        (rn - 1) % 5 AS pos,
                        COUNT(*) OVER (PARTITION BY user_id, CAST(FLOOR((rn - 1) / 5.0) AS BIGINT)) AS wn
                 FROM r)
      SELECT user_id, win_seq, CAST(3 AS INT) AS n,
             SUM(CASE WHEN pos >= 2 THEN vc END)::BIGINT AS v_cents,
             MAX(CASE WHEN pos = 4 THEN event_id END) AS last_id
      FROM g WHERE wn = 5
      GROUP BY user_id, win_seq ORDER BY user_id, win_seq"""))

  /** Streaming event-time as-of join over two replayed micro-batches
    * (batch 1 = click versions, batch 2 = purchases) — ref
    * TemporalRowTimeJoinOperator.java:77 via [[StreamOps.streamingAsOf]].
    * Lefts are watermark-held: only purchases at or below the batch-1
    * watermark (max click time, ms-truncated — Spark watermarks are
    * millisecond-granular) emit, matched to the latest prior click.
    * Oracle: DuckDB ASOF JOIN + the same watermark cutoff. */
  val qStreamAsOf: Q = Q(
    run = (s, dir) => {
      val e = graft.Tables.load(s, dir, "events")
      def tagged(tpe: String, side: Int) = e.filter(col("event_type") === tpe)
        .select(col("user_id").cast("long").as("key"), lit(side).as("side"),
                expr("unix_micros(ts)").as("tsMicros"), col("event_id").cast("long").as("id"), col("ts"))
      val stream = StreamOps.replay(s, "asof", dir, Seq(tagged("click", 0), tagged("purchase", 1)))
      StreamOps.runToMemory(s, StreamOps.streamingAsOf(s, stream), OutputMode.Update())
        .orderBy(col("key"), col("left_id"))
    },
    oracle = Some("""
      WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
           wm AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS w FROM c)
      SELECT p.user_id AS key, p.event_id AS left_id, c.event_id AS right_id
      FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      WHERE epoch_us(p.ts) <= (SELECT w FROM wm)
      ORDER BY key, left_id"""))

  /** Streaming Window Top-N — the Flink "Window Top-N" cascade (window agg
    * → rank over each CLOSED window): stage 1 is a real watermarked
    * streaming agg in Append mode (only finalized windows reach the sink);
    * stage 2 ranks the materialized finalized windows — the same two-
    * operator cascade the reference plans (StreamExecRank consuming
    * StreamExecWindowAggregate output). */
  val qStreamWindowTopn: Q = Q(
    run = (s, dir) => {
      val agg = StreamOps.readTable(s, dir, "events")
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(sum(cents(col("value"))).as("v_cents"))
        .select(col("window.start").as("ws"), col("user_id"), col("v_cents"))
      val finalized = StreamOps.runToMemory(s, agg, OutputMode.Append())
      finalized.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("ws")).orderBy(col("v_cents").desc, col("user_id"))))
        .filter(col("rk") <= 2)
        .orderBy(col("ws"), col("rk"))
    },
    oracle = Some(s"""
      WITH agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, user_id,
               SUM(${oCents("value")})::BIGINT AS v_cents
        FROM events GROUP BY 1, 2),
      fin AS (SELECT * FROM agg
              WHERE ws + INTERVAL '1 hour' <= (SELECT max(ts) FROM events))
      SELECT ws, user_id, v_cents,
             row_number() OVER (PARTITION BY ws ORDER BY v_cents DESC, user_id) AS rk
      FROM fin QUALIFY rk <= 2 ORDER BY ws, rk"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_stream_asof" -> qStreamAsOf,
    "q_stream_window_topn" -> qStreamWindowTopn,
    "q_stream_count_window" -> qStreamCountWindow,
    "q_stream_tumble" -> qStreamTumble,
    "q_stream_window_cogroup" -> qStreamWindowCogroup,
    "q_stream_dedup" -> qStreamDedup,
    "q_stream_dedup_last" -> qStreamDedupLast,
    "q_stream_interval_join" -> qStreamIntervalJoin,
    "q_stream_topn" -> qStreamTopN,
    "q_stream_session" -> qStreamSession,
    "q_stream_cep" -> qStreamCep,
  )
}
