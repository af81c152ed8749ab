package graft.coverage

import graft.{Q, Tables}
import graft.streaming.{RetractableTopN, StreamJoin, StreamOps}
import graft.streaming.StreamOps.san
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Round-2 streaming coverage: the two-sided changelog joins (SURVEY §2.4
  * "streaming two-sided changelog join" / "streaming semi/anti join" — the
  * round-1 verdict's #1 and #2 gaps).
  *
  * Gating pattern (the q_changelog_agg layout): both sides staged as two
  * replayed micro-batches via [[StreamOps.replay]], the operator's
  * full +I/-D changelog collected from an Update-mode memory sink, then
  * MATERIALIZED (net-positive rows) and hash-compared against the
  * equivalent DuckDB batch join — retraction correctness is exactly what
  * makes the materialized state equal the batch answer, since batch 1
  * null-pads lefts whose right arrives only in batch 2. Row-kind sequences
  * are pinned per-batch in StreamingSpec. */
object Streaming2Queries {

  /** Tagged changelog-join input: left = pricey purchases, right = severe
    * errors (a right-sparse selection so some keys stay null-padded),
    * replayed as two batches split by event-id parity. The three join
    * queries (left_outer/semi/anti) consume identical input, each staged
    * under its own `tag`. */
  private def stagedJoinStream(s: SparkSession, dir: String, tag: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val left = ev.filter(col("event_type") === "purchase" && col("value") > 9.0)
      .select(col("user_id").as("key"), lit(0).as("side"), lit("+I").as("kind"),
              col("event_id").as("id"), col("event_id").as("seq"))
    val right = ev.filter(col("event_type") === "error" && col("value") > 90.0)
      .select(col("user_id").as("key"), lit(1).as("side"), lit("+I").as("kind"),
              col("event_id").as("id"), col("event_id").as("seq"))
    val tagged = left.unionByName(right)
    StreamOps.replay(s, s"chjoin_$tag", dir, Seq(
      tagged.filter(col("id") % 2 === 0), tagged.filter(col("id") % 2 === 1)))
  }

  private val oSides = """
    l AS (SELECT user_id, event_id FROM events WHERE event_type = 'purchase' AND value > 9.0),
    r AS (SELECT user_id, event_id FROM events WHERE event_type = 'error' AND value > 90.0)"""

  /** Streaming LEFT OUTER changelog join — ref StreamingJoinOperator
    * .java:36. The materialized changelog must equal the batch left join:
    * null-padded batch-1 rows whose right arrives in batch 2 are retracted
    * (-D) and replaced, which only a retracting operator can produce. */
  val qStreamChangelogJoin: Q = Q(
    run = (s, dir) => {
      val changelog = StreamOps.runToMemory(
        s, StreamJoin.changelogJoin(s, stagedJoinStream(s, dir, "lo"), "left_outer"),
        OutputMode.Update())
      StreamJoin.materialize(changelog)
        .select(col("key"), col("l_id"), col("r_id"))
        .orderBy(col("key"), col("l_id"), col("r_id"))
    },
    oracle = Some(s"""
      WITH $oSides
      SELECT l.user_id AS key, l.event_id AS l_id, r.event_id AS r_id
      FROM l LEFT JOIN r USING (user_id)
      ORDER BY key, l_id, r_id"""))

  /** Streaming SEMI join (IN/EXISTS on streams) — ref
    * StreamingSemiAntiJoinOperator.java:34: a left row is live while its
    * key has at least one right row. */
  val qStreamSemiJoin: Q = Q(
    run = (s, dir) => {
      val changelog = StreamOps.runToMemory(
        s, StreamJoin.changelogJoin(s, stagedJoinStream(s, dir, "semi"), "semi"),
        OutputMode.Update())
      StreamJoin.materialize(changelog)
        .select(col("key"), col("l_id"))
        .orderBy(col("key"), col("l_id"))
    },
    oracle = Some(s"""
      WITH $oSides
      SELECT user_id AS key, event_id AS l_id FROM l
      WHERE EXISTS (SELECT 1 FROM r WHERE r.user_id = l.user_id)
      ORDER BY key, l_id"""))

  /** Streaming ANTI join (NOT EXISTS on streams) — same operator family;
    * batch-1 "no match yet" emissions are retracted when the key's first
    * right row lands in batch 2, so the materialized state is the true
    * NOT EXISTS — the shape an append-only operator cannot produce. */
  val qStreamAntiJoin: Q = Q(
    run = (s, dir) => {
      val changelog = StreamOps.runToMemory(
        s, StreamJoin.changelogJoin(s, stagedJoinStream(s, dir, "anti"), "anti"),
        OutputMode.Update())
      StreamJoin.materialize(changelog)
        .select(col("key"), col("l_id"))
        .orderBy(col("key"), col("l_id"))
    },
    oracle = Some(s"""
      WITH $oSides
      SELECT user_id AS key, event_id AS l_id FROM l
      WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.user_id = l.user_id)
      ORDER BY key, l_id"""))

  /** Retractable streaming Top-N — ref RetractableTopNFunction.java:53.
    * Input = the exact changelog [[graft.streaming.ChangelogAgg]] emits for
    * per-type counts over two batches (+I half-counts, then -U/+U full
    * counts — the equivalence is itself gated by q_changelog_agg), replayed
    * as a stream. Batch 2 CHANGES batch 1's ranking (at sf0.01: click
    * 1st→3rd, signup 3rd→1st), so the final top-3 equals the batch answer
    * only if retractions are honored — the append-only operator provably
    * cannot produce this row. */
  val qStreamRetractTopN: Q = Q(
    run = (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val c1 = ev.filter(col("event_id") % 2 === 0)
        .groupBy(col("event_type")).agg(count(lit(1)).as("c1"))
      val cT = ev.groupBy(col("event_type")).agg(count(lit(1)).as("ct"))
      val b1 = c1.select(lit("+I").as("kind"), lit("all").as("pkey"),
        col("event_type").as("id"), col("c1").as("value"), lit(0L).as("seq"))
      // per type: retract the batch-1 count, insert the full count (types
      // unseen in batch 1 arrive as plain +I)
      val j = cT.join(c1, Seq("event_type"), "left")
      val b2 = j.filter(col("c1").isNotNull)
          .select(lit("-U").as("kind"), lit("all").as("pkey"),
                  col("event_type").as("id"), col("c1").as("value"), lit(0L).as("seq"))
        .unionByName(j.select(
          when(col("c1").isNotNull, "+U").otherwise("+I").as("kind"), lit("all").as("pkey"),
          col("event_type").as("id"), col("ct").as("value"), lit(1L).as("seq")))
      val stream = StreamOps.replay(s, "rtopn", dir, Seq(b1, b2))
      val acc = StreamOps.runToMemory(
        s, RetractableTopN.retractableTopN(s, stream, 3), OutputMode.Update())
      RetractableTopN.latestRanking(acc)
        .select(col("rn"), col("id").as("event_type"), col("value").as("cnt"))
        .orderBy(col("rn"))
    },
    oracle = Some("""
      SELECT CAST(row_number() OVER (ORDER BY c DESC, event_type) AS INT) AS rn,
             event_type, c AS cnt
      FROM (SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1)
      QUALIFY rn <= 3 ORDER BY rn"""))

  /** Bounded event-time RANGE over-aggregate on a stream — ref
    * RowTimeRangeBoundedPrecedingFunction.java:55; trailing 10-minute
    * frame per user, ties share the aggregate (SQL RANGE). */
  val qStreamOverRangeBounded: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.boundedOverAgg(s, src, "range", 10L * 60 * 1000000), OutputMode.Update())
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some("""
      SELECT user_id, event_id,
             CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS agg_sum,
             COUNT(*) OVER w AS agg_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '10 minutes' PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** Bounded ROWS over-aggregate on a stream (trailing 5 rows per user) —
    * ref RowTimeRowsBoundedPrecedingFunction. */
  val qStreamOverRowsBounded: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.boundedOverAgg(s, src, "rows", 5L), OutputMode.Update())
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some("""
      SELECT user_id, event_id,
             CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS agg_sum,
             COUNT(*) OVER w AS agg_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** Events replayed out of time order across 3 batches: b1 = even event
    * ids; b2 = the recent odds (top 30-min band — they advance the
    * watermark but are never late); b3 = the remaining odds, genuinely late
    * against the watermark b1 established. Three batches because Spark's
    * micro-batch late filter uses the watermark committed two batches back
    * (measured: filterWm(N) = max event time over batches ≤ N−2, minus
    * delay) — with b2 in between, b3's filter watermark is exactly
    * max(even ts) − 30 min, which the oracle can replay. */
  /** The main and side lateness queries replay identical batches (evens,
    * fresh odds, expired odds), each staged under its own `tag`. */
  private def lateStagedStream(s: SparkSession, dir: String, tag: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"))
    val tmax = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0) // staging-time scalar
    val cut = new java.sql.Timestamp(tmax.getTime - 30L * 60 * 1000)
    val odds = ev.filter(col("event_id") % 2 === 1)
    StreamOps.replay(s, s"late_$tag", dir, Seq(
      ev.filter(col("event_id") % 2 === 0),
      odds.filter(col("ts") > lit(cut)),
      odds.filter(col("ts") <= lit(cut))))
  }

  /** allowedLateness MAIN branch — ref WindowedStream.java:108: tumbling
    * count with the watermark delayed by the 30-min allowed lateness, so
    * late rows within the bound still join their open window while
    * expired-window rows are dropped (they land in q_stream_late_side).
    * Append mode: only watermark-finalized windows emit. The oracle
    * replays the watermark arithmetic: W1 = max(even ts) − 30 min gates
    * batch-3 admission, W2 = max(all ts) − 30 min gates final emission. */
  val qStreamLateMain: Q = Q(
    run = (s, dir) => {
      val main = lateStagedStream(s, dir, "main")
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
      StreamOps.runToMemory(s, main, OutputMode.Append()).orderBy(col("ws"))
    },
    oracle = Some("""
      WITH w1 AS (SELECT max(ts) - INTERVAL '30 minutes' AS w FROM events WHERE event_id % 2 = 0),
           w2 AS (SELECT max(ts) - INTERVAL '30 minutes' AS w FROM events),
           keep AS (
             SELECT ts FROM events WHERE event_id % 2 = 0
             UNION ALL
             SELECT ts FROM events WHERE event_id % 2 = 1
               AND time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' > (SELECT w FROM w1))
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, COUNT(*) AS n
      FROM keep
      GROUP BY ws
      HAVING ws + INTERVAL '10 minutes' <= (SELECT w FROM w2)
      ORDER BY ws"""))

  /** allowedLateness SIDE branch (sideOutputLateData) — the pass-through
    * classifier flags rows whose window already finalized under the
    * watermark it observes (the one-batch-fresher eviction watermark, so
    * batch 3 is judged against W2 = max(all ts) − 30 min; in Flink both
    * views share one watermark — the skew is a micro-batch artifact,
    * exactly mirrored in the oracle). */
  val qStreamLateSide: Q = Q(
    run = (s, dir) => {
      StreamOps.runToMemory(
          s, StreamOps.lateSideOutput(s, lateStagedStream(s, dir, "side"),
            10L * 60 * 1000000, "30 minutes"),
          OutputMode.Update())
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some("""
      SELECT user_id, event_id FROM events
      WHERE event_id % 2 = 1
        AND time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' <=
            (SELECT max(ts) - INTERVAL '30 minutes' FROM events)
      ORDER BY user_id, event_id"""))

  /** Count-tumbling window + TimeEvictor (fires every 5 events, aggregates
    * only those within 30 min of the window's newest) — ref
    * TimeEvictor.java via [[StreamOps.countWindowTimeEvict]]. */
  val qStreamTimeEvictor: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.countWindowTimeEvict(s, src, 5, 30L * 60 * 1000000), OutputMode.Update())
        .orderBy(col("user_id"), col("win_seq"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, ts, CAST(FLOOR(value * 100.0) AS BIGINT) AS vc,
                          CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 5 AS BIGINT) AS w,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS p,
                          count(*) OVER (PARTITION BY user_id) AS ntot
                   FROM events),
      full_w AS (SELECT * FROM ord WHERE (w + 1) * 5 <= ntot),
      agg AS (SELECT user_id, w AS win_seq, max(ts) AS mx,
                     arg_max(event_id, p) AS last_id
              FROM full_w GROUP BY 1, 2)
      SELECT a.user_id, a.win_seq,
             CAST(COUNT(*) FILTER (WHERE f.ts > a.mx - INTERVAL '30 minutes') AS INT) AS n,
             CAST(COALESCE(SUM(f.vc) FILTER (WHERE f.ts > a.mx - INTERVAL '30 minutes'), 0) AS BIGINT) AS v_cents,
             a.last_id
      FROM agg a JOIN full_w f ON f.user_id = a.user_id AND f.w = a.win_seq
      GROUP BY a.user_id, a.win_seq, a.last_id
      ORDER BY a.user_id, a.win_seq"""))

  /** Count-tumbling window + DeltaEvictor (evict elements > 20.00 away
    * from the window's last value) — ref DeltaEvictor.java via
    * [[StreamOps.countWindowDeltaEvict]]. */
  val qStreamDeltaEvictor: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.countWindowDeltaEvict(s, src, 5, 2000L), OutputMode.Update())
        .orderBy(col("user_id"), col("win_seq"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS vc,
                          CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 5 AS BIGINT) AS w,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS p,
                          count(*) OVER (PARTITION BY user_id) AS ntot
                   FROM events),
      full_w AS (SELECT * FROM ord WHERE (w + 1) * 5 <= ntot),
      lastv AS (SELECT user_id, w, arg_max(vc, p) AS lvc, arg_max(event_id, p) AS last_id
                FROM full_w GROUP BY 1, 2)
      SELECT f.user_id, f.w AS win_seq,
             CAST(COUNT(*) FILTER (WHERE abs(f.vc - l.lvc) <= 2000) AS INT) AS n,
             CAST(COALESCE(SUM(f.vc) FILTER (WHERE abs(f.vc - l.lvc) <= 2000), 0) AS BIGINT) AS v_cents,
             l.last_id
      FROM full_w f JOIN lastv l ON l.user_id = f.user_id AND l.w = f.w
      GROUP BY f.user_id, f.w, l.last_id
      ORDER BY f.user_id, win_seq"""))

  /** GlobalWindows + custom purging trigger (fire when the running value
    * sum crosses 200.00, then purge) — ref GlobalWindows.java +
    * PurgingTrigger via [[StreamOps.globalWindowSumTrigger]]; the
    * sequential reset is replayed by a recursive CTE. */
  val qStreamGlobalWindow: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.globalWindowSumTrigger(s, src, 20000L), OutputMode.Update())
        .orderBy(col("user_id"), col("win_seq"))
    },
    oracle = Some("""
      WITH RECURSIVE ord AS (
        SELECT user_id, event_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS vc,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      walk AS (
        SELECT user_id, rn, event_id,
               CASE WHEN vc >= 20000 THEN 0 ELSE vc END AS acc,
               CASE WHEN vc >= 20000 THEN 0::BIGINT ELSE 1::BIGINT END AS n,
               CASE WHEN vc >= 20000 THEN 1::BIGINT ELSE 0::BIGINT END AS seq,
               (vc >= 20000) AS fired, vc AS facc, 1::BIGINT AS fn
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn, o.event_id,
               CASE WHEN w.acc + o.vc >= 20000 THEN 0 ELSE w.acc + o.vc END,
               CASE WHEN w.acc + o.vc >= 20000 THEN 0::BIGINT ELSE w.n + 1 END,
               w.seq + CASE WHEN w.acc + o.vc >= 20000 THEN 1 ELSE 0 END,
               (w.acc + o.vc >= 20000), w.acc + o.vc, w.n + 1
        FROM walk w JOIN ord o ON o.user_id = w.user_id AND o.rn = w.rn + 1)
      SELECT user_id, seq - 1 AS win_seq, fn AS n, CAST(facc AS BIGINT) AS v_cents,
             event_id AS last_id
      FROM walk WHERE fired
      ORDER BY user_id, win_seq"""))

  /** Event-time timers (KeyedProcessFunction.registerEventTimeTimer /
    * onTimer) — inactivity timeout: alert when a user goes quiet for
    * 30 min (timer re-registered per event, fired by the watermark; the
    * final pending timer fires via the EventTimeTimeout callback). */
  val qStreamTimer: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.inactivityTimeout(s, src, 30L * 60 * 1000000), OutputMode.Update())
        .orderBy(col("user_id"), col("last_event_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
                          lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ntsu
                   FROM events),
           mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
      SELECT user_id, event_id AS last_event_id, tsu AS last_ts_us,
             tsu + 1800000000 AS timeout_at_us
      FROM ord
      WHERE (ntsu IS NOT NULL AND ntsu > tsu + 1800000000)
         OR (ntsu IS NULL AND (tsu + 1800000000) // 1000 < (SELECT m FROM mx) // 1000)
      ORDER BY user_id, last_event_id"""))

  /** Proc-time trailing-3-rows over-aggregate — ref
    * ProcTimeRowsBoundedPrecedingFunction: frames follow ARRIVAL order.
    * The seq column (here event_id — deterministic ingestion order) is the
    * proc-time stamp, so the arrival-order semantics replay exactly. */
  val qStreamOverProcRows: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events").withColumn("seq", col("event_id"))
      StreamOps.runToMemory(
          s, StreamOps.procTimeOverAgg(s, src, "rows", 3L), OutputMode.Update())
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some("""
      SELECT user_id, event_id,
             CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS agg_sum,
             COUNT(*) OVER w AS agg_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** Proc-time unbounded over-aggregate (running accumulator, O(1) state
    * per key) — ref ProcTimeUnboundedPrecedingFunction. */
  val qStreamOverProcUnbounded: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events").withColumn("seq", col("event_id"))
      StreamOps.runToMemory(
          s, StreamOps.procTimeOverAgg(s, src, "unbounded", 0L), OutputMode.Update())
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some("""
      SELECT user_id, event_id,
             CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS agg_sum,
             COUNT(*) OVER w AS agg_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** Proc-time RANGE over-aggregate — ref
    * ProcTimeRangeBoundedPrecedingFunction: the frame is the trailing
    * `bound` of PROC-TIME, per-row stamps. The arrival stamp is staged as
    * a deterministic per-user dense sequence (the seq-as-proctime
    * contract), split into two batches preserving per-key stamp order, so
    * the wall-clock mode is oracle-gatable: stamps are unique per key, so
    * SQL RANGE over the stamp equals arrival semantics exactly. */
  val qStreamOverProcRange: Q = Q(
    run = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          row_number().over(Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
            .cast("long").as("seq"))
      val stream = StreamOps.replay(s, "procrange", dir, Seq(
        ev.filter(col("seq") <= 10), ev.filter(col("seq") > 10)))
      StreamOps.runToMemory(
          s, StreamOps.procTimeOverAgg(s, stream, "range", 3L), OutputMode.Update())
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS vc,
                          CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
                   FROM events)
      SELECT user_id, event_id,
             CAST(SUM(vc) OVER w AS BIGINT) AS agg_sum, COUNT(*) OVER w AS agg_n
      FROM ord
      WINDOW w AS (PARTITION BY user_id ORDER BY seq
                   RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** Row-time RANGE UNBOUNDED over-aggregate (ties share a frame;
    * accumulator + newest tie group only in state) — ref
    * RowTimeRangeUnboundedPrecedingFunction. */
  val qStreamOverRangeUnbounded: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.rangeUnboundedOverAgg(s, src), OutputMode.Update())
        .orderBy(col("user_id"), col("event_id"))
    },
    oracle = Some("""
      SELECT user_id, event_id,
             CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS agg_sum,
             COUNT(*) OVER w AS agg_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** Streaming CEP timeout side output — ref PatternStream.select with a
    * timeout OutputTag (TimedOutPartialMatchHandler): clicks whose match
    * window closes below the final watermark with no strict-next purchase
    * surface on the timeout side. The final no-data batch (event-time
    * timer at the earliest pending deadline) flushes expiries; the oracle
    * replays the watermark cutoff (max event time, ms-truncated). */
  val qStreamCepTimeout: Q = Q(
    run = (s, dir) => {
      val src = StreamOps.readTable(s, dir, "events")
      StreamOps.runToMemory(
          s, StreamOps.cepClickPurchaseWithTimeouts(s, src, 10), OutputMode.Update())
        .filter(col("side") === 1)
        .select(col("user_id"), col("click_id"), col("ref_id").as("deadline_micros"))
        .orderBy(col("user_id"), col("click_id"))
    },
    oracle = Some("""
      WITH s AS (SELECT user_id, event_id, event_type, ts,
                        lead(event_type) OVER w AS nt, lead(ts) OVER w AS nts
                 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      wm AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS w FROM events)
      SELECT user_id, event_id AS click_id,
             (epoch_us(ts) + 600000000)::BIGINT AS deadline_micros
      FROM s
      WHERE event_type = 'click'
        AND NOT COALESCE(nt = 'purchase' AND epoch_us(nts) - epoch_us(ts) < 600000000, FALSE)
        AND epoch_us(ts) + 600000000 <= (SELECT w FROM wm)
      ORDER BY user_id, click_id"""))

  /** Streaming dedup with event-time state TTL (ref DeduplicateFunction +
    * table.exec.state.ttl cleanup timers — [[StreamOps.ttlDedup]]): first
    * event per (user, type) admitted, repeats dropped unless the last
    * admitted event is >24h older, which re-admits (state expired). The
    * oracle replays the same sequential admission walk as a recursive CTE
    * (one step per chain position — chains are ≤24 events in this
    * corpus). */
  val qStreamTtlDedup: Q = Q(
    run = (s, dir) => {
      val out = StreamOps.ttlDedup(s, StreamOps.readTable(s, dir, "events"),
        24L * 3600 * 1000000)
      StreamOps.runToMemory(s, out, OutputMode.Append())
        .orderBy(col("user_id"), col("event_type"), col("event_id"))
    },
    oracle = Some("""
      WITH RECURSIVE e AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        FROM events),
      walk(user_id, event_type, rn, ts, event_id, kept, last_kept) AS (
        SELECT user_id, event_type, rn, ts, event_id, TRUE, ts FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_type, e.rn, e.ts, e.event_id,
               e.ts > w.last_kept + INTERVAL '24 hours',
               CASE WHEN e.ts > w.last_kept + INTERVAL '24 hours' THEN e.ts ELSE w.last_kept END
        FROM walk w JOIN e ON e.user_id = w.user_id
                          AND e.event_type IS NOT DISTINCT FROM w.event_type
                          AND e.rn = w.rn + 1)
      SELECT user_id, event_type, event_id FROM walk WHERE kept
      ORDER BY user_id, event_type, event_id"""))

  /** Flink keyed-state trio (ValueState/ListState/MapState) on Spark 4's
    * NATIVE transformWithState API ([[StreamOps.KeyedStateProcessor]]) —
    * running count, last-3 ring and per-type counts per user, one output
    * row per event. The run picks the RocksDB provider TWS requires for
    * this query only (`StreamOps.withStreamingConf`). */
  val qStreamTwsProcess: Q = Q(
    run = (s, dir) =>
      StreamOps.runToMemory(s,
        StreamOps.twsKeyedProcess(s, StreamOps.readTable(s, dir, "events")),
        OutputMode.Append()).orderBy(col("user_id"), col("event_id")),
    oracle = Some("""
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_cnt,
             CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS last3_cents,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS type_cnt
      FROM events
      ORDER BY user_id, event_id"""))

  /** Event-time timers on the native transformWithState API
    * ([[StreamOps.InactivityAlertProcessor]]): registerTimer/deleteTimer +
    * the handleExpiredTimer onTimer callback — each user alerts 30 min of
    * event time after their last event, once the watermark passes the
    * deadline. The global-max user (and any within 30 min of it) never
    * fires: their deadline stays above the final watermark. */
  val qStreamTwsTimer: Q = Q(
    run = (s, dir) =>
      StreamOps.runToMemory(s,
        StreamOps.twsInactivityAlert(s, StreamOps.readTable(s, dir, "events"), 30 * 60 * 1000),
        OutputMode.Append()).orderBy(col("user_id")),
    oracle = Some("""
      WITH m AS (SELECT user_id, epoch_ms(MAX(ts)) AS mt FROM events GROUP BY user_id),
           w AS (SELECT epoch_ms(MAX(ts)) AS wm FROM events)
      SELECT user_id, CAST(mt + 1800000 AS BIGINT) AS alert_at_ms
      FROM m, w
      WHERE mt + 1800000 < wm
      ORDER BY user_id"""))

  /** Streaming filesystem sink with partition-time commit — ref
    * FileSystemTableSink `sink.partition-commit.trigger='partition-time'`
    * + success-file policy (PartitionTimeCommitTigger.java /
    * PartitionCommitter.java): 10-min partitions commit (gain their
    * `_SUCCESS` marker) once the watermark (max ts − 30 min) passes their
    * end; the query reads back ONLY committed partitions — exactly what a
    * downstream batch consumer of the feature sees. Two time-split
    * replayed batches: the first commits the early partitions, the final
    * watermark commits the rest. DAY partitions (the realistic filesystem
    * layout — 10-min dirs over months of data would be a small-files
    * explosion at any scale). */
  val qStreamPartitionCommit: Q = Q(
    run = (s, dir) => {
      val ev = Tables.load(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"))
      val Array(lo, hi) = ev.agg(min(col("ts")), max(col("ts"))).collect()(0) match {
        case r => Array(r.getTimestamp(0), r.getTimestamp(1))
      }
      val mid = new java.sql.Timestamp((lo.getTime + hi.getTime) / 2)
      val stream = StreamOps.replay(s, "pcommit", dir, Seq(
        ev.filter(col("ts") <= lit(mid)), ev.filter(col("ts") > lit(mid))))
      val out = graft.streaming.StreamOps.scratchRoot + s"/pcommit_out_${san(dir)}"
      StreamOps.partitionCommitRun(s, stream, out, bucketSec = 86400, delaySec = 1800)
        .groupBy(col("p_bucket"))
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"),
             max(col("event_id")).as("max_id"))
        .orderBy(col("p_bucket"))
    },
    oracle = Some("""
      WITH w AS (SELECT CAST(FLOOR(EXTRACT(EPOCH FROM max(ts))) AS BIGINT) - 1800 AS wm
                 FROM events)
      SELECT CAST(FLOOR(FLOOR(EXTRACT(EPOCH FROM ts)) / 86400) * 86400 AS BIGINT) AS p_bucket,
             COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
      FROM events, w
      GROUP BY p_bucket, wm
      HAVING p_bucket + 86400 <= wm
      ORDER BY p_bucket"""))

  /** Upsert-source materialization — upsert-kafka semantics via
    * [[StreamOps.upsertChangelog]]: events replayed as keyed upsert
    * messages in event_id (arrival) order, error events as NULL-value
    * tombstones, split into two batches so update/delete chains cross the
    * batch boundary. Gated on BOTH the materialized final state (net-sum
    * of the changelog ≡ DuckDB keep-last with the tombstone filter — a
    * key whose last message is a tombstone is GONE) and the total
    * changelog row count per key (insert=1, overwrite=2, live-delete=1,
    * absent-delete=0), which pins the -U/+U/-D sequence, not just the
    * endpoint. */
  /** Upsert source on the SQL DDL surface — the reference's
    * `'connector'='upsert-kafka'` exposure (UpsertKafkaDynamicTableFactory),
    * file-staged: a declared `'connector'='upsert-files'` table normalizes
    * keyed (key, value, seq) messages (NULL value = tombstone) into the
    * +I/-U/+U/-D changelog; its STREAMING read (fromStream → incremental
    * ChangelogNormalize) then drives [[StreamJoin.changelogJoin]] against a
    * plain-insert right side. The materialized join must equal the batch
    * join of post-upsert live state — tombstoned keys gone, overwritten
    * values current — which only a retract-correct upsert→join pipeline
    * produces. */
  val qUpsertSqlJoin: Q = Q(
    run = (s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("key"),
                expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
      val m = col("key") % 4
      val msgs = base.select(col("key"), col("cents").as("value"), (col("key") * 4).as("seq"))
        .unionByName(base.filter(m === 1).select(col("key"),
          lit(null).cast("long").as("value"), (col("key") * 4 + 1).as("seq")))
        .unionByName(base.filter(m === 2).select(col("key"),
          (col("cents") + 55).as("value"), (col("key") * 4 + 1).as("seq")))
      val path = StreamOps.scratchRoot + s"/upsert_sql_${san(dir)}"
      // single-file: one wire file = one deterministic trigger batch for
      // the streaming upsert source (apply order rides the seq column
      // WITHIN a batch; a multi-file split across batches would not)
      msgs.coalesce(1).write.mode("overwrite").parquet(path)
      val e = new graft.sql.EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE ups (key BIGINT, value BIGINT, seq BIGINT)
        WITH ('connector'='upsert-files', 'path'='$path', 'format'='parquet')""")
      // leg 1: the SQL-declared upsert table's STREAMING changelog
      val changelog = StreamOps.runToMemory(s, e.fromStream("ups"), OutputMode.Update())
      // leg 2: changelog → join-tagged lattice (+I/+U → +I, -U/-D → -D;
      // per-key apply order pinned by the kind's position in the upsert
      // emission sequence), inner-joined against a plain-insert side
      val left = changelog.select(col("key"), lit(0).as("side"),
        when(col("row_kind").isin("+I", "+U"), "+I").otherwise("-D").as("kind"),
        col("value").as("id"),
        (col("key") * 4 + when(col("row_kind") === "+I", 0)
          .when(col("row_kind") === "-U", 1).when(col("row_kind") === "+U", 2)
          .otherwise(1)).as("seq"))
      val right = base.filter(col("key") % 3 === 0)
        .select(col("key"), lit(1).as("side"), lit("+I").as("kind"),
                col("key").as("id"), (col("key") * 4 + 3).as("seq"))
      val tagged = left.unionByName(right)
      val stream = StreamOps.replay(s, "upsert_sql_join", dir, Seq(tagged))
      val joined = StreamOps.runToMemory(
        s, StreamJoin.changelogJoin(s, stream, "inner"), OutputMode.Update())
      StreamJoin.materialize(joined)
        .select(col("key"), col("l_id"), col("r_id"))
        .orderBy(col("key"), col("l_id"), col("r_id"))
    },
    oracle = Some("""
      WITH live AS (
        SELECT o_orderkey AS key,
               CASE WHEN o_orderkey % 4 = 2
                    THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 55
                    ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS l_id
        FROM orders WHERE o_orderkey % 4 <> 1),
      r AS (SELECT o_orderkey AS key, o_orderkey AS r_id
            FROM orders WHERE o_orderkey % 3 = 0)
      SELECT live.key, live.l_id, r.r_id FROM live JOIN r ON live.key = r.key
      ORDER BY 1, 2, 3"""))

  val qUpsertMaterialize: Q = Q(
    run = (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id").cast("long").as("key"),
                when(col("event_type") === "error", lit(null))
                  .otherwise(col("event_id")).cast("long").as("value"),
                col("event_id").cast("long").as("seq"))
      val mid = ev.agg(max(col("seq"))).collect()(0).getLong(0) / 2 // staging-time scalar
      val stream = StreamOps.replay(s, "upsert", dir, Seq(
        ev.filter(col("seq") <= mid), ev.filter(col("seq") > mid)))
      val changelog = StreamOps.runToMemory(
        s, StreamOps.upsertChangelog(s, stream), OutputMode.Update())
      val state = changelog.groupBy(col("key"), col("value"))
        .agg(sum(when(col("row_kind").isin("+I", "+U"), 1).otherwise(-1)).as("net"))
        .filter(col("net") > 0).select(col("key"), col("value"))
      changelog.groupBy(col("key").as("k2")).agg(count(lit(1)).as("n_changes"))
        .join(state, col("k2") === col("key"), "left")
        .select(col("k2").as("key"), col("value"), col("n_changes"))
        .orderBy(col("k2"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, event_type,
                          lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev,
                          lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_id
                   FROM events),
      -- prev_id distinguishes "no previous row" from "previous row with a
      -- NULL event_type" (whose VALUE is its event_id, i.e. non-null);
      -- "previous value existed" = prev_id IS NOT NULL AND prev was not a
      -- tombstone ('error'); a NULL incoming type also carries a value
      chg AS (SELECT user_id,
                     SUM(CASE WHEN event_type = 'error'
                              THEN CASE WHEN prev_id IS NOT NULL AND (prev IS NULL OR prev <> 'error') THEN 1 ELSE 0 END
                              ELSE CASE WHEN prev_id IS NOT NULL AND (prev IS NULL OR prev <> 'error') THEN 2 ELSE 1 END
                         END) AS n_changes
              FROM ord GROUP BY user_id),
      -- the COALESCE is load-bearing twice over: a NULL incoming type is
      -- LIVE (it carries its event_id as the value, exactly like the
      -- Spark side's when(type === 'error') three-valued miss), and
      -- arg_max must not skip the null-typed row as a null argument
      last AS (SELECT user_id, arg_max(COALESCE(event_type, '~live~'), event_id) AS lt,
                      max(event_id) AS lid
               FROM events GROUP BY user_id)
      SELECT c.user_id AS key,
             CASE WHEN l.lt <> 'error' THEN l.lid END AS value,
             CAST(c.n_changes AS BIGINT) AS n_changes
      FROM chg c JOIN last l ON l.user_id = c.user_id
      WHERE c.n_changes > 0
      ORDER BY key"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_stream_partition_commit" -> qStreamPartitionCommit,
    "q_stream_changelog_join" -> qStreamChangelogJoin,
    "q_stream_semi_join" -> qStreamSemiJoin,
    "q_stream_anti_join" -> qStreamAntiJoin,
    "q_stream_retract_topn" -> qStreamRetractTopN,
    "q_stream_over_range_bounded" -> qStreamOverRangeBounded,
    "q_stream_over_rows_bounded" -> qStreamOverRowsBounded,
    "q_stream_over_proc_rows" -> qStreamOverProcRows,
    "q_stream_over_proc_unbounded" -> qStreamOverProcUnbounded,
    "q_stream_over_proc_range" -> qStreamOverProcRange,
    "q_stream_over_range_unbounded" -> qStreamOverRangeUnbounded,
    "q_stream_cep_timeout" -> qStreamCepTimeout,
    "q_stream_late_main" -> qStreamLateMain,
    "q_stream_late_side" -> qStreamLateSide,
    "q_stream_timer" -> qStreamTimer,
    "q_stream_time_evictor" -> qStreamTimeEvictor,
    "q_stream_delta_evictor" -> qStreamDeltaEvictor,
    "q_stream_global_window" -> qStreamGlobalWindow,
    "q_stream_ttl_dedup" -> qStreamTtlDedup,
    "q_stream_tws_process" -> qStreamTwsProcess,
    "q_stream_tws_timer" -> qStreamTwsTimer,
    "q_upsert_materialize" -> qUpsertMaterialize,
    "q_upsert_sql_join" -> qUpsertSqlJoin,
  )
}
