package graft.coverage

import graft.{Q, Queries, Tables}
import graft.Queries._
import graft.operators.{AsOfJoin, Cep}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-windowed aggregation + temporal join coverage (SURVEY.md §2.4 time
  * joins, §2.6 window aggregations, §2.12 CEP) — batch formulations of the
  * reference's window semantics; the streaming twins live in
  * [[StreamingQueries]].
  */
object WindowQueries {

  /** TUMBLE — ref assigners/TumblingWindowAssigner.java + WindowOperator
    * .java:93; Spark `window()` is epoch-aligned exactly like the
    * reference's assigner. Group-by is (window, type): partial aggregation
    * happens map-side, only (window,type) groups shuffle. */
  val qWindowTumble: Q = Q(
    run = (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"))
        .select(col("window.start").as("ws"), col("window.end").as("we"),
                col("event_type"), col("n"), col("v_cents"))
        .orderBy(col("ws"), col("event_type")),
    oracle = Some(s"""
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
             time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS we,
             event_type, COUNT(*) AS n, SUM(${oCents("value")})::BIGINT AS v_cents
      FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type"""))

  /** HOP (sliding) — ref SlidingWindowAssigner.java: size 30 min, slide
    * 10 min → every event lands in 3 windows. Spark `window(ts, size,
    * slide)` replicates the assigner; the row expansion is the same 3×
    * the reference generates. */
  val qWindowHop: Q = Q(
    run = (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("window.end").as("we"), col("event_type"), col("n"))
        .orderBy(col("ws"), col("event_type")),
    oracle = Some("""
      SELECT ws, ws + INTERVAL '30 minutes' AS we, event_type, COUNT(*) AS n
      FROM (SELECT time_bucket(INTERVAL '10 minutes', ts) - k * INTERVAL '10 minutes' AS ws, event_type
            FROM events CROSS JOIN generate_series(0, 2) g(k))
      GROUP BY ws, event_type ORDER BY ws, event_type"""))

  /** SESSION (merging, 30-min gap) — ref SessionWindowAssigner.java +
    * MergingWindowSet; Spark `session_window` implements the same
    * merge-on-overlap, window end = last event + gap. */
  val qWindowSession: Q = Q(
    run = (s, dir) =>
      ev(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"))
        .select(col("session_window.start").as("ss"), col("session_window.end").as("se"),
                col("user_id"), col("n"), col("v_cents"))
        .orderBy(col("user_id"), col("ss")),
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

  /** CUMULATE — ref CumulativeWindowAssigner.java (1 h max span, 15 min
    * step): each event belongs to every not-yet-closed growing window of
    * its hour. No Spark native → declarative expansion: explode the step
    * index, filter, aggregate. Same expansion factor (≤4×) as the
    * reference's assigner emits. */
  val qWindowCumulative: Q = Q(
    run = (s, dir) =>
      ev(s, dir)
        .withColumn("ws", date_trunc("hour", col("ts")))
        .withColumn("k", explode(sequence(lit(1), lit(4))))
        .withColumn("we", expr("ws + make_interval(0, 0, 0, 0, 0, k * 15, 0)"))
        .filter(col("ts") < col("we"))
        .groupBy(col("ws"), col("we"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v_cents"))
        .orderBy(col("ws"), col("we")),
    oracle = Some(s"""
      SELECT date_trunc('hour', ts) AS ws,
             date_trunc('hour', ts) + INTERVAL (k * 15) MINUTE AS we,
             COUNT(*) AS n, SUM(${oCents("value")})::BIGINT AS v_cents
      FROM events CROSS JOIN generate_series(1, 4) g(k)
      WHERE ts < date_trunc('hour', ts) + INTERVAL (k * 15) MINUTE
      GROUP BY 1, 2 ORDER BY ws, we"""))

  /** Window Top-N — the Flink 1.12 "Window TopN" pattern (rank inside each
    * group window; ref StreamExecRank over windowed agg): top-2 users per
    * 1-hour tumble by spend. Two-phase: windowed agg (partial+final), then
    * a rank whose WindowGroupLimit pushes the per-window top-k below the
    * sort — never a global sort of the aggregate. */
  val qWindowTopn: Q = Q(
    run = (s, dir) => {
      val agg = ev(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(sum(cents(col("value"))).as("v_cents"))
        .select(col("window.start").as("ws"), col("user_id"), col("v_cents"))
      agg.withColumn("rk", row_number().over(
          Window.partitionBy(col("ws")).orderBy(col("v_cents").desc, col("user_id"))))
        .filter(col("rk") <= 2)
        .orderBy(col("ws"), col("rk"))
    },
    oracle = Some(s"""
      WITH agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, user_id,
               SUM(${oCents("value")})::BIGINT AS v_cents
        FROM events GROUP BY 1, 2)
      SELECT ws, user_id, v_cents,
             row_number() OVER (PARTITION BY ws ORDER BY v_cents DESC, user_id) AS rk
      FROM agg QUALIFY rk <= 2 ORDER BY ws, rk"""))

  /** Interval (time-windowed) join — ref interval/TimeIntervalJoin.java
    * (485 LoC) / KeyedStream.intervalJoin:438: purchase within [0, 30 min]
    * after a click, same user. Equi-key + range residual → Spark plans a
    * hash join on user_id with the range as residual filter (NOT a
    * cartesian). */
  val qJoinInterval: Q = Q(
    run = (s, dir) => {
      val e = ev(s, dir)
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      c.join(p, col("user_id") === col("p_user") &&
               col("pts") >= col("cts") && col("pts") <= expr("cts + INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
                (expr("unix_micros(pts)") - expr("unix_micros(cts)")).as("lag_us"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
    oracle = Some("""
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
      ORDER BY c.user_id, click_id, purchase_id"""))

  /** Interval join with SYMMETRIC bounds (b.ts BETWEEN a.ts - 10 min AND
    * a.ts + 30 min) — the general `a.ts BETWEEN b.ts - x AND b.ts + y`
    * shape of TimeIntervalJoin.java (negative lower bound included). */
  val qJoinIntervalSym: Q = Q(
    run = (s, dir) => {
      val e = ev(s, dir)
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      c.join(p, col("user_id") === col("p_user") &&
               col("pts") >= expr("cts - INTERVAL 10 MINUTES") &&
               col("pts") <= expr("cts + INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
    oracle = Some("""
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
        AND p.ts >= c.ts - INTERVAL '10 minutes' AND p.ts <= c.ts + INTERVAL '30 minutes'
      ORDER BY c.user_id, click_id, purchase_id"""))

  /** Event-time as-of join (FOR SYSTEM_TIME AS OF) — ref
    * TemporalRowTimeJoinOperator.java:77 via [[AsOfJoin]] (union + one
    * sorted window scan, see its scaladoc for the 100 TB argument).
    * Oracle: DuckDB's native ASOF JOIN. */
  val qJoinAsOf: Q = Q(
    run = (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      AsOfJoin.asOf(purchases, clicks, key = "user_id", leftTs = "ts", rightTs = "ts",
                    rightPayload = Map("event_id" -> "click_id"))
        .select(col("user_id"), col("purchase_id"), col("click_id"))
        .orderBy(col("user_id"), col("purchase_id"))
    },
    oracle = Some("""
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.user_id, purchase_id"""))

  /** MATCH_RECOGNIZE, strict contiguity: click immediately followed by a
    * purchase within 10 min (per user, event-time order) — ref NFA.java:86 /
    * StreamExecMatch.scala:68 via the [[Cep]] NFA. SQL-expressible with
    * LEAD, which is exactly the oracle. */
  val qCepStrict: Q = Q(
    run = (s, dir) => {
      val pattern = Cep.Pattern(IndexedSeq(
        Cep.Step(_.eventType == "click"),
        Cep.Step(_.eventType == "purchase")), withinMicros = 10L * 60 * 1000000)
      Cep.detect(s, ev(s, dir), pattern)
        .toDF()
        .select(col("userId").as("user_id"), col("startId").as("click_id"), col("endId").as("purchase_id"))
        .orderBy(col("user_id"), col("click_id"))
    },
    oracle = Some("""
      WITH s AS (SELECT user_id, event_id, event_type, ts,
                        lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid, lead(ts) OVER w AS nts
                 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS click_id, nid AS purchase_id
      FROM s WHERE event_type = 'click' AND nt = 'purchase' AND nts < ts + INTERVAL '10 minutes'
      ORDER BY user_id, click_id"""))

  /** MATCH_RECOGNIZE with a quantifier, relaxed contiguity: click,
    * view{1,5} (skipping unrelated events), purchase, all within 48 h — the
    * A B{1,5} C funnel shape (ref Pattern.oneOrMore:350). The greedy NFA
    * with per-step backtracking reduces to closed form: consume the first
    * k* ≤ 5 views after the click where k* is the LARGEST k with a purchase
    * after view k inside the window, then the first such purchase — which
    * IS SQL-expressible (positional self-joins + correlated min), so the
    * oracle gates it exactly. */
  val qCepFunnel: Q = Q(
    run = (s, dir) => {
      val pattern = Cep.Pattern(IndexedSeq(
        Cep.Step(_.eventType == "click"),
        Cep.Step(_.eventType == "view", minTimes = 1, maxTimes = 5, strict = false),
        Cep.Step(_.eventType == "purchase", strict = false)), withinMicros = 48L * 3600 * 1000000)
      Cep.detect(s, ev(s, dir), pattern)
        .toDF()
        .select(col("userId").as("user_id"), col("startId").as("start_id"),
                col("endId").as("purchase_id"), col("nEvents").as("n_events"))
        .orderBy(col("user_id"), col("start_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, event_type, ts,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
                   FROM events),
      clicks AS (SELECT user_id, event_id AS start_id, ts AS t0, pos AS cpos
                 FROM ord WHERE event_type = 'click'),
      v AS (SELECT c.user_id, c.start_id, c.t0, o.pos AS vpos,
                   row_number() OVER (PARTITION BY c.user_id, c.start_id ORDER BY o.pos) AS k
            FROM clicks c JOIN ord o
              ON o.user_id = c.user_id AND o.pos > c.cpos AND o.event_type = 'view'
             AND o.ts < c.t0 + INTERVAL '48 hours'
            QUALIFY k <= 5),
      vp AS (SELECT v.*,
                    (SELECT min(o2.pos) FROM ord o2
                     WHERE o2.user_id = v.user_id AND o2.pos > v.vpos
                       AND o2.event_type = 'purchase'
                       AND o2.ts < v.t0 + INTERVAL '48 hours') AS ppos
             FROM v),
      best AS (SELECT user_id, start_id, max(k) AS kstar
               FROM vp WHERE ppos IS NOT NULL GROUP BY 1, 2)
      SELECT b.user_id, b.start_id, o.event_id AS purchase_id,
             CAST(b.kstar + 2 AS INT) AS n_events
      FROM best b
      JOIN vp ON vp.user_id = b.user_id AND vp.start_id = b.start_id AND vp.k = b.kstar
      JOIN ord o ON o.user_id = b.user_id AND o.pos = vp.ppos
      ORDER BY b.user_id, b.start_id"""))

  /** CEP timed-out partial matches — ref TimedOutPartialMatchHandler /
    * PatternTimeoutFunction: clicks that anchor the click→purchase pattern
    * (relaxed contiguity) but never complete within 10 minutes surface on
    * the timeout side output with their expiry deadline. The NFA's window
    * check is STRICT (delta < within, NFA.java:301), mirrored exactly in
    * the NOT EXISTS bound. */
  val qCepTimeout: Q = Q(
    run = (s, dir) => {
      val pattern = Cep.Pattern(IndexedSeq(
        Cep.Step(_.eventType == "click"),
        Cep.Step(_.eventType == "purchase", strict = false)), withinMicros = 10L * 60 * 1000000)
      Cep.timedOutPartials(s, ev(s, dir), pattern)
        .toDF()
        .select(col("userId").as("user_id"), col("startId").as("click_id"),
                col("deadlineMicros").as("deadline_micros"))
        .orderBy(col("user_id"), col("click_id"))
    },
    oracle = Some("""
      SELECT c.user_id, c.event_id AS click_id,
             (epoch_us(c.ts) + 600000000)::BIGINT AS deadline_micros
      FROM events c
      WHERE c.event_type = 'click' AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
          AND epoch_us(p.ts) - epoch_us(c.ts) < 600000000)
      ORDER BY c.user_id, click_id"""))

  /** CEP followedByAny — ref Pattern.followedByAny / allowCombinations:
    * every purchase candidate after a click continues its own match, so a
    * click with 3 in-window purchases emits 3 matches (the deterministic
    * followedBy commits to the first only). For a two-step pattern this is
    * exactly the time-bounded pair join, which gates it in SQL. */
  val qCepFollowedByAny: Q = Q(
    run = (s, dir) => {
      val pattern = Cep.Pattern(IndexedSeq(
        Cep.Step(_.eventType == "click"),
        Cep.Step(_.eventType == "purchase", strict = false)), withinMicros = 10L * 60 * 1000000)
      Cep.detectAll(s, ev(s, dir), pattern)
        .toDF()
        .select(col("userId").as("user_id"), col("startId").as("click_id"),
                col("endId").as("purchase_id"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
    oracle = Some("""
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      FROM events c JOIN events p ON p.user_id = c.user_id
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
        AND epoch_us(p.ts) - epoch_us(c.ts) < 600000000
      ORDER BY c.user_id, click_id, purchase_id"""))

  /** Negative pattern at the OPERATOR level — ref Pattern.notFollowedBy
    * (the NFA's IGNORE-transition guard): click followed by its first
    * purchase within 30 min, but only when NO error occurs between them —
    * an error among the skipped events kills the candidate. (The SQL-level
    * encoding is q_sql_mr_not_followed; this exercises the CEP API
    * itself.) */
  val qCepNotFollowed: Q = Q(
    run = (s, dir) => {
      val pattern = Cep.Pattern(IndexedSeq(
        Cep.Step(_.eventType == "click"),
        Cep.Step(_.eventType == "purchase", strict = false,
                 notBefore = Some(_.eventType == "error"))),
        withinMicros = 30L * 60 * 1000000)
      Cep.detect(s, ev(s, dir), pattern)
        .toDF()
        .select(col("userId").as("user_id"), col("startId").as("click_id"),
                col("endId").as("purchase_id"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
    oracle = Some("""
      WITH c AS (SELECT user_id, event_id AS cid, ts AS cts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id AS pid, ts AS pts FROM events WHERE event_type = 'purchase')
      SELECT c.user_id, c.cid AS click_id, fp.pid AS purchase_id
      FROM c JOIN LATERAL (
        SELECT pid, pts FROM p
        WHERE p.user_id = c.user_id
          AND (p.pts > c.cts OR (p.pts = c.cts AND p.pid > c.cid))
          AND epoch_us(p.pts) - epoch_us(c.cts) < 1800000000
        ORDER BY p.pts, p.pid LIMIT 1) fp ON TRUE
      WHERE NOT EXISTS (
        SELECT 1 FROM events x
        WHERE x.user_id = c.user_id AND x.event_type = 'error'
          AND (x.ts > c.cts OR (x.ts = c.cts AND x.event_id > c.cid))
          AND (x.ts < fp.pts OR (x.ts = fp.pts AND x.event_id < fp.pid)))
      ORDER BY user_id, click_id, purchase_id"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_cep_not_followed" -> qCepNotFollowed,
    "q_window_tumble" -> qWindowTumble,
    "q_window_hop" -> qWindowHop,
    "q_window_session" -> qWindowSession,
    "q_window_cumulative" -> qWindowCumulative,
    "q_window_topn" -> qWindowTopn,
    "q_join_interval" -> qJoinInterval,
    "q_join_interval_sym" -> qJoinIntervalSym,
    "q_join_asof" -> qJoinAsOf,
    "q_cep_strict" -> qCepStrict,
    "q_cep_funnel" -> qCepFunnel,
    "q_cep_timeout" -> qCepTimeout,
    "q_cep_followed_by_any" -> qCepFollowedByAny,
  )
}
