package graft.coverage

import graft.{Q, Queries}
import graft.sql.EngineEnv
import graft.streaming.StreamOps.san
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Flink-SQL surface coverage: the same queries a reference user writes
  * (group-window functions, DDL with connectors + watermark) executed
  * through [[EngineEnv]] + [[graft.sql.FlinkSqlDialect]] (SURVEY.md §3.1).
  * Orders (ms timestamps) is the fact table here. */
object SqlDialectQueries {

  private def env(s: SparkSession, dir: String): EngineEnv = {
    val e = new EngineEnv(s)
    e.executeSql(s"""
      CREATE TABLE orders_t (
        o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
        o_totalprice DOUBLE, o_orderdate TIMESTAMP(3), o_orderpriority STRING,
        WATERMARK FOR o_orderdate AS o_orderdate - INTERVAL '5' SECOND
      ) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
    e
  }

  /** TUMBLE group window written in Flink SQL — rewritten to Spark
    * `window()`; ref FlinkSqlOperatorTable TUMBLE/_START/_END. */
  val qSqlTumble: Q = Q(
    run = (s, dir) => env(s, dir).sqlQuery("""
      SELECT TUMBLE_START(o_orderdate, INTERVAL '1' DAY) AS ws,
             TUMBLE_END(o_orderdate, INTERVAL '1' DAY) AS we,
             o_orderstatus, COUNT(*) AS n
      FROM orders_t
      GROUP BY TUMBLE(o_orderdate, INTERVAL '1' DAY), o_orderstatus
      ORDER BY ws, o_orderstatus"""),
    oracle = Some("""
      SELECT time_bucket(INTERVAL '1 day', o_orderdate) AS ws,
             time_bucket(INTERVAL '1 day', o_orderdate) + INTERVAL '1 day' AS we,
             o_orderstatus, COUNT(*) AS n
      FROM orders GROUP BY 1, 2, 3 ORDER BY ws, o_orderstatus"""))

  /** HOP group window (Flink arg order time, slide, size) → Spark
    * window(time, size, slide). */
  val qSqlHop: Q = Q(
    run = (s, dir) => env(s, dir).sqlQuery("""
      SELECT HOP_START(o_orderdate, INTERVAL '1' DAY, INTERVAL '2' DAY) AS ws,
             HOP_END(o_orderdate, INTERVAL '1' DAY, INTERVAL '2' DAY) AS we,
             COUNT(*) AS n
      FROM orders_t
      GROUP BY HOP(o_orderdate, INTERVAL '1' DAY, INTERVAL '2' DAY)
      ORDER BY ws"""),
    oracle = Some("""
      SELECT ws, ws + INTERVAL '2 days' AS we, COUNT(*) AS n
      FROM (SELECT time_bucket(INTERVAL '1 day', o_orderdate) - k * INTERVAL '1 day' AS ws
            FROM orders CROSS JOIN generate_series(0, 1) g(k))
      GROUP BY ws ORDER BY ws"""))

  /** SESSION group window → Spark session_window. */
  val qSqlSession: Q = Q(
    run = (s, dir) => env(s, dir).sqlQuery("""
      SELECT SESSION_START(o_orderdate, INTERVAL '1' HOUR) AS ss,
             SESSION_END(o_orderdate, INTERVAL '1' HOUR) AS se,
             o_orderstatus, COUNT(*) AS n
      FROM orders_t
      GROUP BY SESSION(o_orderdate, INTERVAL '1' HOUR), o_orderstatus
      ORDER BY o_orderstatus, ss"""),
    oracle = Some("""
      WITH x AS (SELECT o_orderstatus, o_orderdate, o_orderkey,
                        CASE WHEN lag(o_orderdate) OVER w IS NULL
                               OR o_orderdate - lag(o_orderdate) OVER w >= INTERVAL '1 hour'
                             THEN 1 ELSE 0 END AS brk
                 FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)),
           y AS (SELECT o_orderstatus, o_orderdate,
                        SUM(brk) OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS sid
                 FROM x)
      SELECT min(o_orderdate) AS ss, max(o_orderdate) + INTERVAL '1 hour' AS se,
             o_orderstatus, COUNT(*) AS n
      FROM y GROUP BY o_orderstatus, sid ORDER BY o_orderstatus, ss"""))

  /** datagen connector (ref DataGenTableSourceFactory) — deterministic
    * md5-based generator instead of RNG so the oracle can replay it. */
  val qSqlDatagen: Q = Q(
    run = (s, dir) => {
      val e = new EngineEnv(s)
      e.executeSql("CREATE TABLE gen WITH ('connector'='datagen', 'number-of-rows'='1000')")
      e.sqlQuery("SELECT id, k, v FROM gen ORDER BY id")
    },
    oracle = Some("""
      SELECT range AS id,
             ('0x' || substr(md5('k_' || range), 1, 15))::BIGINT AS k,
             CAST(('0x' || substr(md5('v_' || range), 1, 8))::BIGINT AS DOUBLE) AS v
      FROM range(0, 1000) ORDER BY id"""))

  /** SQL MATCH_RECOGNIZE (strict contiguity, within) through the NFA
    * front-end — ref StreamExecMatch.scala:68 / MatchRecognizeITCase; same
    * oracle as the programmatic q_cep_strict. */
  val qSqlMatchRecognize: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS click_id, B.event_id AS purchase_id
          PATTERN (A B)
          WITHIN INTERVAL '10' MINUTE
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'purchase'
        )""").orderBy(col("user_id"), col("click_id"))
    },
    oracle = Some("""
      WITH s AS (SELECT user_id, event_id, event_type, ts,
                        lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid, lead(ts) OVER w AS nts
                 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS click_id, nid AS purchase_id
      FROM s WHERE event_type = 'click' AND nt = 'purchase' AND nts < ts + INTERVAL '10 minutes'
      ORDER BY user_id, click_id"""))

  /** MATCH_RECOGNIZE with a + quantifier and FIRST/LAST measures (A B+ C,
    * strict contiguity). Strict + greedy reduces to closed form: a maximal
    * consecutive view-run whose predecessor is a click and whose successor
    * is a purchase inside the window — gaps-and-islands SQL, so the oracle
    * gates it exactly. */
  val qSqlMatchRecognizePlus: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS start_id, FIRST(B.event_id) AS first_view,
                   LAST(B.event_id) AS last_view, C.event_id AS purchase_id
          PATTERN (A B+ C)
          WITHIN INTERVAL '48' HOUR
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'view',
                 C AS C.event_type = 'purchase'
        )""").orderBy(col("user_id"), col("start_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, event_type, ts,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
                   FROM events),
      v AS (SELECT user_id, event_id, pos,
                   pos - row_number() OVER (PARTITION BY user_id ORDER BY pos) AS grp
            FROM ord WHERE event_type = 'view'),
      runs AS (SELECT user_id, grp, min(pos) AS a, max(pos) AS b,
                      arg_min(event_id, pos) AS first_view, arg_max(event_id, pos) AS last_view
               FROM v GROUP BY 1, 2)
      SELECT r.user_id, c.event_id AS start_id, r.first_view, r.last_view,
             p.event_id AS purchase_id
      FROM runs r
      JOIN ord c ON c.user_id = r.user_id AND c.pos = r.a - 1 AND c.event_type = 'click'
      JOIN ord p ON p.user_id = r.user_id AND p.pos = r.b + 1 AND p.event_type = 'purchase'
      WHERE p.ts < c.ts + INTERVAL '48 hours'
      ORDER BY r.user_id, start_id"""))

  /** AFTER MATCH SKIP TO LAST <var> — ref AfterMatchSkipStrategy.java: with
    * the all-rows pattern A B{2} C, matches restart at the last B (relative
    * position +2), producing the stride-2 overlap that neither TO NEXT ROW
    * (stride 1) nor PAST LAST ROW (stride 4) yields; the closed-form oracle
    * joins rows at even relative positions. */
  val qSqlMrSkipToLast: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS a_id, FIRST(B.event_id) AS first_b,
                   LAST(B.event_id) AS last_b, C.event_id AS c_id
          AFTER MATCH SKIP TO LAST B
          PATTERN (A B{2} C)
        )""").orderBy(col("user_id"), col("a_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, ts,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS p
                   FROM events)
      SELECT a.user_id, a.event_id AS a_id, b1.event_id AS first_b,
             b2.event_id AS last_b, c.event_id AS c_id
      FROM ord a
      JOIN ord b1 ON b1.user_id = a.user_id AND b1.p = a.p + 1
      JOIN ord b2 ON b2.user_id = a.user_id AND b2.p = a.p + 2
      JOIN ord c  ON c.user_id  = a.user_id AND c.p  = a.p + 3
      WHERE a.p % 2 = 0
      ORDER BY a.user_id, a_id"""))

  /** ALL ROWS PER MATCH + CLASSIFIER() + MATCH_NUMBER() — ref
    * StreamExecMatch one-row/all-rows modes: each matched event emits with
    * its variable name and the per-partition match counter; the oracle
    * expands every click→purchase adjacency into its two rows. */
  val qSqlMrAllRows: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls, A.event_id AS a_id
          ALL ROWS PER MATCH
          PATTERN (A B)
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'purchase'
        )""").select(col("user_id"), col("mn"), col("cls"), col("a_id"))
          .orderBy(col("user_id"), col("mn"), col("cls"))
    },
    oracle = Some("""
      WITH s AS (SELECT user_id, event_id, event_type, ts,
                        lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid
                 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      m AS (SELECT user_id, event_id AS a_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS mn
            FROM s WHERE event_type = 'click' AND nt = 'purchase')
      SELECT user_id, mn, cls, a_id
      FROM m CROSS JOIN (VALUES ('A'), ('B')) v(cls)
      ORDER BY user_id, mn, cls"""))

  /** Multi-column PARTITION BY + MATCH_NUMBER in ONE ROW mode: consecutive
    * pairs within (user, event_type); every row matches the undefined
    * variable, so matches start at every position with a successor. */
  val qSqlMrMultiPartition: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id, event_type
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS mn, FIRST(X.event_id) AS id1, LAST(X.event_id) AS id2
          PATTERN (X{2})
        )""").orderBy(col("user_id"), col("event_type"), col("mn"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_type, event_id,
                          row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS p,
                          lead(event_id) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS nid
                   FROM events)
      SELECT user_id, event_type, p AS mn, event_id AS id1, nid AS id2
      FROM ord WHERE nid IS NOT NULL
      ORDER BY user_id, event_type, mn"""))

  /** PREV() physical navigation in DEFINE + LAST(col, n) logical offset in
    * MEASURES — ref Flink pattern-navigation (MatchCodeGenerator PREV/
    * LAST-with-offset): strictly-rising value triples; each U must beat its
    * physical predecessor (the anchor S for the first U). Overlapping
    * matches (SKIP TO NEXT ROW) reduce to a closed-form double-lead oracle. */
  val qSqlMrPrev: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS s_id, FIRST(U.event_id) AS u1,
                   LAST(U.event_id, 1) AS u1b, LAST(U.event_id) AS u2
          PATTERN (S U{2})
          DEFINE U AS U.value > PREV(U.value)
        )""").orderBy(col("user_id"), col("s_id"))
    },
    oracle = Some("""
      WITH s AS (SELECT user_id, event_id, value AS v,
                        lead(event_id) OVER w AS id1, lead(value) OVER w AS v1,
                        lead(event_id, 2) OVER w AS id2, lead(value, 2) OVER w AS v2
                 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS s_id, id1 AS u1, id1 AS u1b, id2 AS u2
      FROM s WHERE v1 > v AND v2 > v1
      ORDER BY user_id, s_id"""))

  /** RUNNING vs FINAL measures under ALL ROWS PER MATCH — ref Flink
    * match_recognize RUNNING/FINAL semantics: greedy A B+ (click then the
    * maximal view run); every emitted row carries both the running last B
    * (NULL on the A row) and the final last B of the completed match. */
  val qSqlMrFinalRunning: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS a_id, CLASSIFIER() AS cls,
                   RUNNING LAST(B.event_id) AS run_b, FINAL LAST(B.event_id) AS fin_b
          ALL ROWS PER MATCH
          PATTERN (A B+)
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'view'
        )""").orderBy(col("user_id"), col("a_id"), col("ts"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, event_type, ts,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
                   FROM events),
      v AS (SELECT user_id, event_id, ts, pos,
                   pos - row_number() OVER (PARTITION BY user_id ORDER BY pos) AS grp
            FROM ord WHERE event_type = 'view'),
      runs AS (SELECT user_id, grp, min(pos) AS a, max(pos) AS b,
                      arg_max(event_id, pos) AS fin_b
               FROM v GROUP BY 1, 2),
      m AS (SELECT r.user_id, c.event_id AS a_id, c.ts AS cts, r.a, r.b, r.fin_b
            FROM runs r JOIN ord c ON c.user_id = r.user_id AND c.pos = r.a - 1
                                   AND c.event_type = 'click')
      SELECT user_id, cts AS ts, a_id, 'A' AS cls, CAST(NULL AS BIGINT) AS run_b, fin_b FROM m
      UNION ALL
      SELECT m.user_id, o.ts, m.a_id, 'B' AS cls, o.event_id AS run_b, m.fin_b
      FROM m JOIN ord o ON o.user_id = m.user_id AND o.pos BETWEEN m.a AND m.b
      ORDER BY user_id, a_id, ts"""))

  /** RELUCTANT quantifier `B*?` — ref Quantifier.java lazy /
    * MatchRecognizeITCase reluctant shapes: the skip variable consumes as
    * FEW rows as possible, so each click pairs with its FIRST later
    * purchase. The greedy twin (q_sql_mr_greedy) runs the same pattern
    * without `?` and provably differs (last vs first purchase) — the
    * ITCase's greedy/reluctant contrast, oracle-gated on both sides. */
  val qSqlMrReluctant: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS a_id, C.event_id AS c_id
          PATTERN (A B*? C)
          DEFINE A AS A.event_type = 'click',
                 C AS C.event_type = 'purchase'
        )""").orderBy(col("user_id"), col("a_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, event_type, ts,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
                   FROM events),
      nxt AS (SELECT user_id, pos, event_id, event_type,
                     min(CASE WHEN event_type = 'purchase' THEN pos END) OVER
                       (PARTITION BY user_id ORDER BY pos
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
              FROM ord)
      SELECT n.user_id, n.event_id AS a_id, o.event_id AS c_id
      FROM nxt n JOIN ord o ON o.user_id = n.user_id AND o.pos = n.np
      WHERE n.event_type = 'click'
      ORDER BY n.user_id, a_id"""))

  /** GREEDY quantifier `B*` — the contrast to q_sql_mr_reluctant: the skip
    * variable consumes as MANY rows as possible before backtracking, so
    * each click pairs with its LAST later purchase. */
  val qSqlMrGreedy: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS a_id, C.event_id AS c_id
          PATTERN (A B* C)
          DEFINE A AS A.event_type = 'click',
                 C AS C.event_type = 'purchase'
        )""").orderBy(col("user_id"), col("a_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, event_type, ts,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
                   FROM events),
      nxt AS (SELECT user_id, pos, event_id, event_type,
                     max(CASE WHEN event_type = 'purchase' THEN pos END) OVER
                       (PARTITION BY user_id ORDER BY pos
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
              FROM ord)
      SELECT n.user_id, n.event_id AS a_id, o.event_id AS c_id
      FROM nxt n JOIN ord o ON o.user_id = n.user_id AND o.pos = n.np
      WHERE n.event_type = 'click'
      ORDER BY n.user_id, a_id"""))

  /** Pattern GROUP `(A B)+` — ref GroupPattern.java (nested
    * Pattern.begin(subPattern).oneOrMore()): the two-variable sub-sequence
    * is quantified as a unit; greedy + SKIP PAST LAST ROW tiles each
    * user's stream into maximal low/high alternation chains. The oracle
    * finds pair-starts (low row immediately followed by high row), groups
    * consecutive same-parity pair positions into islands (chains advance
    * by 2), and emits each island's first A / last B. */
  val qSqlMrGroup: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ((A B)+)
          DEFINE A AS A.value <= 50.0,
                 B AS B.value > 50.0
        )""").orderBy(col("user_id"), col("a_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, (value <= 50.0) AS lo,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
                   FROM events),
      pairs AS (SELECT a.user_id, a.pos, a.event_id AS a_id, b.event_id AS b_id
                FROM ord a JOIN ord b ON b.user_id = a.user_id AND b.pos = a.pos + 1
                WHERE a.lo AND NOT b.lo),
      isl AS (SELECT user_id, pos, a_id, b_id, pos % 2 AS par,
                     pos - 2 * row_number() OVER (PARTITION BY user_id, pos % 2 ORDER BY pos) AS grp
              FROM pairs)
      SELECT user_id, arg_min(a_id, pos) AS a_id, arg_max(b_id, pos) AS b_id
      FROM isl GROUP BY user_id, par, grp
      ORDER BY user_id, a_id"""))

  /** NESTED pattern groups `((A B)+ C){2}` — ref GroupPattern.java
    * (`Pattern.begin(Pattern.begin(...))`, arbitrary nesting). The staged
    * letter stream cycles `a b a b c a b c` per user, so each match's two
    * outer iterations contain DIFFERENT inner (A B)+ counts (2 pairs,
    * then 1) — a shape no flat pattern with unique variables can express;
    * matches tile each user's stream in complete 8-row blocks (proved in
    * the oracle by the HAVING COUNT(*) = 8 block filter). */
  val qSqlMrNestedGroup: Q = Q(
    run = (s, dir) => {
      graft.Tables.load(s, dir, "orders")
        .selectExpr("CAST(o_custkey % 20 AS BIGINT) AS user_id",
                    "CAST(o_orderkey AS BIGINT) AS event_id")
        .selectExpr("user_id", "event_id",
          "CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS BIGINT) AS ts")
        .selectExpr("user_id", "event_id", "ts",
          "element_at(array('a','b','a','b','c','a','b','c'), CAST(ts % 8 + 1 AS INT)) AS letter")
        .createOrReplaceTempView("mr_nested_events")
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM mr_nested_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(A.event_id) AS a_id, LAST(C.event_id) AS c_id
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (((A B)+ C){2})
          DEFINE A AS A.letter = 'a',
                 B AS B.letter = 'b',
                 C AS C.letter = 'c'
        )""").orderBy(col("user_id"), col("a_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT o_custkey % 20 AS user_id, o_orderkey AS event_id,
                          row_number() OVER (PARTITION BY o_custkey % 20
                                             ORDER BY o_orderkey) - 1 AS pos
                   FROM orders)
      SELECT user_id, MIN(event_id) AS a_id, MAX(event_id) AS c_id
      FROM ord GROUP BY user_id, pos // 8
      HAVING COUNT(*) = 8
      ORDER BY user_id, a_id"""))

  /** Absence pattern — Flink CEP notFollowedBy(purchase).followedBy(error)
    * (ref flink-cep Pattern.notFollowedBy): a click, then the FIRST error
    * with NO purchase in between, via a skip variable excluding both (the
    * canonical MATCH_RECOGNIZE encoding of mid-pattern negation; needs the
    * conjunctive DEFINE). WITHIN bounds the whole match. */
  val qSqlMrNotFollowed: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS click_id, C.event_id AS error_id
          PATTERN (A S* C)
          WITHIN INTERVAL '30' MINUTE
          DEFINE A AS A.event_type = 'click',
                 S AS S.event_type <> 'purchase' AND S.event_type <> 'error',
                 C AS C.event_type = 'error'
        )""").orderBy(col("user_id"), col("click_id"))
    },
    oracle = Some("""
      WITH ord AS (SELECT user_id, event_id, event_type, ts,
                          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
                   FROM events),
      firsts AS (
        SELECT c.user_id, c.event_id AS click_id, c.ts AS cts, c.pos,
               (SELECT min(e.pos) FROM ord e WHERE e.user_id = c.user_id
                  AND e.pos > c.pos AND e.event_type = 'error') AS epos,
               -- every row the skip variable S must absorb has to make
               -- S's DEFINE predicate TRUE: a purchase blocks, and so does
               -- a NULL event_type (<> yields NULL, not TRUE — SQL
               -- three-valued logic; the r14 hostile fixture plants NULL
               -- event_types and exposed an oracle that skipped them)
               (SELECT min(p.pos) FROM ord p WHERE p.user_id = c.user_id
                  AND p.pos > c.pos
                  AND (p.event_type = 'purchase' OR p.event_type IS NULL)) AS ppos
        FROM ord c WHERE c.event_type = 'click')
      SELECT f.user_id, f.click_id, e.event_id AS error_id
      FROM firsts f JOIN ord e ON e.user_id = f.user_id AND e.pos = f.epos
      WHERE (f.ppos IS NULL OR f.epos < f.ppos)
        AND e.ts < f.cts + INTERVAL '30 minutes'
      ORDER BY f.user_id, f.click_id"""))

  /** Dynamic-gap session windows — ref EventTimeSessionWindows
    * .withDynamicGap (SessionWindowTimeGapExtractor): each event extends
    * the session by its OWN gap (clicks 5 min, everything else 10);
    * Spark's session_window accepts the per-row gap expression natively.
    * Oracle = islands with a running max of per-event window ends. */
  val qWindowSessionDynamic: Q = Q(
    run = (s, dir) =>
      graft.Tables.load(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"),
            when(col("event_type") === "click", "5 minutes").otherwise("10 minutes")))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("session_window.start").as("ss"),
                col("session_window.end").as("se"), col("n"))
        .orderBy(col("user_id"), col("ss")),
    oracle = Some("""
      WITH x AS (SELECT user_id, event_id, ts,
                        ts + CASE WHEN event_type = 'click' THEN INTERVAL '5 minutes'
                                  ELSE INTERVAL '10 minutes' END AS e
                 FROM events),
      y AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
            FROM x),
      z AS (SELECT *, CASE WHEN pe IS NULL OR ts >= pe THEN 1 ELSE 0 END AS brk FROM y),
      w AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid FROM z)
      SELECT user_id, min(ts) AS ss, max(e) AS se, COUNT(*) AS n
      FROM w GROUP BY user_id, sid
      ORDER BY user_id, ss"""))

  /** SIMILAR TO — SQL-regex predicate (ref FlinkSqlOperatorTable SIMILAR):
    * % and _ wildcards mixed with regex alternation, whole-string match;
    * the dialect rewrites to an anchored RLIKE. */
  val qSimilarTo: Q = Q(
    run = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      new EngineEnv(s).sqlQuery("""
        SELECT p_partkey, p_type FROM part
        WHERE p_type SIMILAR TO '(ECON|PRO)%'
          AND p_name NOT SIMILAR TO 's%'
        ORDER BY p_partkey""")
    },
    oracle = Some("""
      SELECT p_partkey, p_type FROM part
      WHERE regexp_matches(p_type, '^(?:(ECON|PRO).*)$')
        AND NOT regexp_matches(p_name, '^(?:s.*)$')
      ORDER BY p_partkey"""))

  /** Window join (DataStream JoinedStreams .window, ref JoinedStreams
    * .java:63 / batch window-join): two keyed streams joined when their
    * elements fall in the SAME tumbling window — an equi-join on
    * (key, window) after window assignment, demonstrating that the window
    * column is a first-class join key. */
  val qWindowJoin: Q = Q(
    run = (s, dir) => {
      val ev = graft.Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
                window(col("ts"), "10 minutes").as("w"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), col("event_id").as("purchase_id"),
                window(col("ts"), "10 minutes").as("w2"))
      clicks.join(purchases, col("user_id") === col("u2") && col("w") === col("w2"))
        .select(col("user_id"), col("w.start").as("ws"), col("click_id"), col("purchase_id"))
        .orderBy(col("user_id"), col("ws"), col("click_id"), col("purchase_id"))
    },
    oracle = Some("""
      SELECT c.user_id AS user_id, time_bucket(INTERVAL '10 minutes', c.ts) AS ws,
             c.event_id AS click_id, p.event_id AS purchase_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND time_bucket(INTERVAL '10 minutes', c.ts) = time_bucket(INTERVAL '10 minutes', p.ts)
      ORDER BY c.user_id, ws, click_id, purchase_id"""))

  /** Event-time temporal (versioned-table) join in Flink SQL — `JOIN dim
    * FOR SYSTEM_TIME AS OF f.rowtime` (ref TemporalRowTimeJoinOperator
    * .java:77, SqlSnapshot): each click is enriched with the latest
    * purchase "version" at or before its timestamp. The dim table is
    * staged deduped to one version per (user, ts) — the versioned-table
    * primary-key contract Flink enforces — and its declared WATERMARK
    * column is the version column the rewrite resolves. */
  val qSqlTemporalJoin: Q = Q(
    run = (s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.Tables.load(s, dir, "events")
      val scratch = graft.streaming.StreamOps.scratchRoot +
        s"/tjoin_${san(dir)}"
      ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("version_id"))
        .write.mode("overwrite").parquet(s"$scratch/rates")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
        .write.mode("overwrite").parquet(s"$scratch/clicks")
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE rates_t (user_id BIGINT, ts TIMESTAMP(3), version_id BIGINT,
          WATERMARK FOR ts AS ts - INTERVAL '0' SECOND
        ) WITH ('connector'='filesystem', 'path'='$scratch/rates', 'format'='parquet')""")
      e.executeSql(s"""
        CREATE TABLE clicks_t (user_id BIGINT, click_id BIGINT, ts TIMESTAMP(3)
        ) WITH ('connector'='filesystem', 'path'='$scratch/clicks', 'format'='parquet')""")
      e.sqlQuery("""
        SELECT f.user_id, f.click_id, r.version_id
        FROM clicks_t f JOIN rates_t FOR SYSTEM_TIME AS OF f.ts AS r ON f.user_id = r.user_id
        ORDER BY f.user_id, f.click_id""")
    },
    oracle = Some("""
      WITH r AS (SELECT user_id, ts, MAX(event_id) AS version_id
                 FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
           c AS (SELECT user_id, event_id AS click_id, ts
                 FROM events WHERE event_type = 'click')
      SELECT c.user_id, c.click_id, r.version_id
      FROM c ASOF JOIN r ON c.user_id = r.user_id AND c.ts >= r.ts
      ORDER BY c.user_id, c.click_id"""))

  /** Flink TableFunction correlate join — `FROM t, LATERAL TABLE(udtf(x))
    * AS T(col)` (ref SqlUserDefinedTableFunction / CommonCorrelate),
    * with the UDTF registered through CREATE FUNCTION. Rewritten to
    * Spark's LATERAL VIEW explode. */
  val qSqlLateralTable: Q = Q(
    run = (s, dir) => {
      val e = env(s, dir)
      e.executeSql("CREATE TEMPORARY FUNCTION splitter AS 'split'")
      e.sqlQuery("""
        SELECT o_orderkey, word
        FROM orders_t, LATERAL TABLE(splitter(o_orderpriority, '-')) AS T(word)
        ORDER BY o_orderkey, word""")
    },
    oracle = Some("""
      SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS word
      FROM orders ORDER BY o_orderkey, word"""))

  /** SQL-standard OVERLAPS predicate — ref TemporalOverlaps
    * (planner expressions/time.scala:119, following Calcite's
    * convertOverlaps): interval second elements become start+interval,
    * periods normalize by swap, endpoints inclusive. Orders whose 30-day
    * active period overlaps June 1996. */
  val qSqlOverlaps: Q = Q(
    run = (s, dir) => env(s, dir).sqlQuery("""
      SELECT o_orderpriority, COUNT(*) AS n
      FROM orders_t
      WHERE (o_orderdate, INTERVAL '30' DAY) OVERLAPS
            (TIMESTAMP '1996-06-01 00:00:00', TIMESTAMP '1996-06-30 00:00:00')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    oracle = Some("""
      SELECT o_orderpriority, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate <= TIMESTAMP '1996-06-30 00:00:00'
        AND o_orderdate + INTERVAL '30 days' >= TIMESTAMP '1996-06-01 00:00:00'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_sql_tumble" -> qSqlTumble,
    "q_sql_hop" -> qSqlHop,
    "q_sql_session" -> qSqlSession,
    "q_sql_datagen" -> qSqlDatagen,
    "q_sql_match_recognize" -> qSqlMatchRecognize,
    "q_sql_match_recognize_plus" -> qSqlMatchRecognizePlus,
    "q_sql_mr_skip_to_last" -> qSqlMrSkipToLast,
    "q_sql_mr_all_rows" -> qSqlMrAllRows,
    "q_sql_mr_multi_partition" -> qSqlMrMultiPartition,
    "q_sql_mr_prev" -> qSqlMrPrev,
    "q_sql_mr_final_running" -> qSqlMrFinalRunning,
    "q_sql_mr_not_followed" -> qSqlMrNotFollowed,
    "q_sql_mr_reluctant" -> qSqlMrReluctant,
    "q_sql_mr_greedy" -> qSqlMrGreedy,
    "q_sql_mr_group" -> qSqlMrGroup,
    "q_sql_mr_nested_group" -> qSqlMrNestedGroup,
    "q_window_session_dynamic" -> qWindowSessionDynamic,
    "q_similar_to" -> qSimilarTo,
    "q_window_join" -> qWindowJoin,
    "q_sql_temporal_join" -> qSqlTemporalJoin,
    "q_sql_lateral_table" -> qSqlLateralTable,
    "q_sql_overlaps" -> qSqlOverlaps,
  )
}
