package graft.coverage

import graft.{Q, Tables}
import graft.sql.EngineEnv
import graft.streaming.StreamOps
import graft.streaming.StreamOps.san
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StructType}

/** Round-7 hardening additions — the four remaining spec-gated rows driven
  * through real oracles (metric groups, temporal sort, proc-time timers)
  * plus the persistent catalog and Gelly label propagation.
  */
object Round7Queries {

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Metric groups, oracle-gated — ref AbstractMetricGroup / the operator
    * `Counter`s every reference connector registers (e.g. the
    * deserialization-error counters of the CDC formats). Spark spelling:
    * `Dataset.observe` attaches a CollectMetrics node whose aggregates the
    * completed action publishes — the engine-owned, zero-extra-pass way to
    * count what a scan saw (the reference's metric reporters poll the same
    * numbers out-of-band). Two observed legs: a permissive maxwell-json
    * CDC parse (malformed/messages — o_orderkey%7∈{0,1} corrupted by
    * construction) and a plain lineitem scan (rows + quantity sum). The
    * observed counters are emitted AS RESULT ROWS so the oracle
    * hash-checks the metric values themselves. */
  val qMetricsObserve: Q = Q(
    run = (s, dir) => {
      import s.implicits._
      val payload = new StructType()
        .add("k", LongType).add("c", LongType).add("cents", LongType)
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
                col("o_custkey").cast("long").as("c"),
                expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
      val m = col("k") % 7
      val json = when(m === 0, concat(lit("garbage "), col("k"))) // not JSON
        .when(m === 1, to_json(struct( // unknown op
          struct(col("k"), col("c"), col("cents")).as("data"), lit("bogus-op").as("type"))))
        .otherwise(to_json(struct(
          struct(col("k"), col("c"), col("cents")).as("data"),
          when(m === 2, "delete").otherwise("insert").as("type"))))
      val cdcObs = org.apache.spark.sql.Observation(
        s"metrics_cdc_${obsSeq.incrementAndGet()}")
      val parsed = graft.sources.CdcFormats.maxwell(
        base.select(json.as("json")), "json", payload, malformedObs = Some(cdcObs))
      val survived = parsed.count() // the action that completes the CDC observation
      val scanObs = org.apache.spark.sql.Observation(
        s"metrics_scan_${obsSeq.incrementAndGet()}")
      Tables.load(s, dir, "lineitem")
        .observe(scanObs, count(lit(1)).as("rows"),
                 sum(expr("cast(floor(l_quantity) as bigint)")).as("qty"))
        .count()
      Seq(
        ("cdc.malformed", cdcObs.get("malformed").asInstanceOf[Long]),
        ("cdc.messages", cdcObs.get("messages").asInstanceOf[Long]),
        ("cdc.survived", survived),
        ("scan.qty", scanObs.get("qty").asInstanceOf[Long]),
        ("scan.rows", scanObs.get("rows").asInstanceOf[Long]))
        .toDF("metric", "value").orderBy(col("metric"))
    },
    oracle = Some("""
      WITH b AS (SELECT o_orderkey % 7 AS m FROM orders)
      SELECT 'cdc.malformed' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM b WHERE m IN (0, 1)
      UNION ALL SELECT 'cdc.messages', COUNT(*) FROM b
      UNION ALL SELECT 'cdc.survived', COUNT(*) FROM b WHERE m >= 2
      UNION ALL SELECT 'scan.qty', CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) FROM lineitem
      UNION ALL SELECT 'scan.rows', COUNT(*) FROM lineitem
      ORDER BY metric"""))

  /** Event-time temporal sort, oracle-gated — ref RowTimeSortOperator /
    * StreamExecTemporalSort via [[StreamOps.temporalSort]]. Three staged
    * micro-batches (event_id mod 3) make the flush schedule non-trivial:
    * during batch k the watermark is the ms-truncated max event time of
    * batches < k, a key flushes only in batches where it HAS data, and the
    * per-key emission counter `seq` pins the emitted ORDER itself (flush
    * batch, then event time, then id) — the part a row-set compare alone
    * could never check. Rows above the final watermark stay in state,
    * exactly as the reference's pending buffer would. */
  val qStreamTemporalSort: Q = Q(
    run = (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val stream = StreamOps.replay(s, "tsort", dir,
        (0 until 3).map(b => e.filter(pmod(col("event_id"), lit(3)) === b)))
      StreamOps.runToMemory(s, StreamOps.temporalSort(s, stream), OutputMode.Update())
        .orderBy(col("user_id"), col("seq"))
    },
    oracle = Some("""
      WITH src AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                          event_id % 3 AS b
                   FROM events),
      wmv AS (SELECT k, (SELECT COALESCE((MAX(ts_us) // 1000) * 1000, -1)
                         FROM src WHERE b < k) AS w
              FROM generate_series(0, 2) g(k)),
      kb AS (SELECT DISTINCT user_id, b FROM src),
      fl AS (SELECT s.user_id, s.event_id, s.ts_us, MIN(kb.b) AS fb
             FROM src s
             JOIN kb ON kb.user_id = s.user_id AND kb.b >= s.b
             JOIN wmv ON wmv.k = kb.b
             WHERE s.ts_us <= wmv.w
             GROUP BY s.user_id, s.event_id, s.ts_us)
      SELECT user_id, event_id, ts_us,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY fb, ts_us, event_id) AS BIGINT) AS seq
      FROM fl ORDER BY user_id, seq"""))

  /** Processing-time timers, oracle-gated — ref KeyedProcessFunction
    * .registerProcessingTimeTimer / onTimer via
    * [[StreamOps.procTimeDebounceInjected]]: the proc-time clock is the
    * staged batch stamp (`pt` = batch index 0..5 — the arrival-stamp
    * idiom of q_stream_over_proc_rows), so the debounce schedule replays
    * bit-identically. A key has data in batch b iff event_id%8 = b ≤ 5
    * and (user_id+b)%3 ≠ 0 (deterministic gaps); the timer re-arms at
    * pt+2 on every data batch and fires when a later invocation's clock
    * reaches it — so flush groups are maximal data-batch runs with gaps
    * < 2, fired at last_batch+2, which is exactly the oracle's
    * LAG/session-gap grouping. A final all-keys tick batch (pt=100) makes
    * the end-of-stream timers observable. */
  val qStreamProcDebounce: Q = Q(
    run = (s, dir) => {
      val base = Tables.load(s, dir, "events")
        .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"))
      def batch(b: Int) = base
        .filter(pmod(col("event_id"), lit(8)) === b &&
                pmod(col("user_id") + lit(b), lit(3)) =!= 0)
        .select(col("user_id"), lit(b.toLong).as("pt"), lit(0L).as("is_tick"))
      val tick = base.select(col("user_id")).distinct()
        .select(col("user_id"), lit(100L).as("pt"), lit(1L).as("is_tick"))
      val stream = StreamOps.replay(s, "debounce", dir, (0 until 6).map(batch) :+ tick)
      StreamOps.runToMemory(s,
          StreamOps.procTimeDebounceInjected(s, stream, duration = 2L), OutputMode.Update())
        .orderBy(col("user_id"), col("fired_at"))
    },
    oracle = Some("""
      WITH raw AS (SELECT user_id, event_id % 8 AS b FROM events),
      d AS (SELECT user_id, b, COUNT(*) AS nb FROM raw
            WHERE b <= 5 AND (user_id + b) % 3 <> 0 GROUP BY user_id, b),
      g AS (SELECT user_id, b, nb,
                   CASE WHEN b - LAG(b) OVER (PARTITION BY user_id ORDER BY b) >= 2
                        THEN 1 ELSE 0 END AS brk
            FROM d),
      grp AS (SELECT user_id, b, nb,
                     SUM(brk) OVER (PARTITION BY user_id ORDER BY b) AS gid
              FROM g)
      SELECT user_id, MAX(b) + 2 AS fired_at, CAST(SUM(nb) AS BIGINT) AS n
      FROM grp GROUP BY user_id, gid
      ORDER BY user_id, fired_at"""))

  /** Persistent catalog — the HiveCatalog role (ref flink-connector-hive
    * HiveCatalog.java) on the DDL-commit-log spelling: env A declares a
    * table + a derived view against a durable catalog dir, every
    * session-level trace is then ERASED, and a freshly constructed env B
    * over the same dir must restore both purely from the replayed log —
    * the metadata legs (SHOW TABLES / SHOW VIEWS through B) and the data
    * leg (the view's aggregate read through B) only hash-match if the
    * catalog actually survived. */
  val qSqlCatalogPersist: Q = Q(
    run = (s, dir) => {
      val wh = StreamOps.scratchRoot + s"/catalog_${san(dir)}"
      val root = java.nio.file.Paths.get(wh)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      val a = new EngineEnv(s, Some(wh))
      a.executeSql(s"""
        CREATE TABLE persist_t (o_orderkey BIGINT, o_custkey BIGINT,
          o_orderstatus STRING, o_totalprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
      a.executeSql("""
        CREATE VIEW persist_v AS SELECT o_orderstatus AS st, COUNT(*) AS n,
          CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM persist_t GROUP BY o_orderstatus""")
      // erase env A's session-level traces: only B's replay of the durable
      // commit log can bring the objects back
      s.catalog.dropTempView("persist_t")
      s.catalog.dropTempView("persist_v")
      val b = new EngineEnv(s, Some(wh))
      val tLeg = b.executeSql("SHOW TABLES")
        .filter(col("table_name") === "persist_t")
        .select(lit("table_listed").as("leg"), col("table_name").as("k"), lit(1L).as("v"))
      val vLeg = b.executeSql("SHOW VIEWS")
        .filter(col("view_name") === "persist_v")
        .select(lit("view_listed").as("leg"), col("view_name").as("k"), lit(1L).as("v"))
      val data = b.sqlQuery("SELECT st, n, total_c FROM persist_v")
      tLeg.unionAll(vLeg)
        .unionAll(data.select(lit("data_n").as("leg"), col("st").as("k"), col("n").as("v")))
        .unionAll(data.select(lit("data_cents").as("leg"), col("st").as("k"), col("total_c").as("v")))
        .orderBy(col("leg"), col("k"))
    },
    oracle = Some("""
      WITH agg AS (SELECT o_orderstatus AS st, COUNT(*) AS n,
                          CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
                   FROM orders GROUP BY 1)
      SELECT 'table_listed' AS leg, 'persist_t' AS k, CAST(1 AS BIGINT) AS v
      UNION ALL SELECT 'view_listed', 'persist_v', 1
      UNION ALL SELECT 'data_n', st, n FROM agg
      UNION ALL SELECT 'data_cents', st, total_c FROM agg
      ORDER BY leg, k"""))

  /** Gelly label propagation — ref flink-gelly-library/.../library/
    * LabelPropagation.java via [[graft.operators.GraphOps
    * .labelPropagation]] on the co-purchase graph. 3 synchronous rounds;
    * the oracle unrolls the same 3 rounds as chained CTEs (most-frequent
    * neighbor label, min tie-break — deterministic both sides). */
  val qGraphLabelProp: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .labelPropagation(Round2Queries.coEdges(s, dir), iters = 3)
      .orderBy(col("v")),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      r0 AS (SELECT DISTINCT u AS lv, u AS label FROM bi),
      ${lpRoundsCte(3)}
      SELECT lv AS v, label FROM r3 ORDER BY v"""))

  /** Gelly JaccardIndex — ref flink-gelly-library/.../similarity/
    * JaccardIndex.java via [[graft.operators.GraphOps.jaccardIndex]] on
    * the co-purchase graph (integer-ppm scores both sides). */
  val qGraphJaccardIndex: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .jaccardIndex(Round2Queries.coEdges(s, dir))
      .orderBy(col("u"), col("w")),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      pr AS (SELECT a.u AS u, b.u AS w, COUNT(*) AS inter
             FROM bi a JOIN bi b ON a.v = b.v AND a.u < b.u
             GROUP BY a.u, b.u)
      SELECT pr.u, pr.w, pr.inter,
             pr.inter * 1000000 // (d1.dg + d2.dg - pr.inter) AS jac_ppm
      FROM pr JOIN deg d1 ON d1.u = pr.u JOIN deg d2 ON d2.u = pr.w
      ORDER BY 1, 2"""))

  /** Gelly AdamicAdar — ref flink-gelly-library/.../similarity/
    * AdamicAdar.java via [[graft.operators.GraphOps.adamicAdar]]
    * (floor-quantized ln weights, the BM25-idf cross-engine contract). */
  val qGraphAdamicAdar: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .adamicAdar(Round2Queries.coEdges(s, dir))
      .orderBy(col("u"), col("w")),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      tri AS (SELECT a.u AS u, b.u AS w, a.v AS c
              FROM bi a JOIN bi b ON a.v = b.v AND a.u < b.u),
      wt AS (SELECT tri.u, tri.w,
                    1000000000000 // CAST(FLOOR(ln(CAST(dg AS DOUBLE)) * 1000000.0) AS BIGINT) AS contrib
             FROM tri JOIN deg ON deg.u = tri.c)
      SELECT u, w, CAST(SUM(contrib) AS BIGINT) AS aa_micro
      FROM wt GROUP BY u, w ORDER BY u, w"""))

  /** Gelly HITS — ref flink-gelly-library/.../linkanalysis/HITS.java via
    * [[graft.operators.GraphOps.hits]]: 4 rounds on the canonically
    * directed co-purchase edges, max-normalized integer scores; the
    * oracle unrolls the same 4 rounds (8 half-steps) as chained CTEs. */
  val qGraphHits: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .hits(Round2Queries.coEdges(s, dir), iters = 4)
      .orderBy(col("v")),
    oracle = Some {
      // MATERIALIZED is load-bearing: every round CTE is referenced twice
      // (scalar MAX + join) and feeds the next round — DuckDB's default
      // inlining would re-evaluate the early rounds 2^8 times
      val rounds = (1 to 4).map { i =>
        s"""a${i}r AS MATERIALIZED (SELECT e.dst AS v, CAST(SUM(h${i - 1}.s) AS BIGINT) AS s
           |  FROM e JOIN h${i - 1} ON h${i - 1}.v = e.src GROUP BY e.dst),
           |a$i AS MATERIALIZED (SELECT verts.v, COALESCE(a${i}r.s, 0) * 1000000 // (SELECT MAX(s) FROM a${i}r) AS s
           |  FROM verts LEFT JOIN a${i}r ON a${i}r.v = verts.v),
           |h${i}r AS MATERIALIZED (SELECT e.src AS v, CAST(SUM(a$i.s) AS BIGINT) AS s
           |  FROM e JOIN a$i ON a$i.v = e.dst GROUP BY e.src),
           |h$i AS MATERIALIZED (SELECT verts.v, COALESCE(h${i}r.s, 0) * 1000000 // (SELECT MAX(s) FROM h${i}r) AS s
           |  FROM verts LEFT JOIN h${i}r ON h${i}r.v = verts.v)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH ${Round2Queries.oBi},
      verts AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
      h0 AS MATERIALIZED (SELECT v, 1000000::BIGINT AS s FROM verts),
      $rounds
      SELECT verts.v, h4.s AS hub_ppm, a4.s AS auth_ppm
      FROM verts JOIN h4 ON h4.v = verts.v JOIN a4 ON a4.v = verts.v
      ORDER BY 1"""
    })

  /** Gelly local clustering coefficient — ref flink-gelly-library/.../
    * clustering/undirected/LocalClusteringCoefficient.java via
    * [[graft.operators.GraphOps.localClusteringCoefficient]] (triangle
    * corners credited per vertex over C(deg,2), integer ppm). */
  val qGraphClusteringCoeff: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .localClusteringCoefficient(Round2Queries.coEdges(s, dir))
      .orderBy(col("v")),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      tri3 AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
               FROM e e1 JOIN e e2 ON e1.dst = e2.src
               JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
      tv AS (SELECT v, COUNT(*) AS tri FROM (
               SELECT a AS v FROM tri3 UNION ALL SELECT b FROM tri3
               UNION ALL SELECT c FROM tri3)
             GROUP BY v)
      SELECT deg.u AS v, deg.dg AS degree, COALESCE(tv.tri, CAST(0 AS BIGINT)) AS tri,
             CASE WHEN deg.dg >= 2
                  THEN 2 * COALESCE(tv.tri, 0) * 1000000 // (deg.dg * (deg.dg - 1))
                  ELSE CAST(0 AS BIGINT) END AS cc_ppm
      FROM deg LEFT JOIN tv ON tv.v = deg.u
      ORDER BY 1"""))

  private def lpRoundsCte(n: Int): String = (1 to n).map { i =>
    s"""r$i AS (SELECT lv, label FROM (
       |  SELECT nb.u AS lv, l.label, COUNT(*) AS c,
       |         row_number() OVER (PARTITION BY nb.u
       |                            ORDER BY COUNT(*) DESC, l.label) AS rn
       |  FROM bi nb JOIN r${i - 1} l ON l.lv = nb.v
       |  GROUP BY nb.u, l.label) WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  /** Gelly CommunityDetection (Leung et al.) — ref flink-gelly/.../library/
    * CommunityDetection.java via [[graft.operators.GraphOps
    * .communityDetection]]: 3 score-attenuated rounds, integer micro-unit
    * scores; the oracle unrolls the identical vote → top-1 → rescore
    * chain (MATERIALIZED — each round is referenced twice). */
  val qGraphCommunity: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .communityDetection(Round2Queries.coEdges(s, dir), iters = 3)
      .orderBy(col("v")),
    oracle = Some {
      val rounds = (1 to 3).map { k =>
        s"""s$k AS MATERIALIZED (SELECT nb.u AS v, l.label,
           |    CAST(SUM(l.score) AS BIGINT) AS ts, CAST(MAX(l.score) AS BIGINT) AS ms
           |  FROM bi nb JOIN c${k - 1} l ON l.lv = nb.v GROUP BY nb.u, l.label),
           |p$k AS MATERIALIZED (SELECT v, label, ms FROM (
           |  SELECT v, label, ms, row_number() OVER (PARTITION BY v
           |    ORDER BY ts DESC, label) AS rn FROM s$k) WHERE rn = 1),
           |c$k AS MATERIALIZED (SELECT p.v AS lv, p.label,
           |    CASE WHEN p.label = c.label THEN p.ms
           |         ELSE p.ms - (500000 // $k) END AS score
           |  FROM p$k p JOIN c${k - 1} c ON c.lv = p.v)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH ${Round2Queries.oBi},
      c0 AS MATERIALIZED (SELECT DISTINCT u AS lv, u AS label,
                                 1000000::BIGINT AS score FROM bi),
      $rounds
      SELECT lv AS v, label, score AS score_micro FROM c3 ORDER BY 1"""
    })

  /** Gelly Summarization — ref flink-gelly/.../library/Summarization.java
    * via [[graft.operators.GraphOps.summarize]]: the co-purchase graph
    * condensed over its 3-round label-propagation communities —
    * (label, label) edge-group counts, self-groups = intra-community
    * density. */
  val qGraphSummarize: Q = Q(
    run = (s, dir) => {
      val edges = Round2Queries.coEdges(s, dir)
      val labels = graft.operators.GraphOps.labelPropagation(edges, iters = 3)
      graft.operators.GraphOps.summarize(edges, labels)
        .orderBy(col("src_label"), col("dst_label"))
    },
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      r0 AS (SELECT DISTINCT u AS lv, u AS label FROM bi),
      ${lpRoundsCte(3)}
      SELECT LEAST(a.label, b.label) AS src_label,
             GREATEST(a.label, b.label) AS dst_label, COUNT(*) AS n_edges
      FROM e JOIN r3 a ON a.lv = e.src JOIN r3 b ON b.lv = e.dst
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Gelly VertexMetrics — ref flink-gelly/.../library/metric/undirected/
    * VertexMetrics.java via [[graft.operators.GraphOps.vertexMetrics]]:
    * the 1-row (|V|, |E|, avg-degree ppm, Σ C(d,2) triplets, max degree,
    * max per-vertex triplets) graph statistic. */
  val qGraphVertexMetrics: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .vertexMetrics(Round2Queries.coEdges(s, dir)),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi}
      SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
             CAST(SUM(dg) AS BIGINT) // 2 AS edge_count,
             CAST(SUM(dg) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS avg_degree_ppm,
             CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS triplet_count,
             CAST(MAX(dg) AS BIGINT) AS max_degree,
             CAST(MAX(dg * (dg - 1) // 2) AS BIGINT) AS max_triplets
      FROM deg"""))

  /** Gelly EdgeMetrics — ref flink-gelly/.../library/metric/undirected/
    * EdgeMetrics.java via [[graft.operators.GraphOps.edgeMetrics]]: per
    * vertex, lc = #neighbors above it in the (degree, id) order; triangle
    * triplets C(lc,2), rectangle triplets C(lc,2)+lc·(d−lc); 1-row sums
    * and maxima. */
  val qGraphEdgeMetrics: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .edgeMetrics(Round2Queries.coEdges(s, dir)),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      lcs AS (SELECT bi.u AS lv, MAX(du.dg) AS d,
                     CAST(SUM(CASE WHEN du.dg < dv.dg
                                     OR (du.dg = dv.dg AND bi.u < bi.v)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS lc
              FROM bi JOIN deg du ON du.u = bi.u JOIN deg dv ON dv.u = bi.v
              GROUP BY bi.u),
      pv AS (SELECT lc * (lc - 1) // 2 AS tt,
                    lc * (lc - 1) // 2 + lc * (d - lc) AS rt FROM lcs)
      SELECT CAST(SUM(tt) AS BIGINT) AS triangle_triplet_count,
             CAST(SUM(rt) AS BIGINT) AS rectangle_triplet_count,
             CAST(MAX(tt) AS BIGINT) AS max_triangle_triplets,
             CAST(MAX(rt) AS BIGINT) AS max_rectangle_triplets
      FROM pv"""))

  /** Gelly GlobalClusteringCoefficient — ref flink-gelly/.../library/
    * clustering/undirected/GlobalClusteringCoefficient.java via
    * [[graft.operators.GraphOps.globalClusteringCoefficient]]: closed
    * triplets (3 per triangle) over all triplets, floor ppm. */
  val qGraphGlobalCc: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .globalClusteringCoefficient(Round2Queries.coEdges(s, dir)),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      tri3 AS (SELECT e1.src AS a FROM e e1
               JOIN e e2 ON e1.dst = e2.src
               JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
      tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntri FROM tri3),
      tp AS (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS triplet_count FROM deg)
      SELECT tp.triplet_count, 3 * tc.ntri AS triangle_count,
             CASE WHEN tp.triplet_count > 0
                  THEN 3 * tc.ntri * 1000000 // tp.triplet_count
                  ELSE CAST(0 AS BIGINT) END AS gcc_ppm
      FROM tp, tc"""))

  /** Gelly AverageClusteringCoefficient — ref flink-gelly/.../library/
    * clustering/undirected/AverageClusteringCoefficient.java via
    * [[graft.operators.GraphOps.averageClusteringCoefficient]]: mean of
    * the per-vertex ppm LCC scores (quantize-then-sum keeps the mean
    * order-independent). */
  val qGraphAvgCc: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .averageClusteringCoefficient(Round2Queries.coEdges(s, dir)),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      tri3 AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
               FROM e e1 JOIN e e2 ON e1.dst = e2.src
               JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
      tv AS (SELECT v, COUNT(*) AS tri FROM (
               SELECT a AS v FROM tri3 UNION ALL SELECT b FROM tri3
               UNION ALL SELECT c FROM tri3)
             GROUP BY v),
      lcc AS (SELECT deg.u AS v,
                     CASE WHEN deg.dg >= 2
                          THEN 2 * COALESCE(tv.tri, 0) * 1000000 // (deg.dg * (deg.dg - 1))
                          ELSE CAST(0 AS BIGINT) END AS cc_ppm
              FROM deg LEFT JOIN tv ON tv.v = deg.u)
      SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
             CAST(SUM(cc_ppm) AS BIGINT) AS sum_cc_ppm,
             CAST(SUM(cc_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS acc_ppm
      FROM lcc"""))

  /** Gelly TriadicCensus — ref flink-gelly/.../library/clustering/
    * undirected/TriadicCensus.java via [[graft.operators.GraphOps
    * .triadicCensus]]: closed-form triad counts from (n, e, triplets,
    * triangles); arithmetic is exact DECIMAL(38,0)/HUGEINT (the
    * reference's BigInteger range) on both sides, with the 4 results
    * projected to BIGINT — guarded Spark-side by censusLong's
    * raise_error, DuckDB-side by its overflow-checked HUGEINT→BIGINT
    * cast — so the representation is hash-stable across engines. */
  val qGraphTriadicCensus: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .triadicCensus(Round2Queries.coEdges(s, dir)),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      tri3 AS (SELECT e1.src AS a FROM e e1
               JOIN e e2 ON e1.dst = e2.src
               JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
      m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(dg) AS HUGEINT) // 2 AS ec,
                   CAST(SUM(dg * (dg - 1) // 2) AS HUGEINT) AS t
            FROM deg),
      tc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS tri FROM tri3)
      SELECT CAST(n * (n - 1) * (n - 2) // 6
                  - (ec * (n - 2) - 2 * (t - 3 * tri) - 3 * tri)
                  - (t - 3 * tri) - tri AS BIGINT) AS triads0,
             CAST(ec * (n - 2) - 2 * (t - 3 * tri) - 3 * tri AS BIGINT) AS triads1,
             CAST(t - 3 * tri AS BIGINT) AS triads2,
             CAST(tri AS BIGINT) AS triads3
      FROM m, tc"""))

  /** Gelly ChecksumHashCode — ref flink-gelly/.../library/metric/
    * ChecksumHashCode.java via [[graft.operators.GraphOps
    * .checksumHashCode]]: order-independent (count, XOR-folded 60-bit
    * md5) signatures of the vertex and edge sets. */
  val qGraphChecksum: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .checksumHashCode(Round2Queries.coEdges(s, dir)),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      verts AS (SELECT DISTINCT u AS v FROM bi)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM verts) AS vertex_count,
             (SELECT BIT_XOR(${graft.Queries.oHash("CAST(v AS VARCHAR)")}) FROM verts) AS vertex_checksum,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS edge_count,
             (SELECT BIT_XOR(${graft.Queries.oHash("CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")}) FROM e) AS edge_checksum"""))

  /** Gelly Graph-API structural transforms — ref flink-gelly/.../graph/
    * Graph.java (reverse:1441, getUndirected:1069, subgraph:924,
    * union:1769, difference:1789, intersect:1813) via
    * [[graft.operators.GraphOps.GGraph]]: six transforms applied to the
    * co-purchase graph, each summarized as (op, |V|, |E| with multiset
    * multiplicity, XOR edge-set signature) so the oracle hash-checks the
    * exact resulting vertex AND edge sets of every transform. */
  val qGraphTransforms: Q = Q(
    run = (s, dir) => {
      import graft.operators.GraphOps.GGraph
      val g = GGraph.fromEdges(Round2Queries.coEdges(s, dir))
      val a = g.subgraph(v => v % 3 =!= 0, (sc, dc) => (sc + dc) % 2 === 0)
      val b = g.filterOnEdges((sc, dc) => sc % 5 < dc % 5)
      val ops: Seq[(String, GGraph)] = Seq(
        "reverse" -> g.reverse,
        "undirected" -> g.getUndirected,
        "subgraph" -> a,
        "union" -> a.union(b),
        "difference" -> g.difference(GGraph.fromEdges(a.edges)),
        "intersect" -> a.intersect(b))
      val h = graft.Queries.hashStr(concat(
        col("src").cast("string"), lit(":"), col("dst").cast("string")))
      ops.map { case (tag, gg) =>
        gg.vertices.agg(count(lit(1)).as("n_vertices"))
          .crossJoin(gg.edges.select(h.as("eh"))
            .agg(count(lit(1)).as("n_edges"), expr("BIT_XOR(eh)").as("esig")))
          .select(lit(tag).as("op"), col("n_vertices"), col("n_edges"), col("esig"))
      }.reduce(_ unionAll _).orderBy(col("op"))
    },
    oracle = Some {
      val eh = graft.Queries.oHash("CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")
      s"""
      WITH ${Round2Queries.oBi},
      verts AS (SELECT DISTINCT u AS v FROM bi),
      a_v AS (SELECT v FROM verts WHERE v % 3 <> 0),
      a_e AS (SELECT src, dst FROM e
              WHERE src % 3 <> 0 AND dst % 3 <> 0 AND (src + dst) % 2 = 0),
      b_e AS (SELECT src, dst FROM e WHERE src % 5 < dst % 5),
      ae_v AS (SELECT DISTINCT v FROM (SELECT src AS v FROM a_e
                                       UNION ALL SELECT dst FROM a_e)),
      rev_e AS (SELECT dst AS src, src AS dst FROM e),
      und_e AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
      un_v AS (SELECT v FROM a_v UNION SELECT v FROM verts),
      un_e AS (SELECT src, dst FROM a_e UNION ALL SELECT src, dst FROM b_e),
      df_v AS (SELECT v FROM verts WHERE v NOT IN (SELECT v FROM ae_v)),
      df_e AS (SELECT src, dst FROM e WHERE src NOT IN (SELECT v FROM ae_v)
                                        AND dst NOT IN (SELECT v FROM ae_v)),
      in_e AS (SELECT src, dst FROM a_e INTERSECT SELECT src, dst FROM b_e),
      in_v AS (SELECT DISTINCT v FROM (SELECT src AS v FROM in_e
                                       UNION ALL SELECT dst FROM in_e))
      SELECT 'reverse' AS op, (SELECT CAST(COUNT(*) AS BIGINT) FROM verts) AS n_vertices,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rev_e) AS n_edges,
             (SELECT BIT_XOR($eh) FROM rev_e) AS esig
      UNION ALL SELECT 'undirected', (SELECT CAST(COUNT(*) AS BIGINT) FROM verts),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM und_e), (SELECT BIT_XOR($eh) FROM und_e)
      UNION ALL SELECT 'subgraph', (SELECT CAST(COUNT(*) AS BIGINT) FROM a_v),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM a_e), (SELECT BIT_XOR($eh) FROM a_e)
      UNION ALL SELECT 'union', (SELECT CAST(COUNT(*) AS BIGINT) FROM un_v),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM un_e), (SELECT BIT_XOR($eh) FROM un_e)
      UNION ALL SELECT 'difference', (SELECT CAST(COUNT(*) AS BIGINT) FROM df_v),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM df_e), (SELECT BIT_XOR($eh) FROM df_e)
      UNION ALL SELECT 'intersect', (SELECT CAST(COUNT(*) AS BIGINT) FROM in_v),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM in_e), (SELECT BIT_XOR($eh) FROM in_e)
      ORDER BY 1"""
    })

  /** Gelly BipartiteGraph projections — ref flink-gelly/.../graph/
    * bipartite/BipartiteGraph.java (projectionTopSimple:130,
    * projectionBottomSimple:182, projectionTopFull:234,
    * projectionBottomFull:308) via [[graft.operators.GraphOps
    * .BipartiteGraph]]: the purchase events ARE a (window, user, count)
    * bipartite incidence; all four projections are summarized as (proj,
    * multigraph |E|, distinct pair count, value sum, multiset hash-sum
    * signature) — the signature includes the connecting vertex for the
    * Full variants, so simple-vs-full semantics are hash-distinguished. */
  val qGraphBipartite: Q = Q(
    run = (s, dir) => {
      import graft.operators.GraphOps.BipartiteGraph
      val be = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(
          unix_timestamp(window(col("ts"), "10 minutes").getField("start")).as("top"),
          col("user_id").as("bottom"))
        .agg(count(lit(1)).as("value"))
      val bg = BipartiteGraph(be)
      def sig(cols: Seq[String]) = sum(pmod(graft.Queries.hashStr(
        concat_ws(":", cols.map(c => col(c).cast("string")): _*)), lit(1000003L)))
      def summarize(tag: String, df: org.apache.spark.sql.DataFrame,
                    hashCols: Seq[String]) =
        df.agg(count(lit(1)).as("n_edges"),
            expr("CAST(COUNT(DISTINCT src, dst) AS BIGINT)").as("n_pairs"),
            expr("CAST(SUM(v1 + v2) AS BIGINT)").as("vsum"),
            sig(hashCols).as("sig"))
          .select(lit(tag).as("proj"), col("n_edges"), col("n_pairs"),
            col("vsum"), col("sig"))
      val simpleCols = Seq("src", "dst", "v1", "v2")
      val fullCols = Seq("src", "dst", "via", "v1", "v2")
      Seq(
        summarize("top_simple", bg.projectionTopSimple, simpleCols),
        summarize("bottom_simple", bg.projectionBottomSimple, simpleCols),
        summarize("top_full", bg.projectionTopFull, fullCols),
        summarize("bottom_full", bg.projectionBottomFull, fullCols))
        .reduce(_ unionAll _).orderBy(col("proj"))
    },
    oracle = Some {
      def oSig(cols: String*) = s"CAST(SUM((${graft.Queries.oHash(
        cols.map(c => s"CAST($c AS VARCHAR)").mkString(" || ':' || "))}) % 1000003) AS BIGINT)"
      s"""
      WITH p AS (SELECT CAST(epoch(time_bucket(INTERVAL '10 minutes', ts)) AS BIGINT) AS top,
                        user_id AS bottom, CAST(COUNT(*) AS BIGINT) AS value
                 FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      ts_p AS (SELECT a.top AS src, b.top AS dst, a.bottom AS via,
                      a.value AS v1, b.value AS v2
               FROM p a JOIN p b ON a.bottom = b.bottom AND a.top <> b.top),
      bs_p AS (SELECT a.bottom AS src, b.bottom AS dst, a.top AS via,
                      a.value AS v1, b.value AS v2
               FROM p a JOIN p b ON a.top = b.top AND a.bottom <> b.bottom)
      SELECT 'bottom_full' AS proj, CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(COUNT(DISTINCT (src, dst)) AS BIGINT) AS n_pairs,
             CAST(SUM(v1 + v2) AS BIGINT) AS vsum,
             ${oSig("src", "dst", "via", "v1", "v2")} AS sig FROM bs_p
      UNION ALL SELECT 'bottom_simple', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (src, dst)) AS BIGINT), CAST(SUM(v1 + v2) AS BIGINT),
             ${oSig("src", "dst", "v1", "v2")} FROM bs_p
      UNION ALL SELECT 'top_full', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (src, dst)) AS BIGINT), CAST(SUM(v1 + v2) AS BIGINT),
             ${oSig("src", "dst", "via", "v1", "v2")} FROM ts_p
      UNION ALL SELECT 'top_simple', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (src, dst)) AS BIGINT), CAST(SUM(v1 + v2) AS BIGINT),
             ${oSig("src", "dst", "v1", "v2")} FROM ts_p
      ORDER BY 1"""
    })

  /** Directed co-purchase graph: within each shared 10-minute window the
    * EARLIER first-purchaser points at the later one (ties by id), so
    * both orientations of a pair can appear across windows — a genuine
    * mixed-dyad directed simple graph over the same support as
    * [[Round2Queries.coEdges]]. */
  private def dirEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = Tables.load(s, dir, "events").filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("u"),
        window(col("ts"), "10 minutes").getField("start").as("d"))
      .agg(min(col("ts")).as("mt"))
    p.as("a").join(p.as("b"),
        col("a.d") === col("b.d") && col("a.u") =!= col("b.u") &&
        (col("a.mt") < col("b.mt") ||
         (col("a.mt") === col("b.mt") && col("a.u") < col("b.u"))))
      .select(col("a.u").as("src"), col("b.u").as("dst")).distinct()
  }

  /** Oracle CTEs mirroring [[dirEdges]] + the dyad/degree/triangle frames
    * of the directed family (spliced into each directed-graph oracle). */
  private val oDir = s"""
    pw AS (SELECT user_id AS u, time_bucket(INTERVAL '10 minutes', ts) AS d,
                  MIN(ts) AS mt
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    de AS (SELECT DISTINCT a.u AS src, b.u AS dst
           FROM pw a JOIN pw b ON a.d = b.d AND a.u <> b.u
            AND (a.mt < b.mt OR (a.mt = b.mt AND a.u < b.u))),
    dy AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS w,
                  CAST(MAX(CASE WHEN src < dst THEN 1 ELSE 0 END) AS BIGINT) AS f,
                  CAST(MAX(CASE WHEN src > dst THEN 1 ELSE 0 END) AS BIGINT) AS r
           FROM de GROUP BY 1, 2),
    dd AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree,
                  CAST(SUM(o) AS BIGINT) AS out_degree,
                  CAST(SUM(i) AS BIGINT) AS in_degree
           FROM (SELECT u AS v, f AS o, r AS i FROM dy
                 UNION ALL SELECT w, r, f FROM dy)
           GROUP BY v),
    tl AS (SELECT ab.u AS a, ab.w AS b, bc.w AS c,
                  ab.f AS fab, ab.r AS rab, bc.f AS fbc, bc.r AS rbc,
                  ac.f AS fac, ac.r AS rac
           FROM dy ab JOIN dy bc ON ab.w = bc.u
                      JOIN dy ac ON ab.u = ac.u AND bc.w = ac.w)"""

  /** Directed triangle listing with triad types — ref flink-gelly/.../
    * clustering/directed/TriangleListing.java via [[graft.operators
    * .GraphOps.directedTriangleListing]]: each triangle of the directed
    * co-purchase graph with its three 2-bit dyad masks and
    * Holland–Leinhardt type; the oracle evaluates the IDENTICAL
    * classification CASE over the same dyad joins. */
  val qGraphDirTriangles: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .directedTriangleListing(dirEdges(s, dir))
      .orderBy(col("a"), col("b"), col("c")),
    oracle = Some(s"""
      WITH $oDir
      SELECT a, b, c, fab, rab, fbc, rbc, fac, rac,
             ${graft.operators.GraphOps.triadTypeExpr} AS ttype
      FROM tl ORDER BY a, b, c"""))

  /** Directed local clustering coefficient — ref flink-gelly/.../
    * clustering/directed/LocalClusteringCoefficient.java via
    * [[graft.operators.GraphOps.directedLocalClusteringCoefficient]]:
    * per vertex, DIRECTED edges among its neighbors over degree·(degree−1)
    * ordered pairs, floor ppm. */
  val qGraphDirLcc: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .directedLocalClusteringCoefficient(dirEdges(s, dir))
      .orderBy(col("v")),
    oracle = Some(s"""
      WITH $oDir,
      nb AS (SELECT u AS v, w AS n FROM dy UNION ALL SELECT w, u FROM dy),
      trie AS (SELECT nbx.v, CAST(COUNT(*) AS BIGINT) AS tri
               FROM de e JOIN nb nbx ON nbx.n = e.src
                         JOIN nb nby ON nby.v = nbx.v AND nby.n = e.dst
               GROUP BY nbx.v)
      SELECT dd.v, dd.degree, COALESCE(trie.tri, CAST(0 AS BIGINT)) AS tri,
             CASE WHEN dd.degree >= 2
                  THEN COALESCE(trie.tri, 0) * 1000000 // (dd.degree * (dd.degree - 1))
                  ELSE CAST(0 AS BIGINT) END AS cc_ppm
      FROM dd LEFT JOIN trie ON trie.v = dd.v
      ORDER BY 1"""))

  /** Directed vertex metrics — ref flink-gelly/.../metric/directed/
    * VertexMetrics.java via [[graft.operators.GraphOps
    * .directedVertexMetrics]]: |V|, unidirectional/bidirectional edge
    * counts, Σ C(d,2) triplets, degree/out/in/triplet maxima. */
  val qGraphDirMetrics: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .directedVertexMetrics(dirEdges(s, dir)),
    oracle = Some(s"""
      WITH $oDir
      SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
             CAST(SUM(2 * degree - out_degree - in_degree) AS BIGINT) // 2
               AS unidirectional_edge_count,
             CAST(SUM(out_degree + in_degree - degree) AS BIGINT) // 2
               AS bidirectional_edge_count,
             CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS triplet_count,
             CAST(MAX(degree) AS BIGINT) AS max_degree,
             CAST(MAX(out_degree) AS BIGINT) AS max_out_degree,
             CAST(MAX(in_degree) AS BIGINT) AS max_in_degree,
             CAST(MAX(degree * (degree - 1) // 2) AS BIGINT) AS max_triplets
      FROM dd"""))

  /** Directed global + average clustering coefficient — ref flink-gelly/
    * .../clustering/directed/{Global,Average}ClusteringCoefficient.java
    * via [[graft.operators.GraphOps.directedGlobalAvgClustering]]. */
  val qGraphDirGccAcc: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .directedGlobalAvgClustering(dirEdges(s, dir)),
    oracle = Some(s"""
      WITH $oDir,
      nb AS (SELECT u AS v, w AS n FROM dy UNION ALL SELECT w, u FROM dy),
      trie AS (SELECT nbx.v, CAST(COUNT(*) AS BIGINT) AS tri
               FROM de e JOIN nb nbx ON nbx.n = e.src
                         JOIN nb nby ON nby.v = nbx.v AND nby.n = e.dst
               GROUP BY nbx.v),
      lcc AS (SELECT dd.v,
                     CASE WHEN dd.degree >= 2
                          THEN COALESCE(trie.tri, 0) * 1000000 // (dd.degree * (dd.degree - 1))
                          ELSE CAST(0 AS BIGINT) END AS cc_ppm
              FROM dd LEFT JOIN trie ON trie.v = dd.v),
      la AS (SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
                    CAST(SUM(cc_ppm) AS BIGINT) AS sum_cc_ppm,
                    CAST(SUM(cc_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS acc_ppm
             FROM lcc),
      tp AS (SELECT CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS triplet_count FROM dd),
      tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntri FROM tl)
      SELECT la.vertex_count, la.sum_cc_ppm, la.acc_ppm, tp.triplet_count,
             3 * tc.ntri AS triangle_count,
             CASE WHEN tp.triplet_count > 0
                  THEN 3 * tc.ntri * 1000000 // tp.triplet_count
                  ELSE CAST(0 AS BIGINT) END AS gcc_ppm
      FROM la, tp, tc"""))

  /** Directed triadic census — ref flink-gelly/.../clustering/directed/
    * TriadicCensus.java via [[graft.operators.GraphOps
    * .directedTriadicCensus]]: all 16 Holland–Leinhardt triad types from
    * the per-vertex out-only/in-only/bidirectional decomposition + typed
    * triangle counts, closed-form; exact DECIMAL(38,0)/HUGEINT
    * arithmetic with guarded BIGINT projection on both sides (the
    * hash-stable representation). */
  val qGraphDirCensus: Q = Q(
    run = (s, dir) => graft.operators.GraphOps
      .directedTriadicCensus(dirEdges(s, dir)),
    oracle = Some(s"""
      WITH $oDir,
      vs AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                    CAST(SUM(s + t) AS HUGEINT) // 2 AS uni,
                    CAST(SUM(b) AS HUGEINT) // 2 AS bi,
                    CAST(SUM(s * (s - 1) // 2) AS HUGEINT) AS p021d,
                    CAST(SUM(t * (t - 1) // 2) AS HUGEINT) AS p021u,
                    CAST(SUM(s * t) AS HUGEINT) AS p021c,
                    CAST(SUM(t * b) AS HUGEINT) AS p111d,
                    CAST(SUM(s * b) AS HUGEINT) AS p111u,
                    CAST(SUM(b * (b - 1) // 2) AS HUGEINT) AS p201
             FROM (SELECT degree - in_degree AS s, degree - out_degree AS t,
                          out_degree + in_degree - degree AS b FROM dd)),
      ty AS (SELECT ${graft.operators.GraphOps.triadTypeExpr} AS ttype FROM tl),
      ts AS (SELECT CAST(COALESCE(SUM(CASE WHEN ttype = '030t' THEN 1 ELSE 0 END), 0) AS HUGEINT) AS c030t,
                    CAST(COALESCE(SUM(CASE WHEN ttype = '030c' THEN 1 ELSE 0 END), 0) AS HUGEINT) AS c030c,
                    CAST(COALESCE(SUM(CASE WHEN ttype = '120d' THEN 1 ELSE 0 END), 0) AS HUGEINT) AS c120d,
                    CAST(COALESCE(SUM(CASE WHEN ttype = '120u' THEN 1 ELSE 0 END), 0) AS HUGEINT) AS c120u,
                    CAST(COALESCE(SUM(CASE WHEN ttype = '120c' THEN 1 ELSE 0 END), 0) AS HUGEINT) AS c120c,
                    CAST(COALESCE(SUM(CASE WHEN ttype = '210' THEN 1 ELSE 0 END), 0) AS HUGEINT) AS c210,
                    CAST(COALESCE(SUM(CASE WHEN ttype = '300' THEN 1 ELSE 0 END), 0) AS HUGEINT) AS c300
             FROM ty),
      adj AS (SELECT n, uni, bi,
                     p201 - 3 * c300 - c210 AS t201,
                     p111d - c210 - c120c - 2 * c120d AS t111d,
                     p111u - c210 - c120c - 2 * c120u AS t111u,
                     p021c - c120c - 3 * c030c - c030t AS t021c,
                     p021u - c120u - c030t AS t021u,
                     p021d - c120d - c030t AS t021d,
                     c030t, c030c, c120d, c120u, c120c, c210, c300
              FROM vs, ts),
      fin AS (SELECT *,
                     bi * (n - 2) - t111d - t111u - 2 * t201
                       - c120d - c120u - c120c - 2 * c210 - 3 * c300 AS t102,
                     uni * (n - 2) - 2 * t021d - 2 * t021u - 2 * t021c
                       - t111d - t111u - 3 * c030t - 3 * c030c
                       - 2 * c120d - 2 * c120u - 2 * c120c - c210 AS t012,
                     n * (n - 1) * (n - 2) // 6 AS cn3
              FROM adj)
      SELECT CAST(cn3 - t012 - t102 - t021d - t021u - t021c - t111d - t111u
                  - c030t - c030c - t201 - c120d - c120u - c120c - c210 - c300
                  AS BIGINT) AS t003,
             CAST(t012 AS BIGINT) AS t012, CAST(t102 AS BIGINT) AS t102,
             CAST(t021d AS BIGINT) AS t021d, CAST(t021u AS BIGINT) AS t021u,
             CAST(t021c AS BIGINT) AS t021c, CAST(t111d AS BIGINT) AS t111d,
             CAST(t111u AS BIGINT) AS t111u, CAST(c030t AS BIGINT) AS t030t,
             CAST(c030c AS BIGINT) AS t030c, CAST(t201 AS BIGINT) AS t201,
             CAST(c120d AS BIGINT) AS t120d, CAST(c120u AS BIGINT) AS t120u,
             CAST(c120c AS BIGINT) AS t120c, CAST(c210 AS BIGINT) AS t210,
             CAST(c300 AS BIGINT) AS t300
      FROM fin"""))

  /** Gelly deterministic graph generators — ref flink-gelly/.../graph/
    * generator/ (CirculantGraph:147, CompleteGraph:58, EchoGraph:77,
    * GridGraph:126 + its Cycle/Path/Hypercube spellings, StarGraph,
    * SingletonEdgeGraph, EmptyGraph) via [[graft.operators.GraphOps
    * .Generators]]: ten fixed configurations, each summarized as (gen,
    * |V|, directed |E|, min/max out-degree over ALL vertices, XOR edge
    * signature) and hash-checked against DuckDB rebuilding the same edge
    * sets in closed form from range(). */
  val qGraphGenerators: Q = Q(
    run = (s, _) => {
      val G = graft.operators.GraphOps.Generators
      val h = graft.Queries.hashStr(concat(
        col("src").cast("string"), lit(":"), col("dst").cast("string")))
      def row(tag: String, n: Long, e: org.apache.spark.sql.DataFrame) = {
        val deg = s.range(n).select(col("id").as("v"))
          .join(e.groupBy(col("src").as("v")).agg(count(lit(1)).as("od")),
            Seq("v"), "left")
          .na.fill(0L, Seq("od"))
          .agg(min(col("od")).as("min_out"), max(col("od")).as("max_out"))
        val es = e.select(h.as("eh"))
          .agg(count(lit(1)).as("n_edges"), expr("BIT_XOR(eh)").as("esig"))
        deg.crossJoin(es).select(lit(tag).as("gen"), lit(n).as("n_vertices"),
          col("n_edges"), col("min_out"), col("max_out"), col("esig"))
      }
      Seq(
        row("complete6", 6, G.complete(s, 6)),
        row("circulant10_23", 10, G.circulant(s, 10, Seq((2L, 2L)))),
        row("echo10_3", 10, G.echo(s, 10, 3)),
        row("cycle8", 8, G.cycle(s, 8)),
        row("path7", 7, G.path(s, 7)),
        row("star9", 9, G.star(s, 9)),
        row("hypercube4", 16, G.hypercube(s, 4)),
        row("grid3x4w", 12, G.grid(s, Seq((3L, false), (4L, true)))),
        row("singleton5", 10, G.singletonEdge(s, 5)),
        row("empty5", 5, G.empty(s)))
        .reduce(_ unionAll _).orderBy(col("gen"))
    },
    oracle = Some {
      def oGen(tag: String, n: Int, cte: String) = s"""
        SELECT '$tag' AS gen, CAST($n AS BIGINT) AS n_vertices,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM $cte) AS n_edges,
          (SELECT CAST(MIN(COALESCE(d.od, 0)) AS BIGINT) FROM range($n) v(i)
            LEFT JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS od
                       FROM $cte GROUP BY src) d ON d.src = v.i) AS min_out,
          (SELECT CAST(MAX(COALESCE(d.od, 0)) AS BIGINT) FROM range($n) v(i)
            LEFT JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS od
                       FROM $cte GROUP BY src) d ON d.src = v.i) AS max_out,
          (SELECT BIT_XOR(${graft.Queries.oHash(
            "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")}) FROM $cte) AS esig"""
      s"""
      WITH
      ge_complete AS (SELECT i AS src, (i + o) % 6 AS dst
                      FROM range(6) a(i), range(1, 6) b(o)),
      ge_circ AS (SELECT i AS src, (i + o) % 10 AS dst
                  FROM range(10) a(i), range(2, 4) b(o)),
      ge_echo AS (SELECT i AS src, (i + o) % 10 AS dst
                  FROM range(10) a(i), range(4, 7) b(o)),
      ge_cycle AS (SELECT i AS src, (i + 1) % 8 AS dst FROM range(8) a(i)
                   UNION ALL SELECT i, (i + 7) % 8 FROM range(8) a(i)),
      ge_path AS (SELECT i AS src, i + 1 AS dst FROM range(6) a(i)
                  UNION ALL SELECT i, i - 1 FROM range(1, 7) a(i)),
      ge_star AS (SELECT CAST(0 AS BIGINT) AS src, i AS dst FROM range(1, 9) a(i)
                  UNION ALL SELECT i, CAST(0 AS BIGINT) FROM range(1, 9) a(i)),
      ge_hc AS (SELECT i AS src, xor(i, 1 << k) AS dst
                FROM range(16) a(i), range(4) b(k)),
      ge_grid AS (SELECT i AS src, i - 4 AS dst FROM range(12) a(i) WHERE (i // 4) % 3 > 0
                  UNION ALL SELECT i, i + 4 FROM range(12) a(i) WHERE (i // 4) % 3 < 2
                  UNION ALL SELECT i, i - 1 FROM range(12) a(i) WHERE i % 4 > 0
                  UNION ALL SELECT i, i + 3 FROM range(12) a(i) WHERE i % 4 = 0
                  UNION ALL SELECT i, i + 1 FROM range(12) a(i) WHERE i % 4 < 3
                  UNION ALL SELECT i, i - 3 FROM range(12) a(i) WHERE i % 4 = 3),
      ge_single AS (SELECT 2 * i AS src, 2 * i + 1 AS dst FROM range(5) a(i)
                    UNION ALL SELECT 2 * i + 1, 2 * i FROM range(5) a(i)),
      ge_empty AS (SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS dst
                   WHERE 1 = 0)
      ${Seq(
        oGen("complete6", 6, "ge_complete"), oGen("circulant10_23", 10, "ge_circ"),
        oGen("echo10_3", 10, "ge_echo"), oGen("cycle8", 8, "ge_cycle"),
        oGen("path7", 7, "ge_path"), oGen("star9", 9, "ge_star"),
        oGen("hypercube4", 16, "ge_hc"), oGen("grid3x4w", 12, "ge_grid"),
        oGen("singleton5", 10, "ge_single"), oGen("empty5", 5, "ge_empty"))
        .mkString("\nUNION ALL")}
      ORDER BY 1"""
    })

  /** FLIP-39 ML Pipeline — ref flink-ml-parent/flink-ml-api/.../api/
    * {Pipeline,Estimator,Transformer}.java + flink-ml-lib's
    * MultivariateGaussian (diagonal case) via [[graft.ml.Pipeline]]:
    * clip-Transformer → DiagGaussianEstimator fit on the quantized
    * embedding components (each Estimator fit on the data as transformed
    * by prior stages — the reference's Pipeline.fit contract), then the
    * fitted PipelineModel scores every vector; result = the 20 lowest
    * quantized log-densities (the anomaly tail). The oracle re-derives
    * the identical floor-semantics integer stats and ln contract. */
  val qMlPipeline: Q = Q(
    run = (s, dir) => {
      val long = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("d"),
          floor(col("col").cast("double") * 10000.0).cast("long").as("q"))
      val model = new graft.ml.Pipeline(Seq(
        graft.ml.ClipTransformer("q", -8000L, 8000L),
        graft.ml.DiagGaussianEstimator("d", "q"))).fit(long)
      model.transform(long)
        .groupBy(col("vec_id"))
        .agg(expr("CAST(SUM(contrib) AS BIGINT)").as("logdens_micro"))
        .orderBy(col("logdens_micro"), col("vec_id")).limit(20)
    },
    oracle = Some("""
      WITH q AS (
        SELECT vec_id, d,
               GREATEST(LEAST(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 10000.0) AS BIGINT),
                              8000), -8000) AS q
        FROM embeddings, generate_series(1, 64) g(d)),
      st AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS s,
                    CAST(SUM(q * q) AS BIGINT) AS ss
             FROM q GROUP BY d),
      pm AS (SELECT d, s // n AS mean_q,
                    GREATEST(1, (ss - 2 * (s // n) * s + n * (s // n) * (s // n)) // n) AS var_q
             FROM st),
      pm2 AS (SELECT d, mean_q, var_q,
                     CAST(FLOOR(ln(CAST(var_q AS DOUBLE)) * 1000000.0) AS BIGINT) AS lnvar_micro
              FROM pm),
      sc AS (SELECT q.vec_id,
                    -((q.q - pm2.mean_q) * (q.q - pm2.mean_q) * 1000000 // (2 * pm2.var_q))
                      - pm2.lnvar_micro // 2 AS contrib
             FROM q JOIN pm2 ON pm2.d = q.d)
      SELECT vec_id, CAST(SUM(contrib) AS BIGINT) AS logdens_micro
      FROM sc GROUP BY vec_id ORDER BY logdens_micro, vec_id LIMIT 20"""))

  /** Hadoop SequenceFile roundtrip — ref flink-formats/flink-sequence-file/
    * .../SequenceFileWriterFactory.java (the bulk writer the reference's
    * StreamingFileSink uses for SequenceFiles) + its read path through the
    * Hadoop-compat inputs: write (LongWritable, Text) records through
    * Spark's native Hadoop SequenceFile bridge, read them back, parse and
    * aggregate against the source-parquet oracle — the roundtrip equality
    * IS the format check. The RDD hop is the Writable bridge only; all
    * relational work stays in DataFrames. */
  val qSinkRoundtripSeqfile: Q = Q(
    run = (s, dir) => {
      import s.implicits._
      val out = s"/tmp/graft_sink/${san(dir)}/nation_seq"
      graft.streaming.StreamOps.wipeDir(out)
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"),
          concat_ws("|", col("n_name"), col("n_regionkey").cast("string")).as("v"))
        .as[(Long, String)].rdd.saveAsSequenceFile(out)
      s.sparkContext.sequenceFile[Long, String](out).toDF("k", "v")
        .select(col("k"), split(col("v"), "\\|").getItem(0).as("n_name"),
          split(col("v"), "\\|").getItem(1).cast("long").as("n_regionkey"))
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
          expr("CAST(SUM(k) AS BIGINT)").as("key_sum"))
        .orderBy(col("n_regionkey"))
    },
    oracle = Some("""
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, COUNT(*) AS n,
             MIN(n_name) AS first_name,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
      FROM nation GROUP BY 1 ORDER BY 1"""))

  /** Rate streaming datagen, oracle-gated — ref flink-streaming-java/.../
    * source/datagen/DataGeneratorSource.java (+ the SQL datagen connector
    * this repo gates as q_sql_datagen): a live source emitting the
    * deterministic value sequence 0,1,2,… at a configured rate. Spark's
    * `rate` format IS this operator; its DATA contract (the value column
    * is a gapless 0-based sequence) is machine-checkable even though
    * arrival timestamps are wall-clock: run live until values 0..999 have
    * all arrived, keep exactly that prefix, and aggregate per value%10
    * bucket — count/min/max/sum per bucket are pure functions of the
    * sequence, hash-matched against a DuckDB range(1000) oracle. */
  val qStreamRateSource: Q = Q(
    run = (s, _) => {
      val name = s"graft_rate_${obsSeq.incrementAndGet()}"
      val rate = s.readStream.format("rate")
        .option("rowsPerSecond", "5000").option("numPartitions", "2").load()
      StreamOps.withStreamingConf(rate) {
        val q = rate.writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          val deadline = System.currentTimeMillis() + 30000
          var mx = -1L
          while (mx < 999L && System.currentTimeMillis() < deadline) {
            q.processAllAvailable()
            val r = s.table(name).agg(max(col("value"))).head()
            mx = if (r.isNullAt(0)) -1L else r.getLong(0)
            if (mx < 999L) Thread.sleep(50)
          }
        } finally q.stop()
      }
      val out = s.table(name).filter(col("value") < 1000)
        .groupBy((col("value") % 10).as("bucket"))
        .agg(count(lit(1)).as("cnt"), min(col("value")).as("vmin"),
          max(col("value")).as("vmax"), sum(col("value")).as("vsum"))
        .orderBy(col("bucket")).collect()
      s.catalog.dropTempView(name)
      s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq, 1),
        new StructType().add("bucket", LongType).add("cnt", LongType)
          .add("vmin", LongType).add("vmax", LongType).add("vsum", LongType))
    },
    oracle = Some("""
      SELECT v % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(MIN(v) AS BIGINT) AS vmin, CAST(MAX(v) AS BIGINT) AS vmax,
             CAST(SUM(v) AS BIGINT) AS vsum
      FROM range(1000) t(v) GROUP BY 1 ORDER BY 1"""))

  /** socketTextStream, oracle-gated — ref StreamExecutionEnvironment
    * .socketTextStream:989 (SocketTextStreamFunction): the line-oriented
    * debug socket source. The query is the SERVER: it feeds every
    * nation name through a loopback socket, Spark's `socket` source
    * connects as the client (via the DataStreamEnv facade), and the
    * streamed word count is hash-checked against DuckDB tokenizing the
    * same nation table — the full source path (connect, line framing,
    * UTF-8 decode) is on the gated path, not just a spec. */
  val qStreamSocketSource: Q = Q(
    run = (s, dir) => {
      val names = Tables.load(s, dir, "nation")
        .select(col("n_name")).collect().map(_.getString(0)).toSeq
      val expected = names.iterator.flatMap(_.split(" ")).size.toLong
      val server = new java.net.ServerSocket(0, 1,
        java.net.InetAddress.getLoopbackAddress)
      val writer = new Thread(() => {
        try {
          val sock = server.accept()
          val out = new java.io.PrintWriter(sock.getOutputStream, true)
          names.foreach(out.println)
          out.flush()
          Thread.sleep(30000) // query side stops first; keep the pipe open
          sock.close()
        } catch { case _: Throwable => () }
      })
      writer.setDaemon(true)
      writer.start()
      val name = s"graft_sock_${obsSeq.incrementAndGet()}"
      val env = new graft.datastream.DataStreamEnv(s)
      implicit val se: org.apache.spark.sql.Encoder[String] =
        org.apache.spark.sql.Encoders.STRING
      val counts = env.socketTextStream("localhost", server.getLocalPort)
        .flatMap(_.split(" ").toSeq).ds
        .groupBy(col("value").as("word")).agg(count(lit(1)).as("cnt"))
      StreamOps.withStreamingConf(counts) {
        val q = counts.writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Complete()).start()
        try {
          val deadline = System.currentTimeMillis() + 30000
          var total = 0L
          while (total < expected && System.currentTimeMillis() < deadline) {
            q.processAllAvailable()
            val r = s.table(name).agg(sum(col("cnt"))).head()
            total = if (r.isNullAt(0)) 0L else r.getLong(0)
            if (total < expected) Thread.sleep(50)
          }
        } finally { q.stop(); server.close() }
      }
      val out = s.table(name).orderBy(col("word")).collect()
      s.catalog.dropTempView(name)
      s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq, 1),
        new StructType().add("word", org.apache.spark.sql.types.StringType)
          .add("cnt", LongType))
    },
    oracle = Some("""
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(n_name, ' ')) AS w FROM nation)
      GROUP BY 1 ORDER BY 1"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_metrics_observe" -> qMetricsObserve,
    "q_stream_temporal_sort" -> qStreamTemporalSort,
    "q_stream_proc_debounce" -> qStreamProcDebounce,
    "q_sql_catalog_persist" -> qSqlCatalogPersist,
    "q_graph_label_prop" -> qGraphLabelProp,
    "q_graph_jaccard_index" -> qGraphJaccardIndex,
    "q_graph_adamic_adar" -> qGraphAdamicAdar,
    "q_graph_hits" -> qGraphHits,
    "q_graph_clustering_coeff" -> qGraphClusteringCoeff,
    "q_graph_community" -> qGraphCommunity,
    "q_graph_summarize" -> qGraphSummarize,
    "q_graph_vertex_metrics" -> qGraphVertexMetrics,
    "q_graph_edge_metrics" -> qGraphEdgeMetrics,
    "q_graph_global_cc" -> qGraphGlobalCc,
    "q_graph_avg_cc" -> qGraphAvgCc,
    "q_graph_triadic_census" -> qGraphTriadicCensus,
    "q_graph_checksum" -> qGraphChecksum,
    "q_stream_rate_source" -> qStreamRateSource,
    "q_stream_socket_source" -> qStreamSocketSource,
    "q_graph_transforms" -> qGraphTransforms,
    "q_graph_bipartite" -> qGraphBipartite,
    "q_graph_dir_triangles" -> qGraphDirTriangles,
    "q_graph_dir_lcc" -> qGraphDirLcc,
    "q_graph_dir_metrics" -> qGraphDirMetrics,
    "q_graph_dir_gcc_acc" -> qGraphDirGccAcc,
    "q_graph_dir_census" -> qGraphDirCensus,
    "q_graph_generators" -> qGraphGenerators,
    "q_ml_pipeline" -> qMlPipeline,
    "q_sink_roundtrip_seqfile" -> qSinkRoundtripSeqfile)
}
