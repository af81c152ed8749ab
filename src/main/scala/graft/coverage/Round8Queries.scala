package graft.coverage

import graft.{Q, Tables}
import graft.streaming.StreamOps
import graft.streaming.StreamOps.san
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-8 hardening: the two remaining spec-gated streaming semantics
  * driven through real oracles (checkpoint recovery, watermark idleness)
  * and the degree-capped triangle enumeration the graph family's header
  * documents as its 100 TB skew mitigation.
  */
object Round8Queries {

  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Checkpoint recovery, oracle-gated — ref CheckpointCoordinator.java:94
    * (the exactly-once contract: a restarted job resumes from the last
    * completed checkpoint's offsets AND operator state). Spark spelling:
    * `checkpointLocation` persists source offsets + the aggregation's
    * state store across query restarts.
    *
    * Protocol: stage orders thirds b0+b1, run a stateful groupBy-agg to
    * completion and STOP (the kill after "batch 2"); stage b2; restart a
    * NEW query on the SAME checkpoint. The restart must (a) read ONLY b2 —
    * proven by an in-query require on the restarted query's input-row
    * progress counter, so a from-scratch rescan cannot masquerade as
    * recovery — and (b) emit the full-corpus aggregate, which only the
    * RESTORED state can produce from one-third of the input. The final
    * materialization hash-matches the batch oracle over all of orders. */
  val qStreamRecovery: Q = Q(
    run = (s, dir) => {
      val orders = Tables.load(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("pri"),
        expr("CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)").as("cents"))
      val base = s"${StreamOps.scratchRoot}/recovery_${san(dir)}_${seq.incrementAndGet()}"
      StreamOps.wipeDir(base)
      val (src, ckpt) = (s"$base/src", s"$base/ckpt")
      StreamOps.stageBatch(base, src, "b0", orders.filter(col("k") % 3 === 0))
      StreamOps.stageBatch(base, src, "b1", orders.filter(col("k") % 3 === 1))
      val schema = orders.schema
      def runOnce(tbl: String): (DataFrame, Long) = {
        val agg = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .groupBy(col("pri"))
          .agg(count(lit(1)).as("n"), expr("CAST(SUM(cents) AS BIGINT)").as("sum_cents"))
        StreamOps.withStreamingConf(agg) {
          val q = agg.writeStream.format("memory").queryName(tbl)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (s.table(tbl), q.recentProgress.map(_.numInputRows).sum)
        }
      }
      val n = seq.incrementAndGet()
      val total = orders.count()
      val b2Rows = orders.filter(col("k") % 3 === 2).count()
      val (partial, _) = runOnce(s"rec_a_$n") // consumes b0+b1, then STOPS
      val seen1 = partial.agg(sum(col("n"))).collect()(0).getLong(0)
      require(seen1 == total - b2Rows,
        s"pre-kill run must cover exactly b0+b1 ($seen1 vs ${total - b2Rows})")
      StreamOps.stageBatch(base, src, "b2", orders.filter(col("k") % 3 === 2))
      val (fin, read2) = runOnce(s"rec_b_$n") // restart from the checkpoint
      require(read2 == b2Rows,
        s"restart must read ONLY the new batch from restored offsets ($read2 vs $b2Rows)")
      fin.orderBy(col("pri"))
    },
    oracle = Some("""
      SELECT o_orderpriority AS pri, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Watermark idleness, oracle-gated — ref WatermarkStrategy.withIdleness
    * (StreamSourceContexts' idle sources stop holding the combined
    * watermark back). Spark's micro-batch model has this semantic
    * BUILT-IN: the watermark derives from the max event time OBSERVED
    * across the union, so a source that stops producing never stalls
    * window finalization — the default equals Flink-with-idleness, and
    * this query pins it as result rows rather than a spec assertion.
    *
    * Protocol: two file-stream sources unioned; run 1 feeds A minutes
    * 0-59 and B minutes 0-29; run 2 feeds ONLY A minutes 60-119 (B is
    * idle). 15-minute tumbling windows under a 10-minute watermark in
    * APPEND mode fire exactly when the union watermark passes window end:
    * run 1's watermark 49 finalizes ends ≤49; run 2's watermark 109
    * finalizes ends ≤109 — INCLUDING the A windows of hour 2 that an
    * idleness-less per-source min watermark would have stalled forever
    * behind silent B. Each emitted row carries fired_run; the closed-form
    * oracle recomputes every (src, window, n, sum, fired_run) from the
    * same arithmetic and excludes the unfired (105,120] tail window. */
  val qStreamWmIdle: Q = Q(
    run = (s, dir) => {
      val orders = Tables.load(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(o_orderkey % 60 AS BIGINT)").as("m"))
      val t0 = "TIMESTAMP '2021-01-01 00:00:00'"
      def rows(tag: String, minuteExpr: String) = orders
        .select(lit(tag).as("src"),
          expr(s"$t0 + make_interval(0, 0, 0, 0, 0, $minuteExpr, 0)").as("ts"),
          col("k"))
      val base = s"${StreamOps.scratchRoot}/wmidle_${san(dir)}_${seq.incrementAndGet()}"
      StreamOps.wipeDir(base)
      val (srcA, srcB, ckpt, out) = (s"$base/a", s"$base/b", s"$base/ckpt", s"$base/out")
      val a1 = rows("A", "m")                        // minutes 0-59
      val b1 = rows("B", "m % 30")                   // minutes 0-29
      val a2 = rows("A", "60 + m")                   // minutes 60-119
      StreamOps.stageBatch(base, srcA, "b0", a1)
      StreamOps.stageBatch(base, srcB, "b0", b1)
      val schema = a1.schema
      // parquet sink, not memory: the file sink's commit log is what makes
      // the run-2 restart from the same checkpoint legal (memory sink
      // refuses recovery in append mode)
      def fire(): DataFrame = {
        def src(p: String) = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(p)
        val wins = src(srcA).unionByName(src(srcB))
          .withWatermark("ts", "10 minutes")
          .groupBy(col("src"), window(col("ts"), "15 minutes"))
          .agg(count(lit(1)).as("n"), expr("CAST(SUM(k) AS BIGINT)").as("sum_k"))
          .select(col("src"),
            expr(s"CAST((unix_timestamp(window.start) - unix_timestamp($t0)) / 60 AS BIGINT)")
              .as("win_start_min"),
            col("n"), col("sum_k"))
        StreamOps.withStreamingConf(wins)(wins
          .writeStream.format("parquet").option("path", out)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination())
        s.read.parquet(out)
      }
      // snapshot run 1's emissions driver-side (a handful of window rows)
      // so the post-restart diff is against a STABLE set, not a re-read
      val rows1 = fire().collect().toSeq
      val fired1 = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows1).asJava),
        s.read.parquet(out).schema).withColumn("fired_run", lit(1L))
      // B goes IDLE: only A receives run-2 data
      StreamOps.stageBatch(base, srcA, "b1", a2)
      val fired2 = fire().exceptAll(fired1.drop("fired_run"))
        .withColumn("fired_run", lit(2L))
      require(fired2.filter(col("src") === "A").count() > 0,
        "idle B must not stall A's hour-2 window finalization")
      fired1.unionByName(fired2).orderBy(col("src"), col("win_start_min"))
    },
    oracle = Some("""
      WITH pts AS (
        SELECT 'A' AS src, CAST(o_orderkey % 60 AS BIGINT) AS minute, o_orderkey AS k FROM orders
        UNION ALL
        SELECT 'B', CAST(o_orderkey % 60 % 30 AS BIGINT), o_orderkey FROM orders
        UNION ALL
        SELECT 'A', CAST(60 + o_orderkey % 60 AS BIGINT), o_orderkey FROM orders),
      win AS (SELECT src, minute // 15 * 15 AS win_start_min, k FROM pts),
      agg AS (SELECT src, win_start_min,
                     CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
                     CASE WHEN win_start_min + 15 <= 49 THEN 1
                          WHEN win_start_min + 15 <= 109 THEN 2
                          ELSE 0 END AS fired_run
              FROM win GROUP BY src, win_start_min)
      SELECT src, win_start_min, n, sum_k, CAST(fired_run AS BIGINT) AS fired_run
      FROM agg WHERE fired_run > 0
      ORDER BY src, win_start_min"""))


  /** The oracle computes triangle_count by the PLAIN uncapped enumeration
    * and the light/heavy split by an independent SQL spelling of the same
    * decomposition — so the gate proves capped == uncapped, the judge's
    * identical-answer-below-the-cap contract. */
  val qGraphTrianglesCapped: Q = Q(
    run = (s, dir) => graft.operators.GraphOps.trianglesCapped(Round2Queries.coEdges(s, dir), cap = 4L),
    oracle = Some(s"""
      WITH ${Round2Queries.oBi},
      tri3 AS (SELECT e1.src AS a FROM e e1
               JOIN e e2 ON e1.dst = e2.src
               JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst),
      ed AS (SELECT e.src, e.dst, ds.dg AS dsrc, dd.dg AS ddst
             FROM e JOIN deg ds ON ds.u = e.src JOIN deg dd ON dd.u = e.dst),
      orient AS (SELECT
          CASE WHEN dsrc < ddst OR (dsrc = ddst AND src < dst) THEN src ELSE dst END AS lo,
          CASE WHEN dsrc < ddst OR (dsrc = ddst AND src < dst) THEN dst ELSE src END AS hi,
          CASE WHEN dsrc < ddst OR (dsrc = ddst AND src < dst) THEN ddst ELSE dsrc END AS dhi
        FROM ed),
      od AS (SELECT lo, COUNT(*) AS od FROM orient GROUP BY lo),
      tagged AS (SELECT o.lo, o.hi, o.dhi, od.od FROM orient o JOIN od ON od.lo = o.lo),
      lightc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tagged x
                 JOIN tagged y ON x.lo = y.lo
                   AND (x.dhi < y.dhi OR (x.dhi = y.dhi AND x.hi < y.hi))
                 JOIN orient z ON z.lo = x.hi AND z.hi = y.hi
                 WHERE x.od <= 4),
      heavyc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tagged x
                 JOIN tagged y ON x.lo = y.lo
                   AND (x.dhi < y.dhi OR (x.dhi = y.dhi AND x.hi < y.hi))
                 JOIN orient z ON z.lo = x.hi AND z.hi = y.hi
                 WHERE x.od > 4),
      hub AS (SELECT CAST(COUNT(*) AS BIGINT) AS hub_count FROM od WHERE od > 4)
      SELECT CAST(4 AS BIGINT) AS cap, hub.hub_count,
             lightc.n AS light_triangles, heavyc.n AS heavy_triangles,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM tri3) AS triangle_count
      FROM lightc, heavyc, hub"""))


  /** UUID() / RAND() contract gate — ref FlinkSqlOperatorTable UUID/RAND
    * (nondeterministic scalars; COVERAGE row "documented nondeterminism"
    * upgraded to a real oracle): the VALUES cannot be compared across
    * engines, but the functions' CONTRACT can — n rows in, n distinct
    * RFC-4122 v4 well-formed UUIDs out (collision odds ~1e-18), and every
    * RAND() sample inside [0,1). The aggregates of the contract are
    * deterministic, so the oracle is a literal row. */
  val qScalarUuidRand: Q = Q(
    run = (s, _) => s.range(10000)
      .select(expr("uuid()").as("u"), rand().as("r"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("u")).as("n_distinct"),
        expr("CAST(SUM(CASE WHEN u RLIKE " +
          "'^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$' " +
          "THEN 1 ELSE 0 END) AS BIGINT)").as("n_v4_wellformed"),
        expr("CAST(SUM(CASE WHEN r >= 0.0 AND r < 1.0 THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_in_unit")),
    oracle = Some("""
      SELECT CAST(10000 AS BIGINT) AS n_rows, CAST(10000 AS BIGINT) AS n_distinct,
             CAST(10000 AS BIGINT) AS n_v4_wellformed, CAST(10000 AS BIGINT) AS n_in_unit"""))

  /** Deterministic RMat generator — ref flink-gelly/.../generator/
    * RMatGraph.java (recursive quadrant subdivision, A/B/C/D = .57/.19/
    * .19/.05). The reference parameterizes a PRNG (which is why r7
    * excluded it from the generator gate); every quadrant choice here
    * derives from the md5 integer hash of (edge, level) instead —
    * bit-identical on any engine at any parallelism, which is what a
    * reproducible 100 TB fixture generator actually needs. Per edge i,
    * level l: h = md5hash('rmat_i_l') % 10^6; src bit = h ≥ 760000
    * (quadrants C+D), dst bit = h ∈ [570000,760000) ∪ [950000,10^6)
    * (quadrants B+D). Gated as the exact edge multiset: count, touched
    * vertices, self-loops, duplicate edges, XOR edge signature. */
  val qGraphRmat: Q = {
    val scale = 6
    val m = 200L
    val h = "(conv(substring(md5(concat('rmat_', CAST(id AS STRING), '_', CAST(l AS STRING))), 1, 15), 16, 10) % 1000000)"
    def bits(cond: String) =
      s"CAST(aggregate(sequence(0, ${scale - 1}), CAST(0 AS BIGINT), (acc, l) -> acc + " +
        s"(CASE WHEN $cond THEN shiftleft(CAST(1 AS BIGINT), l) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    val oh = graft.Queries.oHash("'rmat_' || i || '_' || l") + " % 1000000"
    Q(
      run = (s, _) => {
        val edges = s.range(m).select(
          expr(bits(s"$h >= 760000")).as("src"),
          expr(bits(s"(($h >= 570000 AND $h < 760000) OR $h >= 950000)")).as("dst"))
        val eh = graft.Queries.hashStr(concat(
          col("src").cast("string"), lit(":"), col("dst").cast("string")))
        val agg = edges.agg(
          count(lit(1)).as("n_edges"),
          expr("CAST(SUM(CASE WHEN src = dst THEN 1 ELSE 0 END) AS BIGINT)").as("n_self_loops"))
        val verts = edges.select(explode(array(col("src"), col("dst"))).as("v"))
          .distinct().agg(count(lit(1)).as("n_vertices"))
        val dedup = edges.distinct().agg(count(lit(1)).as("n_distinct_edges"))
        val sig = edges.select(eh.as("eh")).agg(expr("BIT_XOR(eh)").as("esig"))
        agg.crossJoin(verts).crossJoin(dedup).crossJoin(sig)
          .select(col("n_edges"), col("n_vertices"), col("n_self_loops"),
            (col("n_edges") - col("n_distinct_edges")).as("n_dup_edges"), col("esig"))
      },
      oracle = Some(s"""
        WITH bits AS (
          SELECT i, l, $oh AS h
          FROM range($m) t(i), range($scale) lv(l)),
        ed AS (
          SELECT i,
                 CAST(SUM(CASE WHEN h >= 760000 THEN 1 << l ELSE 0 END) AS BIGINT) AS src,
                 CAST(SUM(CASE WHEN (h >= 570000 AND h < 760000) OR h >= 950000 THEN 1 << l ELSE 0 END) AS BIGINT) AS dst
          FROM bits GROUP BY i)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                  (SELECT DISTINCT v FROM (SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed))) AS n_vertices,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed WHERE src = dst) AS n_self_loops,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ed)
                 - (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT src, dst FROM ed)) AS n_dup_edges,
               (SELECT BIT_XOR(${graft.Queries.oHash("CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")})
                FROM ed) AS esig"""))
  }

  /** Savepoint / fork-from-snapshot — ref flink-state-processing-api
    * Savepoint.java + the CLI savepoint workflow (COVERAGE row 108, until
    * now out of scope): a SAVEPOINT is a checkpoint the runtime lets you
    * fork from while the original job continues. Spark spelling: the
    * checkpointLocation directory IS the state snapshot, so copying it at
    * a quiesce point and restarting a second query from the COPY is
    * exactly the fork. Protocol: run a stateful agg over staged quarters
    * b0+b1, stop; COPY the checkpoint (the savepoint); main resumes on
    * the original checkpoint after b2 lands (must read ONLY b2); b3
    * lands; the fork starts from the savepoint copy and must read b2+b3.
    * Output = both materializations tagged by leg — main covers quarters
    * 0-2, the fork all four — each hash-matched against its batch oracle,
    * proving the two lineages diverged from one shared snapshot. */
  val qStreamSavepointFork: Q = Q(
    run = (s, dir) => {
      val orders = Tables.load(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("pri"),
        expr("CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)").as("cents"))
      val base = s"${StreamOps.scratchRoot}/savepoint_${san(dir)}_${seq.incrementAndGet()}"
      StreamOps.wipeDir(base)
      val (src, ckptA, ckptB) = (s"$base/src", s"$base/ckptA", s"$base/ckptB")
      StreamOps.stageBatch(base, src, "b0", orders.filter(col("k") % 4 === 0))
      StreamOps.stageBatch(base, src, "b1", orders.filter(col("k") % 4 === 1))
      val schema = orders.schema
      def runOnce(ckpt: String, tbl: String): (DataFrame, Long) = {
        val agg = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .groupBy(col("pri"))
          .agg(count(lit(1)).as("n"), expr("CAST(SUM(cents) AS BIGINT)").as("sum_cents"))
        StreamOps.withStreamingConf(agg) {
          val q = agg.writeStream.format("memory").queryName(tbl)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (s.table(tbl), q.recentProgress.map(_.numInputRows).sum)
        }
      }
      def copyDir(from: String, to: String): Unit = {
        val f = java.nio.file.Paths.get(from)
        val t = java.nio.file.Paths.get(to)
        val w = java.nio.file.Files.walk(f)
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala.foreach { p =>
            val d = t.resolve(f.relativize(p))
            if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
            else java.nio.file.Files.copy(p, d,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        } finally w.close()
      }
      val n = seq.incrementAndGet()
      val rows = (b: Int) => orders.filter(col("k") % 4 === b).count()
      runOnce(ckptA, s"svp_base_$n") // quarters 0+1, then STOP (quiesce)
      copyDir(ckptA, ckptB)          // THE SAVEPOINT
      StreamOps.stageBatch(base, src, "b2", orders.filter(col("k") % 4 === 2))
      val (mainFin, readMain) = runOnce(ckptA, s"svp_main_$n")
      require(readMain == rows(2), s"main resume must read only b2 ($readMain)")
      StreamOps.stageBatch(base, src, "b3", orders.filter(col("k") % 4 === 3))
      val (forkFin, readFork) = runOnce(ckptB, s"svp_fork_$n")
      require(readFork == rows(2) + rows(3),
        s"fork from the savepoint must read b2+b3 ($readFork)")
      mainFin.select(lit("main").as("leg"), col("pri"), col("n"), col("sum_cents"))
        .unionByName(forkFin.select(lit("fork").as("leg"), col("pri"), col("n"), col("sum_cents")))
        .orderBy(col("leg"), col("pri"))
    },
    oracle = Some("""
      SELECT 'main' AS leg, o_orderpriority AS pri, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM orders WHERE o_orderkey % 4 < 3 GROUP BY 2
      UNION ALL
      SELECT 'fork', o_orderpriority, COUNT(*),
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
      FROM orders GROUP BY 2
      ORDER BY leg, pri"""))

  val all: Map[String, Q] = Map(
    "q_stream_recovery" -> qStreamRecovery,
    "q_stream_wm_idle" -> qStreamWmIdle,
    "q_graph_triangles_capped" -> qGraphTrianglesCapped,
    "q_scalar_uuid_rand" -> qScalarUuidRand,
    "q_graph_rmat" -> qGraphRmat,
    "q_stream_savepoint_fork" -> qStreamSavepointFork)
}
