package graft.coverage

import graft.{Q, Tables}
import graft.sql.EngineEnv
import graft.streaming.StreamOps.san
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 DDL coverage: table/view property mutation read-back.
  *
  * Ref flink-sql-parser ddl package — SqlAlterTableProperties.java (ALTER
  * TABLE t SET ('k'='v') re-points connector options live),
  * SqlAlterViewProperties.java (catalog-metadata-only view props), and
  * SqlAlterViewAs.java (redefine the view's query in place). All three are
  * driven through one oracle-gated query whose legs only hash-match if the
  * mutations actually took effect on read-back.
  */
object Round6Queries {

  /** ALTER TABLE SET switches BOTH path and format (parquet dir A → orc
    * dir B) and the very next read must see B's rows through the orc
    * reader; ALTER VIEW AS swaps the view body (F-filter → P-filter);
    * ALTER VIEW SET records catalog props and must leave the (redefined)
    * view readable. Legs: before=F via parquet, after=O via orc,
    * view=P via the redefined view. */
  val qSqlAlterSet: Q = Q(
    run = (s, dir) => {
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/alterset_${san(dir)}"
      val orders = Tables.load(s, dir, "orders")
      orders.filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").parquet(s"$scratch/a")
      orders.filter(col("o_orderstatus") === "O")
        .write.mode("overwrite").orc(s"$scratch/b")
      val e = new EngineEnv(s)
      e.executeSql(s"""
        CREATE TABLE alt_t (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$scratch/a', 'format'='parquet')""")
      val agg = """SELECT '%s' AS leg, COUNT(*) AS n,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
                   FROM %s"""
      val before = e.sqlQuery(agg.format("before", "alt_t"))
      e.executeSql(s"ALTER TABLE alt_t SET ('path'='$scratch/b', 'format'='orc')")
      val after = e.sqlQuery(agg.format("after", "alt_t"))
      e.executeSql("CREATE VIEW alt_v AS SELECT * FROM alt_t WHERE 1 = 0")
      e.executeSql(s"""
        CREATE TABLE full_t (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE
        ) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet', 'format'='parquet')""")
      e.executeSql("ALTER VIEW alt_v AS SELECT * FROM full_t WHERE o_orderstatus = 'P'")
      e.executeSql("ALTER VIEW alt_v SET ('comment'='redefined', 'owner'='graft')")
      require(e.viewProperties("alt_v") ==
        Map("comment" -> "redefined", "owner" -> "graft"), "view props not recorded")
      val view = e.sqlQuery(agg.format("view", "alt_v"))
      before.union(after).union(view).orderBy(col("leg"))
    },
    oracle = Some("""
      WITH agg AS (
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM orders GROUP BY o_orderstatus)
      SELECT 'before' AS leg, n, total_c FROM agg WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT 'after' AS leg, n, total_c FROM agg WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT 'view' AS leg, n, total_c FROM agg WHERE o_orderstatus = 'P'
      ORDER BY leg"""))

  /** Bucketed co-located join, oracle-gated (ref Flink's pre-partitioned /
    * reinterpretAsKeyedStream co-located input contract; Spark twin:
    * `bucketBy` tables whose SortMergeJoin needs NO Exchange on either
    * side). Both fact and dim are written bucketed 8× on the join key;
    * the query REQUIRES in-plan that no hash-partition exchange survives
    * (broadcast disabled for the probe), then aggregates the join — the
    * aggregate must equal the plain-join oracle, proving the co-located
    * layout changed the plan, not the answer. At 100 TB this is the
    * shuffle-free repeated-join layout: pay the partitioned write once,
    * join for free every run after. */
  val qJoinBucketed: Q = Q(
    run = (s, dir) => {
      val suf = san(dir)
      val names = Seq(s"orders_bkt_$suf", s"customer_bkt_$suf")
      names.foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = java.nio.file.Paths.get(s"spark-warehouse/$t")
        if (java.nio.file.Files.exists(loc)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
      Tables.load(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(names.head)
      Tables.load(s, dir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(names.last)
      // SHUFFLE_MERGE hint instead of a session conf: the hint rides the
      // logical plan into every (re)planning — including AQE's — so the
      // plan the harness executes and benches is the one the require
      // proves (a conf restored in a finally block is gone by the time a
      // lazily-returned frame plans)
      val joined = s.table(names.head).hint("merge")
        .join(s.table(names.last), col("o_custkey") === col("c_custkey"))
      val out = joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
             sum(expr("CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)")).as("total_c"))
        .orderBy(col("c_mktsegment"))
      // require on the RETURNED frame's plan: sort-merge over the bucketed
      // scans with no hash-partition exchange on either join key (the
      // aggregate's own mktsegment exchange is expected and allowed)
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"bucketed join must plan as SortMergeJoin:\n$plan")
      require(!plan.contains("hashpartitioning(o_custkey") &&
              !plan.contains("hashpartitioning(c_custkey"),
        s"bucketed join must be exchange-free on the join keys:\n$plan")
      out
    },
    oracle = Some("""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Exchange/partitioning family, oracle-gated (ref DataStream.rebalance:
    * 520 / rescale:557 / global:575 / partitionCustom:388) — the facade's
    * redistribution ops must move rows without creating, dropping, or
    * duplicating them, and partitionCustom must land EVERY row in the
    * partition the user function picked. Leg 'chain' pipes a subset
    * through rebalance→rescale→global and counts; leg 'custom' partitions
    * by o_orderkey % 5, reads back `spark_partition_id()`, REQUIRES zero
    * rows in a wrong partition, and emits per-partition counts (equal to
    * the oracle's GROUP BY o_orderkey % 5 — only true if routing is
    * exact). */
  val qDatastreamExchange: Q = Q(
    run = (s, dir) => {
      import s.implicits._
      val env = new graft.datastream.DataStreamEnv(s)
      val base = Tables.load(s, dir, "orders")
        .filter(expr("o_orderkey % 3 = 0"))
        .select(col("o_orderkey").cast("long"), col("o_orderpriority"))
        .as[(Long, String)]
      val chainN = env.fromDataset(base)
        .rebalance(7).rescale(3).global().ds.toDF("k", "p")
        .agg(count(lit(1)).as("n"))
        .select(lit("chain").as("leg"), lit(-1).as("pid"), col("n"))
      val routed = env.fromDataset(base)
        .partitionCustom(5)(t => (t._1 % 5).toInt).ds.toDF("k", "p")
        .withColumn("pid", spark_partition_id())
      val custom = routed
        .withColumn("ok", (col("pid") === pmod(col("k"), lit(5)).cast("int")).cast("long"))
        .groupBy(col("pid")).agg(count(lit(1)).as("n"), min(col("ok")).as("all_ok"))
        .cache() // the audit collect below and the returned union share one run
      val rows = custom.collect()
      require(rows.forall(_.getAs[Long]("all_ok") == 1L),
        "partitionCustom routed a row to the wrong partition")
      custom.select(lit("custom").as("leg"), col("pid"), col("n"))
        .unionAll(chainN)
        .orderBy(col("leg"), col("pid"))
    },
    oracle = Some("""
      WITH sub AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 0)
      SELECT 'chain' AS leg, -1 AS pid, COUNT(*) AS n FROM sub
      UNION ALL
      SELECT 'custom' AS leg, CAST(k % 5 AS INT) AS pid, COUNT(*) AS n
      FROM sub GROUP BY 2
      ORDER BY leg, pid"""))

  /** Incremental-corpus near-dup dedup: a NEW delta batch (doc_id % 5 = 0,
    * the "today's crawl" stand-in) is deduped against the EXISTING corpus
    * (the other 80%) by joining the delta's MinHash band keys against the
    * corpus band index — never against corpus text. This is the 100 TB
    * ingestion pattern: the corpus-side band index is a persisted,
    * append-only table keyed by (band, bkey); each new batch shuffles only
    * its own 4 band rows/doc against it, so daily dedup cost scales with
    * the DELTA, not the corpus. Output: every delta doc with status
    * 'new'/'dup' and the smallest colliding corpus doc (or -1). */
  val qPipeIncrementalDedup: Q = Q(
    run = (s, dir) => {
      val bands = PipelineQueries.minhashBands(s, dir)
      // the corpus band index is PERSISTED (index-build day, amortized over
      // every later delta); the measured join reads it back columnar
      // instead of recomputing corpus signatures — without this the plan
      // shingles the whole corpus twice (the delta-side doc_id filter
      // pushes to the scan, so the two subtrees can't share an exchange)
      val idxDir = graft.streaming.StreamOps.scratchRoot + s"/incdedup_idx_${san(dir)}"
      bands.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
        .write.mode("overwrite").parquet(idxDir)
      val corpus = s.read.parquet(idxDir)
      val delta = bands.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val hits = delta.as("d")
        .join(corpus.as("c"),
          col("d.band") === col("c.band") && col("d.bkey") === col("c.bkey"))
        .groupBy(col("d.doc_id").as("doc_id"))
        .agg(min(col("c.doc_id")).as("match_id"))
      Tables.load(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5L)) === 0L)
        .select(col("doc_id")).distinct()
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
                when(col("match_id").isNull, "new").otherwise("dup").as("status"),
                coalesce(col("match_id"), lit(-1L)).as("match_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH ${PipelineQueries.oMinhashCtes},
      d AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 5 = 0),
      c AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 5 <> 0),
      hits AS (SELECT d.doc_id, MIN(c.doc_id) AS match_id
               FROM d JOIN c ON d.band = c.band AND d.bkey = c.bkey
               GROUP BY d.doc_id),
      alld AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 5 = 0)
      SELECT a.doc_id,
             CASE WHEN h.match_id IS NULL THEN 'new' ELSE 'dup' END AS status,
             COALESCE(h.match_id, -1) AS match_id
      FROM alld a LEFT JOIN hits h ON h.doc_id = a.doc_id
      ORDER BY a.doc_id"""))

  /** MinHash estimator calibration: for every LSH-colliding pair, the
    * ESTIMATED similarity (matching seeds / 16) next to the EXACT shingle
    * Jaccard in integer ppm — the query a pipeline owner runs to pick the
    * band geometry / dedup threshold before burning a 100 TB pass. The
    * exact side joins shingles ONLY for colliding pairs (candidate-bounded,
    * never all-pairs); ppm = inter·10⁶ div union keeps both engines
    * bit-identical (no float division). */
  val qPipeMinhashCalibration: Q = Q(
    run = (s, dir) => {
      // stage the two shared artifacts ONCE (shingle ids, then signatures
      // derived from the staged ids): every later consumer — band
      // self-join, per-side estimator join, per-pair exact-Jaccard join —
      // reads them back columnar instead of re-shingling raw text. Without
      // this the plan carries SIX shingle chains (measured); with it, one.
      val scratch = graft.streaming.StreamOps.scratchRoot + s"/calib_${san(dir)}"
      // stage RAW (doc_id, sh) strings, not 60-bit shid, so the 'exact'
      // side is exact by construction (a cross-doc shid collision between
      // distinct shingles can never inflate inter); signatures derive
      // from the staged strings via a map-side hash — still one shingling
      PipelineQueries.shingledOf(Tables.load(s, dir, "documents"))
        .write.mode("overwrite").parquet(s"$scratch/sh")
      val shStr = s.read.parquet(s"$scratch/sh")
      val sh = shStr.select(col("doc_id"), graft.Queries.hashStr(col("sh")).as("shid"))
      PipelineQueries.sigFromShingleIds(sh)
        .write.mode("overwrite").parquet(s"$scratch/sig")
      val sig = s.read.parquet(s"$scratch/sig")
      val bands = PipelineQueries.bandsFromSig(sig)
      val pairs = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      val m16 = (0 until 16)
        .map(i => (col(s"a.mh$i") === col(s"b.mh$i")).cast("long"))
        .reduce(_ + _)
      val est = pairs
        .join(sig.as("a"), col("d1") === col("a.doc_id"))
        .join(sig.as("b"), col("d2") === col("b.doc_id"))
        .select(col("d1"), col("d2"), m16.as("m16"))
      val sizes = shStr.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = pairs
        .join(shStr.as("sa"), col("d1") === col("sa.doc_id"))
        .join(shStr.as("sb"), col("d2") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
        .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      est
        .join(inter, Seq("d1", "d2"), "left")
        .na.fill(0L, Seq("inter"))
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("s1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("s2")), "d2")
        .select(col("d1"), col("d2"), col("m16"),
                expr("inter * 1000000 div (s1 + s2 - inter)").as("jac_ppm"))
        .orderBy(col("d1"), col("d2"))
    },
    oracle = Some(s"""
      WITH ${PipelineQueries.oMinhashCtes},
      m AS (SELECT p.d1, p.d2,
                   CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS m16
            FROM pairs p
            JOIN sig a ON a.doc_id = p.d1
            JOIN sig b ON b.doc_id = p.d2 AND b.seed = a.seed
            GROUP BY p.d1, p.d2),
      sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
      iv AS (SELECT p.d1, p.d2, COUNT(*) AS inter
             FROM pairs p
             JOIN sh a ON a.doc_id = p.d1
             JOIN sh b ON b.doc_id = p.d2 AND b.sh = a.sh
             GROUP BY p.d1, p.d2)
      SELECT m.d1, m.d2, m.m16,
             CAST(COALESCE(iv.inter, 0) * 1000000
                  // (s1.s + s2.s - COALESCE(iv.inter, 0)) AS BIGINT) AS jac_ppm
      FROM m
      LEFT JOIN iv ON iv.d1 = m.d1 AND iv.d2 = m.d2
      JOIN sz s1 ON s1.doc_id = m.d1
      JOIN sz s2 ON s2.doc_id = m.d2
      ORDER BY m.d1, m.d2"""))

  /** Near-dup cluster canonicalization with a QUALITY keep-policy: inside
    * each connected component of MinHash-colliding docs, keep the LONGEST
    * member (n_chars DESC, doc_id ASC tie-break) rather than the smallest
    * id — the keep-best policy real corpus dedup uses (the best copy of a
    * boilerplate-wrapped page is the fullest one). Components come from
    * the O(log n) large-star/small-star contraction; the keeper election
    * is ONE window over the cluster key. Singletons keep themselves. */
  val qPipeDedupKeepBest: Q = Q(
    run = (s, dir) => {
      val pairs = PipelineQueries.minhashPairs(s, dir)
      val comp = graft.operators.GraphOps.connectedComponents(
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
      val withCluster = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .join(comp.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      withCluster
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("keeper_id", first(col("doc_id")).over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("n_chars").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("cluster"), col("keeper_id"),
                (col("rn") === 1).as("kept"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE
      ${PipelineQueries.oMinhashCtes},
      bi AS (SELECT d1 AS v, d2 AS u FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(v, u) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM bi)
        UNION
        SELECT r.v, bi.u FROM reach r JOIN bi ON r.u = bi.v),
      comp AS (SELECT v, min(u) AS c FROM reach GROUP BY v),
      wc AS (SELECT d.doc_id, d.n_chars, COALESCE(comp.c, d.doc_id) AS cluster
             FROM documents d LEFT JOIN comp ON comp.v = d.doc_id),
      rk AS (SELECT doc_id, cluster,
                    row_number() OVER (PARTITION BY cluster
                                       ORDER BY n_chars DESC, doc_id) AS rn,
                    first_value(doc_id) OVER (PARTITION BY cluster
                                              ORDER BY n_chars DESC, doc_id) AS keeper_id
             FROM wc)
      SELECT doc_id, cluster, keeper_id, (rn = 1) AS kept
      FROM rk ORDER BY doc_id"""))

  /** IVF ANN with TRAINED centroids: the coarse quantizer is the k-means
    * from q_pipe_kmeans (k=4, 2 integer Lloyd rounds) instead of raw seed
    * vectors — closing the "real IVF trains k-means" caveat documented on
    * q_pipe_ann_ivf. Everything stays in micro-unit integer space (squared
    * L2 on quantized coords), so training, assignment, probe selection and
    * candidate ranking are bit-stable on any cluster. Plan: centroids
    * (4×64 longs) broadcast at every step; assignment and probes are
    * map-side argmins; the candidate scan touches only the 2 probed lists
    * per query (nprobe/nlist of the corpus at scale). */
  val qPipeAnnIvfTrained: Q = Q(
    run = (s, dir) => {
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("qe"))
      def dist2: Column = expr(
        "aggregate(zip_with(qe, ce, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
      val byDist = Window.partitionBy(col("vec_id")).orderBy(col("dd"), col("cid"))
      // train: one Lloyd update from the first-4 seeds (same math, same
      // oracle CTEs as q_pipe_kmeans)
      val c0 = broadcast(e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("long").as("cid"), col("qe").as("ce")))
      val a1 = e.crossJoin(c0).withColumn("dd", dist2)
        .withColumn("rn", row_number().over(byDist)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("qe"))
      val c1 = broadcast(a1
        .select(col("cid"), posexplode(col("qe")).as(Seq("d", "v")))
        .groupBy(col("cid"), col("d")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("cv", floor(col("sv").cast("double") / col("n")).cast("long"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(d, cv))), p -> p.cv)").as("ce")))
      // assign the corpus to trained lists; probe the 2 nearest lists per query
      val assign = e.crossJoin(c1).withColumn("dd", dist2)
        .withColumn("rn", row_number().over(byDist)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("qe"))
      val probes = e.filter(col("vec_id").between(100, 109))
        .crossJoin(c1).withColumn("dd", dist2)
        .withColumn("rn", row_number().over(byDist)).filter(col("rn") <= 2)
        .select(col("vec_id").as("qid"), col("cid"), col("qe").as("qqe"))
      val cd2 = expr(
        "aggregate(zip_with(qqe, qe, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
      probes.join(assign, Seq("cid")).filter(col("vec_id") =!= col("qid"))
        .withColumn("d2", cd2)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("d2"))
        .orderBy(col("qid"), col("rn"))
    },
    oracle = Some("""
      WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
             FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, qe AS ce FROM e WHERE vec_id < 4),
      a1 AS (SELECT vec_id, cid, qe FROM (
        SELECT e.vec_id, c0.cid, e.qe,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   d -> (e.qe[d] - c0.ce[d]) * (e.qe[d] - c0.ce[d]))) ASC, c0.cid) AS rn
        FROM e, c0) WHERE rn = 1),
      cs AS (SELECT cid, d, CAST(SUM(qe[d]) AS BIGINT) AS sv, COUNT(*) AS n
             FROM a1, generate_series(1, 64) g(d) GROUP BY cid, d),
      c1 AS (SELECT cid, list(CAST(FLOOR(CAST(sv AS DOUBLE) / n) AS BIGINT) ORDER BY d) AS ce
             FROM cs GROUP BY cid),
      asg AS (SELECT vec_id, cid, qe FROM (
        SELECT e.vec_id, c1.cid, e.qe,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   d -> (e.qe[d] - c1.ce[d]) * (e.qe[d] - c1.ce[d]))) ASC, c1.cid) AS rn
        FROM e, c1) WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid, qe AS qqe FROM (
        SELECT e.vec_id, c1.cid, e.qe,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   d -> (e.qe[d] - c1.ce[d]) * (e.qe[d] - c1.ce[d]))) ASC, c1.cid) AS rn
        FROM e, c1 WHERE e.vec_id BETWEEN 100 AND 109) WHERE rn <= 2),
      cand AS (SELECT p.qid, p.qqe, a.vec_id AS cv, a.qe
               FROM probes p JOIN asg a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
      dd AS (SELECT qid, cv,
                    CAST(list_sum(list_transform(generate_series(1, 64),
                      d -> (qqe[d] - qe[d]) * (qqe[d] - qe[d]))) AS BIGINT) AS d2
             FROM cand)
      SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY d2, cv) AS rn,
             cv AS cid, d2
      FROM dd QUALIFY rn <= 3 ORDER BY qid, rn"""))

  /** Deterministic multi-epoch shuffle manifest — what a training data
    * loader needs from the corpus: for each epoch, a REPRODUCIBLE global
    * permutation, materialized as (epoch, shard, position) addresses. The
    * permutation key is a per-epoch salted hash (no RNG state — replays
    * bit-identically on any cluster), the shard is the key's low bits, and
    * the position is a row_number INSIDE (epoch, shard) only — per-shard
    * windows, never a global sort. At 100 TB each epoch is one hash
    * shuffle into shards and a per-shard sort of ~|corpus|/n_shards rows. */
  val qPipeEpochShuffle: Q = Q(
    run = (s, dir) => {
      val n_shards = 4
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
        .withColumn("epoch", explode(sequence(lit(0), lit(2))))
        .withColumn("hk", graft.Queries.hashStr(
          concat(lit("ep"), col("epoch"), lit("_"), col("doc_id"))))
        .withColumn("shard", pmod(col("hk"), lit(n_shards.toLong)))
      d.withColumn("pos", row_number().over(
          Window.partitionBy(col("epoch"), col("shard"))
            .orderBy(col("hk"), col("doc_id"))))
        .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
        .orderBy(col("epoch"), col("shard"), col("pos"))
    },
    oracle = Some(s"""
      WITH d AS (
        SELECT doc_id, epoch,
               ${graft.Queries.oHash("'ep' || epoch || '_' || doc_id")} AS hk
        FROM documents CROSS JOIN generate_series(0, 2) g(epoch)),
      sh AS (SELECT doc_id, epoch, hk, hk % 4 AS shard FROM d)
      SELECT epoch, shard,
             row_number() OVER (PARTITION BY epoch, shard ORDER BY hk, doc_id) AS pos,
             doc_id
      FROM sh ORDER BY epoch, shard, pos"""))

  /** Corpus drift report (PSI): compares the delta slice (doc_id % 5 = 0,
    * the incremental-ingest batch) against the standing corpus on two
    * axes — source share and length decile — and scores each bucket's
    * Population Stability Index contribution in micro-units:
    * (p−q)·ln(p/q) with shares in ppm (floored at 1 ppm so empty buckets
    * stay finite) and ln floor-quantized exactly like q_pipe_bm25's idf
    * (the cross-engine-libm contract). The whole report
    * is two hash aggregates + a broadcast of ~20 bucket rows; at 100 TB
    * the monitoring cost is one scan. */
  val qPipeDriftPsi: Q = Q(
    run = (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("side", when(pmod(col("doc_id"), lit(5L)) === 0L, "delta").otherwise("corpus"))
      val bucketed = d.select(col("side"),
          concat(lit("src:"), col("source")).as("bucket"))
        .unionAll(d.select(col("side"),
          concat(lit("len:"), least(floor(col("n_chars") / lit(200.0)).cast("long"), lit(9L)))
            .as("bucket")))
      val counts = bucketed.groupBy(col("bucket"), col("side"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("side") === "delta", col("n")).otherwise(0L)).as("nd"),
             sum(when(col("side") === "corpus", col("n")).otherwise(0L)).as("nc"))
      val tot = counts.agg(sum(col("nd")).as("td"), sum(col("nc")).as("tc"))
      counts.crossJoin(broadcast(tot))
        // shares in ppm, floored at 1 ppm so ln stays finite on empty buckets
        .withColumn("p", expr("GREATEST((nd * 1000000) DIV td, 1)"))
        .withColumn("q", expr("GREATEST((nc * 1000000) DIV tc, 1)"))
        .withColumn("psi_u", expr(
          "(p - q) * CAST(FLOOR(ln(CAST(p AS DOUBLE) / CAST(q AS DOUBLE)) * 1000000.0) AS BIGINT) DIV 1000000"))
        .select(col("bucket"), col("nd"), col("nc"), col("p"), col("q"), col("psi_u"))
        .orderBy(col("bucket"))
    },
    oracle = Some("""
      WITH d AS (SELECT doc_id, source, n_chars,
                        CASE WHEN doc_id % 5 = 0 THEN 'delta' ELSE 'corpus' END AS side
                 FROM documents),
      b AS (SELECT side, 'src:' || source AS bucket FROM d
            UNION ALL
            SELECT side, 'len:' || LEAST(CAST(FLOOR(n_chars / 200.0) AS BIGINT), 9) FROM d),
      counts AS (SELECT bucket,
                        CAST(SUM(CASE WHEN side = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS nd,
                        CAST(SUM(CASE WHEN side = 'corpus' THEN 1 ELSE 0 END) AS BIGINT) AS nc
                 FROM b GROUP BY bucket),
      tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS td, CAST(SUM(nc) AS BIGINT) AS tc FROM counts),
      pq AS (SELECT bucket, nd, nc,
                    GREATEST((nd * 1000000) // td, 1) AS p,
                    GREATEST((nc * 1000000) // tc, 1) AS q
             FROM counts, tot)
      SELECT bucket, nd, nc, p, q,
             CAST((p - q) * CAST(FLOOR(ln(CAST(p AS DOUBLE) / CAST(q AS DOUBLE)) * 1000000.0) AS BIGINT)
                  // 1000000 AS BIGINT) AS psi_u
      FROM pq ORDER BY bucket"""))

  /** Manifest-versioned table with TIME-TRAVEL reads — the lakehouse
    * contract (Delta/Iceberg-style) re-expressed minimally: every commit
    * writes its data as immutable files (in parallel, one per task) and a
    * manifest listing the exact files visible at that version; a reader
    * pins a version by reading that manifest ONLY. Commits: v1 appends the F slice, v2
    * appends O, v3 OVERWRITES with P (a new manifest referencing only new
    * files — old data untouched). The final leg re-reads v1 AFTER v3
    * committed: snapshot isolation means the overwrite cannot change it.
    * Manifest size is file-count metadata (the bounded driver-side state
    * every real table format carries); data access stays distributed. */
  val qPipeTimeTravel: Q = Q(
    run = (s, dir) => {
      val root = java.nio.file.Paths.get(
        graft.streaming.StreamOps.scratchRoot + s"/ttv_${san(dir)}")
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      java.nio.file.Files.createDirectories(root)
      val orders = Tables.load(s, dir, "orders")
      // commits are MULTI-WRITER (no coalesce(1) single-task funnel — at
      // 100 TB a commit is written by every task in parallel); the
      // manifest pins the exact FILE set the commit produced, so a later
      // writer landing files in the same tree can never change a pinned
      // version's visible data
      def commit(version: Int, status: String, base: Seq[String]): Seq[String] = {
        val d = s"$root/data_v$version"
        orders.filter(col("o_orderstatus") === status)
          .repartition(4).write.mode("overwrite").parquet(d)
        import scala.jdk.CollectionConverters._
        val files = java.nio.file.Files.list(java.nio.file.Paths.get(d))
          .iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
        require(files.size > 1,
          s"commit v$version must be written by >1 task, got ${files.size} file(s)")
        val visible = base ++ files
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$root/manifest_$version.txt"),
          visible.mkString("\n"))
        visible
      }
      val v1 = commit(1, "F", Nil)
      val v2 = commit(2, "O", v1)
      commit(3, "P", Nil) // OVERWRITE: manifest references only the new files
      def asOf(version: Int, leg: String) = {
        val files = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$root/manifest_$version.txt")).split("\n")
        s.read.parquet(files.toIndexedSeq: _*)
          .agg(count(lit(1)).as("n"),
               sum(expr("CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)")).as("total_c"))
          .select(lit(leg).as("leg"), col("n"), col("total_c"))
      }
      asOf(1, "v1").unionAll(asOf(2, "v2")).unionAll(asOf(3, "v3"))
        .unionAll(asOf(1, "v1_after_v3")) // isolation: unchanged by the overwrite
        .orderBy(col("leg"))
    },
    oracle = Some("""
      WITH agg AS (
        SELECT o_orderstatus AS st, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        FROM orders GROUP BY o_orderstatus)
      SELECT 'v1' AS leg, n, total_c FROM agg WHERE st = 'F'
      UNION ALL
      SELECT 'v2', CAST((SELECT SUM(n) FROM agg WHERE st IN ('F','O')) AS BIGINT),
             CAST((SELECT SUM(total_c) FROM agg WHERE st IN ('F','O')) AS BIGINT)
      UNION ALL
      SELECT 'v3', n, total_c FROM agg WHERE st = 'P'
      UNION ALL
      SELECT 'v1_after_v3', n, total_c FROM agg WHERE st = 'F'
      ORDER BY leg"""))

  /** SQL-client session properties, oracle-gated (ref flink-sql-client
    * SetOperation/ResetOperation): `SET 'k' = 'v'` records a property
    * (bare-key spelling accepted too), bare `SET` lists them, `RESET`
    * clears. Two keys are FUNCTIONAL, mapped onto live Spark conf —
    * table.exec.resource.default-parallelism → spark.sql.shuffle
    * .partitions and table.local-time-zone → session timeZone — and
    * RESET must restore the conf captured at SET time. Legs prove the
    * listing, the live conf effect, the restore (equal to the ambient
    * value snapshotted before the SET), and the empty listing after
    * RESET. */
  val qSqlSetReset: Q = Q(
    run = (s, dir) => {
      import s.implicits._
      val e = new EngineEnv(s)
      // capture the ambient conf BEFORE the SET: the restore leg asserts
      // equality with this snapshot, not inequality with a magic literal
      // (a harness that happens to run with shuffle partitions = 7 must
      // not fail the query spuriously)
      val ambient = s.conf.get("spark.sql.shuffle.partitions")
      e.executeSql("SET 'table.local-time-zone' = 'UTC'")
      e.executeSql("SET table.exec.resource.default-parallelism = 7")
      val listing = e.executeSql("SET")
        .select(lit("prop").as("leg"), col("key").as("k"), col("value").as("v"))
      val live = Seq(("conf", "spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))).toDF("leg", "k", "v")
      e.executeSql("RESET 'table.exec.resource.default-parallelism'")
      val restored = Seq(("restored", "shuffle.partitions.restored",
        (s.conf.get("spark.sql.shuffle.partitions") == ambient).toString)).toDF("leg", "k", "v")
      e.executeSql("RESET")
      val empty = Seq(("empty", "n_props",
        e.executeSql("SET").count().toString)).toDF("leg", "k", "v")
      listing.unionAll(live).unionAll(restored).unionAll(empty)
        .orderBy(col("leg"), col("k"))
    },
    oracle = Some("""
      SELECT * FROM (VALUES
        ('conf', 'spark.sql.shuffle.partitions', '7'),
        ('empty', 'n_props', '0'),
        ('prop', 'table.exec.resource.default-parallelism', '7'),
        ('prop', 'table.local-time-zone', 'UTC'),
        ('restored', 'shuffle.partitions.restored', 'true')
      ) AS t(leg, k, v) ORDER BY leg, k"""))

  /** Dataset card — the per-source datasheet a corpus release ships with:
    * doc/token counts, length stats, language mix (top language + its
    * permille share), and exact-dup rate (docs sharing a 10-word-prefix
    * signature), all from ONE scan + two hash aggregates. Integer ratios
    * (permille) keep every engine bit-identical. At 100 TB this is the
    * cheapest full-corpus report that exists — nothing here shuffles more
    * than (source) and (source, lang) keyed partials. */
  val qPipeDatasetCard: Q = Q(
    run = (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
        // null text → null sig (concat_ws would fold to "" — see
        // q_pipe_dedup_exact; COUNT(DISTINCT) then skips it on both engines)
        .withColumn("sig", when(col("text").isNull, lit(null: String))
          .otherwise(md5(concat_ws(" ", slice(split(col("text"), " "), 1, 10)))))
      val base = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("sig")).as("n_uniq"))
      val topLang = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("nl"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("nl").desc, col("lang"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("nl"))
      base.join(topLang, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
                col("min_chars"), col("max_chars"),
                expr("nl * 1000 DIV n_docs").as("top_lang_permille"), col("top_lang"),
                expr("(n_docs - n_uniq) * 1000 DIV n_docs").as("dup_permille"))
        .orderBy(col("source"))
    },
    oracle = Some("""
      WITH d AS (SELECT source, lang, n_chars,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                        md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS sig
                 FROM documents),
      base AS (SELECT source, COUNT(*) AS n_docs,
                      CAST(SUM(toks) AS BIGINT) AS n_tokens,
                      MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                      COUNT(DISTINCT sig) AS n_uniq
               FROM d GROUP BY source),
      tl AS (SELECT source, lang AS top_lang, nl FROM (
               SELECT source, lang, COUNT(*) AS nl,
                      row_number() OVER (PARTITION BY source
                        ORDER BY COUNT(*) DESC, lang) AS rn
               FROM d GROUP BY source, lang) WHERE rn = 1)
      SELECT base.source, n_docs, n_tokens, min_chars, max_chars,
             nl * 1000 // n_docs AS top_lang_permille, top_lang,
             (n_docs - n_uniq) * 1000 // n_docs AS dup_permille
      FROM base JOIN tl ON tl.source = base.source
      ORDER BY base.source"""))

  /** Leakage-safe train/test split: near-dup docs must land on the SAME
    * side (else test answers leak into train via paraphrases). The split
    * key is the near-dup CLUSTER id (connected component of MinHash
    * collisions; singleton docs are their own cluster), gated by one
    * deterministic hash — duplicates co-travel by construction. The audit
    * leg counts colliding pairs whose members were separated: it must be
    * ZERO, and the oracle proves it. Per-side doc counts round out the
    * report. */
  val qPipeClusterSplit: Q = Q(
    run = (s, dir) => {
      // the pair list feeds BOTH the components pass and the leak audit —
      // stage it once so the shingle→signature→band chain runs once
      val pairsDir = graft.streaming.StreamOps.scratchRoot + s"/clsplit_${san(dir)}/pairs"
      PipelineQueries.minhashPairs(s, dir).write.mode("overwrite").parquet(pairsDir)
      val pairs = s.read.parquet(pairsDir)
      val comp = graft.operators.GraphOps.connectedComponents(
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
      val assigned = Tables.load(s, dir, "documents").select(col("doc_id"))
        .join(comp.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("component"), col("doc_id")))
        .withColumn("side", when(
          pmod(graft.Queries.hashStr(concat(lit("split_"), col("cluster"))), lit(10L)) < 8L,
          "train").otherwise("test"))
      val sides = assigned.groupBy(col("side")).agg(count(lit(1)).as("n"))
        .select(col("side").as("leg"), col("n"))
      val a = assigned.select(col("doc_id").as("d1"), col("side").as("s1"))
      val b = assigned.select(col("doc_id").as("d2"), col("side").as("s2"))
      val leaked = pairs.join(a, "d1").join(b, "d2")
        .filter(col("s1") =!= col("s2"))
        .agg(count(lit(1)).as("n"))
        .select(lit("leaked_pairs").as("leg"), col("n"))
      sides.unionAll(leaked).orderBy(col("leg"))
    },
    oracle = Some(s"""
      WITH RECURSIVE
      ${PipelineQueries.oMinhashCtes},
      bi AS (SELECT d1 AS v, d2 AS u FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(v, u) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM bi)
        UNION
        SELECT r.v, bi.u FROM reach r JOIN bi ON r.u = bi.v),
      comp AS (SELECT v, min(u) AS c FROM reach GROUP BY v),
      asg AS (SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS cluster,
                     CASE WHEN ${graft.Queries.oHash("'split_' || COALESCE(comp.c, d.doc_id)")} % 10 < 8
                          THEN 'train' ELSE 'test' END AS side
              FROM documents d LEFT JOIN comp ON comp.v = d.doc_id),
      sides AS (SELECT side AS leg, COUNT(*) AS n FROM asg GROUP BY side),
      leaked AS (SELECT 'leaked_pairs' AS leg, COUNT(*) AS n
                 FROM pairs p JOIN asg a ON a.doc_id = p.d1
                              JOIN asg b ON b.doc_id = p.d2
                 WHERE a.side <> b.side)
      SELECT leg, n FROM sides UNION ALL SELECT leg, n FROM leaked
      ORDER BY leg"""))

  val all: Map[String, Q] = scala.collection.immutable.ListMap(
    "q_sql_alter_set" -> qSqlAlterSet,
    "q_sql_set_reset" -> qSqlSetReset,
    "q_pipe_dataset_card" -> qPipeDatasetCard,
    "q_pipe_cluster_split" -> qPipeClusterSplit,
    "q_join_bucketed" -> qJoinBucketed,
    "q_datastream_exchange" -> qDatastreamExchange,
    "q_pipe_incremental_dedup" -> qPipeIncrementalDedup,
    "q_pipe_minhash_calibration" -> qPipeMinhashCalibration,
    "q_pipe_dedup_keep_best" -> qPipeDedupKeepBest,
    "q_pipe_ann_ivf_trained" -> qPipeAnnIvfTrained,
    "q_pipe_epoch_shuffle" -> qPipeEpochShuffle,
    "q_pipe_drift_psi" -> qPipeDriftPsi,
    "q_pipe_time_travel" -> qPipeTimeTravel)
}
