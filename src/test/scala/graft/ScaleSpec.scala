package graft

import graft.operators.SkewJoin
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Scale-pattern evidence: bucketed co-located joins (no shuffle), salted
  * join equivalence, approximate-aggregate error bounds,
  * dropDuplicatesWithinWatermark. */
class ScaleSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle exchange") {
    val s = spark
    // force non-broadcast
    StreamOps.withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // drop tables AND their warehouse dirs (a fresh in-memory metastore
      // doesn't know about locations left by a previous test JVM)
      Seq("orders_bkt", "customer_bkt").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = java.nio.file.Paths.get(s"spark-warehouse/$t")
        if (java.nio.file.Files.exists(loc)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
      Tables.load(s, sfDir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_bkt")
      Tables.load(s, sfDir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_bkt")
      val joined = s.table("orders_bkt")
        .join(s.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located bucketed join: the join itself needs no Exchange on either side
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    }
  }

  test("salted join result equals the plain join") {
    val s = spark
    val e = Tables.load(s, sfDir, "events").filter(col("event_type") === "purchase")
      .select(col("user_id").as("c_custkey"), col("event_id"))
    val c = Tables.load(s, sfDir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val plain = e.join(c, "c_custkey").count()
    val salted = SkewJoin.saltedJoin(e, c, "c_custkey", factor = 8).count()
    assert(plain == salted && plain > 0)
  }

  test("IVF ANN recall: probed-list top-3 overlaps brute-force top-3") {
    // retrieval QUALITY gate, not just plumbing. The fixture corpus is
    // RANDOM 64-dim vectors — no cluster structure, the worst case for a
    // coarse quantizer — so the honest bar is that nprobe=2 of 8 lists
    // (25% of the corpus scanned) must beat the 25% recall a random slice
    // of that size would give. Measured ≈40% on this corpus; a clustered
    // real-embedding corpus is where IVF recall climbs toward 1.
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exactTop3 = (100L to 109L).map { q =>
      q -> vecs.filter(_._1 != q).toSeq
        .map { case (id, v) => (cos(vecs(q), v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(3).map(_._2).toSet
    }.toMap
    val ivf = SparkEntry.queries("q_pipe_ann_ivf")(spark, sfDir)
      .select(col("qid"), col("cid")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exactTop3.toSeq.map { case (q, top) => (top & ivf.getOrElse(q, Set.empty)).size }.sum
    val total = exactTop3.values.map(_.size).sum
    assert(hits * 4 > total, s"IVF recall no better than a random 25% slice: $hits/$total")
  }

  test("approx_count_distinct within 5% of exact") {
    val s = spark
    import s.implicits._
    val li = Tables.load(s, sfDir, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).as[Long].head()
    val approx = li.select(approx_count_distinct(col("l_partkey"))).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin)") {
    val s = spark
    import s.implicits._
    // force a shuffle join; tiny thresholds so the fixture-scale skew
    // actually trips the rule
    StreamOps.withConf(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.shuffle.partitions" -> "8") {
      // 95% of the left rows share one key — the classic hot-key join
      val left = s.range(200000L)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id") % 100).as("k"),
                col("id").as("v"))
      val right = s.range(100L).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
      // execute THIS queryExecution (count() would plan a different query
      // whose adaptive plan is separate) then read the final adaptive plan
      assert(joined.queryExecution.toRdd.count() == 200000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew="), s"expected a skew-join rewrite marker:\n${finalPlan.take(800)}")
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    val s = spark
    val out = graft.streaming.StreamOps.scratchRoot + "/dpp_fact"
    Tables.load(s, sfDir, "orders")
      .withColumn("o_status_part", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_status_part").parquet(out)
    val fact = s.read.parquet(out)
    // the dim filter must NOT be statically inferable onto the join key
    // (a literal d_status = 'F' would constant-fold into a static
    // PartitionFilter — no runtime pruning left to prove), so gate on an
    // aggregate only the run can know
    val statusCount = Tables.load(s, sfDir, "orders")
      .filter(col("o_orderstatus") === "F").count()
    val dim = Tables.load(s, sfDir, "orders")
      .groupBy(col("o_orderstatus").as("d_status"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === statusCount)
      .select(col("d_status"))
    val joined = fact.join(dim, col("o_status_part") === col("d_status"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"expected a DPP subquery on the fact scan:\n${plan.take(800)}")
    // expected rows = all orders whose status count ties statusCount
    // (normally just 'F'; robust if another status happens to tie)
    val matched = dim.collect().map(_.getString(0)).toSet
    val expected = Tables.load(s, sfDir, "orders")
      .filter(col("o_orderstatus").isin(matched.toSeq: _*)).count()
    val n = joined.count()
    assert(n > 0 && n == expected)
  }

  test("q_pipe_split is partitioning-invariant: same manifest at 2 and 32 shuffle partitions") {
    // the replayability contract: a hash-gated split never depends on
    // cluster size / task layout — the exact property RNG sampling lacks
    val run = (parts: String) =>
      StreamOps.withConf(spark, "spark.sql.shuffle.partitions" -> parts) {
        SparkEntry.queries("q_pipe_split")(spark, sfDir).collect().toSeq
      }
    assert(run("2") == run("32"))
  }

  test("incremental dedup + keep-best canonicalization are partitioning-invariant") {
    // the round-6 dedup pair composes MinHash bands, an iterative CC, and
    // a window election — each individually order-sensitive if written
    // wrong; identical output at 2 and 32 shuffle partitions pins the
    // whole chain to deterministic integer/tie-broken math
    val run = (name: String, parts: String) =>
      StreamOps.withConf(spark, "spark.sql.shuffle.partitions" -> parts) {
        SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      }
    assert(run("q_pipe_incremental_dedup", "2") == run("q_pipe_incremental_dedup", "32"))
    assert(run("q_pipe_dedup_keep_best", "2") == run("q_pipe_dedup_keep_best", "32"))
  }

  test("dropDuplicatesWithinWatermark dedups inside the watermark horizon") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val dd = in.toDF().toDF("k", "sec")
      .withColumn("ts", expr("timestamp_micros(sec * 1000000)"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"), col("sec"))
    val q = dd.writeStream.format("memory").queryName("ddw_t").outputMode("append").start()
    in.addData((1L, 0L), (1L, 5L), (2L, 6L)) // dup of key 1 within horizon
    q.processAllAvailable()
    val rows = s.table("ddw_t").as[(Long, Long)].collect().toSet
    q.stop()
    assert(rows.map(_._1) == Set(1L, 2L) && rows.size == 2)
  }
}
