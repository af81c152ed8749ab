package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    sys.env.get("SPARK_GRAFT_STREAM_PARTS").foreach(v => sys.props("graft.stream.parts") = v)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // fixture-scale override (r9 VERDICT #3): the iterative graph loops
      // follow the ambient shuffle width by default — right at cluster
      // scale, pure task-scheduling overhead at sf≤1, where dozens of
      // rounds × 32 tasks over ~60k-row frames dominate the runtime. The
      // sf10 smoke overrides via SPARK_GRAFT_LOOP_PARTS to measure the
      // loops at honest width.
      .config("graft.graph.loopShufflePartitions",
        sys.env.getOrElse("SPARK_GRAFT_LOOP_PARTS", "4"))
      .config("spark.ui.enabled", "false")
      // same fixture-vs-scale split for the STATEFUL streaming stages
      // (r14): runToMemory's 4-partition default halves per-batch
      // state-store commit overhead at sf≤1 fixture volumes, but at the
      // 100x smoke one state partition holds 100x the keys and the keyed
      // flatMapGroups sort dominates (measured on q_stream_cdc_join at
      // sf10: 472s at 4 parts -> 331s at 32). The sf10 smoke overrides
      // via SPARK_GRAFT_STREAM_PARTS to measure at honest width —
      // exactly the r9 loop-width argument, applied to state stores.
      // shuffle/spill scratch on tmpfs when available (stands in for the
      // fast local SSD a real executor would mount here)
      .config("spark.local.dir", graft.streaming.StreamOps.scratchRoot + "/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JVM/codegen/session init + file-listing, so per-query times
    // measure steady-state execution (not first-query startup)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    // optional comma-separated subset for local iteration (driver leaves unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(names => SparkEntry.queries.filter(q => names(q._1)))
    // a query that throws is recorded in `failed`, never as a timing
    val timed = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      name -> (try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
               catch { case NonFatal(e) => System.err.println(s"[bench] $name failed: $e"); None })
    }
    val results = timed.collect { case (name, Some(sec)) => name -> sec }
    val failed = timed.collect { case (name, None) => "\"" + name + "\"" }.toSeq.sorted.mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // full per-query record first (tools/bench_gate.py + the sf1/sf10
    // report scripts read it), then a COMPACT line LAST: the driver tails
    // stdout into a bounded record, and a 472-entry map overflows it —
    // `parsed` came back null for three rounds (r9 VERDICT #7). The
    // compact line keeps the contract shape with a stable headline
    // subset + the query count.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failed}""")
    val headline = Seq("q1_pricing_summary", "q_tpch_q3", "q_tpch_q6", "q_tpch_q18",
      "q_pipe_minhash_lsh", "q_pipe_ann_ivf", "q_pipe_ppjoin", "q_graph_pagerank",
      "q_stream_tumble", "q_tpcds_v67")
    val hq = headline.flatMap(k => results.get(k).map(v => s"\"" + k + "\":" + v))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries_n":${results.size},"queries":$hq,"sf":"$sfDir","failed":$failed}""")
    spark.stop()
  }
}
