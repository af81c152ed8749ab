package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = EngineSession.only(SparkEntry.queries.keySet)
    val spark = EngineSession(EngineSession.envCores(4), fixtureWidths = true)
    // warm-up: JVM/codegen/session init + file-listing, so per-query times
    // measure steady-state execution (not first-query startup)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
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
