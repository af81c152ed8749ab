package graft

import graft.operators.RankSplit
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `RankSplit.ntileLazy` (the no-global-sort ntile replacement) must be
  * bit-identical to `ntile(k) OVER (ORDER BY v [DESC], tie)` — verified
  * differentially against Spark's own ntile over random data: negative
  * values, heavy ties, all-equal values, empty input, n ≡ 0/1/…/k-1
  * (mod k), tiny n, both directions. */
class RankSplitSpec extends SparkTestBase {

  private def checkLazyAgainstNtile(vs: Seq[(Long, Long)], buckets: Int, desc: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val df = vs.toDF("v", "tie")
    val ord = if (desc) Seq(col("v").desc, col("tie")) else Seq(col("v"), col("tie"))
    val expected = df.withColumn("b", ntile(buckets).over(Window.orderBy(ord: _*)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val got = RankSplit.ntileLazy(df, "v", "tie", desc, binShift = 4, buckets, "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == expected, s"ntileLazy: buckets=$buckets desc=$desc n=${vs.size}")
  }

  test("ntileLazy differential vs ntile: residues, ties, negatives, both directions") {
    val rnd = new scala.util.Random(7151L)
    for (n <- Seq(1, 2, 3, 5, 11, 97, 100, 101, 102, 103); k <- Seq(2, 3, 4, 10);
         desc <- Seq(true, false)) {
      val vs = Seq.tabulate(n)(i => (rnd.nextInt(40).toLong - 20L, i.toLong))
      checkLazyAgainstNtile(vs, k, desc)
    }
    // all rows in ONE bin → every boundary lands in that bin: exercises
    // the (bin, boundary)-partitioned rank against duplicated bin rows
    checkLazyAgainstNtile(Seq.tabulate(10)(i => (7L, i.toLong)), 4, desc = true)
    checkLazyAgainstNtile(Seq.tabulate(9)(i => (7L, i.toLong)), 3, desc = false)
    // empty input: no boundaries, no rows, no crash
    checkLazyAgainstNtile(Seq.empty, 3, desc = true)
  }

  test("ntileLazy reuses the input's exchange across its branches (one corpus scan)") {
    val s = spark
    import s.implicits._
    // an aggregate input with an EXTRA aggregate column the lattice does
    // not need (the dsir n_feats shape): without the tether, ColumnPruning
    // specializes the slim branches' partial aggregate (drops count(1))
    // and the input computes once per branch instead of once total
    val base = Seq.tabulate(200)(i => (i.toLong % 37, 1L)).toDF("k", "one")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("one").as("v"))
    val df = RankSplit.ntileLazy(base, "v", "k", desc = true, 4, 4, "b")
    df.collect() // AQE finalizes reuse at runtime — materialize first
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange"),
      s"expected the histogram/threshold branches to reuse the input shuffle:\n$plan")
    val partials = "functions=\\[partial_count\\(1\\), partial_sum".r.findAllIn(plan).length
    assert(partials == 1,
      s"expected the input's partial aggregate to execute exactly once " +
        s"(tether defeated column pruning), found $partials:\n$plan")
  }

  test("ntileLazy tether: the real corpus queries scan documents at most twice") {
    // q_pipe_dsir / q_pipe_ccnet_bucket: one scoring pass + one fit pass;
    // every ntileLazy branch reads the scoring exchange's shuffle files.
    // Regression pin for the round-15 exchange-unification (the lattice
    // previously recomputed the corpus pipeline once per aggregate shape).
    for (q <- Seq("q_pipe_dsir", "q_pipe_ccnet_bucket")) {
      val df = graft.Queries.all(q).run(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans <= 2, s"$q: expected <=2 document scans (score + fit), got $scans:\n$plan")
    }
  }
}
