package graft

import graft.streaming.StreamOps
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Round-11 specs: partitionEdges' AQE-off pinning materialization runs on
  * a private `spark.newSession()` (r10 VERDICT #3), so the caller's
  * session conf is NEVER mutated — a concurrently planned query, graft or
  * not, can no longer observe adaptive execution flipped off during a
  * graph loop (the last conf-hygiene residual of the r9 ADVICE race). */
class Round11Spec extends SparkTestBase {

  private def lcgEdges(n: Int) = {
    val s = spark
    import s.implicits._
    var x = 11L
    val buf = scala.collection.mutable.ListBuffer[(Long, Long)]()
    for (a <- 0 until n; b <- a + 1 until n) {
      x = (x * 1103515245L + 12345L) % 2147483648L
      if (x % 10 < 3) buf += ((a.toLong, b.toLong))
    }
    buf.toSeq.toDF("src", "dst")
  }

  test("ambient AQE is never observable as off from a concurrent thread during a loop") {
    Queries.all
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    val sawOff = new AtomicBoolean(false)
    val polls = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!stop.get()) {
        if (conf.get("spark.sql.adaptive.enabled") != "true") sawOff.set(true)
        polls.incrementAndGet()
      }
    })
    poller.start()
    // force the partitioned path
    try StreamOps.withConf(spark, "graft.graph.broadcastMaxRows" -> "0") {
      val pr = graft.operators.GraphOps.pageRank(lcgEdges(40), iters = 3)
      assert(pr.count() > 0)
    } finally { stop.set(true); poller.join() }
    assert(polls.get() > 1000, s"poller only ran ${polls.get()} times — vacuous race")
    assert(!sawOff.get(), "a concurrent thread observed spark.sql.adaptive.enabled=false " +
      "during a partitioned graph loop — partitionEdges leaked its conf flip")
  }

  test("the pinning sub-session does not leak global temp views") {
    Queries.all
    StreamOps.withConf(spark, "graft.graph.broadcastMaxRows" -> "0") {
      graft.operators.GraphOps.pageRank(lcgEdges(30), iters = 2).count()
      val leftover = spark.sql("SHOW TABLES IN global_temp")
        .collect().map(_.getString(1)).filter(_.startsWith("graft_pin_"))
      assert(leftover.isEmpty, s"leaked global temp views: ${leftover.mkString(",")}")
    }
  }
}
