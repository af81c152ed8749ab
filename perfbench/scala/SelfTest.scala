package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

/** `--mode selftest`: the harness's own accounting test.
  *
  * A workload of five operations, three correct, one whose query fails
  * while it executes, and one whose stored digest is deliberately wrong,
  * must report exactly the last two as failed and keep them out of every
  * latency. Both failing operations sleep first, so their time would
  * dominate the percentiles if it leaked in. A fatal error must abort the
  * run instead of becoming a failed sample. */
object SelfTest {
  private val SlowMs = 1500L

  private final class Fixture(fatal: Boolean) extends Workload {
    val name = "selftest"
    val passSeconds = 1.0
    private def good(s: SparkSession) = s.range(1000).selectExpr("id", "id * 2 AS twice")
    private def slow[T](f: => T): T = { Thread.sleep(SlowMs); f }
    val ops: IndexedSeq[Op] = IndexedSeq(
      Op("good_a", good), Op("good_b", good), Op("good_c", good),
      Op("broken", s => slow(s.range(10).select(raise_error(lit("deliberately broken query"))))),
      Op("wrong_digest", s => slow(good(s)))) ++
      (if (fatal) Seq(Op("fatal", _ => throw new OutOfMemoryError("deliberate fatal error"))) else Nil)
    private var expected = Map.empty[String, Digest.Value]
    def prepare(s: SparkSession): Unit = {
      val right = Digest.of(good(s))
      expected = Map("good_a" -> right, "good_b" -> right, "good_c" -> right, "broken" -> right,
        "wrong_digest" -> right.copy(digest = "0"))
    }
    def check(op: Op, result: DataFrame): Option[String] =
      if (Digest.of(result) == expected(op.name)) None else Some("digest mismatch")
  }

  private def require(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  def run(o: Opts): Unit = {
    val base = Main.session(o)
    try {
      val opts = o.copy(workload = "selftest", seconds = 0.1)
      for (trace <- Seq(false, true)) {
        val r = new Runner(base, new Fixture(fatal = false), opts.copy(trace = trace), 0.0).run()
        val measured = r.samples.filter(!_.traced)
        val failedOps = measured.filter(!_.ok).map(_.op).toSet
        require(failedOps == Set("broken", "wrong_digest"), s"failed ops were $failedOps")
        require(r.failed == 2 * measured.size / 5 && r.attempted == measured.size,
          s"failed ${r.failed} of ${r.attempted}")
        if (trace) require(math.abs(r.metric("failed_share") - 0.4) < 1e-9, s"failed_share ${r.metric("failed_share")}")
        else {
          val goodWalls = measured.filter(_.ok).map(_.wallS)
          require(r.metric("query_p50_s") == Main.percentile(goodWalls, 0.5), "p50 is not over the correct samples")
          require(r.metric("query_p90_s") == Main.percentile(goodWalls, 0.9), "p90 is not over the correct samples")
          require(r.metric("query_p90_s") < SlowMs / 1000.0, s"a failed op's time leaked into p90: ${r.metric("query_p90_s")}")
        }
      }
      val aborted =
        try { new Runner(base, new Fixture(fatal = true), opts, 0.0).run(); false }
        catch { case _: OutOfMemoryError => true }
      require(aborted, "a fatal error did not abort the run")
      println("selftest: ok")
    } finally base.stop()
  }
}
