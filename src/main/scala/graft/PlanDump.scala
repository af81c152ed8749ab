package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Plan-evidence dump: writes `explain("formatted")` of selected queries to
  * a markdown file, so scan pushdown (`PushedFilters`/`ReadSchema`),
  * broadcast choices, WholeStageCodegen spans and exchange counts are
  * reviewable without executing anything. Usage:
  *   PlanDump <sfDir> <outFile> [query ...]   (no names = the headline set)
  */
object PlanDump {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q_tpch_q6", "q_tpch_q3", "q_join_inner_bcast",
    "q_join_bucketed", "q_join_band_keyless", "q_topn_per_group",
    "q_window_session_capped", "q_pipe_minhash_lsh", "q_pipe_incremental_dedup",
    "q_pipe_dedup_keep_best", "q_pipe_bm25", "q_pipe_ann_pq",
    "q_pipe_epoch_shuffle", "q_pipe_drift_psi", "q_pipe_quantile_2pass",
    "q_pipe_seq_pack")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // Explicit names are UNIONED with the headline set (r13): the round
    // ritual derives its list mechanically from the final bench record
    // (every >2.5 s entry), and the standing headline plans must never
    // drop out of the dump just because they got fast.
    val names = (headline ++ args.drop(2).toSeq).distinct
      .filter(SparkEntry.queries.contains)
    val spark = EngineSession(8, logLevel = "ERROR")
    val sb = new StringBuilder
    sb.append(s"# Physical plans (`explain formatted`) — $sfDir\n\n")
    sb.append("Generated by `graft.PlanDump`; regenerate after plan-affecting changes.\n")
    // a query that fails to plan fails the dump: its plan went unreviewed
    var failed = 0
    names.foreach { name =>
      val plan =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case NonFatal(e) =>
          failed += 1
          System.err.println(s"[plandump] $name failed to plan: $e")
          s"(failed to plan: ${e.getMessage})"
        }
      sb.append(s"\n## $name\n\n```\n$plan\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote ${names.size} plans to $out")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
