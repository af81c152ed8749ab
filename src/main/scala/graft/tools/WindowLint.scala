package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

/** Unpartitioned-window lint (VERDICT r14 #8).
  *
  * A `Window` with an empty partitionSpec plans as a SINGLE-partition
  * WindowExec — the whole input sorted through one task. On per-document /
  * per-row data that is the one genuine 100 TB scale-killer this corpus
  * has produced (the r14 DSIR/CCNet ntile, since fixed via
  * [[graft.operators.RankSplit]]). This lint makes the class mechanical:
  * every query whose OPTIMIZED plan contains an unpartitioned Window must
  * either be a hosted-verbatim benchmark text (the reference's own SQL —
  * exempt as data, not engine design) or carry an entry in [[bounded]]
  * saying WHY its window input is cardinality-bounded.
  *
  * [[graft.AllQueriesSmokeSpec]] asserts it per query during the sf0.001
  * corpus pass, so `sbt test` fails on a new offender.
  */
object WindowLint {

  /** Queries whose unpartitioned windows run over BOUNDED inputs — each
    * entry names the bound. A new offender must either fix its plan or
    * argue its bound here (and survive review). */
  val bounded: Map[String, String] = Map(
    "q_pipe_seq_pack" -> ("window over per-BUCKET summaries (one row per pack bucket, " +
      "bucket count fixed by the packing config - Pipeline9Queries.scala:45)"),
    "q_ds_best_worst" -> ("two symmetric ROW_NUMBERs over one row per p_brand - a " +
      "25-value bounded dimension (TPC-H Brand#MN), never corpus-scaled"),
    "q_ds_union_ranked" -> ("rank windows run over ORDER BY ... LIMIT 5 subqueries " +
      "(TakeOrderedAndProject) - 5-row inputs by construction"))
    // (r16: the RankSplit.ntileLazy consumers — q_pipe_dsir,
    // q_pipe_ccnet_bucket, q_ds_decile — no longer carry ANY unpartitioned
    // window: the bounded bin-histogram cumulation became a one-row
    // aggregate + map-side array fold, so their allowlist entries are gone)

  /** Verbatim-hosted benchmark texts: the reference's own SQL, exempt. */
  def isVerbatim(name: String): Boolean =
    name.startsWith("q_tpcds_v") || name.startsWith("q_tpch_v")

  /** Rendered unpartitioned windows in the query's optimized plan. */
  def unpartitionedWindows(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty =>
        w.windowExpressions.map(_.toString).mkString("; ").take(160)
    }
}
