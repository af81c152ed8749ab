package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Broadcast the provably-single-row side of a condition-free inner join.
  *
  * TPC-DS q77's official text cross-joins each channel's per-key sales
  * aggregate with a KEYLESS returns aggregate (`... cross join (select
  * sum(cr_return_amount), sum(cr_net_loss) from catalog_returns ...) cr`).
  * Spark's JoinSelection plans a no-condition inner join whose sides have
  * no usable stats as CartesianProduct, and AQE never revisits it — AQE
  * re-plans only exchange-backed (equi-shuffle) joins, so the cartesian
  * survives into the EXECUTED plan (probed on 4.1.2; PlanGoldenSpec pins
  * the fix). The reference plans the same shape as a singleRowJoin
  * broadcast (flink-table-planner-blink
  * FlinkLogicalJoin/BatchPhysicalNestedLoopJoinRule singleRowJoin path).
  *
  * The rule fires only when a join side's `maxRows` is EXACTLY 1 — the
  * keyless-Aggregate guarantee, propagated through Project/Filter — so the
  * broadcast is always a one-row table regardless of input scale: the
  * 100 TB-safe scalar-broadcast idiom the rest of the corpus already gets
  * from stats-visible build sides (BroadcastNestedLoopJoin with
  * IdentityBroadcastMode). Installed once per session via
  * `spark.experimental.extraOptimizations` (hints are folded into
  * `Join.hint` before the user batch runs, so the rule sets the JoinHint
  * field directly). */
object ScalarCrossBroadcast extends Rule[LogicalPlan] {

  private def singleRow(p: LogicalPlan): Boolean = p.maxRows.contains(1L)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner | Cross, None, hint)
        if hint.leftHint.isEmpty && hint.rightHint.isEmpty =>
      if (singleRow(r))
        j.copy(hint = hint.copy(rightHint =
          Some(HintInfo(strategy = Some(org.apache.spark.sql.catalyst.plans.logical.BROADCAST)))))
      else if (singleRow(l))
        j.copy(hint = hint.copy(leftHint =
          Some(HintInfo(strategy = Some(org.apache.spark.sql.catalyst.plans.logical.BROADCAST)))))
      else j
  }

  /** Idempotent per-session installation. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}
