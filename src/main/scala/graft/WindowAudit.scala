package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan walker for [[AuditAll]]'s window check: finds every
  * WindowExec/WindowGroupLimitExec with an empty partition spec in an
  * EXECUTED plan — the "Moving all data to a single partition" shape
  * that breaks at 100×. */
object WindowAudit {
  private[graft] def unpartitioned(p: SparkPlan): Seq[String] = p.collect {
    case a: AdaptiveSparkPlanExec => unpartitioned(a.executedPlan)
    case s: QueryStageExec => unpartitioned(s.plan)
    case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => Seq(w.nodeName)
    case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
        if w.partitionSpec.isEmpty => Seq(w.nodeName)
  }.flatten

  /** Executes `df` and returns every WindowExec/WindowGroupLimitExec
    * in its final (AQE-resolved) plan whose partition spec is empty.
    * THE shared walker — PlanSpec and PrefixScanSpec pin through this
    * same traversal, so a new Spark wrapper node type only needs
    * handling here. */
  def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    unpartitioned(AuditAll.finalPlan(df))
}
