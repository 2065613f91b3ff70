package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan walker for [[AuditAll]]'s join check (sibling of
  * [[WindowAudit]]): finds every `BroadcastNestedLoopJoinExec` or
  * `CartesianProductExec` in an EXECUTED plan whose SMALLER side
  * produced more than [[smallSideMax]] rows — the all-pairs shape that
  * breaks at 100×. Singleton/tiny sides (scalar aggregates crossJoined
  * for a closed form, literal grids, ≤200-row replicate frames) are the
  * legitimate uses and pass the bound. */
object JoinAudit {

  /** A non-equi join side bigger than this is an offender. Chosen an
    * order of magnitude above the largest legitimate literal grid in
    * the registry (200 rows) and far below any data-sized frame. */
  val smallSideMax = 2048L

  /** First numOutputRows metric found in `p`'s subtree (unwrapping AQE
    * stage wrappers) — the rows the side actually produced. */
  private def sideRows(p: SparkPlan): Option[Long] = p match {
    case s: QueryStageExec => sideRows(s.plan)
    case a: AdaptiveSparkPlanExec => sideRows(a.executedPlan)
    // A reused exchange is a metric-less leaf; its rows live on the
    // original exchange it points to.
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      sideRows(r.child)
    case other =>
      other.metrics.get("numOutputRows").map(_.value)
        .orElse(other.children.view.flatMap(sideRows).headOption)
  }

  private[graft] def offenders(p: SparkPlan): Seq[String] = p.collect {
    case a: AdaptiveSparkPlanExec => offenders(a.executedPlan)
    case s: QueryStageExec => offenders(s.plan)
    case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
      report(j.nodeName, j.children)
    case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
      report(j.nodeName, j.children)
  }.flatten

  private def report(node: String, children: Seq[SparkPlan]): Seq[String] = {
    val rows = children.flatMap(sideRows)
    if (rows.isEmpty)
      // Still counted as an offender (fail-loud beats fail-silent), but
      // named for what it is: the walker could not resolve any
      // numOutputRows metric, not a measured oversized side.
      Seq(s"$node metrics unresolved (no numOutputRows on either side)")
    else if (rows.min > smallSideMax)
      Seq(s"$node min-side rows=${rows.min} > $smallSideMax")
    else Seq.empty
  }

  /** Executes `df` and returns every non-equi join in its final
    * (AQE-resolved) plan whose smaller side exceeded the bound. */
  def oversizedNonEquiJoins(df: org.apache.spark.sql.DataFrame): Seq[String] =
    offenders(AuditAll.finalPlan(df))
}
