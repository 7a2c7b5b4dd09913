package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Numbers read off an executed query: Catalyst phase times and the SQL
  * metrics of its scan nodes (files read, rows output). Read after
  * execution, so adaptive plans are walked through their final stages, and
  * cached relations through their materialized plan.
  */
object PlanMetrics {
  /** One scan node: files it read, rows it produced, and whether it reads
    * merge-on-read delete files (the warehouse writes those under `del*`
    * directories) rather than data files.
    */
  final case class Scan(files: Long, rows: Long, deletes: Boolean)

  /** Seconds spent in analysis, optimization and planning. */
  def planSeconds(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1000.0

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def scans(df: DataFrame): Seq[Scan] =
    nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec =>
        val roots = s.relation.location.rootPaths
        val deletes = roots.nonEmpty &&
          roots.forall(p => Option(p.getParent).exists(_.getName.startsWith("del")))
        Scan(metric(s, "numFiles"), metric(s, "numOutputRows"), deletes)
      case b: BatchScanExec =>
        Scan(b.inputPartitions.size.toLong, metric(b, "numOutputRows"), deletes = false)
    }
}
