package graft

import org.apache.spark.sql.DataFrame

/** EXECUTED-plan audit: run a query to completion and count the
  * physical markers in its FINAL plan — the post-AQE executed tree, not
  * the pre-execution estimate `Probe scan`/ScanProfileSpec pin. This is
  * the instrument behind the r15 cache-revert claim ("the plain forms'
  * canonically-equal exchanges ReusedExchange into one kernel pass at
  * runtime"): the logical scan count of those plans is HIGHER than the
  * physical pass count, and only the executed plan shows the difference.
  * ExecutedPlanSpec pins the counts for exactly those queries; `Probe
  * exec` prints them for any query.
  */
object ExecAudit {

  /** Object-level stats of the EXECUTED plan tree (collect() executes
    * the DataFrame's own QueryExecution — a noop WRITE would plan a
    * separate one and leave `df.queryExecution` unexecuted with
    * isFinalPlan=false and no reuse decisions; audit SFs are small):
    * AQE unwrapped, query stages descended, subqueries included. Cached
    * build subtrees are NOT descended (InMemoryTableScanExec is a leaf),
    * so `directParquetScans` counts exactly the file scans the plan runs
    * OUTSIDE caches — the formatted dump, by contrast, re-prints a
    * cache's build plan under every one of its scans, which is the
    * "after-plan reads MORE relations" illusion the r15 verdict asked
    * this round to reconcile (d2: 12 tree scans in the dump, 0 direct
    * scans + 1 distinct cache executed).
    */
  final case class ExecStats(directParquetScans: Int, reusedExchanges: Int,
      inMemoryScans: Int, distinctCaches: Int)

  def executedStats(df: DataFrame): ExecStats = {
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other =>
        (other +: other.children.flatMap(walk)) ++
          other.subqueries.flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    val imts = nodes.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    ExecStats(
      nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
      imts.size,
      imts.map(_.relation.cacheBuilder).distinct.size)
  }
}
