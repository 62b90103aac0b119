package graft

import org.apache.spark.sql.DataFrame

/** Plan-build-only audit: the physical file scans of a query's
  * (pre-execution) plan and which columns each scan reads. A query
  * re-reading a wide column it could carry through a projection is the
  * most expensive silent plan regression at 100 TB — `Probe scan` prints
  * the whole suite's scan profile in one pass so a new redundancy shows
  * up as a diff, not as a bench surprise, and ScanProfileSpec pins the
  * per-query counts, so a regression fails the test suite too.
  */
object ScanAudit {

  /** `df`'s physical file scans as `"[cols] pushed=[filters]"` strings.
    * Physical, not logical: the logical relation's output is the FULL
    * table schema — pruning and pushdown exist only on
    * FileSourceScanExec, and an unpruned text column is exactly what
    * this audit must not hide. AQE wraps the plan as a field, not a
    * child, so collect() must unwrap it first.
    */
  def fileScans(df: DataFrame): Seq[String] = {
    val phys = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    phys.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        val cols = s.requiredSchema.fieldNames
        val pushed = s.metadata.getOrElse("PushedFilters", "[]")
        s"[${cols.mkString(" ")}] pushed=$pushed"
    }
  }
}
