package graft

/** Prints, for each connected-components row and SF dir given, the finish
  * `GraphOps.connectedComponents` took and the canonical edge count it
  * routed on (`GraphOps.lastRoute`, read right after the row's plan is
  * built — the components call runs eagerly inside it).
  *
  * `lastRoute` is `private[graft]`, so the file runs from the test tree:
  * {{{
  *   cp plans/r21/RouteEvidence.scala src/test/scala/graft/
  *   sbt "Test/runMain graft.RouteEvidence <sf0.01 dir> <sf0.1 dir>"
  *   rm src/test/scala/graft/RouteEvidence.scala
  * }}}
  */
object RouteEvidence {
  private val Rows = Seq("d25_dedup_clusters", "d51_containment_clusters",
    "d60_semantic_clusters", "d63_chain_components")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try for (sf <- args; q <- Rows) {
      spark.catalog.clearCache()
      ops.GraphOps.lastRoute.set(("", -1L))
      val n = SparkEntry.queries(q)(spark, sf).count()
      val (route, canon) = ops.GraphOps.lastRoute.get()
      println(s"ROUTE sf=${sf.split('/').last} query=$q canonical_edges=$canon route=$route rows=$n")
    } finally spark.stop()
  }
}
