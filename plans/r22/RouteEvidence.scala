package graft.ops

/** Prints, for each LSH candidate-pair row and SF dir given, the route
  * `CorpusOps.candidatePairsFromBands` took (`CorpusOps.lastBandRoute`,
  * read right after the row's plan is built — the hot-bucket check runs
  * eagerly inside it) and the row count. Each of these rows calls
  * `candidatePairsFromBands` exactly once.
  *
  * `lastBandRoute` is `private[ops]`, so the file runs from the test tree:
  * {{{
  *   cp plans/r22/RouteEvidence.scala src/test/scala/graft/ops/
  *   sbt "Test/runMain graft.ops.RouteEvidence <sf0.01 dir> <sf0.1 dir>"
  *   rm src/test/scala/graft/ops/RouteEvidence.scala
  * }}}
  */
object RouteEvidence {
  private val Rows = Seq("d2_minhash_lsh", "d12_simhash_neardup", "d14_ngram_jaccard",
    "d16_srp_neardup", "d18_corpus_prep", "d25_dedup_clusters")

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try for (sf <- args; q <- Rows) {
      spark.catalog.clearCache()
      CorpusOps.lastBandRoute = ""
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val route = CorpusOps.lastBandRoute
      println(s"ROUTE sf=${sf.split('/').last} query=$q route=$route rows=${df.count()}")
    } finally spark.stop()
  }
}
