package graft.ops
import org.apache.spark.sql.functions._

/** Far-point probe for the band skew guard: one pathological band bucket
  * of N docs (the boilerplate-corpus shape). Compares the guarded kernel
  * (salted sub-buckets) against the unguarded path (hotCap = MaxValue)
  * on the SAME pair enumeration — the guard's claim is bounded per-task
  * memory at unchanged pair throughput, not fewer pairs.
  * Usage: Test/runMain graft.ops.SkewProbe [nHot]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 15000L
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val banded = ((0L until n).map(i => (i, 0, 7L)) ++
      (n until n + 5000L).map(i => (i, 0, 1000000L + i % 2000L)))
      .toDF("doc_id", "band_id", "band_key")
    if (sys.env.contains("SKEW_EXPLAIN")) {
      for (cap <- Seq(CorpusOps.BandBucketCap, Long.MaxValue)) {
        val df = CorpusOps.candidatePairsFromBands(banded, 1, 0, cap)
        df.count()
        println(s"=== EXECUTED cap=$cap ===")
        println(df.queryExecution.executedPlan.toString.linesIterator
          .filter(l => l.contains("WholeStageCodegen") || l.contains("Generate") || l.contains("HashAggregate") || l.contains("Exchange"))
          .mkString("\n"))
      }
      spark.stop(); return
    }
    for ((cap, tag) <- Seq((CorpusOps.BandBucketCap, "guarded"),
                           (Long.MaxValue, "unguarded"))) {
      for (r <- 1 to 2) {
        val t0 = System.nanoTime()
        val cnt = CorpusOps.candidatePairsFromBands(banded, 1, 0, cap).count()
        println(f"SKPROBE $tag n=$n run $r: ${(System.nanoTime()-t0)/1e9}%.1f s, pairs=$cnt, route=${CorpusOps.lastBandRoute}")
      }
    }
    spark.stop()
  }
}
