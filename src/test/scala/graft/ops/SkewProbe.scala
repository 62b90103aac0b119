package graft.ops
import org.apache.spark.sql.functions._

/** Far-point probe for the band skew guard: one pathological band bucket
  * of N docs (the boilerplate-corpus shape). Compares the guarded kernel
  * (salted sub-buckets) against the unguarded path (hotCap = MaxValue)
  * on the SAME pair enumeration — the guard's claim is bounded per-task
  * memory at unchanged pair throughput, not fewer pairs.
  * Usage: Test/runMain graft.ops.SkewProbe [nHot]
  *
  * Memory: the default 15,000-doc bucket enumerates 112,496,500 pairs per
  * run, 4 runs. At `GraftSession`'s default of 32 local cores give it a
  * 6g driver heap: of two invocations with `SPARK_DRIVER_MEM=4g`, one died
  * with `OutOfMemoryError: Java heap space` in stage 16, while one with
  * `SPARK_DRIVER_MEM=6g` completed all 4 runs (~11 min on a 4-core
  * host). At 4 cores it completes at 4g (~16 min):
  * `SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=4g sbt "Test/runMain graft.ops.SkewProbe"`.
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
