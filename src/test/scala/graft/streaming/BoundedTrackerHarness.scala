package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, Trigger}
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import org.scalacheck.Gen
import scala.collection.mutable

/** The ONE test harness for the bounded stateful trackers
  * (`StreamingQueries.boundedDupPositions` / `boundedNearDupPairs`):
  * corpus generation, tranche routing, and the scoped-conf
  * `AvailableNow` runner the example-based `StreamingSpec` tests and
  * both ScalaCheck property specs share. The deployment-contract conf
  * handling lives HERE and only here — a future conf change has exactly
  * one place to land.
  *
  * Why the runner sets two confs, scoped around `start()`:
  *
  *  - `multipleWatermarkPolicy=max` — the trackers' deployment contract
  *    (see their scaladoc): the emissions-side watermark node observes a
  *    row only when a duplicate is FOUND, so on a mostly-unique stream
  *    the default `min` combine would pin the global watermark, the TTL
  *    would never fire, and state would grow unboundedly;
  *  - `statefulOperator.checkCorrectness.enabled=false` — Spark
  *    pattern-matches fMGWS-before-stateful as a late-row hazard, but
  *    these trackers provably never emit late rows (every emission is
  *    stamped with the CURRENT sighting's ts, which already passed the
  *    input-side late filter). The conf is session-wide, hence the
  *    scoped set/unset.
  */
object BoundedTrackerHarness {

  /** The corpus stream schema + the event-time column the trackers key
    * their watermarks on.
    */
  val schemaTs: StructType =
    StructType(ShardedCorpus.schema.fields :+ StructField("ts", TimestampType))

  /** One generated corpus + run shape. `copyOf(i) = j` makes doc i an
    * exact text copy of doc j < i (planting guaranteed duplicate windows
    * / Jaccard-1.0 pairs); `cuts` split the stream into three tranches.
    */
  final case class Scenario(nDocs: Int, nWords: Int, copyOf: Map[Int, Int],
      gapSec: Int, cuts: (Int, Int), watermarkSec: Int, ttlSec: Int)

  /** Adversarial-for-a-dedup-tracker corpora: most texts globally unique
    * (id-stamped words — the watermark-stall shape), a random subset
    * exact copies of earlier documents. The horizon is kept strictly
    * below the stream's span so eviction MUST happen:
    * span = (nDocs-1)*gapSec >= 138 s > watermark + ttl <= 120 s.
    */
  val genScenario: Gen[Scenario] = for {
    nDocs <- Gen.choose(70, 100)
    nWords <- Gen.choose(9, 14) // >= 8 so every doc has windows
    gapSec <- Gen.choose(2, 4)
    wmSec <- Gen.choose(20, 60)
    ttlSec <- Gen.choose(20, 60)
    c1 <- Gen.choose(nDocs / 5, nDocs / 2)
    c2 <- Gen.choose(c1 + nDocs / 5, nDocs - nDocs / 10)
    copyFlags <- Gen.listOfN(nDocs, Gen.prob(0.3))
    copyTargets <- Gen.listOfN(nDocs, Gen.choose(0, nDocs - 1))
  } yield {
    // a copy of a copy still resolves to concrete text at build time
    val copyOf = copyFlags.zipWithIndex.collect {
      case (true, i) if i > 0 => i -> (copyTargets(i) % i)
    }.toMap
    Scenario(nDocs, nWords, copyOf, gapSec, (c1, c2), wmSec, ttlSec)
  }

  /** The scenario's corpus as a documents DataFrame with an event-time
    * `ts` spaced `gapSec` apart in doc order.
    */
  def docsDf(spark: SparkSession, sc: Scenario): DataFrame = {
    import spark.implicits._
    val texts = new Array[String](sc.nDocs)
    (0 until sc.nDocs).foreach { i =>
      texts(i) = sc.copyOf.get(i) match {
        case Some(j) => texts(j)
        case None => (0 until sc.nWords).map(w => s"u${i}w$w").mkString(" ")
      }
    }
    (0 until sc.nDocs).map(i => (i.toLong, texts(i), "en", "synthetic", texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id") * sc.gapSec))
  }

  /** The scenario's three doc-id tranches of `all`, in arrival order. */
  def tranches(all: DataFrame, sc: Scenario): Seq[DataFrame] = Seq(
    all.filter(col("doc_id") < sc.cuts._1),
    all.filter(col("doc_id") >= sc.cuts._1 && col("doc_id") < sc.cuts._2),
    all.filter(col("doc_id") >= sc.cuts._2))

  /** Route one tranche into the sharded stream directory (append). */
  def appendTranche(t: DataFrame, dir: String): Unit =
    ShardedEvents.routed(t, col("doc_id"), col("doc_id"), ShardedCorpus.NumShards)
      .write.mode("append").partitionBy("shard").parquet(dir)

  /** One `AvailableNow` run of `tracker` over the current corpus dir,
    * resuming from `ckpt`, under the deployment-contract confs (scoped
    * around `start()` — see class doc). Emitted rows land in `got` via
    * `decode`; the fMGWS operator's per-batch state progress lands in
    * `progress`.
    */
  def runTranche[A](spark: SparkSession, dir: String, ckpt: String,
      tracker: DataFrame => DataFrame, decode: Row => A,
      got: mutable.Buffer[A],
      progress: mutable.Buffer[StateOperatorProgress]): Unit = {
    val q = StreamingQueries.withConfs(spark, Seq(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false",
        "spark.sql.streaming.multipleWatermarkPolicy" -> "max")) {
      tracker(StreamingQueries.shardStream(spark, dir, schemaTs))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().toSeq.map(decode)
          got.synchronized { got ++= rows }
          ()
        }
        .start()
    }
    q.awaitTermination()
    assert(q.exception.isEmpty, s"tranche run failed: ${q.exception}")
    progress ++= q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName.toLowerCase.contains("flatmapgroups"))
  }
}
