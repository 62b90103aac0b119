package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.collection.mutable

/** Property pin for `StreamingQueries.boundedDupPositions` — the two
  * example-based StreamingSpec tests pin the MECHANISM (plateau, TTL
  * liveness under `max` watermark policy); this pins the CONTRACT over
  * randomized corpora, tranche splits and horizons
  * ([[BoundedTrackerHarness.genScenario]] — adversarially mostly-unique
  * texts with planted exact copies):
  *
  *  (a) SOUND: every emitted mark is a mark of the full-history batch
  *      d28 answer (no false positives, any horizon);
  *  (b) COMPLETE in the horizon: a window duplicated WITHIN one tranche
  *      (its sightings co-arrive in one run, strictly inside any TTL) is
  *      always marked;
  *  (c) BOUNDED: per-gram state never exceeds the distinct windows ever
  *      seen, and once the stream's time span exceeds watermark + TTL the
  *      tracker must have evicted and ended BELOW that ceiling.
  */
class BoundedDupPositionsPropSpec extends AnyFunSuite with SparkSpec with Matchers {
  import BoundedTrackerHarness._

  /** The full-history batch answer: (doc_id, pos) of every 8-word window
    * occurring >= 2 distinct times — d28's marked-position set.
    */
  private def batchMarks(df: DataFrame): Set[(Long, Long)] = {
    val g = df.select(col("doc_id"),
        posexplode(graft.functions.WordWindowMd5.wordWindowMd5(lower(trim(col("text"))), 8)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh"))
    g.join(g.groupBy("gh").count().filter(col("count") >= 2).select("gh"), "gh")
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def distinctWindows(df: DataFrame): Long = df
    .select(posexplode(graft.functions.WordWindowMd5.wordWindowMd5(lower(trim(col("text"))), 8)))
    .select(col("col")).distinct().count()

  test("property: sound, in-horizon complete, state-bounded over random corpora/tranches/horizons") {
    val prop = Prop.forAll(genScenario) { sc =>
      val all = docsDf(spark, sc)
      val parts = tranches(all, sc)
      val base = StreamRuns.newBase()
      val dir = s"$base/shards"

      val got = new StreamRuns.Batches[(Long, Long)]
      val tracker = mutable.Buffer.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
      parts.foreach { t =>
        ShardLayout.Corpus.append(t, dir)
        runTranche(spark, dir, s"$base/ckpt",
          StreamingQueries.boundedDupPositions(_, s"${sc.watermarkSec} seconds",
            ttlMs = sc.ttlSec * 1000L),
          r => (r.getLong(0), r.getLong(1)), got, tracker)
      }
      val g = got.rows.toSet

      val allMarks = batchMarks(all)
      val inTranche = parts.map(batchMarks).reduce(_ union _)
      val nWindows = distinctWindows(all)
      val maxState = tracker.map(_.numRowsTotal).max
      val lastState = tracker.last.numRowsTotal
      val removed = tracker.map(_.numRowsRemoved).sum

      val sound = Prop(g.subsetOf(allMarks)) :| s"false marks: ${g.diff(allMarks).take(3)}"
      val complete = Prop(inTranche.subsetOf(g)) :| s"missed in-horizon: ${inTranche.diff(g).take(3)}"
      val bounded = Prop(maxState <= nWindows) :| s"state $maxState > $nWindows distinct windows"
      val evicts = Prop(removed > 0 && lastState < nWindows) :|
        s"no eviction (removed=$removed, last=$lastState, windows=$nWindows)"
      sound && complete && bounded && evicts
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }
}
