package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.collection.mutable

/** Property pin for `StreamingQueries.boundedNearDupPairs` — the same
  * contract `BoundedDupPositionsPropSpec` pins for the dup-span tracker,
  * applied to the bounded LSH near-dup tracker, over the same
  * randomized corpora ([[BoundedTrackerHarness.genScenario]]):
  *
  *  (a) SOUND: every emitted pair is a pair of the full-history batch
  *      answer (`CorpusOps.nearDupPairs` over everything);
  *  (b) COMPLETE in the horizon: a pair whose members arrive in the same
  *      tranche is always found;
  *  (c) BOUNDED: live bucket count never exceeds the distinct band
  *      buckets ever seen, and once the stream outlives the horizon the
  *      tracker must have evicted and ended below that ceiling.
  *
  * Pair identity (a_id, b_id) is compared, not the jaccard value, so a
  * ~2^-60 gram-hash collision can never flake the property.
  */
class BoundedNearDupPropSpec extends AnyFunSuite with SparkSpec with Matchers {
  import BoundedTrackerHarness._

  private def batchPairs(df: DataFrame): Set[(Long, Long)] =
    graft.ops.CorpusOps.nearDupPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("property: sound, in-horizon complete, bucket-state-bounded over random corpora/tranches/horizons") {
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
          StreamingQueries.boundedNearDupPairs(_, s"${sc.watermarkSec} seconds",
            ttlMs = sc.ttlSec * 1000L),
          r => (r.getLong(0), r.getLong(1)), got, tracker)
      }
      val g = got.rows.toSet

      val allPairs = batchPairs(all)
      val inTranche = parts.map(batchPairs).reduce(_ union _)
      val nBuckets = graft.ops.CorpusOps.bandedGramRows(all)
        .select("band_key").distinct().count()
      val maxState = tracker.map(_.numRowsTotal).max
      val lastState = tracker.last.numRowsTotal
      val removed = tracker.map(_.numRowsRemoved).sum

      val sound = Prop(g.subsetOf(allPairs)) :| s"false pairs: ${g.diff(allPairs).take(3)}"
      val complete = Prop(inTranche.subsetOf(g)) :| s"missed in-horizon: ${inTranche.diff(g).take(3)}"
      val bounded = Prop(maxState <= nBuckets) :| s"state $maxState > $nBuckets distinct buckets"
      val evicts = Prop(removed > 0 && lastState < nBuckets) :|
        s"no eviction (removed=$removed, last=$lastState, buckets=$nBuckets)"
      sound && complete && bounded && evicts
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }
}
