package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Pins the one writer of the sharded stream ([[ShardLayout.append]]) for
  * every layout: the records a consumer reads back through
  * `format("graft-shards")` are exactly the source table routed by
  * `pmod(key, numShards)`, and an append spaces its new part files' clock
  * in name order above every earlier file — the per-shard arrival order
  * the file stream source reads from modification times.
  */
class ShardLayoutSpec extends AnyFunSuite with SparkSpec with Matchers {

  /** The whole stream at `dir`, read through graft-shards. */
  private def readBack(layout: ShardLayout, dir: String): DataFrame = {
    val rows = StreamRuns.collect(StreamingQueries.shardStream(spark, dir, layout.schema),
      s"${StreamRuns.newBase()}/ckpt")(identity).rows
    spark.createDataFrame(rows.asJava, rows.head.schema)
  }

  for (layout <- Seq(ShardLayout.Events, ShardLayout.Corpus, ShardLayout.Embeddings)) {

    test(s"${layout.name}: read back through graft-shards, the stream is the source table routed by pmod(${layout.key}, ${layout.numShards})") {
      val dir = s"${StreamRuns.newBase()}/shards"
      layout.materialize(spark, sf001, dir)
      val got = readBack(layout, dir)
      val want = layout.source(spark, sf001)
        .withColumn("shard", pmod(col(layout.key), lit(layout.numShards)).cast("int"))
        .select(layout.schema.fieldNames.map(col).toSeq: _*)
      got.schema shouldBe layout.schema
      got.exceptAll(want).count() shouldBe 0
      want.exceptAll(got).count() shouldBe 0
    }

    test(s"${layout.name}: an append's new part files have strictly ascending mtimes in name order, above every earlier file") {
      val dir = s"${StreamRuns.newBase()}/shards"
      layout.materialize(spark, sf001, dir)
      val before = ShardLayout.partFiles(dir).map(f => f.getAbsolutePath -> f.lastModified).toMap
      // a 2-shard tranche: range partitioning over the session's 4 cores
      // lands more than one file in each shard dir, so the order is real
      layout.append(layout.source(spark, sf001), dir, shards = 2)
      val fresh = ShardLayout.partFiles(dir).filterNot(f => before.contains(f.getAbsolutePath))
      val perDir = fresh.groupBy(_.getParentFile.getName).values.map(_.sortBy(_.getName).map(_.lastModified))
      assert(perDir.exists(_.size > 1), s"expected a shard dir with several new files: $perDir")
      val earliest = before.values.max
      perDir.foreach { clock =>
        assert(clock.head > earliest, s"new file clock $clock not above the earlier files' $earliest")
        assert(clock.zip(clock.tail).forall { case (a, b) => a < b }, s"not strictly ascending: $clock")
      }
      ShardLayout.partFiles(dir).filter(f => before.contains(f.getAbsolutePath))
        .foreach(f => f.lastModified shouldBe before(f.getAbsolutePath))
    }
  }
}
