package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The PRODUCER side of the Kinesis-shaped sharded stream (O1,
  * SURVEY.md §1.4): the layout, the routing and the file clock.
  *
  * The reference's source is a merged stream of per-shard ordered record
  * queues (KinesisSource.scala:46-95, 188-204). Here the event table is
  * laid out as one directory per shard (shard = hash of the partition
  * key, exactly how Kinesis routes partitionKey -> shard), each shard an
  * ordered run of part files whose modification times are its arrival
  * clock. Reading is not done here: every consumer — gate query, spec or
  * library user — opens the layout through the registered
  * `format("graft-shards")` source ([[graft.sources.GraftShardsProvider]];
  * the gates and specs call it through [[StreamingQueries.shardStream]]),
  * whose options carry the seek position and admission control.
  *
  * At 100 TB: the shard directories are the stream's partitions; a real
  * Kinesis connector surfaces shards as input partitions the same way.
  * Nothing here is driver-resident — the shard split is a partitioned
  * write, the stream read is a per-partition file tail.
  */
object ShardedEvents {

  val NumShards = 8

  /** Schema of the sharded stream (ts already converted to micros). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("shard", IntegerType)))

  /** Materialize `events` as a shard-partitioned directory tree
    * (`shard=0/ ... shard=7/`), the offline stand-in for a live stream.
    * Records are routed by partition key exactly like Kinesis routes
    * `partitionKey` to a shard.
    */
  def materialize(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    route(Tables.events(spark, sfDir), NumShards)
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    sequenceFileClock(outDir)
  }

  /** Space the just-written part files' mtimes in NAME order per shard
    * dir (1 ms apart, above every pre-existing file's clock): the file
    * stream source orders arrivals by modification time, and a
    * multi-file shard written in one job gets one shared mtime — ties
    * then sort arbitrarily and a chunked reader could observe a shard's
    * later range before its earlier one. Within one write, part-file
    * names order by task id = the range partitioner's (shard, order)
    * rank, so name order IS sequence order. Distinct ascending mtimes
    * restore the per-shard arrival order the layout encodes (a live
    * shard's objects appear over time; this is that clock, not a
    * fabrication). `before` excludes an earlier tranche's files — only
    * the new write is spaced, strictly after everything already there.
    */
  private[streaming] def sequenceFileClock(outDir: String,
      before: Set[String] = Set.empty): Unit = {
    val all = partFiles(outDir)
    val fresh = all.filterNot(f => before(f.getAbsolutePath))
    if (fresh.nonEmpty) {
      val base = all.map(_.lastModified).max
      fresh.groupBy(_.getParentFile).values.foreach { fs =>
        fs.sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(base + 1 + i)
        }
      }
    }
  }

  private[streaming] def partFiles(outDir: String): Seq[java.io.File] = {
    val root = new java.io.File(outDir)
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
      .flatMap(d => d.listFiles().filter(f => f.isFile && f.getName.startsWith("part-")))
      .toSeq
  }

  /** Append one tranche of records routed across `numShards` shards — the
    * RE-SHARDING analog. A split widens the shard set (4→8: records route
    * to child shards, new `shard=N` dirs appear), a merge narrows it
    * (8→2). A live `graft-shards` stream discovers the new directories on
    * its next micro-batch listing, exactly as KCL workers pick up child
    * shards after a resharding event; the reference proves consumer
    * completeness across both transitions (KinesisSourceTest.scala:182-228).
    */
  def appendTranche(events: DataFrame, outDir: String, numShards: Int): Unit = {
    val before = partFiles(outDir).map(_.getAbsolutePath).toSet
    route(events, numShards)
      .write.mode("append").partitionBy("shard").parquet(outDir)
    sequenceFileClock(outDir, before)
  }

  // a shard is an ORDERED sequence (KinesisRecord.scala:27-29): sort
  // within each shard partition so file order = sequence order and
  // downstream consumers observe per-key arrival order
  private def route(events: DataFrame, numShards: Int): DataFrame =
    routed(events, col("user_id"), col("event_id"), numShards)

  /** Route ANY relation into the ordered shard-partitioned layout —
    * shared by the event stream here and [[ShardedCorpus]], so the
    * Kinesis-shaped contract (hash routing, in-shard order) has one
    * definition.
    */
  private[streaming] def routed(df: DataFrame, key: org.apache.spark.sql.Column,
      order: org.apache.spark.sql.Column, numShards: Int): DataFrame = {
    // Range-partition on (shard, order) rather than hash-on-shard: each
    // shard then lands as ~width/numShards ORDER-RANGED files instead of
    // exactly one, which is what a live shard looks like (many sequenced
    // objects, not one blob) and what lets a micro-batch SCAN parallelize
    // — one file per shard pinned every streamed gate's scoring pass to
    // numShards tasks (s21 measured 4x parallelism on a 32-thread
    // session at the 16x far point). The in-shard order contract holds:
    // range boundaries are (shard, order)-monotone, so within a shard
    // dir the part files' task-id names sort in sequence order, and each
    // file is internally sorted.
    val width = math.max(numShards, df.sparkSession.sparkContext.defaultParallelism)
    df.withColumn("shard", pmod(key, lit(numShards)).cast("int"))
      .repartitionByRange(width, col("shard"), order)
      .sortWithinPartitions(col("shard"), order)
  }
}
