package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One layout of the PRODUCER side of the Kinesis-shaped sharded stream
  * (O1, SURVEY.md §1.4): which source table it carries, how records route
  * to shards, how they order within a shard, and the stream schema a
  * consumer declares.
  *
  * The reference's source is a merged stream of per-shard ordered record
  * queues (KinesisSource.scala:46-95, 188-204). Here a table is laid out
  * as one directory per shard (`shard = pmod(key, numShards)`, exactly how
  * Kinesis routes partitionKey -> shard), each shard an ordered run of
  * part files whose modification times are its arrival clock. Reading is
  * not done here: every consumer — gate query, spec or library user —
  * opens the layout through the registered `format("graft-shards")`
  * source ([[graft.sources.GraftShardsProvider]]; the gates and specs call
  * it through [[StreamingQueries.shardStream]]), whose options carry the
  * seek position and admission control.
  *
  * [[append]] is the one writer of every layout: the route, the append
  * and the file clock over the newly written files.
  *
  * At 100 TB: the shard directories are the stream's partitions; a real
  * Kinesis connector surfaces shards as input partitions the same way.
  * Nothing here is driver-resident — the shard split is a partitioned
  * write, the stream read is a per-partition file tail.
  */
final class ShardLayout private (val name: String, val table: String,
    read: (SparkSession, String) => DataFrame, val key: String, val order: String,
    val numShards: Int, val schema: StructType) {

  /** The layout's source table, `sfDir/<table>`. */
  def source(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir)

  /** Write the source table as a fresh shard tree at `outDir` — the
    * offline stand-in for a live stream.
    */
  def materialize(spark: SparkSession, sfDir: String, outDir: String): Unit =
    append(source(spark, sfDir), outDir)

  /** Append `records` routed across `shards` shards, then space the new
    * files' clock. A later tranche with a different `shards` is the
    * RE-SHARDING analog: a split widens the shard set (4→8: records route
    * to child shards, new `shard=N` dirs appear), a merge narrows it
    * (8→2). A live `graft-shards` stream discovers the new directories on
    * its next micro-batch listing, exactly as KCL workers pick up child
    * shards after a resharding event; the reference proves consumer
    * completeness across both transitions (KinesisSourceTest.scala:182-228).
    */
  def append(records: DataFrame, outDir: String, shards: Int = numShards): Unit = {
    val before = ShardLayout.partFiles(outDir).map(_.getAbsolutePath).toSet
    routed(records, shards).write.mode("append").partitionBy("shard").parquet(outDir)
    ShardLayout.sequenceFileClock(outDir, before)
  }

  // a shard is an ORDERED sequence (KinesisRecord.scala:27-29): sort
  // within each shard partition so file order = sequence order and
  // downstream consumers observe per-key arrival order.
  //
  // Range-partition on (shard, order) rather than hash-on-shard: each
  // shard then lands as ~width/shards ORDER-RANGED files instead of
  // exactly one, which is what a live shard looks like (many sequenced
  // objects, not one blob) and what lets a micro-batch SCAN parallelize
  // — one file per shard pinned every streamed gate's scoring pass to
  // `shards` tasks (s21 measured 4x parallelism on a 32-thread session
  // at the 16x far point). The in-shard order contract holds: range
  // boundaries are (shard, order)-monotone, so within a shard dir the
  // part files' task-id names sort in sequence order, and each file is
  // internally sorted.
  private def routed(df: DataFrame, shards: Int): DataFrame = {
    val width = math.max(shards, df.sparkSession.sparkContext.defaultParallelism)
    df.withColumn("shard", pmod(col(key), lit(shards)).cast("int"))
      .repartitionByRange(width, col("shard"), col(order))
      .sortWithinPartitions(col("shard"), col(order))
  }
}

object ShardLayout {

  /** The event stream: routed by `user_id` (the partition key), ordered
    * by `event_id` (the sequence number); `ts` already converted to
    * micros by [[Tables.events]].
    */
  val Events = new ShardLayout("events", "events.parquet", Tables.events, "user_id", "event_id", 8,
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType),
      StructField("shard", IntegerType))))

  /** The `documents` corpus as a sharded ingest stream, routed and
    * ordered by `doc_id`, so the corpus-prep operators of `ops.CorpusOps`
    * run INCREMENTALLY: a training-data pipeline at 100 TB ingests
    * documents continuously and deduplicates AT INGEST, not in a nightly
    * batch over the full corpus.
    */
  val Corpus = new ShardLayout("corpus", "documents.parquet", Tables.documents, "doc_id", "doc_id", 4,
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("shard", IntegerType))))

  /** The `embeddings` table as a sharded ingest stream, routed and
    * ordered by `vec_id`: at 100 TB a vector index is not rebuilt
    * nightly — new embeddings arrive continuously and are assigned into
    * the (fixed, batch-trained) coarse cells at ingest
    * (StreamingQueries.s14).
    */
  val Embeddings = new ShardLayout("embeddings", "embeddings.parquet", Tables.embeddings, "vec_id", "vec_id", 4,
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType),
      StructField("shard", IntegerType))))

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
  private def sequenceFileClock(outDir: String, before: Set[String]): Unit = {
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

  /** The part files of every `shard=N` directory under `outDir`. */
  private[streaming] def partFiles(outDir: String): Seq[java.io.File] = {
    val root = new java.io.File(outDir)
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
      .flatMap(d => d.listFiles().filter(f => f.isFile && f.getName.startsWith("part-")))
      .toSeq
  }
}
