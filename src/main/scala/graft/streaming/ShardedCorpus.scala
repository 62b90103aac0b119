package graft.streaming

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `documents` corpus as a sharded ingest stream — the same
  * Kinesis-shaped layout as [[ShardedEvents]] (one ordered directory per
  * shard, shard = hash route of the record key), so the corpus-prep
  * operators of `ops.CorpusOps` can be demonstrated INCREMENTALLY: a
  * training-data pipeline at 100 TB ingests documents continuously and
  * deduplicates AT INGEST, not in a nightly batch over the full corpus.
  */
object ShardedCorpus {

  val NumShards = 4

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("shard", IntegerType)))

  /** Materialize `documents` as a shard-partitioned directory tree,
    * routed by doc_id exactly like [[ShardedEvents.materialize]] routes
    * events by partition key; within a shard, file order = doc_id order.
    */
  def materialize(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    ShardedEvents.routed(Tables.documents(spark, sfDir), col("doc_id"), col("doc_id"), NumShards)
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    ShardedEvents.sequenceFileClock(outDir)
  }
}
