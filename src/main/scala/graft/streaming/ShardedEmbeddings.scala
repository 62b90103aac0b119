package graft.streaming

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `embeddings` table as a sharded ingest stream — the same
  * Kinesis-shaped layout as [[ShardedEvents]]/[[ShardedCorpus]], routed
  * by vec_id, so vector-store maintenance can be demonstrated
  * INCREMENTALLY: at 100 TB a vector index is not rebuilt nightly — new
  * embeddings arrive continuously and are assigned into the (fixed,
  * batch-trained) coarse cells at ingest (StreamingQueries.s14).
  */
object ShardedEmbeddings {

  val NumShards = 4

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType),
    StructField("shard", IntegerType)))

  /** Materialize `embeddings` as a shard-partitioned directory tree,
    * routed by vec_id exactly like [[ShardedCorpus.materialize]] routes
    * documents by doc_id.
    */
  def materialize(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    ShardedEvents.routed(Tables.embeddings(spark, sfDir), col("vec_id"), col("vec_id"), NumShards)
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    ShardedEvents.sequenceFileClock(outDir)
  }
}
