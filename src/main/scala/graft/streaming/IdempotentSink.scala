package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Idempotent `foreachBatch` sink: the `markProcessed` replacement
  * (O5/C9, SURVEY.md §7.4).
  *
  * The reference gives at-least-once delivery and leaves dedup to the
  * consumer (KinesisRecord.scala:21-37: ack via completionPromise). Spark
  * replays the last uncommitted batch on restart, so a sink keyed by
  * `batchId` — each batch written to its own partition directory with
  * overwrite — makes the end-to-end pipeline exactly-once: a replayed
  * batch overwrites its own previous (possibly partial) output instead of
  * appending a duplicate.
  *
  * Partial-batch policy (pinned by StreamingSpec): a batch's write job
  * clears its directory, writes under `_temporary` and publishes at job
  * commit (Spark's default v1 file committer). A job that fails in any
  * task is aborted and publishes nothing, so until the restart
  * [[readAll]] returns exactly the batches whose write job committed,
  * none of the failed one. A replay of a batch that was already written
  * hides that batch from [[readAll]] between the clear and its commit.
  *
  * At 100 TB this is the standard pattern: per-epoch atomic-rename commits
  * into a partitioned table, or a transactional sink keyed by epoch.
  */
object IdempotentSink {

  /** Write one micro-batch to `outDir/batch_id=<id>`, idempotently. */
  def writeBatch(df: DataFrame, batchId: Long, outDir: String): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** Read back everything the sink has committed.
    *
    * The read is a plain partition-discovery scan of `outDir` with the
    * caller's explicit schema — NOT a `batch_id=*` glob with inferred
    * schema. The glob form made Spark's FileStreamSink metadata probe
    * `getFileStatus` the literal glob path, which threw (and stack-logged)
    * FileNotFoundException on every call, and schema inference would throw
    * outright on a sink that has committed zero batches. With the explicit
    * schema, zero batches is simply an empty DataFrame.
    */
  def readAll(spark: SparkSession, outDir: String, dataSchema: StructType): DataFrame =
    spark.read
      .schema(StructType(dataSchema.fields :+ StructField("batch_id", LongType)))
      .option("basePath", outDir)
      .parquet(outDir)
      .drop("batch_id")
}
