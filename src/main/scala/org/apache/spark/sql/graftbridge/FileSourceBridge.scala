package org.apache.spark.sql.graftbridge

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSourceLog, FileStreamSourceOffset}
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` [[DataSource]] construction, so the
  * registered `graft-shards` stream provider can DELEGATE file tracking
  * to Spark's own `FileStreamSource` instead of re-implementing it: the
  * returned source owns the per-batch file-metadata log (exactly-once
  * file admission across restarts), `maxFilesPerTrigger` admission
  * control, and `Trigger.AvailableNow` end-offset pinning — the proven
  * machinery every built-in file stream runs on. Same isolation rationale
  * as [[ColumnBridge]]: one shim, the rest of graft stays on public API.
  */
object FileSourceBridge {

  /** A parquet `FileStreamSource` rooted at `path`, writing its file
    * metadata log under `metadataPath` (the per-source subdirectory of
    * the query checkpoint that `createSource` receives).
    */
  def parquetStream(spark: SparkSession, metadataPath: String,
      schema: StructType, path: String, options: Map[String, String]): ParquetStream =
    new ParquetStream(spark, metadataPath, DataSource(
      sparkSession = spark,
      className = "parquet",
      userSpecifiedSchema = Some(schema),
      options = options + ("path" -> path)
    ), path, options)

  /** The inner `FileStreamSource` plus two reads over its metadata log
    * that the wrapping source runs every trigger.
    *
    * [[getBatch]] replaces `FileStreamSource.getBatch`, which builds its
    * micro-batch relation through `DataSource.resolveRelation` over the
    * batch's file paths — an `InMemoryFileIndex` that re-lists every path
    * and, past `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) paths, runs a "Listing leaf files" Spark job with one task per
    * file. Here the batch's entries come from the same metadata log, their
    * `FileStatus`es from ONE `listStatus` per directory the batch touches,
    * and the index is seeded with those statuses, so it lists nothing. The
    * relation is otherwise built as `resolveRelation` builds it: same
    * options (`basePath` = the stream root, globbing off), same partition
    * columns, same schema split, same parquet format.
    */
  final class ParquetStream private[graftbridge] (spark: SparkSession, metadataPath: String,
      dataSource: DataSource, path: String, options: Map[String, String]) extends Logging {

    val source: Source = dataSource.createSource(metadataPath)

    // the log the inner source appends to, read through a second instance
    // (the source's own is private), opened once for the stream's life
    private val fileLog = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, metadataPath)
    private val partitionColumns = dataSource.sourceInfo.partitionColumns
    private val format = dataSource.providingInstance().asInstanceOf[FileFormat]
    private val relationOptions =
      options + ("basePath" -> path) + (DataSource.GLOB_PATHS_KEY -> "false")
    private val hadoopConf = spark.sessionState.newHadoopConf()

    /** The files the inner source has ALREADY admitted, as qualified
      * Hadoop paths — lets a wrapping source compute the PENDING file set
      * (listing minus admitted) without duplicating the source's
      * seen-files state.
      */
    def admittedFiles(): Set[Path] = fileLog.allFiles().map(_.sparkPath.toPath).toSet

    /** The micro-batch of log batches (start, end]: the relation
      * `FileStreamSource.getBatch` would return, built without a listing
      * job. A logged file that no longer exists is skipped, as the inner
      * source's index skips a missing root path.
      */
    def getBatch(start: Option[Offset], end: Offset): DataFrame = {
      val startId = start.map(FileStreamSourceOffset(_).logOffset).getOrElse(-1L)
      val endId = FileStreamSourceOffset(end).logOffset
      assert(startId <= endId)
      val files = fileLog.get(Some(startId + 1), Some(endId)).toSeq.flatMap(_._2).map(_.sparkPath.toPath)
      val statuses = statusesOf(files)
      val byPath = statuses.map(s => s.getPath -> s).toMap
      val seeded = new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byPath.get(p).map(Array(_))
        override def putLeafFiles(p: Path, leaves: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      val schema = source.schema
      val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), relationOptions,
        Some(schema), seeded)
      val resolver = spark.sessionState.conf.resolver
      val partitionSchema =
        if (partitionColumns.isEmpty) index.partitionSchema
        else StructType(partitionColumns.flatMap(c => schema.find(f => resolver(f.name, c))))
      val dataSchema = StructType(schema.filterNot(f => partitionSchema.exists(p => resolver(p.name, f.name))))
      val relation = HadoopFsRelation(index, partitionSchema, dataSchema.asNullable, None,
        format, CaseInsensitiveMap(relationOptions))(spark)
      Dataset.ofRows(spark.asInstanceOf[ClassicSession], LogicalRelation(relation, isStreaming = true))
    }

    /** The statuses of `files` that still exist, in log order, from one
      * `listStatus` per parent directory — not one stat per file, which on
      * an object store is a HEAD request per file. Each gets its block
      * locations the way Spark's own leaf listing attaches them, through
      * the `LocatedFileStatus` constructor that skips the permission
      * lookup (`RawLocalFileSystem` would stat each file's owner).
      */
    private def statusesOf(files: Seq[Path]): Seq[FileStatus] = {
      val listed = files.map(_.getParent).distinct.flatMap { dir =>
        val fs = dir.getFileSystem(hadoopConf)
        val children =
          try fs.listStatus(dir)
          catch { case _: FileNotFoundException => Array.empty[FileStatus] }
        children.iterator.map(s => fs.makeQualified(s.getPath) -> (fs, s))
      }.toMap
      files.flatMap { p =>
        val q = p.getFileSystem(hadoopConf).makeQualified(p)
        listed.get(q) match {
          case None =>
            logWarning(s"graft-shards: admitted file $q no longer exists; skipped")
            None
          case Some((_, l: LocatedFileStatus)) => Some(l)
          case Some((fs, f)) => Some(new LocatedFileStatus(f.getLen, f.isDirectory,
            f.getReplication, f.getBlockSize, f.getModificationTime, 0, null, null, null, null,
            f.getPath, f.hasAcl, f.isEncrypted, f.isErasureCoded,
            fs.getFileBlockLocations(f, 0, f.getLen)))
        }
      }
    }
  }
}
