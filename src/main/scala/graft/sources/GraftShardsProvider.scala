package graft.sources

import graft.streaming.ShardLayout
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => ConnectorOffset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FileSourceBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** The packaged library entry point for the sharded stream — the
  * reference's `KinesisSource(consumerConfig)` deliverable
  * (KinesisSource.scala:46-95) re-expressed as a REGISTERED Spark data
  * source:
  *
  * {{{
  *   spark.readStream
  *     .format("graft-shards")
  *     .option("path", "/streams/events")
  *     .option("startingPosition", "trim_horizon") // latest | trim_horizon | at_timestamp:<ts>
  *     .option("maxFilesPerTrigger", "1")          // optional admission control (files)
  *     .option("maxRecordsPerTrigger", "5000")     // optional admission control (records)
  *     .load()
  * }}}
  *
  * The options map is the `ConsumerConfig` analog
  * (ConsumerConfig.scala:103-144): `startingPosition` carries the three
  * initial positions the reference enumerates (`latest`, `trim-horizon`,
  * `at-timestamp` + time, ConsumerConfig.scala:115-139), validated
  * eagerly at `load()` time — a malformed position fails the way
  * `getStreamPosition`'s unmatched-config error does, before any query
  * starts. `latest` defaults, as the reference defaults
  * (`defaultInitialPosition`).
  *
  * ARCHITECTURE: registered through `DataSourceRegister` and implemented
  * on the `StreamSourceProvider` SPI — the SPI Spark's OWN file streams
  * execute on (Spark 4 resolves every file-format stream, DSv2 or not,
  * to the V1 `FileStreamSource` micro-batch source; there is no DSv2
  * MicroBatchStream for files to delegate to). The provider validates
  * the config, builds the inner parquet `FileStreamSource` via
  * [[FileSourceBridge]] — inheriting its per-batch file-metadata log
  * (exactly-once admission across restarts), `maxFilesPerTrigger`
  * admission control, and `AvailableNow` end-pinning unchanged — and
  * wraps it in [[GraftShardsSource]], which applies the seek position to
  * each micro-batch. Re-implementing that metadata log inside a custom
  * MicroBatchStream would duplicate proven machinery and gain nothing.
  * `getBatch` alone is NOT delegated: the inner source's version resolves
  * the batch's file paths through a fresh file index, which re-lists them
  * and, past 32 paths, runs a Spark listing job per micro-batch. The
  * bridge's [[FileSourceBridge.ParquetStream.getBatch]] builds the same
  * relation from the same log without listing.
  *
  * MISSING FILES: a file admitted into a batch but deleted before that
  * batch is built — or rebuilt, when a restart replays an uncommitted
  * batch — is skipped with a warning and the rest of the batch is
  * delivered. This is the inner file source's own policy for a vanished
  * path, kept as is (pinned in GraftShardsProviderSpec). A file that
  * vanishes after the batch is planned fails the scan, unless
  * `spark.sql.files.ignoreMissingFiles` is set.
  *
  * SCALE: the per-trigger control plane runs on the driver and starts no
  * Spark job. `getBatch` reads the batch's log entries and makes one
  * `listStatus` per directory the batch touches; `maxRecordsPerTrigger`
  * adds one `listStatus` per stream directory, a read of the admitted-file
  * log and one footer read per newly pending file ([[RecordAdmission]]).
  * Like the inner source's own per-trigger listing, these listings see
  * every retained file of the directories they visit. Otherwise
  * everything here is per-query-start control plane. The data plane is
  * the inner file source's partitioned scan; the one driver-side step is
  * `latest`'s per-shard end resolution — an O(shard count)
  * aggregate COLLECTED to the driver, persisted into the source's
  * checkpoint metadata so a RESTART reuses the original subscribe point
  * instead of re-resolving it against a moved stream (checkpoint-stable).
  * Each micro-batch then applies the frozen cut as one filter against a
  * map literal — no join, no extra Spark job. Two `latest` costs are NOT
  * O(shard count) and are handled explicitly: (a) the one-time end
  * resolution itself aggregates over the retained stream — a single
  * column-pruned pass over (shard, event_id), paid once per stream
  * lifetime, never on restart; (b) batch 0's scan would otherwise read
  * every pre-subscribe file just to discard it, so
  * [[GraftShardsSource.afterEnds]] adds a coarse `event_id > min(end)`
  * prefilter — pushable to parquet row-group stats, which skip the
  * retained history unread (plan-pinned in GraftShardsProviderSpec).
  */
final class GraftShardsProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-shards"

  /** Called at `load()` time: validate the full options map eagerly so
    * config errors surface before a query ever starts.
    */
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftShardsConfig(parameters, schema).schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val cfg = GraftShardsConfig(parameters, schema)
    val spark = sqlContext.sparkSession
    // subscribe-before-producer: materialize the stream root so neither
    // the inner file source's listing nor the `latest` end resolution
    // fails on a not-yet-written stream (the canonical LATEST use case —
    // records the producer writes later are post-subscribe by
    // definition). Idempotent when the directory exists.
    val root = new org.apache.hadoop.fs.Path(cfg.path)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(root)
    val stream = FileSourceBridge.parquetStream(
      spark, metadataPath, cfg.schema, cfg.path,
      cfg.maxFilesPerTrigger.map(n => "maxFilesPerTrigger" -> n.toString).toMap)
    val seek: DataFrame => DataFrame = cfg.position match {
      case GraftShardsConfig.TrimHorizon => identity
      case GraftShardsConfig.AtTimestamp(ts) =>
        df => df.filter(col("ts") >= lit(ts).cast("timestamp"))
      case GraftShardsConfig.Latest =>
        val ends = GraftShardsSource.loadOrResolveLatestEnds(spark, metadataPath, cfg)
        df => GraftShardsSource.afterEnds(df, ends)
    }
    new GraftShardsSource(stream, cfg.schema, seek,
      recordAdmission = cfg.maxRecordsPerTrigger.map(cap =>
        new RecordAdmission(spark.sparkContext.hadoopConfiguration, cfg.path, cap,
          () => stream.admittedFiles())))
  }
}

/** Validated `graft-shards` options — the `ConsumerConfig` analog. */
final case class GraftShardsConfig(
    path: String,
    position: GraftShardsConfig.Position,
    maxFilesPerTrigger: Option[Int],
    maxRecordsPerTrigger: Option[Long],
    schema: StructType)

object GraftShardsConfig {

  sealed trait Position
  case object Latest extends Position
  case object TrimHorizon extends Position
  final case class AtTimestamp(ts: String) extends Position

  val KeyPath = "path"
  val KeyStartingPosition = "startingposition"
  val KeyMaxFilesPerTrigger = "maxfilespertrigger"
  val KeyMaxRecordsPerTrigger = "maxrecordspertrigger"
  val PositionLatest = "latest"
  val PositionTrimHorizon = "trim_horizon"
  val PositionAtTimestampPrefix = "at_timestamp:"

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft-shards: $msg")

  /** Parse + validate. Option keys are case-insensitive (Spark readers
    * normalize differently across call paths); values are exact.
    */
  def apply(parameters: Map[String, String], userSchema: Option[StructType]): GraftShardsConfig = {
    val params = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = params.getOrElse(KeyPath,
      fail("required option 'path' is missing (the sharded stream directory)"))
    if (path.trim.isEmpty) fail("option 'path' must not be empty")

    val schema = userSchema.getOrElse(ShardLayout.Events.schema)

    // presence AND type: a wrong-typed seek column would otherwise pass
    // load() and crash mid-resolution with a raw ClassCastException,
    // breaking the eager-clear-error contract this config exists for.
    // Name match is case-INsensitive, like Spark's own default column
    // resolution — a caller schema naming the column 'TS' resolves fine
    // in the seek filter, so it must not be rejected here.
    def requireColumns(cols: Seq[(String, org.apache.spark.sql.types.DataType)],
        why: String): Unit = cols.foreach { case (c, dt) =>
      schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case None =>
          fail(s"startingPosition '$why' needs column '$c' in the stream schema " +
            s"(got: ${schema.fieldNames.mkString(", ")})")
        case Some(f) if f.dataType != dt =>
          fail(s"startingPosition '$why' needs column '$c' of type ${dt.simpleString}, " +
            s"but the stream schema has ${f.dataType.simpleString}")
        case _ => ()
      }
    }

    val position = params.getOrElse(KeyStartingPosition, PositionLatest) match {
      case PositionLatest =>
        requireColumns(Seq(
          "shard" -> org.apache.spark.sql.types.IntegerType,
          "event_id" -> org.apache.spark.sql.types.LongType), PositionLatest)
        Latest
      case PositionTrimHorizon => TrimHorizon
      case s if s.startsWith(PositionAtTimestampPrefix) =>
        val raw = s.stripPrefix(PositionAtTimestampPrefix)
        val parses = Try(java.time.LocalDateTime.parse(raw.trim.replace(' ', 'T'))).isSuccess ||
          Try(java.time.LocalDate.parse(raw.trim)).isSuccess
        if (!parses) fail(s"startingPosition timestamp '$raw' is not a valid " +
          "'yyyy-MM-dd' or 'yyyy-MM-dd HH:mm:ss' timestamp")
        requireColumns(Seq("ts" -> org.apache.spark.sql.types.TimestampType), s)
        AtTimestamp(raw.trim)
      case other =>
        fail(s"invalid startingPosition '$other'; expected one of: " +
          s"$PositionLatest | $PositionTrimHorizon | $PositionAtTimestampPrefix<timestamp>")
    }

    val maxFiles = params.get(KeyMaxFilesPerTrigger).map { v =>
      Try(v.trim.toInt).toOption.filter(_ > 0).getOrElse(
        fail(s"maxFilesPerTrigger '$v' is not a positive integer"))
    }

    val maxRecords = params.get(KeyMaxRecordsPerTrigger).map { v =>
      Try(v.trim.toLong).toOption.filter(_ > 0).getOrElse(
        fail(s"maxRecordsPerTrigger '$v' is not a positive integer"))
    }

    GraftShardsConfig(path, position, maxFiles, maxRecords, schema)
  }
}

/** The stream source `format("graft-shards")` resolves to: delegates all
  * offset tracking, admission control and `AvailableNow` preparation to
  * the inner parquet `FileStreamSource`, builds each micro-batch from that
  * source's metadata log through [[FileSourceBridge.ParquetStream.getBatch]]
  * (no listing job), and applies the validated seek position to every
  * micro-batch it serves. The wrapper adds no state of its own, so the
  * WAL/commit-log semantics the StreamingSpec suite pins (at-least-once
  * replay, takeover, degraded stores) hold unchanged.
  */
final class GraftShardsSource(stream: FileSourceBridge.ParquetStream,
    override val schema: StructType, seek: DataFrame => DataFrame,
    private[sources] val recordAdmission: Option[RecordAdmission] = None)
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val inner = stream.source
  private val admission: Source with SupportsAdmissionControl with SupportsTriggerAvailableNow =
    inner match {
      case s: Source with SupportsAdmissionControl with SupportsTriggerAvailableNow => s
      case other => throw new IllegalStateException(
        s"graft-shards: inner source ${other.getClass.getName} lost admission control")
    }

  override def getOffset: Option[V1Offset] = inner.getOffset

  /** The batch is projected to the declared schema BY NAME. The inner
    * file source delivers data columns, then the `shard` partition
    * column, and Spark binds a batch to the declared schema by position,
    * so a caller schema with `shard` before another column would
    * otherwise get the two columns' values swapped. When the order
    * already matches, the optimizer drops the projection.
    */
  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame =
    seek(stream.getBatch(start, end))
      .select(schema.fieldNames.map(c => col("`" + c.replace("`", "``") + "`")).toSeq: _*)
  override def commit(end: V1Offset): Unit = inner.commit(end)
  override def commit(end: ConnectorOffset): Unit = inner.commit(end)
  override def initialOffset(): ConnectorOffset = inner.initialOffset()
  override def deserializeOffset(json: String): ConnectorOffset = inner.deserializeOffset(json)
  override def stop(): Unit = inner.stop()

  /** The inner source's default (ReadMaxFiles under `maxFilesPerTrigger`,
    * else ReadAllAvailable), composed with a ReadMaxRows component when
    * `maxRecordsPerTrigger` is configured — the engine hands this back to
    * `latestOffset` every trigger, where the rows component is converted.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val innerDefault = admission.getDefaultReadLimit
    recordAdmission match {
      case None => innerDefault
      case Some(ra) => innerDefault match {
        case _: ReadAllAvailable => ReadLimit.maxRows(ra.cap)
        case other => ReadLimit.compositeLimit(Array(other, ReadLimit.maxRows(ra.cap)))
      }
    }
  }

  /** With `maxRecordsPerTrigger`, the record cap (the ReadMaxRows
    * component of the limit) is converted to a SAFE file cap before
    * delegating (see [[RecordAdmission]]): the inner file source commits
    * its admission decision to the metadata log inside `latestOffset`,
    * so the bound must be established up front, not trimmed afterwards.
    * An explicit `ReadAllAvailable` (Trigger.Once's everything-now limit)
    * passes through unchanged, mirroring how Kafka's
    * `maxOffsetsPerTrigger` yields to Trigger.Once.
    */
  override def latestOffset(startOffset: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    def components(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case single => Seq(single)
    }
    val effective = recordAdmission match {
      case Some(ra) if components(limit).exists(_.isInstanceOf[ReadMaxRows]) =>
        val fileCap = components(limit).collectFirst { case f: ReadMaxFiles => f.maxFiles() }
        ReadLimit.maxFiles(math.min(ra.safeFileCap(), fileCap.getOrElse(Int.MaxValue)))
      case _ => limit
    }
    admission.latestOffset(startOffset, effective)
  }
  override def reportLatestOffset(): ConnectorOffset = admission.reportLatestOffset()
  override def prepareForTriggerAvailableNow(): Unit = admission.prepareForTriggerAvailableNow()
}

/** Converts a `maxRecordsPerTrigger` cap into a per-trigger FILE cap the
  * inner `FileStreamSource` understands — the records-per-fetch bound of
  * the reference's KCL polling config (KinesisSource.scala:119-121,
  * `maxRecords`), at this source's admission granularity (whole files,
  * the way KCL's bound is per-GetRecords-call).
  *
  * Per trigger: pending = current listing minus the files the inner
  * source's own metadata log already admitted (`admitted`, read from
  * [[FileSourceBridge.ParquetStream.admittedFiles]] — no duplicated
  * seen-files state); record counts come from parquet FOOTERS (exact row
  * counts, no data read), cached while the file is pending. The file cap
  * is CONSERVATIVE: the largest k such that the k LARGEST pending files
  * still fit the cap — whichever k files the inner source then picks, the
  * batch cannot exceed the cap. Always >= 1 so a single oversized file
  * still makes progress (any file-granularity admission must; KCL
  * likewise delivers at least one fetch).
  *
  * SCALE: control plane only — one directory walk (the inner source does
  * its own anyway) plus one footer read per newly pending file. Nothing is
  * proportional to records or retained bytes:
  *  - the walk is one `listStatus` per directory. `listFiles(root, true)`
  *    would build a `LocatedFileStatus` per file, which on the local FS
  *    copies — and so looks up — each file's permission and owner;
  *  - footer reads share one `ParquetReadOptions`, built once here.
  *    `ParquetFileReader.open(InputFile)` builds a fresh one from the
  *    whole Hadoop conf per file, which costs more than the footer read;
  *  - the footer cache holds only the pending files: a file's entry is
  *    dropped on the first trigger after it is admitted.
  */
final class RecordAdmission(conf: org.apache.hadoop.conf.Configuration,
    streamPath: String, val cap: Long, admitted: () => Set[org.apache.hadoop.fs.Path]) {
  import org.apache.hadoop.fs.{FileStatus, Path}

  private val readOptions = org.apache.parquet.HadoopReadOptions.builder(conf).build()

  // footer row counts of the pending files at the last trigger
  private var footerRows = Map.empty[Path, Long]

  private[sources] def cachedFooterPaths: Set[Path] = footerRows.keySet

  private def recordCount(s: FileStatus): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, readOptions)
    try r.getRecordCount finally r.close()
  }

  /** The not-yet-admitted parquet data files under the stream root, by
    * qualified path: every directory, recursively; files named `_*` or
    * `.*` (markers, `.crc` sidecars) and non-`.parquet` files are skipped.
    */
  private[sources] def pendingFiles(): Seq[(Path, FileStatus)] = {
    val root = new Path(streamPath)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val done = admitted()
    val pending = scala.collection.mutable.ArrayBuffer.empty[(Path, FileStatus)]
    val dirs = scala.collection.mutable.Stack(root)
    while (dirs.nonEmpty) fs.listStatus(dirs.pop()).foreach { f =>
      val name = f.getPath.getName
      if (f.isDirectory) dirs.push(f.getPath)
      else if (f.isFile && name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) {
        val q = fs.makeQualified(f.getPath)
        if (!done.contains(q)) pending += q -> f
      }
    }
    pending.toSeq
  }

  /** Largest k with the k largest pending files' records <= cap; >= 1. */
  def safeFileCap(): Int = {
    footerRows = pendingFiles().iterator.map { case (q, f) =>
      q -> footerRows.getOrElse(q, recordCount(f))
    }.toMap
    val countsDesc = footerRows.values.toArray.sortBy(-_)
    var sum = 0L; var k = 0
    while (k < countsDesc.length && sum + countsDesc(k) <= cap) { sum += countsDesc(k); k += 1 }
    math.max(k, 1)
  }
}

object GraftShardsSource {

  /** Name of the `latest` subscribe-point snapshot log inside the
    * source's checkpoint metadata directory. Dot-prefixed: that directory
    * also holds the inner file source's log, and tools that read that log
    * take every entry not starting with a dot for one of its batch files.
    */
  val LatestSnapshotLog = ".graft-latest-seek"

  /** The snapshot as a one-batch Spark metadata log, one `shard,end`
    * line per snapshotted shard. Batch 0 is published through the
    * session's `CheckpointFileManager` (`createAtomic`, no overwrite) —
    * the same manager and atomic-publish contract as the offsets WAL.
    */
  private final class LatestSeekLog(spark: SparkSession, path: String)
      extends HDFSMetadataLog[List[(Int, Long)]](spark, path) {
    override def serialize(ends: List[(Int, Long)], out: java.io.OutputStream): Unit =
      out.write(ends.map { case (s, m) => s"$s,$m" }.mkString("\n").getBytes("UTF-8"))
    override def deserialize(in: java.io.InputStream): List[(Int, Long)] =
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(s, m) = l.split(',')
          (s.toInt, m.toLong)
        }.toList
  }

  /** The frozen per-shard end sequence for `startingPosition=latest`:
    * resolved ONCE, at first query start (one per-shard max aggregate —
    * the shard-iterator resolution of a Kinesis `LATEST` subscribe), then
    * persisted under the source's checkpoint metadata path so every
    * restart replays against the ORIGINAL subscribe point. Without the
    * persistence a restart would re-resolve "latest" against a stream
    * that has since advanced and silently skip records the first
    * incarnation had already admitted. A concurrent first start on the
    * same checkpoint fails in the log's no-overwrite publish, as it does
    * in Spark's own logs.
    */
  def loadOrResolveLatestEnds(spark: SparkSession, metadataPath: String,
      cfg: GraftShardsConfig): Seq[(Int, Long)] = {
    val log = new LatestSeekLog(spark,
      new org.apache.hadoop.fs.Path(metadataPath, LatestSnapshotLog).toString)
    log.get(0).getOrElse {
      // the canonical LATEST use case subscribes BEFORE the producer has
      // written anything: a not-yet-existing (or empty) stream directory
      // is an empty snapshot — every shard is new, everything passes
      // through — not a start-time failure. The empty snapshot is still
      // persisted so a restart after the producer appears replays the
      // same (empty) subscribe point.
      val streamPath = new org.apache.hadoop.fs.Path(cfg.path)
      val streamFs = streamPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ends =
        if (!streamFs.exists(streamPath)) Nil
        else spark.read.schema(cfg.schema).parquet(cfg.path)
          .groupBy(col("shard")).agg(max(col("event_id")).as("start_after"))
          .collect()
          // max() over an all-null shard is null: no frozen end for that
          // shard, it passes through whole like a post-subscribe shard
          .filterNot(_.isNullAt(1))
          .map(r => (r.getInt(0), r.getLong(1))).toList.sorted
      // add is false only when batch 0 already exists: read that one
      if (log.add(0, ends)) ends else log.get(0).get
    }
  }

  /** Kinesis `LATEST` filter: drop records at or before the frozen end of
    * their shard; shards with no snapshot entry (created after subscribe)
    * pass through whole.
    *
    * One filter, no join: the snapshot is O(shard count), so the exact
    * per-shard cut looks the shard up in a map literal — a missing shard
    * reads null and passes. Parquet cannot push that lookup into the
    * scan, so alone it would make batch 0 READ every pre-subscribe file
    * just to discard it, a real cost against a long retained stream. A
    * coarse scan-PUSHABLE prefilter fixes that: `event_id > min(end)`.
    * Sound because event_id is the STREAM-assigned sequence number
    * (Kinesis `LATEST` seeks a sequence position, and the stream assigns
    * sequence numbers at append time): for a snapshotted shard, min <=
    * that shard's own frozen end, so nothing the exact filter keeps is
    * dropped; for a post-subscribe shard, sequence numbers increase
    * stream-wide, so its records all sit above every pre-subscribe end.
    * Parquet row-group stats on event_id then skip the retained history
    * without reading it.
    */
  def afterEnds(df: DataFrame, ends: Seq[(Int, Long)]): DataFrame =
    if (ends.isEmpty) df
    else {
      val end = typedLit(ends.toMap).apply(col("shard"))
      df.filter(col("event_id") > lit(ends.map(_._2).min))
        .filter(end.isNull || col("event_id") > end)
    }
}
