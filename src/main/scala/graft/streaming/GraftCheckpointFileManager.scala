package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption,
  FileAlreadyExistsException => NioFileExists, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.{Comparator, UUID}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import scala.jdk.CollectionConverters._

/** The checkpoint file manager of every graft session: the offsets WAL,
  * the commit log, the source logs and every state-store delta and
  * snapshot go through it. Spark's own choice for `file:`
  * (`FileContextBasedCheckpointFileManager`) resolves symlinks and sets
  * permissions through `RawLocalFileSystem`, which without the native
  * Hadoop library forks a `readlink` or `chmod` child process per file
  * operation and writes a `.crc` sidecar per file. On `file:` this
  * manager uses `java.nio` only, with no Hadoop `FileSystem` or
  * `FileContext` in the path:
  *
  *  - a write goes to a dot-prefixed temp file next to its target, which
  *    no metadata log or state store lists as one of its files;
  *  - `close()` publishes an overwrite with `Files.move(ATOMIC_MOVE)` (a
  *    POSIX `rename`) and a no-overwrite create with
  *    `Files.createLink(dst, tmp)`, which fails with Hadoop's
  *    `FileAlreadyExistsException` when `dst` exists (the offsets WAL
  *    relies on that to detect a second query on one checkpoint;
  *    `ATOMIC_MOVE` would silently replace it); `cancel()` deletes the
  *    temp file;
  *  - no `.crc` sidecar is written, and nothing is fsynced: the same
  *    durability as the Hadoop local path.
  *
  * Every other scheme gets Spark's default, built directly (calling
  * `CheckpointFileManager.create` with this class configured would
  * recurse). Spark 4.1's `ChecksumCheckpointFileManager` wraps whichever
  * the state stores get. [[install]] makes it the session default.
  */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  private[streaming] val underlying: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new NioCheckpointFileManager(path)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, hadoopConf) }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object GraftCheckpointFileManager {
  /** Make this manager the default of every session on `hadoopConf` (a
    * SparkContext's): `setIfUnset`, so it is idempotent and leaves a
    * context-level choice alone, and a session-level
    * `spark.sql.streaming.checkpointFileManagerClass` still wins, because
    * `SessionState.newHadoopConf` layers session confs on top.
    */
  def install(hadoopConf: Configuration): Unit =
    hadoopConf.setIfUnset("spark.sql.streaming.checkpointFileManagerClass",
      classOf[GraftCheckpointFileManager].getName)
}

/** The `file:` half of [[GraftCheckpointFileManager]]. Missing files
  * surface as `FileNotFoundException` and existing targets as Hadoop's
  * `FileAlreadyExistsException`, the types Spark's callers catch.
  */
private final class NioCheckpointFileManager(root: Path) extends CheckpointFileManager {

  private def local(p: Path): NioPath = Paths.get(p.toUri.getPath)

  private def io[T](p: Path)(body: => T): T =
    try body catch {
      case e: NoSuchFileException => throw new FileNotFoundException(s"$p: ${e.getMessage}").initCause(e)
      case e: NioFileExists => throw new FileAlreadyExistsException(s"$p already exists").initCause(e)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = io(p) {
    val dst = local(p)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
    val out =
      try Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
      catch { case _: NoSuchFileException =>
        Files.createDirectories(tmp.getParent)
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
      }
    new CancellableFSDataOutputStream(new BufferedOutputStream(out)) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            super.close()
            io(p) {
              if (overwriteIfPossible) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
              else Files.createLink(dst, tmp)
            }
          } finally Files.deleteIfExists(tmp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try underlyingStream.close() finally Files.deleteIfExists(tmp)
        }
      }
    }
  }

  override def open(p: Path): FSDataInputStream = io(p) {
    new FSDataInputStream(new BufferedFSInputStream(new ChannelInputStream(FileChannel.open(local(p))), 65536))
  }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = io(p) {
    val entries = Files.newDirectoryStream(local(p))
    try entries.asScala.iterator.flatMap { f =>
      val child = new Path(p, f.getFileName.toString)
      if (!filter.accept(child)) None
      else {
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, child))
      }
    }.toArray
    finally entries.close()
  }

  override def mkdirs(p: Path): Unit = io(p)(Files.createDirectories(local(p)))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  /** Recursive, and a no-op on a missing path, like Spark's managers. */
  override def delete(p: Path): Unit = io(p) {
    val f = local(p)
    if (!Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) Files.deleteIfExists(f)
    else {
      val tree = Files.walk(f)
      try tree.sorted(Comparator.reverseOrder[NioPath]()).forEach(c => Files.deleteIfExists(c))
      finally tree.close()
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    mkdirs(root)
    root.makeQualified(URI.create("file:///"), new Path(Paths.get("").toAbsolutePath.toUri))
  }
}

/** A seekable stream over one file channel. */
private final class ChannelInputStream(ch: FileChannel) extends FSInputStream {
  override def seek(pos: Long): Unit = ch.position(pos)
  override def getPos: Long = ch.position()
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def read(): Int = {
    val b = new Array[Byte](1)
    if (read(b, 0, 1) == 1) b(0) & 0xff else -1
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
  override def close(): Unit = ch.close()
}
