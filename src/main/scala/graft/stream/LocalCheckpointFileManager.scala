package graft.stream

import java.nio.file.{Files, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager}
import CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.SidecarIO

/** The streaming checkpoint store (`spark.sql.streaming.
  * checkpointFileManagerClass`) for every query the program starts.
  *
  * Without Hadoop's native library, every create, mkdir, permission set
  * and permission read on Hadoop's local filesystem forks a `chmod` or
  * `ls` process (about 4 ms each), so Spark's default manager pays about
  * 44 ms per offset or commit log file. For `file:` paths this manager
  * does the same work in-process:
  *
  *  - `createAtomic` writes a hidden temp file beside the target and
  *    publishes it on close with [[SidecarIO]]'s local publish step.
  *    Without overwrite the publish is a hard link, which fails if the
  *    target exists: a Hadoop `FileAlreadyExistsException`
  *    ([[graft.sources.VersionCollisionException]]), the old bytes
  *    untouched — the signal `HDFSMetadataLog` uses to detect a second
  *    writer. With overwrite it is an atomic rename. Close and cancel
  *    never leave the temp file.
  *  - `mkdirs` is `Files.createDirectories`; `open`, `list`, `exists` and
  *    `delete` go through the raw local filesystem, which forks nothing.
  *
  * Files get no `.crc` sidecar (Spark's batch-file filter ignores the
  * ones older checkpoints carry). A publish or delete also drops the
  * target's stale sidecar, so a checkpoint resumed under Spark's
  * default manager never checks new bytes against an old checksum.
  * Neither manager fsyncs these files.
  *
  * Every other scheme (HDFS, S3, ...) goes to the manager
  * `CheckpointFileManager.create` picks without this class set, so
  * remote checkpoints behave as before. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The manager doing the work: in-process for `file:`, Spark's default
    * otherwise. */
  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new InProcess(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ClassKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  private[graft] val ClassKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** Starts a streaming query whose checkpoint goes through this
    * manager, unless the session already names a manager class (a
    * user's choice wins). `start()` clones the session into the query,
    * and the query's logs and state stores read the clone's conf, so the
    * setting is needed only for the call; the session's conf is restored
    * afterwards. Starts are serialized, so concurrent starts each see
    * the session's own setting. */
  def start(spark: SparkSession)(query: => StreamingQuery): StreamingQuery =
    synchronized {
      if (spark.conf.getOption(ClassKey).isDefined) query
      else {
        spark.conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)
        try query finally spark.conf.unset(ClassKey)
      }
    }

  /** The in-process manager for `file:` paths. */
  private[graft] final class InProcess(root: Path, conf: Configuration)
      extends CheckpointFileManager {
    private val fs = {
      val raw = new RawLocalFileSystem
      raw.initialize(java.net.URI.create("file:///"), conf)
      raw
    }
    private def file(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = file(p)
      val temp = target.resolveSibling(SidecarIO.tempName(
        target.getFileName.toString, java.util.UUID.randomUUID.toString))
      val out = Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW)
      new AtomicStream(new java.io.BufferedOutputStream(out), temp, target,
        overwriteIfPossible)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p)): Unit
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = {
      fs.delete(p, true): Unit
      SidecarIO.dropCrc(file(p))
    }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }

  /** Writes `temp`; close publishes it as `target`, cancel discards it. */
  private final class AtomicStream(out: java.io.OutputStream,
                                   temp: java.nio.file.Path,
                                   target: java.nio.file.Path,
                                   overwrite: Boolean)
      extends CancellableFSDataOutputStream(out) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          SidecarIO.publishLocal(temp, target, overwrite)
        } finally Files.deleteIfExists(temp): Unit
      }
    }

    /** Never throws, like Spark's own streams: a cancel runs while the
      * caller handles another failure. */
    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        scala.util.Try(underlyingStream.close())
        scala.util.Try(Files.deleteIfExists(temp)): Unit
      }
    }
  }
}
