package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext,
  FileSystem, Path, UnsupportedFileSystemException}
import org.apache.hadoop.fs.Options.Rename

/** A second writer published the same name first. The loser's bytes
  * went nowhere — the no-overwrite publish is the commit point, and the
  * winner's file is untouched. Retryable where the name is a version
  * number: re-read the latest version and rebase, which is exactly what
  * [[FileManifest.commitDelta]] does. A Hadoop
  * `FileAlreadyExistsException`, the second-writer signal Spark's
  * metadata logs expect from a checkpoint store. */
class VersionCollisionException(msg: String, cause: Throwable = null)
    extends FileAlreadyExistsException(msg) {
  if (cause != null) initCause(cause)
}

/** The read and write path for every small artifact: manifest
  * roots/shards, stats and bloom sidecars, schema memory and tombstones,
  * model pointers, sketch state, ledger markers and the streaming
  * checkpoint logs.
  *
  * '''Writes''' publish whole files: [[create]] once (a lost race throws
  * [[VersionCollisionException]]), [[replace]] by atomic overwrite. On
  * `file:` paths both run in-process — a hidden temp file
  * `.<name>.<token>.tmp` beside the target, published by hard link
  * (`link(2)` refuses atomically when the target exists) or atomic
  * rename. Hadoop's checksummed local filesystem would fork `chmod`/`ls`
  * per create and mkdir without the native library, and its rename moves
  * data and `.crc` as two operations that a losing racer can tear. The
  * published file has no `.crc`; a stale one of the same name is
  * dropped, so a checksummed reader never checks new bytes against an
  * old sidecar. Every other scheme writes the temp through the
  * filesystem and publishes with `FileContext.rename` (single-object on
  * HDFS).
  *
  * '''Reads''' retry a [[org.apache.hadoop.fs.ChecksumException]]: the
  * artifacts are immutable once named, so a mismatch can only be an
  * older file's `.crc` pair caught mid-rename by a concurrent publish
  * (files written before publishes went in-process carry one). Re-reading
  * converges once the pair lands; a PERSISTENT mismatch is real
  * corruption and is rethrown after the bounded retries. */
private[graft] object SidecarIO {

  /** Publish `bytes` as `dest`, once: if `dest` exists, or a racer
    * publishes it first, throws [[VersionCollisionException]] and leaves
    * the winner's bytes as they are. */
  def create(fs: FileSystem, dest: Path, bytes: Array[Byte]): Unit =
    publish(fs, dest, bytes, overwrite = false, newToken())

  /** Atomically publish `bytes` as `dest`, replacing any earlier file: a
    * reader sees the old bytes or the new, never a missing or partial
    * file. `token` names the temp file. */
  def replace(fs: FileSystem, dest: Path, bytes: Array[Byte],
              token: String = newToken()): Unit =
    publish(fs, dest, bytes, overwrite = true, token)

  private def newToken(): String = java.util.UUID.randomUUID().toString

  /** The temp file a publish of `name` writes first. */
  private[graft] def tempName(name: String, token: String): String =
    s".$name.$token.tmp"

  private def publish(fs: FileSystem, dest: Path, bytes: Array[Byte],
                      overwrite: Boolean, token: String): Unit =
    if ("file" != fs.getUri.getScheme ||
        !publishLocalBytes(fs, dest, bytes, overwrite, token))
      publishRemote(fs, dest, bytes, overwrite, token)

  /** In-process publish; false when the volume cannot hard-link
    * (VFAT/exFAT, some FUSE/SMB mounts), so the rename path takes over. */
  private def publishLocalBytes(fs: FileSystem, dest: Path,
      bytes: Array[Byte], overwrite: Boolean, token: String): Boolean = {
    val target = Paths.get(fs.makeQualified(dest).toUri)
    Files.createDirectories(target.getParent)
    val temp = target.resolveSibling(tempName(dest.getName, token))
    try {
      Files.write(temp, bytes)
      publishLocal(temp, target, overwrite)
      true
    } catch {
      case e: VersionCollisionException => throw e
      case _: UnsupportedOperationException | _: java.io.IOException
          if !overwrite => false
    } finally Files.deleteIfExists(temp): Unit
  }

  /** The local publish step: `temp` becomes `target`, by hard link
    * without `overwrite` (an existing target throws
    * [[VersionCollisionException]]) or by atomic rename with it. The
    * target's stale `.crc` goes before the rename, or after the link.
    * The caller deletes `temp`. */
  private[graft] def publishLocal(temp: java.nio.file.Path,
      target: java.nio.file.Path, overwrite: Boolean): Unit =
    if (overwrite) {
      dropCrc(target)
      Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE): Unit
    } else {
      try Files.createLink(target, temp)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new VersionCollisionException(
            s"publish collision at $target: two writers raced", e)
      }
      dropCrc(target)
    }

  /** Drops Hadoop's checksum sidecar of `f`, if any. */
  private[graft] def dropCrc(f: java.nio.file.Path): Unit =
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc")): Unit

  private def publishRemote(fs: FileSystem, dest: Path, bytes: Array[Byte],
                            overwrite: Boolean, token: String): Unit = {
    val tmp = new Path(dest.getParent, tempName(dest.getName, token))
    fs.mkdirs(dest.getParent): Unit
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    try FileContext.getFileContext(fs.makeQualified(dest).toUri, fs.getConf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(dest),
        if (overwrite) Rename.OVERWRITE else Rename.NONE)
    catch {
      case e: UnsupportedFileSystemException =>
        // no FileContext binding for this scheme: the plain rename, best
        // effort (a replace has a window without the file; a create
        // relies on the callers' exists checks)
        if (overwrite) fs.delete(dest, false): Unit
        if (!fs.rename(tmp, dest)) {
          scala.util.Try(fs.delete(tmp, false)): Unit
          throw new java.io.IOException(s"publish failed: $dest", e)
        }
      case e: java.io.IOException =>
        scala.util.Try(fs.delete(tmp, false)): Unit
        // the destination exists: another writer won the rename race
        if (!overwrite && scala.util.Try(fs.exists(dest)).getOrElse(false))
          throw new VersionCollisionException(
            s"publish collision at $dest: two writers raced", e)
        throw new java.io.IOException(s"publish failed: $dest", e)
    }
  }

  private def retrying[A](body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(10L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Non-empty lines of a small text artifact. */
  def readLines(fs: FileSystem, p: Path): List[String] = retrying {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Whole content of a small text artifact. */
  def readString(fs: FileSystem, p: Path): String = retrying {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** First line, if the file has one. */
  def readFirstLine(fs: FileSystem, p: Path): Option[String] = retrying {
    val in = fs.open(p)
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      Option(r.readLine())
    } finally in.close()
  }
}
