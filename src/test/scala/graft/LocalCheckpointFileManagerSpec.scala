package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  HDFSMetadataLog}
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.ReferenceFixtures._
import graft.stream.{LocalCheckpointFileManager, Pipeline}

/** The local filesystem under another scheme: a stand-in remote store. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
}

/** The in-process checkpoint store for `file:` paths: the contract
  * Spark's metadata logs rely on, the hand-off to Spark's default
  * manager for other schemes, and checkpoints resumed across the two. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val ClassKey = LocalCheckpointFileManager.ClassKey
  private val conf = new Configuration()

  private def tempDir(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toUri)
  private def names(dir: Path): Set[String] =
    Option(new java.io.File(dir.toUri.getPath).list).map(_.toSet)
      .getOrElse(Set())
  private def publish(m: CheckpointFileManager, p: Path, text: String,
                      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  /** Spark's metadata-log filter for batch files. */
  private class BatchFileFilter(dir: Path)
      extends HDFSMetadataLog[String](spark, dir.toString) {
    def filter: org.apache.hadoop.fs.PathFilter = batchFilesFilter
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a file: path is written in-process") {
    val dir = tempDir("graft-lcfm")
    val m = new LocalCheckpointFileManager(dir, conf)
    assert(m.delegate.isInstanceOf[LocalCheckpointFileManager.InProcess])
    assert(m.isLocal)
  }

  test("a no-overwrite publish onto an existing file fails and keeps " +
      "the old bytes") {
    val dir = tempDir("graft-lcfm")
    val m = new LocalCheckpointFileManager(dir, conf)
    val p = new Path(dir, "0")
    publish(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      publish(m, p, "second", overwrite = false)
    }
    assert(read(m, p) === "first")
    assert(names(dir) === Set("0"), "no temp file may remain")
  }

  test("8 writers publish one name without overwrite: exactly one wins") {
    val dir = tempDir("graft-lcfm")
    val m = new LocalCheckpointFileManager(dir, conf)
    val p = new Path(dir, "7")
    val writers = 8
    val ready = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val outcomes = try {
      (0 until writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Int]] {
          override def call(): Either[Throwable, Int] = {
            val out = m.createAtomic(p, overwriteIfPossible = false)
            out.write(s"writer-$i".getBytes(UTF_8))
            ready.await()
            try { out.close(); Right(i) } catch { case e: Throwable => Left(e) }
          }
        })
      }.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow(): Unit
    val winners = outcomes.collect { case Right(i) => i }
    assert(winners.size === 1, outcomes.mkString(", "))
    assert(outcomes.collect { case Left(e) => e }
      .forall(_.isInstanceOf[FileAlreadyExistsException]), outcomes)
    assert(read(m, p) === s"writer-${winners.head}")
    assert(names(dir) === Set("7"), "no temp file may remain")
  }

  test("an overwrite publish replaces the file and its stale checksum") {
    val dir = tempDir("graft-lcfm")
    val m = new LocalCheckpointFileManager(dir, conf)
    val p = new Path(dir, "metadata")
    // written through Hadoop's checksummed local filesystem: a .crc sidecar
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val old = local.create(p, true)
    old.write("old".getBytes(UTF_8))
    old.close()
    assert(names(dir) === Set("metadata", ".metadata.crc"))
    publish(m, p, "new bytes", overwrite = true)
    assert(read(m, p) === "new bytes")
    assert(names(dir) === Set("metadata"))
    // the checksummed reader no longer checks new bytes against old ones
    val in = local.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) === "new bytes")
    finally in.close()
  }

  test("cancel leaves neither target nor temp file; close leaves no temp") {
    val dir = tempDir("graft-lcfm")
    val m = new LocalCheckpointFileManager(dir, conf)
    val canceled = m.createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
    canceled.write("never published".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")), "the write goes to a temp file")
    canceled.cancel()
    canceled.cancel() // idempotent
    assert(names(dir) === Set())
    val closed = m.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    closed.write("published".getBytes(UTF_8))
    closed.close()
    closed.cancel() // a cancel after close keeps the published file
    assert(names(dir) === Set("1"))
  }

  test("list with Spark's batch-file filter returns only published files") {
    val dir = tempDir("graft-lcfm")
    val m = new LocalCheckpointFileManager(dir, conf)
    val log = new BatchFileFilter(dir)
    publish(m, new Path(dir, "0"), "a", overwrite = false)
    publish(m, new Path(dir, "1"), "b", overwrite = false)
    val pending = m.createAtomic(new Path(dir, "2"), overwriteIfPossible = false)
    // an older checkpoint's sidecar
    Files.write(Paths.get(new Path(dir, ".0.crc").toUri), Array[Byte](1, 2))
    try {
      val listed = m.list(dir, log.filter).map(_.getPath.getName)
      assert(listed.sorted.toSeq === Seq("0", "1"))
    } finally pending.cancel()
  }

  test("mkdirs, exists and delete") {
    val dir = tempDir("graft-lcfm")
    val m = new LocalCheckpointFileManager(dir, conf)
    val nested = new Path(dir, "a/b/c")
    assert(!m.exists(nested))
    m.mkdirs(nested)
    m.mkdirs(nested) // idempotent
    assert(m.exists(nested))
    val f = new Path(nested, "0")
    publish(m, f, "x", overwrite = false)
    assert(m.exists(f))
    m.delete(f)
    assert(!m.exists(f))
    m.delete(f) // a missing path is not an error
    m.delete(new Path(dir, "a"))
    assert(!m.exists(new Path(dir, "a")))
    val root = tempDir("graft-lcfm")
    val fresh = new Path(root, "ckpt")
    val made = new LocalCheckpointFileManager(fresh, conf)
      .createCheckpointDirectory()
    assert(made.toUri.getScheme === "file")
    assert(Files.isDirectory(Paths.get(made.toUri)))
  }

  test("a non-file: scheme goes to Spark's default manager") {
    val c = new Configuration(conf)
    c.set("fs.graftlocal.impl", classOf[OtherSchemeFileSystem].getName)
    c.setBoolean("fs.graftlocal.impl.disable.cache", true)
    c.set(ClassKey, classOf[LocalCheckpointFileManager].getName)
    val dir = new Path("graftlocal://" +
      Files.createTempDirectory("graft-lcfm").toUri.getPath)
    val m = new LocalCheckpointFileManager(dir, c)
    val default = {
      val plain = new Configuration(c)
      plain.unset(ClassKey)
      CheckpointFileManager.create(dir, plain)
    }
    assert(!m.delegate.isInstanceOf[LocalCheckpointFileManager.InProcess])
    assert(m.delegate.getClass === default.getClass)
    publish(m, new Path(dir, "0"), "remote", overwrite = false)
    assert(read(m, new Path(dir, "0")) === "remote")
  }

  // ---- checkpoints resumed across Spark's default manager and this one

  private def doc(i: Int): String =
    singleSiteDoc.replace("Sid=\"2087\"", s"Sid=\"${1000 + i}\"")
  private def appendDocs(payload: String, ids: Range): Unit =
    Files.write(Paths.get(payload), ids.map(doc(_) + NUL).mkString
      .getBytes(UTF_8), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    : Unit

  /** Archives what the payload holds (2 documents per batch, no ledger,
    * so a replayed batch would land twice) and returns the ids of the
    * batches that read data. */
  private def archiveAll(payload: String, lake: String,
                         ckpt: String): Seq[Long] = {
    val raw = spark.readStream.format("transis").option("path", payload)
      .option("maxdocsperbatch", "2").load()
    val q = Pipeline.archive(Pipeline.payloadToRecords(raw), lake, ckpt)
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
  }

  private def withManagerClass[T](cls: Option[String])(body: => T): T = {
    cls.foreach(spark.conf.set(ClassKey, _))
    try body finally cls.foreach(_ => spark.conf.unset(ClassKey))
  }

  private def crcs(ckpt: String, sub: String): Set[String] =
    names(new Path(s"$ckpt/$sub")).filter(_.endsWith(".crc"))

  /** Runs 3 batches under `first`, then 2 more under `second`, over one
    * checkpoint; each run must resume at the next batch id. */
  private def resumeAcross(first: Option[String],
                           second: Option[String]): String = {
    val payload = Files.createTempFile("graft-lcfm", ".payload").toString
    val lake = Files.createTempDirectory("graft-lcfm-lake").toString + "/lake"
    val ckpt = Files.createTempDirectory("graft-lcfm-ckpt").toString
    appendDocs(payload, 0 until 6)
    val firstIds = withManagerClass(first) {
      val ids = archiveAll(payload, lake, ckpt)
      // the start helper restored the session's own setting
      assert(spark.conf.getOption(ClassKey) === first)
      ids
    }
    assert(firstIds === Seq(0L, 1L, 2L))
    appendDocs(payload, 6 until 10)
    val secondIds = withManagerClass(second)(archiveAll(payload, lake, ckpt))
    assert(secondIds === Seq(3L, 4L), "resumes at the next batch id")
    assert(names(new Path(s"$ckpt/commits")).filterNot(_.startsWith(".")) ===
      (0 to 4).map(_.toString).toSet)
    val rows = spark.read.parquet(lake).select("siteId").collect()
      .map(_.get(0).toString)
    assert(rows.length === 10, "each record lands once")
    assert(rows.toSet === (0 until 10).map(i => (1000 + i).toString).toSet)
    ckpt
  }

  private val fileContext =
    Some(classOf[FileContextBasedCheckpointFileManager].getName)

  test("a FileContext checkpoint resumes under the graft manager") {
    val ckpt = resumeAcross(first = fileContext, second = None)
    // the user-set class wrote the first run (with sidecars); the graft
    // manager wrote batches 3 and 4 without them
    assert(crcs(ckpt, "offsets") === (0 to 2).map(i => s".$i.crc").toSet)
    assert(crcs(ckpt, "commits") === (0 to 2).map(i => s".$i.crc").toSet)
  }

  test("a graft checkpoint resumes under the FileContext manager") {
    val ckpt = resumeAcross(first = None, second = fileContext)
    assert(crcs(ckpt, "offsets") === Set(".3.crc", ".4.crc"))
    assert(crcs(ckpt, "commits") === Set(".3.crc", ".4.crc"))
  }

  test("OPT-IN local filesystem cost probe (SPARK_GRAFT_FS_PROBE=1)") {
    assume(sys.env.get("SPARK_GRAFT_FS_PROBE").contains("1"))
    val n = 25
    def p50(op: Int => Unit): Double = {
      op(-1) // warm
      val ms = (0 until n).map { i =>
        val t0 = System.nanoTime()
        op(i)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(n / 2)
    }
    val dir = tempDir("graft-fs-probe")
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val bytes = "v1\n{}\n".getBytes(UTF_8)
    def sub(name: String) = { val d = new Path(dir, name); local.mkdirs(d); d }
    val createDir = sub("create")
    val create = p50 { i =>
      val out = local.create(new Path(createDir, s"$i"), true)
      out.write(bytes); out.close()
    }
    val mkdirs = p50(i => local.mkdirs(new Path(dir, s"mkdirs/$i")): Unit)
    val target = new Path(dir, "perm")
    local.create(target, true).close()
    val perm = new org.apache.hadoop.fs.permission.FsPermission("644")
    val setPermission = p50(_ => local.setPermission(target, perm))
    def atomic(m: CheckpointFileManager, d: Path) =
      p50(i => publish(m, new Path(d, s"$i"), "v1\n{}\n", overwrite = false))
    val defaultDir = sub("default")
    val sparkDefault = atomic(CheckpointFileManager.create(defaultDir, conf),
      defaultDir)
    val graftDir = sub("graft")
    val graftManager = atomic(new LocalCheckpointFileManager(graftDir, conf),
      graftDir)
    // the small-file publish: once, by atomic overwrite, and the local
    // FileContext overwrite rename the stats sidecar used before it
    val sidecarDir = sub("sidecar")
    val sidecarCreate = p50(i => graft.sources.SidecarIO.create(local,
      new Path(sidecarDir, s"$i"), bytes))
    val sidecarReplace = p50(_ => graft.sources.SidecarIO.replace(local,
      new Path(sidecarDir, "replaced"), bytes))
    val renameDir = sub("rename")
    val fileContext = org.apache.hadoop.fs.FileContext
      .getFileContext(renameDir.toUri, conf)
    val contextRename = p50 { i =>
      val tmp = new Path(renameDir, s".replaced.$i.tmp")
      val out = local.create(tmp, true)
      out.write(bytes); out.close()
      fileContext.rename(tmp, new Path(renameDir, "replaced"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    info(s"native hadoop loaded: " +
      org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
    info(f"p50 ms over $n calls: LocalFileSystem.create $create%.2f, " +
      f"mkdirs $mkdirs%.2f, setPermission $setPermission%.2f; " +
      f"createAtomic: Spark default $sparkDefault%.2f, graft $graftManager%.2f")
    info(f"p50 ms over $n calls: SidecarIO.create $sidecarCreate%.2f, " +
      f"SidecarIO.replace $sidecarReplace%.2f; LocalFileSystem.create " +
      f"plus FileContext OVERWRITE rename $contextRename%.2f")
    assert(names(graftDir).size === n + 1)
    assert(names(sidecarDir).size === n + 2)
  }
}
