package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CyclicBarrier,
  Executors, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.ReferenceFixtures._
import graft.sources.{FileManifest, FileStats, History, SidecarIO,
  VersionCollisionException}
import graft.stream.Pipeline

/** The local filesystem with every Hadoop write call refused. */
class WriteRefusingFileSystem extends LocalFileSystem {
  private def refuse(op: String): Nothing =
    throw new UnsupportedOperationException(s"Hadoop $op refused")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = refuse("create")
  override def rename(src: Path, dst: Path): Boolean = refuse("rename")
  override def mkdirs(f: Path): Boolean = refuse("mkdirs")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    refuse("mkdirs")
  override def delete(f: Path, recursive: Boolean): Boolean = refuse("delete")
  override def setPermission(p: Path, permission: FsPermission): Unit =
    refuse("setPermission")
}

/** The local filesystem, recording each call made through it (fresh
  * instances share one log, for `fs.file.impl.disable.cache`). */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.record
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    record("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    record("rename", src, dst)
    super.rename(src, dst)
  }
  override def mkdirs(f: Path): Boolean = {
    record("mkdirs", f); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    record("mkdirs", f); super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    record("delete", f); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    record("list", f); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    record("status", f); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    record("open", f); super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  /** (operation, qualified paths) per call. */
  val calls = new ConcurrentLinkedQueue[(String, Seq[String])]()
  private def record(op: String, ps: Path*): Unit =
    calls.add(op -> ps.map(p => p.toUri.getPath)): Unit
}

/** [[SidecarIO]]'s publish: a `file:` publish makes no Hadoop write
  * call, and the two races the shared primitive closes. */
class SidecarIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString
  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list).map(_.toSet).getOrElse(Set())
  private def bytesAt(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  test("a file: publish makes no Hadoop write call") {
    val fs = new WriteRefusingFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = tempDir("graft-sidecar") + "/a/b/c"
    val created = new Path(s"$dir/created")
    SidecarIO.create(fs, created, "first".getBytes(UTF_8))
    assert(bytesAt(created.toString) === "first")
    val collision = intercept[VersionCollisionException] {
      SidecarIO.create(fs, created, "second".getBytes(UTF_8))
    }
    assert(collision.isInstanceOf[
      org.apache.hadoop.fs.FileAlreadyExistsException])
    assert(bytesAt(created.toString) === "first", "the winner's bytes stay")
    val replaced = new Path(s"$dir/d/replaced")
    SidecarIO.replace(fs, replaced, "old".getBytes(UTF_8))
    SidecarIO.replace(fs, replaced, "new bytes".getBytes(UTF_8))
    assert(bytesAt(replaced.toString) === "new bytes")
    assert(names(dir) === Set("created", "d"), "no temp file or .crc")
    assert(names(s"$dir/d") === Set("replaced"))
    // a fixed token names the temp file; it is gone after the publish
    SidecarIO.replace(fs, replaced, "v2".getBytes(UTF_8), token = "v2")
    assert(bytesAt(replaced.toString) === "v2")
    assert(names(s"$dir/d") === Set("replaced"))
  }

  test("an archive batch and a stats refresh make no Hadoop create, " +
      "mkdirs or rename outside data files and staging") {
    import spark.implicits._
    val lake = tempDir("graft-sidecar-lake") + "/lake"
    val ledger = new Pipeline.FileBatchLedger(s"$lake/_ledger")
    Pipeline.archiveBatch(Pipeline.payloadToRecords(
      Seq(singleSiteDoc + NUL).toDF("value")), 0L, lake, Some(ledger))
    History.enableManifests(spark, lake): Unit
    val batch = Pipeline.payloadToRecords(
      Seq(multiSiteDoc + NUL).toDF("value"))
    val conf = spark.sparkContext.hadoopConfiguration
    CountingLocalFileSystem.calls.clear()
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      Pipeline.archiveBatch(batch, 1L, lake, Some(ledger))
      History.refreshStats(spark, lake,
        "collectionendtimestamp_plus_3_mins"): Unit
    } finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    val calls = CountingLocalFileSystem.calls.toArray.toSeq
      .map(_.asInstanceOf[(String, Seq[String])])
    val root = Paths.get(lake).toAbsolutePath
    def rel(p: String): String = root.relativize(Paths.get(p)).toString
    // parquet data files, the partition directories holding them, and
    // everything under the staging directory
    def dataOrStaging(p: String): Boolean = {
      val r = rel(p)
      r.startsWith("_staging") || r.endsWith(".parquet") ||
        (r.nonEmpty && r.split('/').forall(s => s.contains('=') &&
          !s.startsWith("_") && !s.startsWith(".")))
    }
    val writes = Set("create", "mkdirs", "rename")
    val offending = calls.filter { case (op, ps) =>
      writes(op) && !ps.forall(dataOrStaging) }
    val byOp = calls.groupBy(_._1).view.mapValues(_.size).toSeq.sorted
    info(s"Hadoop calls for one archive batch and a stats refresh: " +
      byOp.map { case (op, n) => s"$op $n" }.mkString(", "))
    assert(offending.isEmpty, offending.map { case (op, ps) =>
      s"$op ${ps.map(rel).mkString(" -> ")}" }.mkString("; "))
    // the batch landed, the ledger marked it and the sidecar is readable
    assert(ledger.lastCommitted === 1L)
    assert(History.readPinned(spark, lake).count() === 3L)
    assert(Files.exists(Paths.get(FileStats.statsPath(lake))))
  }

  test("8 racing declarePartitioning calls: exactly one wins, and the " +
      "file holds its columns") {
    val lake = tempDir("graft-sidecar-decl") + "/lake"
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writers = 8
    val ready = new CyclicBarrier(writers)
    val pool = Executors.newFixedThreadPool(writers)
    val outcomes = try {
      (0 until writers).map { i =>
        pool.submit(new Callable[Either[Throwable, Int]] {
          override def call(): Either[Throwable, Int] = {
            ready.await()
            try {
              FileManifest.declarePartitioning(fs, lake, Seq(s"col$i"))
              Right(i)
            } catch { case e: Exception => Left(e) }
          }
        })
      }.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow(): Unit
    val winners = outcomes.collect { case Right(i) => i }
    assert(winners.size === 1, outcomes.mkString(", "))
    assert(FileManifest.declaredPartitioning(fs, lake) ===
      Some(Seq(s"col${winners.head}")))
  }

  test("a reader polling a bloom shard never finds it missing while " +
      "the key index rewrites it 50 times") {
    import spark.implicits._
    val lake = tempDir("graft-sidecar-bloom") + "/lake"
    Seq((0L, "row0")).toDF("id", "tag").coalesce(1).write.parquet(lake)
    History.enableManifests(spark, lake): Unit
    History.refreshKeyIndex(spark, lake, "id"): Unit
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val extras = tempDir("graft-sidecar-extras") + "/out"
    spark.range(1L, 51L, 1L, 50).selectExpr("id", "concat('row', id) AS tag")
      .write.parquet(extras)
    val parts = new java.io.File(extras).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val shardDir = Paths.get(
      graft.sources.FileBloomIndex.indexDir(lake, "id"))
    val shard = Files.list(shardDir).toArray.map(_.asInstanceOf[
      java.nio.file.Path]).filter(_.toString.endsWith(".shard")).toSeq
    assert(shard.size === 1)
    @volatile var stop = false
    @volatile var polls = 0L
    @volatile var misses = 0L
    val reader = new Thread(() => while (!stop) {
      if (!Files.exists(shard.head)) misses += 1
      polls += 1
    })
    reader.start()
    try parts.zipWithIndex.foreach { case (f, i) =>
      val name = s"extra-$i.parquet"
      Files.copy(f.toPath, Paths.get(s"$lake/$name"))
      FileManifest.addFiles(fs, lake, Seq(name))
      assert(History.refreshKeyIndex(spark, lake, "id") === 1)
    } finally { stop = true; reader.join(10000) }
    info(s"$polls polls over ${parts.length} rewrites")
    assert(misses === 0L, s"the shard was missing on $misses of $polls polls")
    assert(History.readPinnedKeyed(spark, lake, "id", Seq(42L))
      .collect().map(_.getLong(0)).toSeq === Seq(42L))
  }
}
