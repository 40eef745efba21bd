package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{FileManifest, History, SidecarIO,
  VersionCollisionException}

/** Optimistic-concurrency manifest commits ([[FileManifest.commitDelta]]):
  * disjoint commits re-base and land, true write-write conflicts fail
  * loudly, and the COW writers inherit both behaviors through their
  * shared flip. The deterministic race cases use the one-shot
  * `testRaceHook`, fired inside commitDelta's read→publish window — the
  * exact interleaving a wall-clock race would produce. */
class OccCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Unpartitioned manifest lake with `n` one-row files. */
  private def lake(n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-occ").toString + "/lake"
    (0 until n).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    History.enableManifests(spark, dir): Unit
    dir
  }

  /** Land an (uncommitted) orphan parquet file and return its rel. */
  private def orphanFile(dir: String, id: Long): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-occ-orphan").toString + "/out"
    Seq((id, s"row$id")).toDF("id", "tag").coalesce(1).write.parquet(tmp)
    val src = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val name = s"orphan-$id.parquet"
    val fs = fsOf(dir)
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(src.toString),
      new org.apache.hadoop.fs.Path(s"$dir/$name"))
    name
  }

  test("a version collision re-bases the delta and retries") {
    val dir = lake(3)
    val fs = fsOf(dir)
    val m0 = FileManifest.latest(fs, dir).get
    val victim = m0.cur.head
    val mine = orphanFile(dir, 100L)
    val theirs = orphanFile(dir, 200L)
    // competitor commits an APPEND in our read→publish window
    FileManifest.testRaceHook =
      Some(() => FileManifest.commitDelta(fs, dir, Seq(theirs), Nil): Unit)
    val landed = FileManifest.commitDelta(fs, dir, Seq(mine), Seq(victim))
    // both commits present: ours re-based on top of theirs
    assert(landed === m0.version + 2)
    val after = FileManifest.latest(fs, dir).get
    assert(after.curSet.contains(mine))
    assert(after.curSet.contains(theirs))
    assert(!after.curSet.contains(victim))
    assert(after.retiredSet.contains(victim))
    assert(FileManifest.testRaceHook.isEmpty, "hook must be consumed")
  }

  test("retiring a file a concurrent commit already retired conflicts") {
    val dir = lake(3)
    val fs = fsOf(dir)
    val victim = FileManifest.latest(fs, dir).get.cur.head
    FileManifest.commitDelta(fs, dir, Nil, Seq(victim)): Unit
    // a second writer whose scan predates that commit tries to retire
    // the same file — its rewrite derived from data that changed
    val e = intercept[java.util.ConcurrentModificationException] {
      FileManifest.commitDelta(fs, dir, Nil, Seq(victim))
    }
    assert(e.getMessage.contains(victim))
    // same conflict when the race happens INSIDE the commit window
    val dir2 = lake(3)
    val fs2 = fsOf(dir2)
    val v2 = FileManifest.latest(fs2, dir2).get.cur.head
    FileManifest.testRaceHook =
      Some(() => FileManifest.commitDelta(fs2, dir2, Nil, Seq(v2)): Unit)
    intercept[java.util.ConcurrentModificationException] {
      FileManifest.commitDelta(fs2, dir2, Nil, Seq(v2))
    }
  }

  test("direct same-version publishes still fail loudly, typed") {
    val dir = lake(2)
    val fs = fsOf(dir)
    val m = FileManifest.latest(fs, dir).get
    intercept[VersionCollisionException] {
      FileManifest.publish(fs, dir,
        FileManifest.Manifest(m.version, m.cur, m.retired))
    }
  }

  test("a stale same-name .crc from a rebuilt lake cannot poison reads") {
    // wipe-and-rebuild at the same path restarts version numbering; a
    // leftover checksum sidecar for a version name about to be reused
    // must not make the fresh manifest fail verified reads (the link
    // commit writes crc-less and deletes any stale sidecar it finds)
    val dir = lake(1)
    val fs = fsOf(dir)
    val v1 = FileManifest.latest(fs, dir).get.version + 1
    val mdir = new java.io.File(s"$dir/_manifests")
    val crc = new java.io.File(mdir, f".v$v1%012d.manifest.crc")
    java.nio.file.Files.write(crc.toPath,
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)): Unit
    FileManifest.addFiles(fs, dir, Seq(orphanFile(dir, 77L)))
    val m = FileManifest.latest(fs, dir).get
    assert(m.version === v1)
    assert(m.curSet.exists(_.contains("part-")))
    // and a pinned read through the reader stack still answers
    assert(History.readPinned(spark, dir).count() === 2L)
    // the overwrite publish too: a sidecar first written through the
    // checksummed local filesystem (with its .crc), then replaced
    val sidecar = new org.apache.hadoop.fs.Path(s"$dir/_manifests/replaced")
    val old = fs.create(sidecar, true)
    try old.write("old".getBytes("UTF-8")) finally old.close()
    assert(new java.io.File(mdir, ".replaced.crc").exists())
    SidecarIO.replace(fs, sidecar, "new bytes".getBytes("UTF-8"))
    assert(SidecarIO.readString(fs, sidecar) === "new bytes")
  }

  test("concurrent appenders all land without loss (threaded)") {
    val dir = lake(1)
    val fs = fsOf(dir)
    val v0 = FileManifest.latest(fs, dir).get.version
    val perThread = 12
    val rels = (0 until 2 * perThread).map(i => orphanFile(dir, 1000L + i))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() =>
        try (0 until perThread).foreach { i =>
          FileManifest.addFiles(fs, dir, Seq(rels(t * perThread + i)))
        } catch { case e: Throwable => errs.add(e): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent appends failed: ${errs.peek()}")
    val m = FileManifest.latest(fs, dir).get
    assert(rels.forall(m.curSet), "every appended file must be current")
    // one version per commit, no burned numbers
    assert(m.version === v0 + 2 * perThread)
  }

  test("a COW delete re-bases over a concurrent append (sharded lake)") {
    import spark.implicits._
    val dir = lake(3)
    History.enableShardedManifests(spark, dir): Unit
    val fs = fsOf(dir)
    val late = orphanFile(dir, 300L)
    // the append lands while deleteWhere is between its match scan and
    // its manifest flip — the classic streaming-archive vs takedown race
    FileManifest.testRaceHook =
      Some(() => FileManifest.commitDelta(fs, dir, Seq(late), Nil): Unit)
    val (files, rows) = History.deleteWhere(spark, dir, col("id") === 1L)
    assert(files === 1 && rows === 1L)
    val ids = History.readPinned(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // victim row gone, late-arriving append SURVIVED the flip
    assert(ids === Seq(0L, 2L, 300L))
  }

  test("overwriteAll CAS: a concurrent append under the restatement " +
      "conflicts loudly and the append survives") {
    import spark.implicits._
    val dir = lake(2)
    val fs = fsOf(dir)
    // an append lands while overwriteAll is between its manifest read
    // and its flip — a REBASE would let the appended file silently
    // survive a "retires every pre-restatement file" contract, so the
    // restatement must fail loudly instead
    val late = orphanFile(dir, 300L)
    FileManifest.testRaceHookPath = Some(dir)
    FileManifest.testRaceHook =
      Some(() => FileManifest.commitDelta(fs, dir, Seq(late), Nil): Unit)
    val e = intercept[java.util.ConcurrentModificationException] {
      History.overwriteAll(spark, dir,
        Seq((7L, "restated")).toDF("id", "tag"))
    }
    assert(e.getMessage.contains("expected base version"), e.getMessage)
    val ids = History.readPinned(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // the racing append survived; nothing of the failed restatement did
    assert(ids === Seq(0L, 1L, 300L))
    // with no concurrent commit the restatement lands normally
    History.overwriteAll(spark, dir,
      Seq((7L, "restated")).toDF("id", "tag")): Unit
    assert(History.readPinned(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(7L))
  }

  test("two deletes of disjoint files commute through the flip") {
    val dir = lake(4)
    val fs = fsOf(dir)
    // delete id=2's file concurrently with the id=1 delete's flip
    FileManifest.testRaceHook = Some { () =>
      History.deleteWhere(spark, dir, col("id") === 2L): Unit
    }
    History.deleteWhere(spark, dir, col("id") === 1L): Unit
    val ids = History.readPinned(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(0L, 3L))
  }

  test("two concurrent History.append writers both land with one " +
      "rebase: row multiset = union") {
    import spark.implicits._
    val dir = lake(1)
    val fs = fsOf(dir)
    val v0 = FileManifest.latest(fs, dir).get.version
    // the SECOND appender commits inside the first's read→publish
    // window — the first's version collides and re-bases, both batches
    // land, and the lake's rows are exactly the union of the batches
    FileManifest.testRaceHookPath = Some(dir)
    FileManifest.testRaceHook = Some { () =>
      History.append(spark, dir,
        Seq((200L, "theirs")).toDF("id", "tag"), "append-race-b"): Unit
    }
    History.append(spark, dir,
      Seq((100L, "mine")).toDF("id", "tag"), "append-race-a"): Unit
    assert(FileManifest.testRaceHook.isEmpty, "hook must be consumed")
    val rows = History.readPinned(spark, dir)
      .select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows === Seq((0L, "row0"), (100L, "mine"), (200L, "theirs")),
      "row multiset must be the union of both appends")
    // two data commits = two versions; neither append re-ran its job
    assert(FileManifest.latest(fs, dir).get.version === v0 + 2)
  }

  test("a COW delete racing a compaction of the SAME files bounces " +
      "loudly; no rows are lost either way") {
    import spark.implicits._
    // partitioned manifest lake, 3 one-row files in one partition
    // (compaction resolves partition-dir slices, so the competitor
    // needs a real region=…/dt=… layout)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-occ-cr").toString + "/lake"
    (0 until 3).foreach { i =>
      Seq((i.toLong, 1000L + i, "R1", "2020-01-01"))
        .toDF("siteId", "ts", "region", "dt")
        .coalesce(1).write.mode("append")
        .partitionBy("region", "dt").parquet(dir)
    }
    History.enableManifests(spark, dir): Unit
    // the compaction retires every file of the lake's single partition
    // slice inside the delete's read→publish window; the delete's
    // retire set is now stale — a rebase would resurrect the rows its
    // rewrite dropped, so it must refuse, not retry
    FileManifest.testRaceHookPath = Some(dir)
    FileManifest.testRaceHook = Some { () =>
      History.compactLatest(spark, dir, Seq("siteId"), "ts",
        col("dt") === "2020-01-01")
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      History.deleteWhere(spark, dir, col("siteId") === 1L)
    }
    assert(e.getMessage.contains("no longer current"), e.getMessage)
    // the compaction won; the refused delete left every row intact
    // (its promoted-but-uncommitted keep-file is vacuum-able garbage,
    // invisible to pinned readers)
    val ids = History.readPinned(spark, dir)
      .select("siteId").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(0L, 1L, 2L))
    // and with no concurrent compaction the same delete lands
    History.deleteWhere(spark, dir, col("siteId") === 1L): Unit
    assert(History.readPinned(spark, dir)
      .select("siteId").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 2L))
  }

  test("racing merge-on-read deletes never lose each other's rows (threaded)") {
    import spark.implicits._
    // one multi-row file so every DV write targets the SAME rel: the
    // expected-pointer guard must serialize the writers — each loser
    // recomputes from the new snapshot (fresh positions unioned with
    // the winner's vector) and retries; a lost update would leave one
    // thread's victim row alive
    val dir = java.nio.file.Files
      .createTempDirectory("graft-occ-dv").toString + "/lake"
    (0L until 24L).map(i => (i, s"row$i")).toDF("id", "tag")
      .coalesce(1).write.parquet(dir)
    History.enableManifests(spark, dir): Unit
    val nThreads = 3
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() =>
        try {
          // each thread deletes its own residue class; retry on the
          // documented conflict (recompute-from-new-snapshot contract)
          var attempts = 0
          var done = false
          while (!done) {
            try {
              History.deleteWhereDV(spark, dir,
                col("id") % nThreads === t): Unit
              done = true
            } catch {
              case _: java.util.ConcurrentModificationException
                  if attempts < 20 => attempts += 1
            }
          }
        } catch { case e: Throwable => failures.add(e): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"unexpected: ${failures.peek()}")
    assert(History.readPinned(spark, dir).count() === 0L,
      "every thread's deletes must survive the race")
    // and the surviving vector is ONE pointer holding the union
    val m = FileManifest.latest(fsOf(dir), dir).get
    assert(m.dvs.size === 1)
  }
}
