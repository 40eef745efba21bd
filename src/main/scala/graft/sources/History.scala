package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A merge-on-read delete matched more positions than its driver-side
  * cap — the data-dependent refusal (vs a caller error): the delete is
  * dense enough that the honest shape is the copy-on-write rewrite.
  * Typed so the SQL DELETE surface can catch exactly this case and
  * fall back to [[History.deleteWhere]] instead of string-matching. */
final class DvCapExceededException(msg: String)
  extends IllegalArgumentException(msg)

/** Date/type-parameterized history access (S4–S8 semantics, SURVEY.md §2.1):
  * the reference pushes `startDate`/`types` filters into URL params
  * (`transis_consumer.py:157-225`); at rest the same pushdown is achieved by
  * partition layout + partition pruning and parquet predicate pushdown.
  *
  * 100 TB design: history is laid out `region=<r>/dt=<yyyy-MM-dd>/…`, so a
  * date- or region-bounded read touches only matching directories (static
  * partition pruning; dynamic pruning kicks in for join-driven predicates).
  * Within files, min/max row-group stats serve the residual predicates.
  */
object History {

  /** Land canonical records partitioned by region and collection date.
    *
    * The repartition on the partition columns is the small-files guard:
    * without it every task holding rows of a (region, dt) writes its own
    * file into that directory — tasks × live partitions files per batch,
    * the classic lake-rot shape at scale. Hashing rows to their output
    * directory first gives ~one file per directory; `maxRecordsPerFile`
    * re-splits a pathologically hot partition so a single writer task
    * can't produce one monster file either.
    *
    * @param mode "overwrite" for batch loads; "append" for the streaming
    *   archive path (each foreachBatch lands its micro-batch into the
    *   same layout — exactly-once when guarded by the Pipeline
    *   BatchLedger). */
  def writePartitioned(records: DataFrame, path: String,
                       mode: String = "overwrite"): Unit = {
    val shaped = records
      .withColumn("dt", date_format(
        timestamp_seconds(col("collectionendtimestamp_plus_3_mins")),
        "yyyy-MM-dd"))
    // declared-schema lakes validate the batch shape before any file
    // lands (see SchemaLog.validateWrite)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      records.sparkSession.sparkContext.hadoopConfiguration)
    SchemaLog.latest(fs, path)
      .foreach(d => SchemaLog.validateWrite(d, shaped.schema))
    Constraints.enforce(records.sparkSession, path, shaped)
    shaped
      .repartition(col("region"), col("dt"))
      // sorted within files → tight parquet row-group min/max stats on
      // (siteId, ts), so site- or time-bounded residual predicates skip
      // row groups inside the pruned partitions too
      .sortWithinPartitions(col("siteId"),
        col("collectionendtimestamp_plus_3_mins"))
      .write.mode(mode)
      .option("maxRecordsPerFile", 5000000L)
      .partitionBy("region", "dt")
      .parquet(path)
  }

  /** Latest-wins compaction of a lake slice — the "current state"
    * materialization (the same shape the VMS reader computes on read,
    * done once at rest). Keeps the newest record per key within every
    * partition the predicate touches and rewrites ONLY those partitions,
    * so compacting one day of one region never rewrites (or even lists)
    * the rest of a 100 TB lake. The window sort is per (partition, key)
    * — bounded by a partition's update count, never global.
    *
    * The predicate may reference ONLY the partition columns (region, dt):
    * a row-level predicate (say `siteId = 8`) would select a subset of a
    * partition's rows and then replace the whole partition with that
    * subset — silently deleting every other row. Enforced, not just
    * documented.
    *
    * Commit protocol (a crash leaves every partition OLD or NEW, never
    * neither — the manifest-commit a table format would provide, done
    * directly on the directory layout):
    *
    *  1. stage the compacted partitions under `_staging/compact` (reads
    *     the live dirs, writes elsewhere — the job never deletes its own
    *     input, so no eager materialization is needed);
    *  2. atomically publish a manifest (write-then-rename) listing the
    *     partitions to swap — the manifest IS the commit point: absent,
    *     the lake is untouched and stale staging is garbage; present,
    *     the swap is in flight and [[recoverCompaction]] can finish it
    *     from any crash state;
    *  3. per partition: rename live aside (`_old-dt=…`, hidden from
    *     readers), promote staged, drop the aside — directory renames,
    *     each atomic on HDFS/local;
    *  4. drop the manifest, then the staging root.
    *
    * [[compactLatest]] auto-runs recovery first, so a re-run after any
    * crash completes the interrupted compaction before starting the new
    * one.
    *
    * '''Single writer per lake.''' Compaction assumes no OTHER writer
    * mutates the lake between the staging read and the swap. The one
    * sequenced-writer case is still protected: the manifest records, per
    * partition, the exact data files the staging read consumed, and the
    * swap merges any file that appeared afterwards (e.g. the streaming
    * archive's batch-tagged publishes) into the promoted directory
    * instead of deleting it with the aside — committed batch rows are
    * never dropped even when a compaction manifest sat unrecovered
    * across archive batches. What is NOT supported is a writer racing
    * the swap's renames themselves (two processes mutating one partition
    * dir concurrently): run compaction from the archive's driver between
    * batches, or pause the archive — one writer at a time per lake.
    *
    * @param keyCols identity columns within a partition (e.g. siteId)
    * @param tsCol   recency column; ties keep the lexicographically
    *                largest remaining row deterministically */
  def compactLatest(spark: SparkSession, path: String,
                    keyCols: Seq[String], tsCol: String,
                    predicate: org.apache.spark.sql.Column): Unit = {
    // finish any interrupted swap BEFORE the read below lists files —
    // recovery renames directories out from under an already-planned scan
    recoverCompaction(spark, path): Unit
    // a crashed expiry left its manifest with dirs possibly undeleted:
    // roll it forward FIRST, or the partition matching below would
    // resurrect committed-deleted partitions into the compaction
    recoverExpire(spark, path): Unit
    val conf = spark.sparkContext.hadoopConfiguration
    val rawStage = new org.apache.hadoop.fs.Path(compactStagingDir(path))
    val fs = rawStage.getFileSystem(conf)
    val qRoot = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    // manifest-mode lake (enableManifests): file-granular commit — data
    // files never move, the manifest version flip is the whole swap
    if (FileManifest.enabled(fs, path)) {
      compactPinned(spark, fs, qRoot, path, keyCols, tsCol, predicate)
      return
    }
    val stage = fs.makeQualified(rawStage)
    fs.delete(stage, true): Unit // pre-manifest leftovers are garbage
    val matching = matchPartitions(spark, fs, qRoot, predicate)
    if (matching.isEmpty) return // zero partitions match: nothing to do
    // a compaction REWRITES data, so it must see the union of every
    // file's columns in the slice — the default single-footer inference
    // would silently drop a record column added to the lake mid-life
    // from every rewritten row (reads merely miss it; a rewrite loses
    // it). Declared-schema lakes project to the committed schema; the
    // legacy footer-merge pass is bounded to the matched dirs.
    val slice = rewriteReader(spark, fs, path)
      .option("basePath", qRoot.toString)
      .parquet(matching.map(rel =>
        new org.apache.hadoop.fs.Path(qRoot, rel).toString): _*)
    writeCompacted(slice, keyCols, tsCol, compactStagingDir(path))
    // the staged partition set = the directories to swap (the shared
    // helper handles globStatus returning null for a nonexistent glob
    // parent — e.g. a predicate matching zero partitions, where the
    // empty write creates no directories)
    val parts = FileManifest.listPartitionDirs(fs, stage)
    // staging-read snapshot, per partition: the data files `slice`'s file
    // index actually consumed. At swap time, any data file in a live dir
    // that is NOT in its snapshot arrived after the read (a sequenced
    // archive batch) — its rows are absent from the staged output, so the
    // swap must merge it into the promoted dir, not drop it with the aside.
    val rootUri = fs.makeQualified(new org.apache.hadoop.fs.Path(path)).toUri
    val snapshot: Map[String, Seq[String]] = slice.inputFiles.toSeq
      .map { f =>
        val rel = rootUri.relativize(
          fs.makeQualified(new org.apache.hadoop.fs.Path(f)).toUri).getPath
        val cut = rel.lastIndexOf('/')
        (rel.take(math.max(cut, 0)), rel.drop(cut + 1))
      }
      .filterNot { case (dir, _) => dir.startsWith("/") } // outside root
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val manifest = new org.apache.hadoop.fs.Path(compactManifestPath(path))
    val lines = parts.map(rel =>
      rel + "\t" + snapshot.getOrElse(rel, Seq.empty).mkString(","))
    // recoverCompaction ran first: no earlier manifest can be pending
    SidecarIO.create(fs, manifest, lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    swapStaged(fs, path, parts.map(rel =>
      rel -> snapshot.getOrElse(rel, Seq.empty).toSet))
    fs.delete(manifest, false): Unit
    fs.delete(stage, true): Unit
  }

  /** Resolve a partition-column predicate to the matching
    * `region=…/dt=…` directory rel-paths — evaluated against the
    * directory VALUES on the driver (partition-count-sized, never a data
    * read): schema inference — including a mergeSchema pass — runs at
    * read construction, BEFORE Catalyst partition pruning, so a
    * root-anchored read would list the whole lake to compact one
    * partition. Values are taken raw from the dir names (region codes
    * and ISO dates are never path-escaped); `dt` is typed DATE whenever
    * EVERY value parses as a date — including non-canonical layouts like
    * `dt=2019-6-15`, exactly the values Spark's own partition inference
    * would type — so a date predicate selects the same partition set
    * here as on a normal read of the lake; only a genuinely non-date
    * layout keeps string-compare semantics. The evaluation frame carries
    * ONLY the two partition columns — analyzing the predicate against it
    * IS the "partition columns only" validation (a row-level or
    * internal-column reference fails right here, before anything is
    * staged). */
  private def matchPartitions(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, qRoot: org.apache.hadoop.fs.Path,
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    import spark.implicits._
    val partVals = FileManifest.listPartitionDirs(fs, qRoot)
      .flatMap(_.split('/') match {
        case Array(r, d) if r.startsWith("region=") && d.startsWith("dt=") =>
          Some((r.stripPrefix("region="), d.stripPrefix("dt="), s"$r/$d"))
        case _ => None
      }).toSeq
    // Date.valueOf accepts yyyy-[m]m-[d]d — the same lenient shapes
    // partition inference types as DATE; all-or-nothing so mixed layouts
    // never silently compare a date against a string
    val asDates = partVals.map(v =>
      scala.util.Try(java.sql.Date.valueOf(v._2)).toOption)
    val allDates = partVals.nonEmpty && asDates.forall(_.isDefined)
    // map matched values back to dirs by the CANONICAL value (a date
    // cast to string canonicalizes, e.g. 2019-6-15 → 2019-06-15)
    val byVals =
      if (allDates)
        partVals.zip(asDates).map { case (v, d) =>
          (v._1, d.get.toString) -> v._3
        }.toMap
      else partVals.map(v => (v._1, v._2) -> v._3).toMap
    val vals =
      if (allDates)
        partVals.zip(asDates).map { case (v, d) => (v._1, d.get) }
          .toDF("region", "dt")
      else partVals.map(v => (v._1, v._2)).toDF("region", "dt")
    val filtered = try vals.filter(predicate)
      .select(col("region"), col("dt").cast("string")).collect()
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          "predicate may only reference partition " +
            "columns (region, dt) — a row-level predicate would " +
            s"select whole partitions by a row subset " +
            s"(analysis said: ${e.getMessage})")
    }
    filtered.map(r => byVals((r.getString(0), r.getString(1))))
      .sorted.toSeq // partition-count-sized
  }

  /** Latest-wins rewrite of `slice` into `dest` — the compaction writer
    * shared by the legacy dir-swap and the manifest-mode commit. The
    * window sort is per (partition, key), bounded by a partition's
    * update count, never global. */
  private def writeCompacted(slice: DataFrame, keyCols: Seq[String],
                             tsCol: String, dest: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((Seq("region", "dt") ++ keyCols).map(col): _*)
      .orderBy(col(tsCol).desc)
    slice.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .repartition(col("region"), col("dt"))
      .sortWithinPartitions(col("siteId"), col(tsCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
      .partitionBy("region", "dt")
      .parquet(dest)
  }

  def compactStagingDir(path: String): String = s"$path/_staging/compact"
  def compactManifestPath(path: String): String =
    s"$path/_staging/compact.manifest"

  /** Parse one manifest line: `rel[TAB]file1,file2,…` — the partition to
    * swap plus the staging-read snapshot of its data files. Legacy lines
    * without the snapshot field parse to an empty snapshot (no merge —
    * the pre-round-6 wholesale-delete behavior). */
  private def parseManifestLine(line: String): (String, Set[String]) =
    line.split('\t') match {
      case Array(rel) => (rel, Set.empty[String])
      case Array(rel, files) =>
        (rel, files.split(',').filter(_.nonEmpty).toSet)
      case other => (other.head, Set.empty[String])
    }

  /** Finish (roll FORWARD) an interrupted [[compactLatest]] swap. No-op
    * without a manifest — pre-manifest crashes left the lake untouched.
    * Returns true when a manifest was found and completed. Safe to run
    * any number of times, from any crash point, including crashes of a
    * previous recovery. */
  def recoverCompaction(spark: SparkSession, path: String): Boolean = {
    val manifest = new org.apache.hadoop.fs.Path(compactManifestPath(path))
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifest)) return false
    val entries = SidecarIO.readLines(fs, manifest).map(parseManifestLine)
    swapStaged(fs, path, entries)
    fs.delete(manifest, false): Unit
    fs.delete(new org.apache.hadoop.fs.Path(compactStagingDir(path)),
      true): Unit
    true
  }

  /** Idempotent per-partition directory swap. Reachable states for a
    * partition (S=staged, L=live, A=aside) and the action taken:
    * S∧L∧¬A → full swap; S∧¬L∧A → promote staged, drop aside;
    * ¬S∧L∧A → drop aside; ¬S∧L∧¬A → done. The aside dir is
    * underscore-prefixed, so a reader racing the swap never double-counts
    * a partition; between the two renames the data lives in A and S.
    *
    * Before an aside is dropped, data files NOT in the partition's
    * staging-read snapshot are merged into the promoted dir: they were
    * published after the compaction read (a sequenced archive batch), so
    * their rows are absent from the staged output and deleting them
    * would silently drop committed rows (see the single-writer note on
    * [[compactLatest]]). A merge collision (same file name already
    * promoted) means a replayed batch re-published it — the aside copy
    * is the duplicate and is dropped. Partitions swap in parallel on a
    * bounded pool: each is independent and every step idempotent, so
    * parallelism changes neither the state machine nor recovery. */
  private def swapStaged(fs: org.apache.hadoop.fs.FileSystem, path: String,
                         entries: Seq[(String, Set[String])]): Unit =
    LakeCommit.foreachPar(entries) { case (rel, snapshot) =>
      val live = new org.apache.hadoop.fs.Path(path, rel)
      val staged = new org.apache.hadoop.fs.Path(compactStagingDir(path), rel)
      // the aside name must carry NO '=': Spark's listing filter skips
      // underscore-prefixed names ONLY when they contain no '=' (Hive
      // allows `_col=v` partition dirs), so an aside named
      // `_old-dt=2019-10-03` would surface in partition inference and
      // fail every concurrent plain read with conflicting partition
      // columns — found by the readSnapshot spec, fixed by `=` → `~`
      val aside = new org.apache.hadoop.fs.Path(live.getParent,
        "_old-" + live.getName.replace('=', '~'))
      if (fs.exists(staged)) {
        if (fs.exists(live) && fs.exists(aside))
          fs.delete(aside, true): Unit // stale aside from an older crash
        if (fs.exists(live) && !fs.rename(live, aside))
          throw new java.io.IOException(s"aside rename failed: $live")
        if (!fs.rename(staged, live))
          throw new java.io.IOException(s"promote failed: $staged -> $live")
      }
      if (fs.exists(aside)) {
        if (snapshot.nonEmpty) fs.listStatus(aside).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".") && !snapshot(n)) {
            val dest = new org.apache.hadoop.fs.Path(live, n)
            if (fs.exists(dest)) fs.delete(st.getPath, false): Unit
            else if (!fs.rename(st.getPath, dest))
              throw new java.io.IOException(
                s"late-file merge failed: ${st.getPath} -> $dest")
          }
        }
        fs.delete(aside, true): Unit
      }
    }

  /** Swap-tolerant lake read: resolves the partition listing against the
    * compaction manifest so a read planned WHILE a compaction swap is in
    * flight sees every partition in its committed state — never the
    * absent-partition window between the swap's two renames that a plain
    * `spark.read.parquet(path)` can hit.
    *
    * Resolution per partition: not in the manifest → live dir (the swap
    * never touches it). In the manifest → the manifest is the commit
    * point, so the NEW state is the truth: pin to the staged dir while it
    * exists (pre-swap and mid-swap states), else the promoted live dir.
    * Every reachable swap state (S∧L, S∧A, L∧A, L) resolves to exactly
    * one complete copy.
    *
    * Isolation is at LISTING time: the returned frame pins concrete
    * directories, so a swap that completes while a long scan is still
    * running can move files under it (retry the read). For FILE-granular
    * isolation — a scan planned before a compaction completes correctly
    * after it — switch the lake to manifest mode ([[enableManifests]])
    * and read through [[readPinned]]. Without a manifest this is exactly
    * `spark.read.parquet(path)`. */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    readSnapshotWith(spark, path, mergeSchema = false)

  /** [[readSnapshot]] with the footer-merge knob — the shared resolution
    * path, so [[readEvolved]]'s legacy branch sees the SAME committed
    * state (pending compaction swaps honored, expire-pending partitions
    * excluded) as every other reader, just with merged schemas. */
  private def readSnapshotWith(spark: SparkSession, path: String,
                               mergeSchema: Boolean): DataFrame = {
    def reader = spark.read.option("mergeSchema", mergeSchema.toString)
    val manifest = new org.apache.hadoop.fs.Path(compactManifestPath(path))
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pending expire manifest is a COMMITTED delete (the dirs drop
    // next): exclude its partitions so no reader sees a partial delete
    val expireManifest = new org.apache.hadoop.fs.Path(expireManifestPath(path))
    val expirePending: Set[String] =
      if (!fs.exists(expireManifest)) Set.empty
      else SidecarIO.readLines(fs, expireManifest).toSet
    if (!fs.exists(manifest) && expirePending.isEmpty)
      return reader.parquet(path)
    val swapped =
      if (!fs.exists(manifest)) Set.empty[String]
      else SidecarIO.readLines(fs, manifest).map(parseManifestLine(_)._1).toSet
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val stageRoot = fs.makeQualified(
      new org.apache.hadoop.fs.Path(compactStagingDir(path)))
    val liveParts = FileManifest.listPartitionDirs(fs, root)
    val (stagedPins, promotedPins) = swapped.toSeq.sorted
      .filterNot(expirePending)
      .partition(rel =>
        fs.exists(new org.apache.hadoop.fs.Path(stageRoot, rel)))
    val livePins = (liveParts.filterNot(swapped) ++
        promotedPins.filter(rel =>
          fs.exists(new org.apache.hadoop.fs.Path(root, rel))))
      .filterNot(expirePending)
      .sorted.map(rel => new org.apache.hadoop.fs.Path(root, rel).toString)
    val sides = Seq(
      Option.when(livePins.nonEmpty)(
        reader.option("basePath", root.toString)
          .parquet(livePins: _*)),
      Option.when(stagedPins.nonEmpty)(
        reader.option("basePath", stageRoot.toString)
          .parquet(stagedPins.map(rel =>
            new org.apache.hadoop.fs.Path(stageRoot, rel).toString): _*))
    ).flatten
    sides.reduceOption(
        _.unionByName(_, allowMissingColumns = mergeSchema))
      .getOrElse(spark.emptyDataFrame)
  }

  /** Lake file-layout stats: one row per partition directory with its
    * data-file count, total bytes, and smallest/largest file — the
    * small-files monitor that tells an operator when a partition needs
    * compaction (pairs with `Pipeline.archive(compactEvery = …)`; a
    * partition whose `n_files` grows with batch count while
    * `max_bytes` stays small is accumulating micro-batch files).
    *
    * Pure driver-side metadata: partition dirs are listed on the bounded
    * rename pool (one listing RTT per partition, ~ceil(P/16) rounds on an
    * object store), no data file is opened, and the result is one row
    * per PARTITION — thousands of rows for a 100 TB lake, never row- or
    * file-proportional. */
  def lakeStats(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val parts = FileManifest.listPartitionDirs(fs, qRoot)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long, Long, Long, Long)]()
    LakeCommit.foreachPar(parts) { rel =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(qRoot, rel))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
      if (files.nonEmpty) {
        val sizes = files.map(_.getLen)
        rows.add((rel, files.length.toLong, sizes.sum,
          sizes.min, sizes.max)): Unit
      }
    }
    import scala.jdk.CollectionConverters._
    val spark2 = spark
    import spark2.implicits._
    rows.asScala.toSeq.sortBy(_._1)
      .toDF("partition", "n_files", "total_bytes", "min_bytes", "max_bytes")
  }

  // ----- manifest-mode lake (file-granular snapshot isolation) -----

  /** Switch a lake to manifest mode: bootstrap `v1` from the current
    * live listing. From here on, [[readPinned]] plans from the manifest,
    * [[compactLatest]] commits by manifest version flip (data files
    * never move — old files are RETIRED in the manifest and physically
    * deleted only by [[vacuum]] after a grace period), and the streaming
    * archive adds each batch's files to the manifest. This closes the
    * long-scan race [[readSnapshot]] documents: a read planned from
    * manifest vN still finds every vN file on disk after any number of
    * later commits, until a vacuum's grace window expires.
    *
    * The manifest is the source of truth: writers that bypass it (a bare
    * `df.write.mode("append")` outside [[graft.stream.Pipeline]]) leave
    * files invisible to [[readPinned]] and eligible for orphan vacuum —
    * route appends through the archive or [[FileManifest.addFiles]].
    * Idempotent: an already-enabled lake returns its current version. */
  def enableManifests(spark: SparkSession, path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.latestVersion(fs, path).getOrElse {
      // finish any in-flight legacy commit first: the bootstrap listing
      // must see a settled directory layout
      recoverCompaction(spark, path): Unit
      recoverExpire(spark, path): Unit
      FileManifest.publish(fs, path,
        FileManifest.Manifest(1L, FileManifest.listLiveFiles(fs, path), Nil))
      1L
    }
  }

  /** Upgrade a manifest-mode lake to SHARDED manifests: the version
    * root becomes a small per-partition shard index, so commits write
    * only the shards they touch and partition-pruned plans
    * ([[readPinnedPartitions]]) parse only the shards they scan —
    * removing the one-flat-file-per-version driver-side bound
    * documented in [[FileManifest]] (~10⁵–10⁶ lines at 100 TB). Every
    * writer that funnels through `FileManifest.publish` (archive
    * appends, compaction, delete/merge/cluster, expiry, vacuum) stays
    * sharded automatically from here on; flat and sharded versions
    * coexist in history, and [[readPinned]] time travel spans both.
    * Idempotent. Returns the latest (possibly new) version. */
  def enableShardedManifests(spark: SparkSession, path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.convertToSharded(fs, path)
  }

  /** Partition-pruned pinned read: plan only the latest manifest's
    * files whose partition DIRECTORY (lake-relative, e.g.
    * `lang=en` or `region=SYD/dt=2019-10-20`; `.` for root-level
    * files) passes `dirPred`. On a sharded lake the driver parses only
    * the matching shards — manifest I/O proportional to the partitions
    * scanned, not the lake's file count. The caller owns the
    * dir-predicate ↔ row-predicate correspondence (exactly like
    * partition pruning); rows outside the surviving dirs are absent by
    * construction. */
  def readPinnedPartitions(spark: SparkSession, path: String,
                           dirPred: String => Boolean): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = FileManifest.latestVersion(fs, path).getOrElse(
      throw new IllegalStateException(
        s"readPinnedPartitions needs a manifest-mode lake: $path"))
    val pruned = FileManifest.atPruned(fs, path, v, dirPred).get
    if (pruned.cur.nonEmpty) planManifest(spark, fs, root, pruned)
    else {
      // nothing survives the prune: keep the lake schema via the full
      // manifest's donor path, zero rows by construction
      val full = FileManifest.at(fs, path, v).get
      planManifest(spark, fs, root, full.copy(cur = full.cur.take(1)))
        .filter(org.apache.spark.sql.functions.lit(false))
    }
  }

  /** File-granular pinned read: plan EXACTLY the latest manifest's
    * current files. Unlike [[readSnapshot]] (directory pins), the
    * planned file set stays physically intact across any later
    * compaction/expiry commit until [[vacuum]]'s grace period passes —
    * a long scan survives a complete swap under it. Files a writer
    * landed but has not yet committed to the manifest are invisible
    * (no torn reads of an in-flight batch). Falls back to
    * [[readSnapshot]] on a lake without manifests. */
  def readPinned(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.latest(fs, path) match {
      case None => readSnapshot(spark, path)
      case Some(m) => planManifest(spark, fs, root, m)
    }
  }

  /** Time travel: read the lake AS OF a retained manifest version — the
    * table state some earlier commit published. Works because data files
    * are immutable/immobile in manifest mode: every file vN references
    * is still at its path until [[vacuum]]'s grace window retires both
    * the superseded files and the stale version file (so the travel
    * horizon IS the vacuum grace — size it to the audit window). Fails
    * loudly on a vacuumed/unknown version (a silent fallback to latest
    * would be a wrong-answer bug for an audit reader); [[versions]]
    * lists what is still reachable.
    *
    * SNAPSHOT-ERA SCHEMA: the read plans with the declared schema that
    * was CURRENT WHEN THE PINNED VERSION COMMITTED (the manifest's
    * schema stamp — [[FileManifest.Manifest.schemaV]]), not the lake's
    * present declaration: a pre-drop pin still shows the dropped
    * column, a pre-rename pin shows the old name, and a pre-widening
    * pin keeps the narrow type — history stops lying about shape.
    * Era-consistent by construction: every file the pinned manifest
    * references was validated against a declaration ≤ the stamp.
    * Manifests that predate the stamp (and undeclared-at-commit lakes
    * that declared later) fall back to the current declaration — the
    * old contract, still the right one when no era record exists.
    * Stamp granularity — DDL IS A COMMIT: every metadata-only schema
    * change (declare, evolve, rename, drop, undrop) also publishes a
    * DATA-IDENTICAL manifest version stamped with the new declaration
    * ([[SchemaLog]] commitDdlVersion), so a pin — or a tag — taken
    * right after the DDL resolves the post-DDL schema, Delta/Iceberg-
    * style. Only a crash between the schema publish and its manifest
    * commit degrades to the old one-commit lag, which the next commit
    * heals. */
  def readPinned(spark: SparkSession, path: String, version: Long): DataFrame =
    readPinned(spark, path, version, eraSchema = true)

  /** [[readPinned]] with the era-schema resolution explicit: the SQL
    * catalog serves its LATEST table through a version pin too (so a
    * loaded table is snapshot-stable under concurrent commits), and
    * that route must keep projecting to the CURRENT declaration —
    * a metadata-only evolve applies to latest reads immediately,
    * without waiting for the next data commit. */
  private[sources] def readPinned(spark: SparkSession, path: String,
      version: Long, eraSchema: Boolean): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.at(fs, path, version) match {
      case Some(m) => planManifest(spark, fs, root, m, asOf = eraSchema)
      case None => throw new IllegalArgumentException(
        s"manifest version $version not retained at $path " +
          s"(vacuumed or never published); retained: " +
          s"${FileManifest.versions(fs, path).mkString(", ")}")
    }
  }

  /** Manifest versions still reachable for [[readPinned]] time travel. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.versions(fs, path)
  }

  /** Bring the per-file BLOOM key index up to date — the point-lookup
    * companion to [[refreshStats]]: range stats only prune after a
    * [[clusterBy]]; the bloom index prunes by CONTENT on any layout.
    * O(new files); see [[FileBloomIndex]]. */
  def refreshKeyIndex(spark: SparkSession, path: String,
                      keyCol: String): Int =
    FileBloomIndex.refresh(spark, path, keyCol)

  /** The bloom-prune planning step shared by [[readPinnedKeyed]] and
    * [[deleteKeys]]: resolve the (optionally dir-pruned) manifest, load
    * ONLY the touched partitions' index shards, and keep the files
    * whose filter might hold one of `values` — hashing each probe with
    * the TYPE its file's entry was built with (a mismatched hash type
    * would be a bloom false negative: silently dropped rows). */
  private def bloomPrune(fs: org.apache.hadoop.fs.FileSystem, path: String,
      keyCol: String, values: Seq[Any],
      dirPred: Option[String => Boolean],
      version: Option[Long] = None): (FileManifest.Manifest, Seq[String]) = {
    val m = dirPred match {
      case Some(p) =>
        val v = version.getOrElse(
          FileManifest.latestVersion(fs, path).get)
        FileManifest.atPruned(fs, path, v, p).get
      case None => version match {
        case Some(v) => FileManifest.at(fs, path, v).getOrElse(
          throw new IllegalArgumentException(
            s"manifest version $v not retained at $path"))
        case None => FileManifest.latest(fs, path).get
      }
    }
    val idx = FileBloomIndex.readFor(fs, path, keyCol, m.cur)
    val hashCache = scala.collection.mutable.HashMap
      .empty[org.apache.spark.sql.types.DataType, Seq[Long]]
    // try-semantics: a value not representable in an entry's build type
    // can't exist in that file's column — it probes nothing there (and
    // if NO value is representable, the file is prunable outright)
    def hashes(dt: org.apache.spark.sql.types.DataType): Seq[Long] =
      hashCache.getOrElseUpdate(dt,
        values.flatMap(FileBloomIndex.tryProbeHash(_, dt)))
    val kept = m.cur.filter(rel => idx.get(rel) match {
      case Some(e) => hashes(e.keyType).exists(h =>
        graft.functions.Bloom.mightContain(e.filter, h))
      case None => true // unindexed: always plan — prune only saves work
    })
    (m, kept)
  }

  /** Bloom-pruned POINT-LOOKUP read: plan only the manifest files
    * whose per-file key filter might contain one of `values` — the
    * takedown / audit shape ("fetch these k doc_ids from a 100 TB
    * lake") at O(files actually holding them) + the false-positive
    * rate, on ANY layout (no clustering required). Keys may be of any
    * literal type (Long ids, String URLs/UUIDs/content hashes — real
    * takedown lists are rarely numeric); each probe is hashed with the
    * type its file's index entry recorded, so probing never silently
    * misses on a type mismatch. Files without an index entry are
    * always planned, so the index only ever saves work; the exact IN
    * filter on top keeps the result oracle-exact. `values` is a
    * caller-supplied key list (an input, never collected row data).
    * `dirPred` optionally partition-prunes FIRST — then only the
    * surviving partitions' manifest shards AND index shards are even
    * loaded (both driver-side costs scale with the pruned set). */
  def readPinnedKeyed(spark: SparkSession, path: String, keyCol: String,
                      values: Seq[Any],
                      dirPred: Option[String => Boolean] = None,
                      version: Option[Long] = None): DataFrame = {
    require(values.nonEmpty, "readPinnedKeyed needs at least one key")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(FileManifest.enabled(fs, path),
      s"readPinnedKeyed needs a manifest-mode lake: $path")
    val (m, kept) = bloomPrune(fs, path, keyCol, values, dirPred, version)
    // schema donor chain: a fully-pruned dirPred (or a drained pruned
    // slice) must still answer with the LAKE schema, so fall back to
    // the full manifest's files for the zero-row donor plan
    val full =
      if (kept.nonEmpty || m.cur.nonEmpty) m
      else FileManifest.latest(fs, path).get
    val planned = if (kept.nonEmpty) kept else full.cur.take(1)
    val base = planManifest(spark, fs, root,
      full.copy(cur = planned))
    if (base.columns.isEmpty) base
    else if (kept.isEmpty)
      base.filter(org.apache.spark.sql.functions.lit(false))
    else keyInFilter(base.schema(keyCol).dataType, keyCol, values) match {
      case Some(pred) => base.filter(pred)
      case None => base.filter(org.apache.spark.sql.functions.lit(false))
    }
  }

  /** Exact `keyCol IN values` with every value TRY-cast to the
    * column's actual type DRIVER-SIDE: typed literals mean the planned
    * In needs no runtime coercion cast — under this build's ANSI
    * default, a plan-inserted Cast of an unrepresentable key (a URL in
    * a numeric takedown list) would THROW on the executors instead of
    * not matching. Unrepresentable values can't equal any column value,
    * so they drop out; None when none survive (nothing can match).
    * Built over the unresolved column so the same predicate applies to
    * any plan over the lake schema. */
  private def keyInFilter(dt: org.apache.spark.sql.types.DataType,
      keyCol: String,
      values: Seq[Any]): Option[org.apache.spark.sql.Column] = {
    val typed = values.flatMap(FileBloomIndex.tryCastLiteral(_, dt))
    if (typed.isEmpty) None
    else Some(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.In(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(keyCol)),
        typed)))
  }

  /** Row-level CHANGE FEED between two retained manifest versions: the
    * rows inserted and deleted by the commits in (fromVersion,
    * toVersion], each tagged `_change` = 'insert' | 'delete'. An
    * updated row appears as its old image deleted + its new image
    * inserted (copy-on-write has no in-place update).
    *
    * File-granular and therefore scale-correct: only the files that
    * DIFFER between the two manifests are planned — files present in
    * both versions (untouched by every commit in the window) are never
    * read, so a keyed [[mergeInto]] on a 100 TB lake diffs in
    * O(rewritten files), not O(lake). Within the differing file sets
    * the row delta is an exact multiset difference computed on
    * xxhash64(row) counts — each side shuffles a few bytes per row,
    * never full-width rows; only genuinely-changed rows are carried to
    * the output: survivor rows copied by a rewrite into a new file
    * cancel out, duplicates count per-occurrence. Compaction/cluster commits
    * (pure rewrites) therefore produce an EMPTY feed — the table
    * content didn't change. Both versions must still be retained
    * (within the vacuum grace); fails loudly otherwise, like time
    * travel. */
  def changesBetween(spark: SparkSession, path: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def resolve(v: Long) = FileManifest.at(fs, path, v).getOrElse(
      throw new IllegalArgumentException(
        s"manifest version $v not retained at $path (vacuumed or never " +
          s"published); retained: " +
          s"${FileManifest.versions(fs, path).mkString(", ")}"))
    val a = resolve(fromVersion)
    val b = resolve(toVersion)
    val removed = (a.curSet -- b.curSet).toSeq.sorted
    val added = (b.curSet -- a.curSet).toSeq.sorted
    import org.apache.spark.sql.functions.{abs, coalesce, lit, row_number,
      struct, xxhash64}
    // empty side: keep the lake schema (donor file + filter false) so
    // the diff resolves; a fully-unchanged window yields zero rows
    def planSide(files: Seq[String], dvsOf: FileManifest.Manifest,
                 donorOf: FileManifest.Manifest) =
      if (files.nonEmpty) planManifest(spark, fs, root,
        FileManifest.Manifest(toVersion, files, Nil, dvsOf.dvs))
      else planManifest(spark, fs, root,
        FileManifest.Manifest(toVersion, donorOf.cur.take(1), Nil))
        .filter(lit(false))
    // each side's files carry THAT version's deletion vectors: the
    // diff compares the row sets the two snapshots actually answer
    val addedDf = planSide(added, b, if (b.cur.nonEmpty) b else a)
    val removedDf = planSide(removed, a, if (a.cur.nonEmpty) a else b)
    // HASH-PROJECTED multiset diff, not exceptAll: exceptAll both ways
    // scans each side twice and shuffles FULL-WIDTH rows four times —
    // on a wide table the diff shuffle is 2× the rewritten bytes. Here
    // each side shuffles once as (xxhash64(row), count) — a few bytes
    // per row regardless of width — the per-hash count delta says how
    // many copies changed, and only the rows whose hash actually has a
    // nonzero delta (the real changes, not the survivor copies a
    // rewrite carried over) are shuffled full-width to pick their
    // images: row_number within the hash keeps exactly |delta| of the
    // identical copies. (64-bit row-hash collisions could in principle
    // cross two distinct images; at O(rewritten-file) row counts the
    // probability is ~n²/2⁶⁴ — negligible against the cost of carrying
    // full rows through every shuffle.) Spark's hash expressions SKIP
    // null fields (the running hash passes through unchanged), so
    // hashing the bare values would collide (a=null, b="x") with
    // (a="x", b=null) DETERMINISTICALLY — an update swapping which
    // nullable column holds a value would cancel out of the feed.
    // Interleaving each column's isNull flag (never null itself) hashes
    // the full null mask alongside the values, so two rows collide only
    // on a genuine 64-bit accident.
    val cols = addedDf.columns
    def rowHash(df: DataFrame) =
      df.withColumn("__graft_h", xxhash64(struct(
        cols.flatMap(c => Seq(col(c).isNull, col(c))): _*)))
    def counted(df: DataFrame, n: String) =
      rowHash(df).groupBy(col("__graft_h")).agg(count(lit(1)).as(n))
    val delta = counted(addedDf, "__na")
      .join(counted(removedDf, "__nr"), Seq("__graft_h"), "full_outer")
      .select(col("__graft_h"),
        (coalesce(col("__na"), lit(0L)) - coalesce(col("__nr"), lit(0L)))
          .as("__d"))
      .filter(col("__d") =!= 0L)
    def images(df: DataFrame, insertSide: Boolean, tag: String) = {
      val mine = if (insertSide) delta.filter(col("__d") > 0L)
        else delta.filter(col("__d") < 0L)
      rowHash(df).join(mine, Seq("__graft_h"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("__graft_h")).orderBy(col("__graft_h"))))
        .filter(col("__rn") <= abs(col("__d")))
        .select(cols.map(col): _*)
        .withColumn("_change", lit(tag))
    }
    val fileDiff = images(addedDf, insertSide = true, "insert")
      .unionByName(images(removedDf, insertSide = false, "delete"))
    // MERGE-ON-READ delta: files present in BOTH versions whose DV
    // pointer moved — no file membership changed, but rows did. The
    // exact changed rows are POSITIONAL (new vector ∖ old = deleted in
    // the window; old ∖ new = un-deleted, i.e. restored → inserts), so
    // each such file is read ONCE per direction with a positive
    // dv_deleted(delta) filter selecting just those rows — O(changed
    // vectors' files), never a diff job. Disjoint from the membership
    // diff above by construction.
    val commonDvChanged = (a.curSet & b.curSet).toSeq.sorted
      .filter(rel => a.dvs.get(rel) != b.dvs.get(rel))
    if (commonDvChanged.isEmpty) fileDiff
    else {
      def positions(side: FileManifest.Manifest, rel: String): Set[Long] =
        side.dvs.get(rel)
          .map(DeletionVector.read(fs, path, _).toSet)
          .getOrElse(Set.empty)
      def positional(delta: Map[String, Array[Long]], tag: String) =
        if (delta.isEmpty) None
        else {
          val qRoot = fs.makeQualified(root)
          val t = new java.util.concurrent.ConcurrentHashMap[
            String, Array[Long]]()
          delta.foreach { case (rel, pos) =>
            t.put(new org.apache.hadoop.fs.Path(qRoot, rel).toString,
              pos.sorted): Unit
          }
          import org.apache.spark.sql.graftbridge.ColumnBridge
          val hit = ColumnBridge.column(DvDeleted(
            ColumnBridge.expression(col("_metadata.file_path")),
            ColumnBridge.expression(col("_metadata.row_index")),
            DvLookup.ofTable(spark, t)))
          Some(planManifest(spark, fs, root, // RAW rows: no dvs applied
              FileManifest.Manifest(toVersion, delta.keys.toSeq.sorted, Nil))
            .filter(hit)
            .select(cols.map(col): _*)
            .withColumn("_change", lit(tag)))
        }
      def delta(of: String => Set[Long], minus: String => Set[Long]) =
        commonDvChanged.flatMap { rel =>
          val d = of(rel) -- minus(rel)
          if (d.isEmpty) None else Some(rel -> d.toArray)
        }.toMap
      val dvDeletes = positional(
        delta(positions(b, _), positions(a, _)), "delete")
      val dvInserts = positional(
        delta(positions(a, _), positions(b, _)), "insert")
      (Seq(fileDiff) ++ dvDeletes ++ dvInserts)
        .reduce(_ unionByName _)
    }
  }

  /** Bring the per-file stats sidecar up to date (footer-reads only
    * files added since the last refresh). Maintenance op — run it from
    * the writer sequence, e.g. after compaction or N archive batches.
    * Returns the number of newly statted files. */
  def refreshStats(spark: SparkSession, path: String,
                   tsCol: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileStats.refresh(fs, spark.sparkContext.hadoopConfiguration, path, tsCol)
  }

  /** Refresh the row-count pseudo-column of the stats sidecar
    * ([[FileStats.RowsCol]]) — the writer-side half of [[fastCount]].
    * Incremental: only current files missing an entry get one footer
    * read. Returns the number of newly counted files. */
  def refreshRowCounts(spark: SparkSession, path: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileStats.refresh(fs, spark.sparkContext.hadoopConfiguration, path,
      FileStats.RowsCol)
  }

  /** Metadata-only COUNT(*) for a manifest lake — the
    * `SELECT count(*)` every table format answers without touching a
    * data page: per-file footer row counts served from the stats
    * sidecar (pseudo-column [[FileStats.RowsCol]], refreshed by
    * [[refreshRowCounts]] or the maintenance agent's `statsCols`),
    * minus each current file's deletion-vector cardinality (DV
    * sidecars are KB-scale and cached). Cost is O(files) map lookups —
    * at 100 TB that is thousands of entries, not terabytes of scan.
    *
    * Returns None when any current file lacks a row-count entry (the
    * refresh hasn't caught up to the pinned image): stats are an
    * optimization, never a correctness input, so callers fall back to
    * `readPinned(...).count()` — a stale sidecar can only fail to
    * answer, never answer wrongly (data files are immutable, so a
    * recorded count can never go stale; deletes land as DVs which are
    * subtracted live).
    *
    * DV cost contract: each live vector contributes ONE driver-side
    * sidecar read the first time ([[DeletionVector.cardinality]] —
    * parses only the KB-scale `n` declaration, never the positions;
    * cached per name thereafter), so a fresh count on a
    * heavily-takedown'd lake pays O(live DV files) driver I/O, not
    * O(deleted positions) heap. A lake accumulating vectors past the
    * low-thousands should fold them — [[materializeDeletes]], whose
    * dead-fraction guidance applies: compact when vectors rival file
    * count or dead rows pass ~10% — which also returns this path to
    * pure map lookups. */
  def fastCount(spark: SparkSession, path: String,
                version: Option[Long] = None): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = version match {
      case Some(v) => FileManifest.at(fs, path, v).getOrElse(
        throw new IllegalArgumentException(
          s"manifest version $v not retained at $path"))
      case None => FileManifest.latest(fs, path).getOrElse(
        throw new IllegalStateException(
          s"fastCount needs a manifest-mode lake: $path"))
    }
    fastCountFiles(fs, path, m, m.cur)
  }

  /** [[fastCount]] over an explicit subset of a manifest's current
    * files — the partition-filtered metadata-aggregate path
    * (`SELECT count(*) … WHERE dt = …` deciding files from their
    * `k=v` dirs, [[PartitionPredicate]]). Per-file sidecar row counts
    * minus the subset's DV cardinalities; None if any subset file
    * lacks a fresh entry. An empty subset is exactly zero rows. */
  private[sources] def fastCountFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest,
      rels: Seq[String]): Option[Long] = {
    val stats = FileStats.read(fs, path)
    val perFile = rels.map(rel =>
      stats.get((rel, FileStats.RowsCol)).flatten.collect {
        case FileStats.LongRange(n, _) => n
      })
    if (perFile.exists(_.isEmpty)) return None
    val rows = perFile.map(_.get).sum
    val relSet = rels.toSet
    val dvDeleted = m.dvs.iterator
      .filter { case (rel, _) => relSet(rel) }
      .map { case (_, name) => DeletionVector.cardinality(fs, path, name) }
      .sum
    Some(rows - dvDeleted)
  }

  /** The current snapshot's FILE inventory — one row per current data
    * file with its deletion-vector pointer (null = none) and its
    * sidecar row count (null = not yet refreshed): the table a
    * maintenance dashboard reads to decide compaction/materialization.
    * Pure metadata: the cached manifest + the cached stats sidecar,
    * zero data-file I/O. Surfaced through SQL as
    * ``lake.`/path#files`` ([[LakeCatalog]]). */
  def describeFiles(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"describeFiles needs a manifest-mode lake: $path"))
    val stats = FileStats.read(fs, path)
    import spark.implicits._
    m.cur.sorted.map { rel =>
      (rel, m.dvs.get(rel),
        stats.get((rel, FileStats.RowsCol)).flatten.collect {
          case FileStats.LongRange(n, _) => n
        })
    }.toDF("file", "dv_file", "n_rows")
  }

  /** Metadata-only MIN/MAX for an INT64-statted column — the second
    * aggregate family every table format answers from manifests: the
    * global min is the min of per-file footer minima (stats sidecar,
    * [[refreshStats]]), likewise max. Returns None — callers fall back
    * to the scan — when:
    *  - any current file lacks a fresh, non-sentinel entry for
    *    `column` (stats are an optimization, never a guess);
    *  - ANY live deletion vector exists: a vector may have deleted
    *    exactly the extreme row, and unlike COUNT the answer cannot be
    *    netted from cardinalities — only a scan (or a
    *    [[materializeDeletes]] fold) restores the metadata path;
    *  - the lake has no current files (the scan's NULL is the honest
    *    answer).
    * O(files) cached map lookups, zero data pages. */
  def fastMinMax(spark: SparkSession, path: String, column: String,
                 version: Option[Long] = None): Option[(Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = version match {
      case Some(v) => FileManifest.at(fs, path, v).getOrElse(
        throw new IllegalArgumentException(
          s"manifest version $v not retained at $path"))
      case None => FileManifest.latest(fs, path).getOrElse(
        throw new IllegalStateException(
          s"fastMinMax needs a manifest-mode lake: $path"))
    }
    fastMinMaxFiles(fs, path, m, m.cur, column)
  }

  /** [[fastMinMax]] over an explicit current-file subset (the
    * partition-filtered path). A live DV ON THE SUBSET disqualifies
    * (vectors elsewhere cannot move this subset's extrema); an empty
    * subset bails (the pruned scan's NULL is the honest answer). */
  private[sources] def fastMinMaxFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest, rels: Seq[String],
      column: String): Option[(Long, Long)] = {
    val perFile = statRanges(fs, path, m, rels, column).map(_.map {
      case FileStats.LongRange(mn, mx) => Some((mn, mx))
      case _ => None
    })
    perFile.filter(_.forall(_.isDefined)).map(_.flatten)
      .filter(_.nonEmpty)
      .map(rs => (rs.map(_._1).min, rs.map(_._2).max))
  }

  /** [[fastMinMaxFiles]] for a STRING-statted column: extrema fold
    * under UTF-8-byte unsigned order — parquet's binary comparator and
    * Spark's `UTF8String` ordering, which agree on every string. */
  private[sources] def fastMinMaxStrFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest, rels: Seq[String],
      column: String): Option[(String, String)] = {
    val perFile = statRanges(fs, path, m, rels, column).map(_.map {
      case FileStats.StrRange(mn, mx) => Some((mn, mx))
      case _ => None
    })
    perFile.filter(_.forall(_.isDefined)).map(_.flatten)
      .filter(_.nonEmpty)
      .map(rs => (
        rs.map(_._1).reduce((a, b) => if (FileStats.utf8Lt(a, b)) a else b),
        rs.map(_._2).reduce((a, b) => if (FileStats.utf8Lt(a, b)) b else a)))
  }

  /** [[fastMinMaxFiles]] for a DOUBLE/FLOAT-statted column: bounds
    * touching NaN or ±0.0 were already refused at footer-read time
    * ([[FileStats.DoubleRange]]), so the fold here is plain double
    * min/max. NaN VALUES in the data make the whole file's bound
    * refuse (parquet writers exclude NaN from stats, so a bound could
    * understate) — only the footer's own honesty is trusted. */
  private[sources] def fastMinMaxDblFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest, rels: Seq[String],
      column: String): Option[(Double, Double)] = {
    val perFile = statRanges(fs, path, m, rels, column).map(_.map {
      case FileStats.DoubleRange(mn, mx) => Some((mn, mx))
      case _ => None
    })
    perFile.filter(_.forall(_.isDefined)).map(_.flatten)
      .filter(_.nonEmpty)
      .map(rs => (rs.map(_._1).min, rs.map(_._2).max))
  }

  /** [[fastMinMaxFiles]] for a DECIMAL-statted column: bounds are
    * UNSCALED INT32/INT64 values ([[FileStats.UnscaledRange]] — the
    * distinct type that keeps plain-long consumers from misreading
    * them); unscaled order equals logical order at the column's fixed
    * scale, so the fold is plain long min/max and the TYPED caller
    * (which knows precision/scale) reassembles the decimal. */
  private[sources] def fastMinMaxDecFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest, rels: Seq[String],
      column: String): Option[(Long, Long)] = {
    val perFile = statRanges(fs, path, m, rels, column).map(_.map {
      case FileStats.UnscaledRange(mn, mx) => Some((mn, mx))
      case _ => None
    })
    perFile.filter(_.forall(_.isDefined)).map(_.flatten)
      .filter(_.nonEmpty)
      .map(rs => (rs.map(_._1).min, rs.map(_._2).max))
  }

  /** Metadata-only COUNT(col) — the NON-NULL count — over a
    * current-file subset: per-file footer row count minus per-file
    * footer null count, both from the stats sidecar (the null entry
    * rides every [[refreshStats]] of the column at zero extra I/O).
    * Refused when a live DV sits on the subset (a vector deletes null
    * and non-null rows unevenly — the answer cannot be netted) or any
    * contributing file lacks either entry; a fresh ZERO-rowcount file
    * contributes zero without needing a nulls entry. An empty subset
    * is exactly zero. */
  private[sources] def fastCountColFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest, rels: Seq[String],
      column: String): Option[Long] = {
    val relSet = rels.toSet
    if (m.dvs.exists { case (rel, _) => relSet(rel) }) return None
    val stats = FileStats.read(fs, path)
    val nullsKey = s"${FileStats.NullsPrefix}$column"
    val per: Seq[Option[Long]] = rels.map { rel =>
      stats.get((rel, FileStats.RowsCol)).flatten.collect {
        case FileStats.LongRange(n, _) => n
      } match {
        case Some(0L) => Some(0L)
        case Some(n) => stats.get((rel, nullsKey)).flatten.collect {
          case FileStats.LongRange(k, _) => n - k
        }
        case None => None
      }
    }
    if (per.exists(_.isEmpty)) None else Some(per.map(_.get).sum)
  }

  /** Metadata MIN/MAX for a PARTITION column over a current-file
    * subset: each file's value IS its `k=v` directory name, so the
    * extrema need zero footer stats — but a file only contributes if
    * it demonstrably HOLDS live rows: a fresh NONZERO row-count
    * sidecar entry (an empty file's directory value is not data) and
    * no live deletion vector on the subset (a vector may have emptied
    * a file). Null-partition files (`__HIVE_DEFAULT_PARTITION__`)
    * skip — SQL MIN/MAX ignore NULLs; all-null (or undecodable
    * anywhere) refuses and the scan answers. Values decode
    * type-exactly ([[PartitionPredicate.catalystValue]]); strings
    * compare under UTF-8-byte order like the footer-stats path. */
  private[sources] def fastMinMaxPartFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest, rels: Seq[String],
      column: String,
      dt: org.apache.spark.sql.types.DataType): Option[(Any, Any)] = {
    if (rels.isEmpty) return None
    val relSet = rels.toSet
    if (m.dvs.exists { case (rel, _) => relSet(rel) }) return None
    val stats = FileStats.read(fs, path)
    val counts = rels.map(rel =>
      stats.get((rel, FileStats.RowsCol)).flatten.collect {
        case FileStats.LongRange(n, _) => n
      })
    if (counts.exists(_.isEmpty)) return None
    val live = rels.zip(counts.map(_.get))
      .collect { case (rel, n) if n > 0 => rel }
    val decoded: Seq[Option[Any]] = live.map { rel =>
      for {
        vals <- PartitionPredicate.partitionValues(rel)
        raw <- vals.get(column) // missing key = not this col's layout
        v <- PartitionPredicate.catalystValue(raw, dt)
      } yield v
    }
    if (decoded.exists(_.isEmpty)) return None
    val nonNull = decoded.map(_.get).filter(_ != null)
    if (nonNull.isEmpty) return None
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: java.lang.Integer, y: java.lang.Integer) =>
        x.intValue() < y.intValue()
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) =>
        x.compareTo(y) < 0
      case _ => throw new IllegalStateException(
        s"uncomparable decoded partition values: $a / $b")
    }
    Some((nonNull.reduce((a, b) => if (lt(a, b)) a else b),
      nonNull.reduce((a, b) => if (lt(a, b)) b else a)))
  }

  /** The subset's fresh stat ranges, or None when any contributing
    * file lacks one or a live DV sits on the subset (a vector may
    * have deleted the extreme row — unlike COUNT, extrema cannot be
    * netted from cardinalities). A file with a FRESH ZERO row count
    * is skipped rather than required: an empty file (a repartition
    * artifact) has no footer extrema to record AND no row that could
    * be the extreme — demanding its sentinel entry would refuse the
    * whole subset forever. */
  private def statRanges(fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest, rels: Seq[String],
      column: String): Option[Seq[FileStats.StatRange]] = {
    if (rels.isEmpty) return None
    val relSet = rels.toSet
    if (m.dvs.exists { case (rel, _) => relSet(rel) }) return None
    val stats = FileStats.read(fs, path)
    val contributing = rels.filterNot(rel =>
      stats.get((rel, FileStats.RowsCol)).flatten.contains(
        FileStats.LongRange(0L, 0L)))
    if (contributing.isEmpty) return None // all-empty: scan's NULL answers
    val perFile = contributing.map(rel => stats.get((rel, column)).flatten)
    if (perFile.exists(_.isEmpty)) None else Some(perFile.map(_.get))
  }

  /** DESCRIBE HISTORY for a manifest lake: one row per RETAINED
    * version — commit time (the root's atomic-rename instant), live /
    * retired file counts, and the file-level delta vs the previous
    * retained version (added = new in cur; removed = left cur). Pure
    * metadata: O(retained versions) cached manifest reads, zero data
    * files touched — the operator surface for "what changed, when,
    * and how big is the lake" that every audit/debug session starts
    * with. Tags resolve alongside so a pinned snapshot is visible in
    * the history it pins. */
  def describeHistory(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = FileManifest.versions(fs, path)
    require(vs.nonEmpty, s"describeHistory needs a manifest-mode lake: $path")
    val tagsByV = FileManifest.tags(fs, path)
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.mkString(",")).toMap
    // tolerate a maintenance vacuum racing this read: a version that
    // vanishes between the listing and either metadata read (manifest
    // or root mtime) is SKIPPED, never crashed on and never emitted
    // with a sentinel commit time
    val ms = vs.flatMap(v => scala.util.Try(
      FileManifest.at(fs, path, v)).toOption.flatten)
    val rows = ms.zip(None +: ms.map(Some(_))).flatMap { case (m, prev) =>
      val prevCur = prev.map(_.curSet).getOrElse(Set.empty[String])
      FileManifest.versionMtime(fs, path, m.version).map(mtime =>
        (m.version, mtime,
          m.cur.size.toLong, m.retired.size.toLong,
          prev.map(_ => (m.curSet -- prevCur).size.toLong).getOrElse(
            m.cur.size.toLong),
          prev.map(_ => (prevCur -- m.curSet).size.toLong).getOrElse(0L),
          tagsByV.getOrElse(m.version, ""),
          m.dvs.size.toLong,
          // the SNAPSHOT-ERA schema stamp this version's pins resolve
          // (null = pre-stamp / undeclared-at-commit — era resolution
          // falls back to the present declaration)
          m.schemaV.map(java.lang.Long.valueOf).orNull))
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "n_files", "n_retired",
      "n_added", "n_removed", "tags", "n_dv_files", "schema_version")
  }

  /** The files ADDED by the commits in (fromVersion, toVersion] — the
    * exact scope a change-feed-driven maintenance agent must index.
    * Both versions must still be retained (like time travel). */
  def filesAddedBetween(spark: SparkSession, path: String,
                        fromVersion: Long, toVersion: Long): Seq[String] = {
    require(fromVersion <= toVersion,
      s"filesAddedBetween: fromVersion $fromVersion > toVersion $toVersion")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def resolve(v: Long) = FileManifest.at(fs, path, v).getOrElse(
      throw new IllegalArgumentException(
        s"manifest version $v not retained at $path"))
    (resolve(toVersion).curSet -- resolve(fromVersion).curSet).toSeq.sorted
  }

  /** CHANGE-FEED-DRIVEN index maintenance: bring the stats / key-index
    * entries up to date for exactly the files the commits in
    * (fromVersion, toVersion] added — the shard index already knows
    * them, so the maintenance agent that tails delivered `changes-*`
    * ranges never lists the lake or diffs the full sidecar ("files
    * lacking an entry") to find its work. Idempotent per range: a
    * replayed window finds every file already indexed and does
    * nothing. Returns the number of files newly statted / indexed. */
  def refreshStatsForRange(spark: SparkSession, path: String,
      tsCol: String, fromVersion: Long, toVersion: Long): Int = {
    val added = filesAddedBetween(spark, path, fromVersion, toVersion)
    if (added.isEmpty) return 0
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileStats.refresh(fs, spark.sparkContext.hadoopConfiguration, path,
      tsCol, onlyFiles = Some(added))
  }

  /** [[refreshStatsForRange]] for the bloom key index: builds filters
    * for exactly the range's added files, rewriting only their dirs'
    * shards. */
  def refreshKeyIndexForRange(spark: SparkSession, path: String,
      keyCol: String, fromVersion: Long, toVersion: Long): Int = {
    val added = filesAddedBetween(spark, path, fromVersion, toVersion)
    if (added.isEmpty) return 0
    FileBloomIndex.refresh(spark, path, keyCol, onlyFiles = Some(added))
  }

  /** Stats-pruned pinned read: plan only the manifest files whose
    * footer [min,max] of `tsCol` can overlap [lo, hi] — the
    * within-partition half of scan planning (partition pruning handles
    * (region, dt); this skips cold files inside hot partitions, which
    * is where a 100 TB lake's file count actually lives). Files without
    * a stats entry are always planned, so pruning can only save work,
    * never drop rows; the exact row-level filter is applied on top. */
  def readPinnedRange(spark: SparkSession, path: String, tsCol: String,
                      lo: Long, hi: Long): DataFrame =
    readPinnedBox(spark, path, Seq((tsCol, lo, hi)))

  /** Multi-dimension stats-pruned pinned read: plan only the files
    * whose footer [min,max] can overlap EVERY (col, lo, hi) bound —
    * the box query a Z-ordered layout ([[clusterByZ]]) answers with
    * few files, because interleaved ordering keeps every clustered
    * column's per-file span tight simultaneously. Prunes intersect
    * (a file must survive every bound to be planned); a missing or
    * sentinel stats entry plans the file — pruning only ever saves
    * work. Row-exact filtering on every bound is applied on top. */
  def readPinnedBox(spark: SparkSession, path: String,
                    bounds: Seq[(String, Long, Long)]): DataFrame = {
    require(bounds.nonEmpty, "readPinnedBox needs at least one bound")
    bounds.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"empty range on $c: [$lo, $hi]") }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"readPinnedBox needs a manifest-mode lake: $path"))
    val stats = FileStats.read(fs, path)
    val kept = m.cur.filter(rel =>
      bounds.forall { case (c, lo, hi) =>
        stats.get((rel, c)) match {
          case Some(Some(FileStats.LongRange(mn, mx))) =>
            mx >= lo && mn <= hi
          case _ => true // no entry / unstattable sentinel: always plan
        }
      })
    // everything pruned (or cur empty): planManifest's schema-donor
    // path keeps the lake schema from one still-on-disk file, so the
    // row filter below can resolve its columns; truly-empty lakes yield
    // a zero-column frame that must skip the filter
    val planned = if (kept.nonEmpty) kept else m.cur.take(1)
    val base = planManifest(spark, fs, root, m.copy(cur = planned))
    import org.apache.spark.sql.functions.col
    if (base.columns.isEmpty) base
    else base.filter(bounds.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi }.reduce(_ && _))
  }

  /** @param asOf resolve the declared schema AS OF the manifest's
    *        commit (its schema stamp) instead of the lake's present
    *        declaration — the time-travel path; stamp-less manifests
    *        fall back to the present declaration either way. */
  /** Force every field (and nested struct/array/map element) nullable —
    * what Spark's own inference yields for file sources, so a footer-
    * resolved read schema is indistinguishable from an inferred one. */
  private def forceNullable(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = forceNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = forceNullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = forceNullable(m.keyType),
        valueType = forceNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The Spark-serialized schema from one data file's parquet footer,
    * read on the DRIVER (no Spark job — ~1 ms against the local FS /
    * one footer fetch on an object store). Spark writes the exact
    * StructType into every footer under `spark.sql.parquet.row.metadata`
    * and its own inference prefers that key, so for engine-written
    * lakes this IS what `spark.read.parquet` would infer — minus the
    * 1-task inference job per plan. None for absent files or foreign
    * parquet without the key (callers fall back to inference). */
  private def footerDataSchema(spark: SparkSession,
      file: Option[org.apache.hadoop.fs.Path])
      : Option[org.apache.spark.sql.types.StructType] =
    file.flatMap { p =>
      scala.util.Try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(p, spark.sparkContext.hadoopConfiguration)
        val footer = org.apache.spark.sql.execution.datasources.parquet
          .ParquetFooterReader.readFooter(in,
            org.apache.parquet.format.converter.ParquetMetadataConverter
              .SKIP_ROW_GROUPS)
        Option(footer.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          .map(json => forceNullable(
            org.apache.spark.sql.types.DataType.fromJson(json))
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      }.toOption.flatten
    }

  /** First data file under `p` (descending into partition dirs),
    * skipping hidden/marker entries — the footer donor for
    * [[readParquetFooterSchema]]. Driver-side listing only. */
  private def firstDataFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, depth: Int = 0)
      : Option[org.apache.hadoop.fs.Path] =
    scala.util.Try {
      val st = fs.getFileStatus(p)
      if (st.isFile) {
        if (p.getName.endsWith(".parquet") || p.getName.startsWith("part-"))
          Some(p)
        else None
      } else if (depth > 8) None
      else fs.listStatus(p).sortBy(_.getPath.getName)
        .iterator
        .filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap(s => firstDataFile(fs, s.getPath, depth + 1))
        .nextOption()
    }.toOption.flatten

  /** `spark.read.parquet(path)` with the DATA schema resolved from one
    * footer on the DRIVER (r21, same mechanism as [[planManifest]]'s
    * undeclared-lake path): engine-written files carry the exact
    * serialized StructType, so this skips the 1-task schema-inference
    * Spark job every otherwise-uncached plan of the path would launch.
    * Partition-directory columns stay inferred exactly as before (the
    * footer schema holds data columns only). Falls back to plain
    * inference for foreign/footerless files. For ENGINE artifact and
    * fixture reads on hot query paths — manifest lakes go through
    * [[readPinned]], base tables through the Tables memo. */
  def readParquetFooterSchema(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    footerDataSchema(spark, firstDataFile(fs, p))
      .map(s => spark.read.schema(s).parquet(path))
      .getOrElse(spark.read.parquet(path))
  }

  private def planManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      m: FileManifest.Manifest, asOf: Boolean = false): DataFrame = {
    val qRoot = fs.makeQualified(root)
    // declared-schema lakes plan every file against the committed table
    // schema: columns added by evolution backfill null in pre-evolution
    // files, widened columns are promoted by the parquet reader itself
    // (INT32 file → LONG schema), and no footer-merge job runs — one
    // shape for every file regardless of age (see [[SchemaLog]])
    val declared =
      if (asOf)
        m.schemaV.map(sv => SchemaLog.at(fs, root.toString, sv))
          .orElse(SchemaLog.latest(fs, root.toString))
      else SchemaLog.latest(fs, root.toString)
    if (m.cur.nonEmpty) {
      // renamed columns scan under the PHYSICAL read schema (declared
      // + retired names) and fold back to the declared shape after the
      // DV filter — metadata-only renames, one scan for every era.
      // UNDECLARED lakes (no SchemaLog) resolve their data schema from
      // ONE footer on the DRIVER (r21 optimization): every lake file is
      // Spark-written, so its footer carries the exact serialized
      // StructType — reading it here costs ~1 ms of driver time and
      // removes the 1-task schema-inference Spark JOB spark.read would
      // otherwise launch on EVERY plan of every undeclared lake (the
      // h-family paid 2 such jobs per gate). `.asNullable` matches what
      // inference produces (file-source relations force nullable), and
      // partition-directory columns stay INFERRED exactly as before —
      // a user-specified data schema never suppresses basePath
      // partition discovery. Footerless/foreign files fall back to the
      // old inference path unchanged.
      val base = declared match {
        case Some(s) => spark.read.schema(SchemaLog.physicalReadSchema(s))
        case None =>
          footerDataSchema(spark, m.cur.sorted.headOption.map(rel =>
              new org.apache.hadoop.fs.Path(qRoot, rel)))
            .map(spark.read.schema(_))
            .getOrElse(spark.read)
      }
      val scan = base.option("basePath", qRoot.toString)
        .parquet(m.cur.sorted.map(rel =>
          new org.apache.hadoop.fs.Path(qRoot, rel).toString): _*)
      // merge-on-read deletes: filter each file's deletion-vector
      // positions out of the scan (pointers for files outside this
      // plan's cur are irrelevant — planners routinely plan subsets)
      val curSet = m.curSet
      val dvApplied = applyDvs(scan, fs, qRoot, root.toString,
        m.dvs.filter { case (rel, _) => curSet(rel) })
      declared.map(SchemaLog.applyAliases(dvApplied, _))
        .getOrElse(dvApplied)
    } else if (declared.isDefined) {
      // empty CURRENT set: the declared schema IS the lake schema — no
      // donor file needed, zero rows by construction
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), declared.get)
    } else {
      // empty CURRENT set (fully-expired lake, or fresh manifest before
      // the first batch): keep the lake SCHEMA when any retired file is
      // still on disk — downstream readers filter on dt/ts columns and a
      // zero-column emptyDataFrame would fail their analysis. Zero rows
      // by construction (filter false); only footer metadata is read.
      val schemaDonor = m.retired.map(_._2).sorted.iterator
        .map(rel => new org.apache.hadoop.fs.Path(qRoot, rel))
        .find(p => scala.util.Try(fs.exists(p)).getOrElse(false))
      schemaDonor match {
        case Some(p) =>
          spark.read.option("basePath", qRoot.toString).parquet(p.toString)
            .filter(org.apache.spark.sql.functions.lit(false))
        case None =>
          // no donor bytes anywhere: fall back to SCHEMA MEMORY (the
          // snapshot vacuum took before destroying the last donor) so
          // the lake keeps its shape — a zero-column frame here makes
          // every later `select` die unresolved (round-17 deep-fuzz
          // find: delete-all + grace-0 vacuum + read)
          SchemaLog.readMemory(fs, root.toString) match {
            case Some(s) => spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), s)
            case None => spark.emptyDataFrame // nothing at all to infer from
          }
      }
    }
  }

  /** Filter `dvs`' deletion-vector positions out of a parquet scan:
    * `!dv_deleted(_metadata.file_path, _metadata.row_index)` — a
    * codegen predicate over a broadcast-small position table
    * ([[DvLookup]]). No-op (and no metadata column) when no file in
    * the plan carries a vector, so DV-free lakes plan exactly as
    * before. */
  private def applyDvs(df: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem, qRoot: org.apache.hadoop.fs.Path,
      path: String, dvs: Map[String, String]): DataFrame =
    if (dvs.isEmpty) df
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val lookup = DvLookup.forFiles(df.sparkSession, fs, qRoot, path, dvs)
      val deleted = ColumnBridge.column(DvDeleted(
        ColumnBridge.expression(col("_metadata.file_path")),
        ColumnBridge.expression(col("_metadata.row_index")),
        lookup))
      df.filter(!deleted)
    }

  /** The lake's directory partitioning with LAYOUT MEMORY: the
    * declared partitioning when one exists, else the uniform `k=v`
    * scheme of the CURRENT files, else — a fully-truncated lake — of
    * the RETIRED files still recorded in the manifest. A lake must not
    * forget its layout because a restatement/delete emptied it: the
    * next insert would land unpartitioned and every dir-pruned read
    * would go blind to its rows (caught by the round-16 deep fuzz,
    * seed 509). Mixed historical schemes still fail loudly through
    * [[uniformPartCols]]'s own check. */
  private[sources] def lakeLayout(fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: FileManifest.Manifest): Seq[String] =
    FileManifest.declaredPartitioning(fs, path).getOrElse {
      val donors =
        if (m.cur.nonEmpty) m.cur else m.retired.map(_._2).distinct
      if (donors.isEmpty) Seq.empty[String]
      else uniformPartCols(path, donors)
    }

  /** Directory-encoded partition columns of `affected`'s layout,
    * validated uniform — every copy-on-write rewrite stages through
    * `partitionBy(these)`, so a mixed scheme would write an ambiguous
    * layout and must fail loudly up front. */
  private def uniformPartCols(path: String,
                              affected: Seq[String]): Seq[String] = {
    def dirOf(rel: String): String =
      rel.take(math.max(rel.lastIndexOf('/'), 0))
    def partColsOf(rel: String): Seq[String] =
      dirOf(rel).split('/').filter(_.contains('='))
        .map(_.takeWhile(_ != '=')).toSeq
    val partCols = partColsOf(affected.head)
    require(affected.forall(partColsOf(_) == partCols),
      s"mixed partition schemes under $path: " +
        affected.map(dirOf).distinct.take(4).mkString(", "))
    partCols
  }

  /** The one way every rewrite pass reads an explicit subset of a
    * manifest's current files: schema-governed reader + the subset's
    * deletion vectors applied — a rewrite that scanned around either
    * would resurrect rows or drop columns. Pair with [[dvSeenOf]] at
    * commit time. */
  private def rewriteScan(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, qRoot: org.apache.hadoop.fs.Path,
      path: String, m: FileManifest.Manifest,
      affected: Seq[String]): DataFrame = {
    val affectedSet = affected.toSet
    val scan = applyDvs(rewriteReader(spark, fs, path)
        .option("basePath", qRoot.toString)
        .parquet(affected.map(rel =>
          new org.apache.hadoop.fs.Path(qRoot, rel).toString): _*),
      fs, qRoot, path,
      m.dvs.filter { case (rel, _) => affectedSet(rel) })
    // renamed columns fold back to the declared shape, so every
    // copy-on-write rewrite converges files to the NEW physical name
    // (an alias-blind rewrite would write the new column all-null)
    SchemaLog.latest(fs, path)
      .map(SchemaLog.applyAliases(scan, _)).getOrElse(scan)
  }

  /** The DV pointers a rewrite's scan applied, declared at commit so a
    * vector landing mid-rewrite conflicts loudly
    * ([[FileManifest.commitDelta]]'s `dvSeen`). */
  private def dvSeenOf(m: FileManifest.Manifest,
      affected: Seq[String]): Map[String, Option[String]] =
    affected.map(rel => rel -> m.dvs.get(rel)).toMap

  /** The parquet reader for REWRITE passes over lake files: the
    * declared table schema when the lake has one (projection + reader
    * widening + null backfill — so every rewritten file converges to
    * the declared shape as a side effect of normal maintenance), else
    * a footer-merge bounded to the slice being rewritten (the union of
    * its columns; single-footer inference would silently drop a
    * mid-life column from every rewritten row). */
  private def rewriteReader(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): org.apache.spark.sql.DataFrameReader =
    SchemaLog.latest(fs, path) match {
      // physical read schema: renamed columns' retired names scan too
      // (callers fold back via applyAliases — rewriteScan does; the
      // legacy directory-mode caller can never see a declared schema,
      // since declaring requires manifest mode)
      case Some(s) => spark.read.schema(SchemaLog.physicalReadSchema(s))
      case None => spark.read.option("mergeSchema", "true")
    }

  /** Manifest-mode compaction: ADD the compacted files, RETIRE the old
    * ones, flip the manifest version — no live file ever moves, so
    * in-flight pinned scans are undisturbed. Crash-safe without an
    * intent file: until the single atomic manifest publish, the moved
    * staged files are unreferenced orphans (invisible to [[readPinned]],
    * reclaimed by [[vacuum]]), and a re-run sweeps same-version leftovers
    * before renaming, so the converged state is exactly one copy. */
  private def compactPinned(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, qRoot: org.apache.hadoop.fs.Path,
      path: String, keyCols: Seq[String], tsCol: String,
      predicate: org.apache.spark.sql.Column): Unit = {
    val matching = matchPartitions(spark, fs, qRoot, predicate)
    if (matching.isEmpty) return
    val matchedSet = matching.toSet
    def dirOf(rel: String): String =
      rel.take(math.max(rel.lastIndexOf('/'), 0))
    val m = FileManifest.latest(fs, path).get
    val oldMatched = m.cur.filter(rel => matchedSet(dirOf(rel)))
    if (oldMatched.isEmpty) return
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(compactStagingDir(path)))
    fs.delete(stage, true): Unit
    // the slice is exactly the manifest's current files — an uncommitted
    // batch racing this compaction is neither read nor retired
    val slice = rewriteScan(spark, fs, qRoot, path, m, oldMatched)
    writeCompacted(slice, keyCols, tsCol, compactStagingDir(path))
    // move staged output into the live dirs under version-tagged unique
    // names (deterministic per attempt, so a crashed attempt's leftovers
    // sweep cleanly on re-run)
    val tag = s"c${m.version + 1}-"
    val stagedDirs = FileManifest.listPartitionDirs(fs, stage)
    val moves: Seq[(String, Seq[(org.apache.hadoop.fs.Path, String)])] =
      stagedDirs.map { rel =>
        val files = fs.listStatus(
            new org.apache.hadoop.fs.Path(stage, rel))
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(_.getPath).sortBy(_.toString).toSeq
        rel -> files.zipWithIndex.map { case (src, i) =>
          src -> s"${tag}p$i.parquet"
        }
      }
    LakeCommit.foreachPar(moves) { case (rel, files) =>
      val destDir = new org.apache.hadoop.fs.Path(qRoot, rel)
      fs.mkdirs(destDir): Unit
      val leftovers = fs.globStatus(
        new org.apache.hadoop.fs.Path(destDir, tag + "*"))
      if (leftovers != null)
        leftovers.foreach(s => fs.delete(s.getPath, false))
      files.foreach { case (src, name) =>
        val dest = new org.apache.hadoop.fs.Path(destDir, name)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"promote failed: $src -> $dest")
      }
    }
    val movedRels = moves.flatMap { case (rel, files) =>
      files.map { case (_, name) => s"$rel/$name" } }
    // re-read before publishing: in-line maintenance sequences archive
    // batches between the slice read and here — their files are in the
    // newer cur and NOT in oldMatched, so they are retained; the
    // optimistic delta commit re-bases over any commit that landed
    // since the slice read and detects true write-write conflicts
    // (a concurrent rewrite of one of oldMatched) loudly
    FileManifest.commitDelta(fs, path, movedRels, oldMatched,
      dvSeen = dvSeenOf(m, oldMatched)): Unit
    fs.delete(stage, true): Unit
  }

  /** Physically reclaim manifest-mode garbage past `graceMs`: RETIRED
    * files (superseded by compaction/expiry — a grace period long enough
    * for any in-flight scan keeps pinned reads valid), ORPHAN files
    * (landed but never committed — crashed writers), STAGED leftovers of
    * crashed copy-on-write attempts under `_staging`, stale manifest
    * versions, and now-empty partition dirs. Returns
    * (retired deleted, orphans deleted). Run it like any writer: from
    * the lake's single writer sequence. */
  /** @param keepVersions manifest roots NEVER swept regardless of age
    *        — the consumer-dependency pin (a change feed's high-water
    *        baseline must stay resolvable until its next delivery
    *        advances it; [[graft.MaintenanceMain]] passes the feed's
    *        high water here). Unlike a tag this pins only the ROOT
    *        (cheap metadata): the grace window remains what protects
    *        the diffable FILES, so size it to the delivery cadence.
    * @param fence invoked immediately BEFORE each delete batch — the
    *        lease fencing hook ([[MaintenanceLease.checkFence]]): a
    *        zombie pass that outlived its TTL throws out of the sweep
    *        instead of deleting under a successor's lease. Default
    *        no-op for unleased callers.
    *
    * TWO-PHASE DATA DELETES (VERDICT r19 #5): check-then-delete is not
    * atomic — a pass can lose its lease between a fence that passed and
    * the removal it guarded. So the DATA-file batches (expired retired
    * files, orphans, stale staged bytes) never delete directly: each
    * batch RENAMES its victims into a pass-tokened trash dir under
    * `_manifests/trash/<pass>/` (invisible to readers and orphan scans),
    * and the only irreversible step — purging this pass's trash — runs
    * once at pass end behind its own fence. A zombie fenced out (or
    * crashed) mid-sweep therefore leaves every byte it touched
    * restorable ([[restoreTrash]]); abandoned trash of such passes is
    * reclaimed by a later vacuum once past `graceMs`. Residual honesty:
    * the fence→purge window still exists, but it now only destroys
    * bytes this pass's own completed, fence-checked sweep already
    * condemned — bytes any successor's vacuum would purge too — never
    * bytes a successor might still be serving. Metadata removals (stale
    * manifest versions, unreferenced shard/DV sidecars, emptied dirs)
    * keep direct deletes: each is guarded by reference counting against
    * RETAINED versions, so a stale pass can only remove what nothing
    * resolvable references. */
  def vacuum(spark: SparkSession, path: String, graceMs: Long,
             keepVersions: Set[Long] = Set.empty,
             fence: () => Unit = () => ()): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"vacuum needs a manifest-mode lake (enableManifests): $path"))
    val now = System.currentTimeMillis()
    val cutoff = now - graceMs
    val trashRoot = new org.apache.hadoop.fs.Path(
      FileManifest.manifestDir(path), "trash")
    val passToken = f"pass-$now%013d-${
      java.util.UUID.randomUUID().toString.take(8)}"
    val passTrash = new org.apache.hadoop.fs.Path(trashRoot, passToken)
    // rename-into-trash instead of delete: restorable until the
    // fence-guarded purge at pass end; a vanished source is a no-op
    // (delete parity — another sweep already reclaimed it)
    def toTrash(rel: String): Unit = {
      val src = new org.apache.hadoop.fs.Path(qRoot, rel)
      // a vanished source is delete-parity no-op — e.g. a file a fenced
      // predecessor already moved to ITS trash (rename, unlike delete,
      // throws on a missing source)
      if (!fs.exists(src)) return
      val dest = new org.apache.hadoop.fs.Path(passTrash, rel)
      fs.mkdirs(dest.getParent): Unit
      if (!fs.rename(src, dest) && fs.exists(src))
        throw new java.io.IOException(s"trash rename failed: $src -> $dest")
    }
    // tagged versions are PINNED: every data file a tagged manifest
    // still references survives vacuum regardless of age, and the
    // tagged version file itself is kept below — so a tag makes a
    // snapshot durably reproducible (training-corpus provenance) while
    // untagged history ages out normally. Cost: one tags-dir listing +
    // one cached manifest read per tag — O(tags), never O(lake).
    val taggedVs = FileManifest.taggedVersions(fs, path)
    val tagPinned: Set[String] = taggedVs.flatMap(v =>
      FileManifest.at(fs, path, v).map(_.curSet).getOrElse(Set.empty))
    val (expired, kept) = m.retired.partition { case (ts, rel) =>
      ts <= cutoff && !tagPinned(rel) }
    // SCHEMA MEMORY: an UNDECLARED lake's schema lives only in its
    // data-file footers — this reclaim may destroy the last donor
    // (empty current set + every retired byte expired), after which a
    // pinned read would degrade to a zero-column frame. Snapshot the
    // current read shape BEFORE deleting so the lake never forgets it
    // (the schema twin of lakeLayout's retired-file fallback; see
    // SchemaLog.readMemory). Declared lakes never need it; an empty
    // inferred shape (nothing readable even now) must not overwrite a
    // previously-written memory. Trigger ONLY when the current set is
    // empty — the one state where the reclaimed retired files can be
    // the last schema donors; while any current file exists, it keeps
    // donating, so the footer-analysis pass here would be pure cost on
    // every routine vacuum (ADVICE r17). The final delete-all-then-
    // vacuum necessarily passes through the empty-cur state, so the
    // memory is still written before the last donor dies.
    if (expired.nonEmpty && m.cur.isEmpty &&
        SchemaLog.latest(fs, path).isEmpty) {
      val shape = planManifest(spark, fs, root, m).schema
      if (shape.nonEmpty) SchemaLog.writeMemory(fs, path, shape)
    }
    fence()
    LakeCommit.foreachPar(expired.map(_._2))(toTrash)
    val known = m.curSet ++ m.retiredSet
    val orphans = FileManifest.listLiveFiles(fs, path)
      .filterNot(known)
      .filter { rel =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(qRoot, rel))
        st.getModificationTime <= cutoff
      }
    fence()
    LakeCommit.foreachPar(orphans)(toTrash)
    // crashed copy-on-write attempts (delete/merge/cluster/compact)
    // leave staged files under _staging — hidden from the data listing
    // above, swept by the NEXT same-op run, but an op that never runs
    // again would leak them forever; reclaim past grace like any orphan
    val stagingRoot = new org.apache.hadoop.fs.Path(qRoot, "_staging")
    val staleStaged: Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(stagingRoot)) Nil
      else {
        def walk(p: org.apache.hadoop.fs.Path)
            : Seq[org.apache.hadoop.fs.FileStatus] =
          fs.listStatus(p).toSeq.flatMap { s =>
            if (s.isDirectory) walk(s.getPath) else Seq(s)
          }
        walk(stagingRoot).filter(_.getModificationTime <= cutoff)
          .map(_.getPath)
      }
    fence()
    LakeCommit.foreachPar(staleStaged) { p =>
      toTrash(qRoot.toUri.relativize(fs.makeQualified(p).toUri).getPath)
    }
    // the retire-prune publish gets the same fencing discipline as
    // the delete batches (ADVICE r19): a pass whose lease expired
    // after the last batch fence must not publish a manifest built
    // from its pass-start snapshot under a successor's lease —
    // version-collision keeps the direct race loud, but fencing here
    // stops the zombie before it even contends
    fence()
    if (expired.nonEmpty)
      FileManifest.publish(fs, path,
        FileManifest.Manifest(m.version + 1, m.cur, kept, m.dvs))
    // stale manifest versions past grace (a reader pinned to an old
    // version within grace still resolves it)
    fence()
    val latestNow = FileManifest.latestVersion(fs, path).getOrElse(m.version)
    fs.listStatus(new org.apache.hadoop.fs.Path(
        FileManifest.manifestDir(path)))
      .foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("v") && n.endsWith(".manifest") &&
            scala.util.Try(n.stripPrefix("v").stripSuffix(".manifest")
              .toLong).toOption
              .exists(v => v < latestNow && !taggedVs(v) &&
                !keepVersions(v)) &&
            s.getModificationTime <= cutoff)
          fs.delete(s.getPath, false): Unit
      }
    // shard files no RETAINED version references (left by vacuumed
    // versions whose shards nothing else reuses, or by crashed sharded
    // publishes) past grace — same orphan discipline as data files
    fence()
    val refShards = FileManifest.referencedShards(fs, path)
    FileManifest.listShardFiles(fs, path)
      .filter { case (name, mtime) => !refShards(name) && mtime <= cutoff }
      .foreach { case (name, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(
          FileManifest.shardsDir(path), name), false): Unit
      }
    // deletion-vector sidecars no RETAINED version references
    // (superseded vectors, vectors of rewritten/vacuumed files, crashed
    // DV-commit attempts) past grace — tagged versions are retained, so
    // their vectors stay pinned alongside their data files
    fence()
    val refDvs = DeletionVector.referencedDvs(fs, path)
    DeletionVector.listDvFiles(fs, path)
      .filter { case (name, mtime) => !refDvs(name) && mtime <= cutoff }
      .foreach { case (name, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(
          DeletionVector.dvsDir(path), name), false): Unit
      }
    // bloom-index shards of VANISHED partitions (no live or retired
    // file left under their dir — e.g. after expirePartitions): refresh
    // never rewrites a dir that gains no files, so without this the
    // ~24 KB/entry shards of dead partitions would accrete forever
    val liveDirs = (m.cur ++ kept.map(_._2))
      .map(FileManifest.entryDir).toSet
    fence()
    FileBloomIndex.vacuumShards(fs, path, liveDirs, cutoff): Unit
    // drop emptied partition dirs (an expired partition after its files
    // are reclaimed), then emptied region parents
    fence()
    FileManifest.listPartitionDirs(fs, qRoot)
      .map(rel => new org.apache.hadoop.fs.Path(qRoot, rel))
      .filter(p => fs.listStatus(p).isEmpty)
      .foreach(p => fs.delete(p, false): Unit)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(qRoot, "*")))
      .getOrElse(Array.empty)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("region=") &&
        fs.listStatus(s.getPath).isEmpty)
      .foreach(s => fs.delete(s.getPath, false): Unit)
    // emptied staging subdirs (their stale files reclaimed above)
    if (fs.exists(stagingRoot))
      fs.listStatus(stagingRoot)
        .filter(s => s.isDirectory && fs.listStatus(s.getPath).isEmpty)
        .foreach(s => fs.delete(s.getPath, false): Unit)
    // the ONLY irreversible step of the data sweep: purge this pass's
    // trash behind one more fence — a pass fenced out here leaves its
    // renames restorable; then reclaim trash ABANDONED by crashed or
    // fenced predecessors once past grace (their restore window)
    fence()
    fs.delete(passTrash, true): Unit
    if (fs.exists(trashRoot))
      fs.listStatus(trashRoot)
        .filter(t => t.isDirectory && t.getPath.getName != passToken &&
          t.getModificationTime <= cutoff)
        .foreach(t => fs.delete(t.getPath, true): Unit)
    (expired.size, orphans.size + staleStaged.size)
  }

  /** Restore every file still sitting in vacuum's two-phase trash
    * (`_manifests/trash/<pass>/` — left by passes that crashed or were
    * lease-fenced mid-sweep) back to its original lake-relative path.
    * A destination that already exists is left alone (the file was
    * re-created since; its trash copy stays for the next reclaim).
    * Returns the number of files restored. Run it like any writer:
    * from the lake's single writer sequence. */
  def restoreTrash(spark: SparkSession, path: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val trashRoot = new org.apache.hadoop.fs.Path(
      FileManifest.manifestDir(path), "trash")
    if (!fs.exists(trashRoot)) return 0
    var restored = 0
    fs.listStatus(trashRoot).filter(_.isDirectory).foreach { pass =>
      def walk(p: org.apache.hadoop.fs.Path)
          : Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
        }
      val passUri = fs.makeQualified(pass.getPath).toUri
      var leftBehind = false // spare the second recursive listing walk
      walk(pass.getPath).foreach { f =>
        val rel = passUri.relativize(fs.makeQualified(f).toUri).getPath
        val dest = new org.apache.hadoop.fs.Path(qRoot, rel)
        if (fs.exists(dest)) leftBehind = true
        else {
          fs.mkdirs(dest.getParent): Unit
          if (fs.rename(f, dest)) restored += 1 else leftBehind = true
        }
      }
      // drop the pass dir if everything left it
      if (!leftBehind) fs.delete(pass.getPath, true): Unit
    }
    restored
  }

  def deleteStagingDir(path: String): String = s"$path/_staging/delete"

  /** Copy-on-write ROW delete: remove the rows matching `predicate`
    * from a manifest-mode lake by rewriting ONLY the files that hold
    * them — the takedown/right-to-be-forgotten half of the lifecycle
    * that [[expirePartitions]] (whole partitions) and compaction
    * (layout) don't cover. SQL DELETE semantics: a row is deleted iff
    * the predicate is TRUE — NULL keeps the row.
    *
    * Two passes, both file-granular: (1) one column-pruned scan of the
    * manifest's current files finds which files contain matches (the
    * collect is bounded by the AFFECTED FILE count, never row data);
    * (2) one job rewrites just those files minus the matching rows into
    * staging, preserving the partition-directory layout. The commit is
    * the usual single atomic manifest flip: rewritten files enter CUR,
    * originals move to RETIRED — so in-flight pinned scans are
    * undisturbed, [[readPinned]] time travel to the pre-delete version
    * still answers (until [[vacuum]]'s grace passes — the compliance
    * clock starts at vacuum, not at delete), and a crash before publish
    * leaves only unreferenced staged orphans; a re-run sweeps its own
    * version-tagged leftovers, so the converged state is one copy.
    *
    * At 100 TB the cost is proportional to the files the predicate
    * touches, not the lake: a keyed delete against an id-clustered
    * layout rewrites a handful of files. Run from the lake's single
    * writer sequence (same discipline as every maintenance op).
    *
    * @return (files rewritten-or-retired, rows deleted) */
  def deleteWhere(spark: SparkSession, path: String,
                  predicate: org.apache.spark.sql.Column): (Int, Long) =
    deleteImpl(spark, path, predicate, None)

  /** KEYED takedown: [[deleteWhere]] for an explicit key list, with the
    * pass-1 match scan bloom-pruned through the per-file key index
    * ([[refreshKeyIndex]]) when one exists — on an unclustered 100 TB
    * lake that turns "scan the lake to find the victims' files" into
    * "scan the files whose filter might hold a victim" (+ the
    * false-positive rate). Correctness is layout- and index-
    * independent: a filter has no false negatives, unindexed files are
    * always scanned, and the rewrite itself applies the exact IN
    * predicate — so a stale or absent index only costs scan width.
    * Keys may be of any literal type (takedown lists are usually
    * URLs / UUIDs / content-hash strings, not numeric ids); probes
    * hash with each entry's recorded build type. `values` is a
    * caller-supplied takedown list (an input, never collected row
    * data). */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
                 values: Seq[Any]): (Int, Long) = {
    require(values.nonEmpty, "deleteKeys needs at least one key")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(FileManifest.enabled(fs, path),
      s"deleteKeys needs a manifest-mode lake (enableManifests): $path")
    val (m, candidates) = bloomPrune(fs, path, keyCol, values, None)
    if (candidates.isEmpty) return (0, 0L)
    // type the IN list against the actual column (schema from one
    // footer) so an unrepresentable key matches nothing instead of
    // throwing an ANSI cast error mid-takedown
    val probe = planManifest(spark, fs, root, m.copy(cur = m.cur.take(1)))
    if (probe.columns.isEmpty) return (0, 0L)
    keyInFilter(probe.schema(keyCol).dataType, keyCol, values) match {
      case Some(pred) => deleteImpl(spark, path, pred, Some(candidates))
      case None => (0, 0L)
    }
  }

  /** MERGE-ON-READ row delete: remove the rows matching `predicate`
    * by writing per-file DELETION VECTORS ([[DeletionVector]]) instead
    * of rewriting data — one column-pruned scan collects the victims'
    * (file, row position) pairs, one sidecar lands per affected file
    * (the union of its existing vector and the new positions), and one
    * optimistic commit swaps the pointers. ZERO data bytes move: a
    * takedown of k rows spread over j multi-GB files costs j few-KB
    * sidecars and a manifest flip, where [[deleteWhere]] rewrites all
    * j files — at 100 TB the difference between seconds and a rewrite
    * job. Readers apply vectors inline (every pinned/keyed/time-travel
    * read, rewrite, and the change feed); [[materializeDeletes]]
    * folds vectors back into data when a file's dead fraction warrants.
    *
    * The deleted POSITIONS pass through the driver (they parameterize
    * the sidecars), so this path is for SPARSE deletes: `maxPositions`
    * (default 10M ≈ 80 MB of longs) fails loudly past the cap with
    * the honest advice — a delete big enough to blow it is rewriting
    * most rows anyway, which is exactly [[deleteWhere]]'s copy-on-write
    * shape. NULL predicate keeps the row (SQL DELETE semantics).
    *
    * Concurrency: commits via [[FileManifest.commitDelta]]`(setDvs)` —
    * re-bases over unrelated commits; fails loudly if a concurrent
    * rewrite retired an affected file or another DV landed on it first
    * (recompute from the new snapshot and retry).
    *
    * @return (files vectored, rows deleted) */
  def deleteWhereDV(spark: SparkSession, path: String,
                    predicate: org.apache.spark.sql.Column,
                    maxPositions: Long = 10000000L): (Int, Long) =
    deleteDvImpl(spark, path, predicate, None, maxPositions)

  /** KEYED merge-on-read takedown: [[deleteWhereDV]] for an explicit
    * key list, with the victim scan bloom-pruned through the per-file
    * key index like [[deleteKeys]]. The canonical "take these 10k
    * doc_ids out of the corpus tonight, rewrite nothing" operation. */
  def deleteKeysDV(spark: SparkSession, path: String, keyCol: String,
                   values: Seq[Any],
                   maxPositions: Long = 10000000L): (Int, Long) = {
    require(values.nonEmpty, "deleteKeysDV needs at least one key")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(FileManifest.enabled(fs, path),
      s"deleteKeysDV needs a manifest-mode lake (enableManifests): $path")
    val (m, candidates) = bloomPrune(fs, path, keyCol, values, None)
    if (candidates.isEmpty) return (0, 0L)
    val probe = planManifest(spark, fs, root, m.copy(cur = m.cur.take(1)))
    if (probe.columns.isEmpty) return (0, 0L)
    keyInFilter(probe.schema(keyCol).dataType, keyCol, values) match {
      case Some(pred) =>
        deleteDvImpl(spark, path, pred, Some(candidates), maxPositions)
      case None => (0, 0L)
    }
  }

  private def deleteDvImpl(spark: SparkSession, path: String,
                           predicate: org.apache.spark.sql.Column,
                           candidates: Option[Seq[String]],
                           maxPositions: Long): (Int, Long) =
    dvVictimsCommit(spark, path, candidates, maxPositions) { scan =>
      scan.filter(predicate)
        .select(col("_metadata.file_path").as("fp"),
          col("_metadata.row_index").as("ri"))
    }

  /** MERGE-ON-READ delete of every row whose `keyCols` value appears
    * in `keys` — [[deleteWhereDV]] for a DISTRIBUTED key frame (the
    * SQL `MERGE … WHEN MATCHED THEN DELETE` arm, where the delete list
    * is a query, not a literal takedown list): victims come from ONE
    * key-semi-join over the manifest's current files, so the key frame
    * never passes through the driver — only the matched POSITIONS do,
    * capped like every DV write. NULL keys never match (SQL join
    * semantics — standard MERGE: a null-keyed source row is simply not
    * matched). Prefer [[deleteKeysDV]] when the keys ARE a literal
    * list: that route rides the per-file bloom index; this one scans
    * the key column of every current file (one column-pruned pass). */
  def deleteMatchedDV(spark: SparkSession, path: String,
                      keys: DataFrame, keyCols: Seq[String],
                      maxPositions: Long = 10000000L,
                      extraCond: Option[org.apache.spark.sql.Column] = None)
      : (Int, Long) = {
    require(keyCols.nonEmpty, "deleteMatchedDV needs key columns")
    require(keyCols.forall(keys.columns.contains),
      s"keys frame missing key columns: ${keyCols.mkString(",")}")
    dvVictimsCommit(spark, path, None, maxPositions) { scan =>
      // residual target-side conjuncts (a decorrelated `EXISTS(…) AND
      // t.z > 5` DELETE) gate the victim scan FIRST — NULL keeps the
      // row, SQL DELETE semantics
      val base = extraCond.map(scan.filter).getOrElse(scan)
      // underscore-prefixed aliases: a data column named `fp`/`ri`
      // must not collide with the position projection
      base.select(
          col("_metadata.file_path").as("__graft_fp") +:
            col("_metadata.row_index").as("__graft_ri") +:
            keyCols.map(col): _*)
        .join(keys.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_semi")
        .select(col("__graft_fp"), col("__graft_ri"))
    }
  }

  /** MERGE-ON-READ delete of every row whose `keyCols` value does NOT
    * appear in `keys` — the SQL `MERGE … WHEN NOT MATCHED BY SOURCE
    * THEN DELETE` arm (full-sync: the target sheds rows the source no
    * longer carries). One column-pruned anti-join over the current
    * files; `extraCond` (the arm's target-side condition) filters the
    * scan first. NULL-keyed target rows are never matched by any
    * source row, so they DELETE here — exactly standard MERGE (the
    * anti-join keeps them for the same reason a join drops them). */
  def deleteUnmatchedDV(spark: SparkSession, path: String,
                        keys: DataFrame, keyCols: Seq[String],
                        extraCond: Option[org.apache.spark.sql.Column] = None,
                        maxPositions: Long = 10000000L): (Int, Long) = {
    require(keyCols.nonEmpty, "deleteUnmatchedDV needs key columns")
    require(keyCols.forall(keys.columns.contains),
      s"keys frame missing key columns: ${keyCols.mkString(",")}")
    dvVictimsCommit(spark, path, None, maxPositions) { scan =>
      val base = extraCond.map(scan.filter).getOrElse(scan)
      base.select(
          col("_metadata.file_path").as("__graft_fp") +:
            col("_metadata.row_index").as("__graft_ri") +:
            keyCols.map(col): _*)
        .join(keys.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")
        .select(col("__graft_fp"), col("__graft_ri"))
    }
  }

  /** COPY-ON-WRITE image of [[deleteMatchedDV]] — for deletes denser
    * than the DV position cap, where the honest shape is the rewrite:
    * same victim semantics (semi-join on `keyCols`, `extraCond` gates
    * first, NULL keeps the row), but affected files are rewritten
    * minus the victims instead of vectored, so no positions ever pass
    * through the driver. The SQL DELETE surface falls back here on
    * [[DvCapExceededException]] (ADVICE r18). */
  def deleteMatched(spark: SparkSession, path: String,
                    keys: DataFrame, keyCols: Seq[String],
                    extraCond: Option[org.apache.spark.sql.Column] = None)
      : (Int, Long) =
    frameDeleteImpl(spark, path, keys, keyCols, extraCond, anti = false)

  /** COPY-ON-WRITE image of [[deleteUnmatchedDV]] — the dense-delete
    * fallback for the anti-join arm (NOT IN / NOT MATCHED BY SOURCE):
    * rows whose key finds no match in `keys` (NULL-keyed rows match
    * nothing, so they delete, exactly the DV route's semantics) are
    * dropped by rewriting their files. */
  def deleteUnmatched(spark: SparkSession, path: String,
                      keys: DataFrame, keyCols: Seq[String],
                      extraCond: Option[org.apache.spark.sql.Column] = None)
      : (Int, Long) =
    frameDeleteImpl(spark, path, keys, keyCols, extraCond, anti = true)

  /** Frame-keyed copy-on-write delete, both polarities. Two passes
    * like [[deleteImpl]]: (1) one column-pruned scan semi/anti-joins
    * the current files against the DISTINCT key frame to find the
    * affected files and the deleted-row count (the collect is bounded
    * by the affected FILE count, never rows); (2) one job rewrites
    * just those files keeping every row that fails the residual or is
    * on the surviving side of the key join (a left-outer hit flag —
    * the key frame is distinct, so the join never duplicates rows).
    * Commit tail is the shared [[promoteAndFlip]] OCC flip. */
  private def frameDeleteImpl(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String],
      extraCond: Option[org.apache.spark.sql.Column],
      anti: Boolean): (Int, Long) = {
    require(keyCols.nonEmpty, "frame delete needs key columns")
    require(keyCols.forall(keys.columns.contains),
      s"keys frame missing key columns: ${keyCols.mkString(",")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"frame delete needs a manifest-mode lake (enableManifests): " +
          path))
    if (m.cur.isEmpty) return (0, 0L)
    val k = keys.select(keyCols.map(col): _*).distinct()
    val relByAbs: Map[String, String] = m.cur.map(rel =>
      new org.apache.hadoop.fs.Path(qRoot, rel).toString -> rel).toMap
    // pass 1: affected files + deleted-row count (vector-applied scan,
    // so already-DV-deleted rows neither recount nor rewrite-match)
    val scan = planManifest(spark, fs, root, m)
    val base = extraCond.map(scan.filter).getOrElse(scan)
    val hits = base.select(
        col("_metadata.file_path").as("__graft_fp") +:
          keyCols.map(col): _*)
      .join(k, keyCols, if (anti) "left_anti" else "left_semi")
      .groupBy(col("__graft_fp")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (hits.isEmpty) return (0, 0L)
    val rowsDeleted = hits.map(_._2).sum
    val affected: Seq[String] = hits.map { case (fp, _) =>
      relByAbs.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
        throw new IllegalStateException(
          s"matched file not in the planned manifest: $fp"))
    }.toSeq.sorted
    val partCols = uniformPartCols(path, affected)
    // pass 2: rewrite the affected files minus the victims. keep =
    // NOT (residual passes AND key side selects) — NULL residual keeps
    // the row (SQL DELETE), NULL-keyed rows never join-match, so under
    // anti they are victims and under semi they survive, matching the
    // DV route exactly
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(deleteStagingDir(path)))
    fs.delete(stage, true): Unit
    val residual = coalesce(extraCond.getOrElse(lit(true)), lit(false))
    val victimKey = if (anti) col("__graft_hit").isNull
                    else col("__graft_hit").isNotNull
    val keep = rewriteScan(spark, fs, qRoot, path, m, affected)
      .join(k.withColumn("__graft_hit", lit(1)), keyCols, "left_outer")
      .filter(!(residual && victimKey))
      .drop("__graft_hit")
    val writer = keep.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    promoteAndFlip(fs, qRoot, path, stage, s"d${m.version + 1}-", affected,
      dvSeenOf(m, affected))
    (affected.size, rowsDeleted)
  }

  /** Shared DV-delete tail: run `victimsOf` over the (vector-applied)
    * scan of the current files, collect the matched positions under
    * the cap, write per-file union vectors, one OCC pointer commit. */
  private def dvVictimsCommit(spark: SparkSession, path: String,
      candidates: Option[Seq[String]], maxPositions: Long)(
      victimsOf: DataFrame => DataFrame): (Int, Long) = {
    // the cap must stay within both the collect's Int indexing and the
    // DV reader's hard ceiling (DeletionVector.read refuses > 2^28
    // positions) — a larger cap would either truncate silently at
    // limit() or write sidecars no reader will accept
    require(maxPositions > 0 && maxPositions <= (1L << 28),
      s"maxPositions $maxPositions out of range (0, 2^28] — a delete " +
        "denser than 268M positions per call belongs to the " +
        "copy-on-write path (deleteWhere/deleteKeys)")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"deleteWhereDV needs a manifest-mode lake (enableManifests): $path"))
    if (m.cur.isEmpty) return (0, 0L)
    val scanCur = candidates.getOrElse(m.cur)
    val relByAbs: Map[String, String] = scanCur.map(rel =>
      new org.apache.hadoop.fs.Path(qRoot, rel).toString -> rel).toMap
    // the scan applies EXISTING vectors (planManifest), so an
    // already-deleted row neither recounts nor re-collects; the new
    // vector is old ∪ new positions per file
    val victims = victimsOf(planManifest(spark, fs, root,
      m.copy(cur = scanCur)))
    // ONE evaluation of the victim scan: collect limit(cap+1) and fail
    // on overflow. A count-then-collect pair would evaluate the
    // predicate twice — under a non-deterministic predicate the counted
    // and collected row sets can differ, letting the cap check pass
    // while the collect materializes a larger position set on the
    // driver. The limit also bounds the driver transfer itself: an
    // over-cap delete ships at most cap+1 rows before failing.
    val capPlusOne = (maxPositions + 1L).toInt // fits: cap <= 2^28
    val collected = victims.limit(capPlusOne).collect()
    val nDel = collected.length.toLong
    if (nDel == 0L) return (0, 0L)
    if (nDel > maxPositions)
      // a TYPED refusal (not a bare require) so callers that can run
      // the dense shape — the SQL DELETE command falls back to the
      // copy-on-write path — can catch the over-cap case specifically
      // without string-matching, while everything else still fails loud
      throw new DvCapExceededException(
        s"deleteWhereDV matched > maxPositions $maxPositions rows — " +
          "a delete this dense is rewriting most of its files anyway; " +
          "use the copy-on-write path (deleteWhere/deleteKeys) or raise " +
          "the cap")
    val byFile: Map[String, Array[Long]] = collected
      .groupBy(r => r.getString(0)).map { case (fp, rows) =>
        relByAbs.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
          throw new IllegalStateException(
            s"matched file not in the planned manifest: $fp")) ->
          rows.map(_.getLong(1))
      }
    val setDvs: Map[String, (Option[String], String)] =
      byFile.map { case (rel, fresh) =>
        val old = m.dvs.get(rel)
          .map(DeletionVector.read(fs, path, _))
          .getOrElse(Array.empty[Long])
        val name = DeletionVector.write(fs, path, rel, old ++ fresh,
          m.version + 1)
        rel -> (m.dvs.get(rel), name)
      }
    FileManifest.commitDelta(fs, path, Nil, Nil, setDvs = setDvs): Unit
    (byFile.size, nDel)
  }

  def overwriteStagingDir(path: String): String =
    s"$path/_staging/overwrite"

  /** DYNAMIC PARTITION OVERWRITE — the backfill/restatement primitive:
    * replace, atomically, exactly the partitions `batch` holds rows
    * for. The batch stages partitioned by the lake's own directory
    * scheme; every staged dir's existing current files retire and the
    * staged files enter cur in ONE optimistic manifest flip — a reader
    * never sees a half-replaced partition, time travel to the
    * pre-backfill version still answers, and partitions the batch
    * doesn't touch are untouched (including their deletion vectors).
    * Partitions new to the lake append cleanly.
    *
    * At 100 TB this is how a bad day of ingest gets restated: cost is
    * O(replaced partitions), the commit is metadata, and a concurrent
    * rewrite of a replaced file conflicts loudly through the usual
    * retire-set detection. Validates against the declared schema like
    * every committed write.
    *
    * @return (partitions replaced-or-created, old files retired) */
  def restateStagingDir(path: String): String = s"$path/_staging/restate"

  /** Atomic WHOLE-LAKE restatement (the SQL `INSERT OVERWRITE` /
    * "rebuild the table" shape): stage `batch` through the full write
    * discipline — declared-schema validation, the lake's existing
    * partition-directory layout, staged-bytes CHECK constraints — then
    * ONE manifest flip makes the staged files current and retires
    * EVERY pre-restatement file. Never two commits (a deleteWhere +
    * append pair has a visible empty-or-double state between them):
    * readers see the old image or the new, nothing else; pre-restate
    * time travel answers until [[vacuum]]; a concurrent DV landing or
    * rewrite conflicts loudly (all current files' DV pointers are
    * declared). Crash before the flip leaves only unreferenced staged
    * orphans. Run from the lake's single writer sequence.
    * @return (files staged, files retired) */
  def overwriteAll(spark: SparkSession, path: String,
                   batch: DataFrame): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"overwriteAll needs a manifest-mode lake (enableManifests): " +
          path))
    val partCols = lakeLayout(fs, path, m)
    require(partCols.forall(batch.columns.contains),
      s"batch missing the lake's partition columns: " +
        partCols.mkString(","))
    SchemaLog.latest(fs, path)
      .foreach(d => SchemaLog.validateWrite(d, batch.schema))
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(restateStagingDir(path)))
    fs.delete(stage, true): Unit
    val writer = batch.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    try Constraints.enforceStaged(spark, path, stage.toString)
    catch { case e: Throwable =>
      fs.delete(stage, true): Unit
      throw e
    }
    val nStaged = FileManifest.walkDataFiles(fs, stage).size
    // CAS on the base version, not the usual rebase: "retires EVERY
    // pre-restatement file" is the contract, and a concurrent append
    // landing between the manifest read above and the flip would
    // SURVIVE a rebased commit (its files are not in the retire set) —
    // silently contradicting the restatement. The SQL surface makes
    // multi-writer INSERT OVERWRITE likely, so fail loudly instead.
    promoteAndFlip(fs, qRoot, path, stage, s"r${m.version + 1}-", m.cur,
      dvSeenOf(m, m.cur), expectBase = Some(m.version))
    (nStaged, m.cur.size)
  }

  def overwritePartitions(spark: SparkSession, path: String,
                          batch: DataFrame,
                          partitionCols: Seq[String]): (Int, Int) = {
    require(partitionCols.nonEmpty,
      "overwritePartitions needs partition columns; for a full-table " +
        "replace, restate through expirePartitions + append")
    require(partitionCols.forall(batch.columns.contains),
      s"batch missing partition columns: ${partitionCols.mkString(",")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"overwritePartitions needs a manifest-mode lake: $path"))
    FileManifest.declaredPartitioning(fs, path) match {
      case Some(d) => require(d == partitionCols,
        s"lake declares partitioning ${d.mkString("/")}, " +
          s"not ${partitionCols.mkString("/")}")
      case None if m.cur.nonEmpty =>
        require(uniformPartCols(path, m.cur) == partitionCols,
          s"lake is partitioned by ${uniformPartCols(path, m.cur)
            .mkString("/")}, not ${partitionCols.mkString("/")}")
      case None =>
    }
    SchemaLog.latest(fs, path)
      .foreach(d => SchemaLog.validateWrite(d, batch.schema))
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(overwriteStagingDir(path)))
    fs.delete(stage, true): Unit
    batch.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
      .partitionBy(partitionCols: _*)
      .parquet(stage.toString)
    // staged-bytes validation (see append): the exact rows that would
    // replace the partitions are what the constraints judge
    try Constraints.enforceStaged(spark, path, stage.toString)
    catch { case e: Throwable =>
      fs.delete(stage, true): Unit
      throw e
    }
    def dirOf(rel: String): String =
      rel.take(math.max(rel.lastIndexOf('/'), 0))
    val stagedDirs = FileManifest.walkDataFiles(fs, stage)
      .map(dirOf).distinct.toSet
    val affected = m.cur.filter(rel => stagedDirs(dirOf(rel)))
    promoteAndFlip(fs, qRoot, path, stage, s"w${m.version + 1}-", affected,
      dvSeenOf(m, affected))
    (stagedDirs.size, affected.size)
  }

  def filteredOverwriteStagingDir(path: String): String =
    s"$path/_staging/fovw"

  /** STATIC partition-filtered restatement — the engine image of SQL
    * `INSERT OVERWRITE … PARTITION (k = v)`: retire exactly the
    * current files whose `k=v` directories SATISFY `filters` and land
    * `batch` in their place, in ONE manifest flip. Where
    * [[overwritePartitions]] replaces the partitions the BATCH holds
    * rows for (dynamic mode), this replaces the partitions the FILTER
    * names (static mode) — the difference matters when the batch is
    * empty or partial for a named partition: here the partition is
    * still cleared, exactly what the statement said.
    *
    * File selection is [[PartitionPredicate]]'s bail-on-doubt
    * per-file decision, where doubt REFUSES the statement (an
    * undecidable filter must never guess a retire set). Every staged
    * file must itself land INSIDE the overwritten region — a batch row
    * outside the PARTITION clause would survive in a directory the
    * statement did not restate, so it refuses whole (Spark's static
    * PARTITION clause injects the partition values as constants, so a
    * well-formed statement cannot trip this; the check guards engine
    * callers and multi-column partials). Staged bytes are
    * CHECK-validated like every committed write; the commit is
    * compare-and-swap on the base version ([[overwriteAll]]'s
    * discipline — the SQL surface makes concurrent writers likely,
    * and a rebase could let a concurrent append into the restated
    * region silently survive).
    *
    * At 100 TB this is the canonical backfill: restate one
    * day/source/lang at O(that partition) cost while the rest of the
    * lake is untouched metadata.
    *
    * @return (files staged, files retired) */
  def overwriteWhere(spark: SparkSession, path: String, batch: DataFrame,
                     filters: Seq[org.apache.spark.sql.sources.Filter])
      : (Int, Int) = {
    require(filters.nonEmpty,
      "overwriteWhere needs partition filters; a full-table restatement " +
        "is overwriteAll")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"overwriteWhere needs a manifest-mode lake (enableManifests): " +
          path))
    def undecidable(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"INSERT OVERWRITE with filter ${filters.mkString(" AND ")} is " +
          s"not partition-decidable at $path ($what) — a static " +
          "overwrite must know EXACTLY which files it retires; filter " +
          "on the lake's partition columns, or restate through " +
          "overwritePartitions (dynamic) / overwriteAll (full)")
    // layout memory: declared, else current files' scheme, else the
    // retired files' (a truncated lake still knows its partitioning)
    val partCols = lakeLayout(fs, path, m)
    if (partCols.isEmpty) undecidable("the lake is unpartitioned " +
      "(no declared partitioning and no current/retired file layout)")
    // the declared schema types the partition-value decoding; an
    // undeclared lake infers from its (nonempty) current files
    val schema = SchemaLog.latest(fs, path)
      .getOrElse(planManifest(spark, fs, root, m).schema)
    val selected = PartitionPredicate
      .select(m.cur, partCols, schema, filters)
      .getOrElse(undecidable("the filter does not decide per-file from " +
        s"the ${partCols.mkString("/")} directories"))
    require(partCols.forall(batch.columns.contains),
      s"batch missing the lake's partition columns: " +
        partCols.mkString(","))
    SchemaLog.latest(fs, path)
      .foreach(d => SchemaLog.validateWrite(d, batch.schema))
    // a UNIQUE staging dir AND promote tag per attempt: the CAS commit
    // arbitrates concurrent restatements, but two writers sharing one
    // fixed staging path would clobber each other's staged bytes
    // BEFORE the commit could judge anything — and a shared promote
    // tag is worse: the same-tag leftover sweep (built for crashed
    // single-writer retries) would delete a just-COMMITTED sibling's
    // current files. This is the one overwrite verb the SQL surface
    // invites from multiple sessions, so both are per-attempt here.
    // Crashed attempts' staged orphans and promoted-but-uncommitted
    // files are vacuum fodder like any unreferenced path.
    val attempt = java.util.UUID.randomUUID().toString
    val stage = fs.makeQualified(new org.apache.hadoop.fs.Path(
      s"${filteredOverwriteStagingDir(path)}-$attempt"))
    batch.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
      .partitionBy(partCols: _*)
      .parquet(stage.toString)
    val nStaged =
      try {
        // containment: every staged file's dirs must satisfy the
        // filter (= land inside the region this statement retires)
        val stagedRels = FileManifest.walkDataFiles(fs, stage)
        val inRegion = PartitionPredicate
          .select(stagedRels, partCols, schema, filters)
        if (!inRegion.exists(_.size == stagedRels.size)) {
          val outside = stagedRels.toSet -- inRegion.getOrElse(Nil).toSet
          throw new IllegalArgumentException(
            "INSERT OVERWRITE batch holds rows OUTSIDE the overwritten " +
              s"region ${filters.mkString(" AND ")}: " +
              outside.toSeq.sorted.take(4)
                .map(r => r.take(math.max(r.lastIndexOf('/'), 0)))
                .distinct.mkString(", ") +
              " — rows there would survive in directories the statement " +
              "did not restate; restrict the query or widen the filter")
        }
        Constraints.enforceStaged(spark, path, stage.toString)
        stagedRels.size
      } catch { case e: Throwable =>
        fs.delete(stage, true): Unit
        throw e
      }
    promoteAndFlip(fs, qRoot, path, stage,
      s"f${m.version + 1}-${attempt.take(8)}-", selected,
      dvSeenOf(m, selected), expectBase = Some(m.version))
    (nStaged, selected.size)
  }

  def repartitionStagingDir(path: String): String =
    s"$path/_staging/repartition"

  /** WHOLE-LAKE PARTITION-LAYOUT EVOLUTION (re-grain): restate the
    * lake's current row set under a NEW partition-column scheme —
    * `CALL lake.repartition_lake(path, 'cols…')`. The declared layout
    * is otherwise WRITE-ONCE ([[FileManifest.declarePartitioning]]);
    * until this op existed, a grain change meant export + re-clone,
    * losing history and tags.
    *
    * One staged rewrite of the pinned image laid out by the new
    * columns (deletion vectors materialized through — the restated
    * files carry no DV debt), then ONE compare-and-swap manifest flip
    * retiring every pre-restatement file (a concurrent commit under
    * the restatement conflicts loudly — same CAS rule as
    * [[overwriteAll]], because a rebased flip would let the
    * concurrent batch's old-scheme files survive as a MIXED layout),
    * then the declaration updates to the new scheme. Empty `cols`
    * re-grains to UNPARTITIONED (declaration removed; layout memory
    * derives the scheme from the restated files).
    *
    * Contracts: the row multiset is unchanged (layout-only, like
    * [[binPack]]/[[clusterBy]] — no constraint re-validation needed);
    * PRE-change snapshots and tags still answer until [[vacuum]]
    * (time travel plans explicit file paths, so the old `k=v` dirs
    * keep resolving); pruned reads answer under the NEW scheme from
    * the first post-flip plan. A crash between the flip and the
    * redeclaration leaves the declaration one scheme behind — the
    * next write fails LOUDLY on the uniform-layout check (never a
    * silent mixed layout), and re-running this procedure converges
    * (the image is already re-grained; the flip is empty; the
    * redeclaration completes). Stats/bloom sidecars are keyed by file,
    * so the restated files start unstatted — run `refresh_stats` /
    * `refresh_key_index` / `refresh_row_counts` after a re-grain to
    * re-prime metadata serving.
    *
    * At 100 TB this is a deliberate full rewrite — O(lake), the
    * honest cost of changing the physical grain — but it is ONE job
    * and one flip, not an export/reload outage, and readers see the
    * old image until the instant of the flip. Run from the lake's
    * single writer sequence.
    *
    * @return (files staged, files retired) */
  def repartitionLake(spark: SparkSession, path: String,
                      cols: Seq[String]): (Int, Int) = {
    require(cols.distinct == cols,
      s"repartitionLake needs distinct columns, got ${cols.mkString(",")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    if (!FileManifest.enabled(fs, path))
      throw new IllegalStateException(
        s"repartitionLake needs a manifest-mode lake (enableManifests): " +
          path)
    // VALIDATE the requested columns before any mutation: the implicit
    // declaration below is a permanent commit, and a typo'd column
    // name must leave the lake untouched
    val preImage = readPinned(spark, path)
    val missing = cols.filterNot(c =>
      preImage.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"repartitionLake: no such column(s) ${missing.mkString(",")} — " +
        s"lake columns are ${preImage.columns.mkString(",")}")
    // pin the schema BEFORE restating: a column moving into the
    // partition position is read back from its k=v dir names, and an
    // UNDECLARED lake would re-infer its type from the path strings
    // (an int64 id silently narrows to int32) — the declared schema is
    // what keeps partition-column types exact across the re-grain.
    // This runs BEFORE the manifest snapshot below: the declaration is
    // itself a commit (DDL-as-commit publishes a data-identical
    // version), and the restatement's CAS flip must base on it
    if (SchemaLog.latest(fs, path).isEmpty) declareSchema(spark, path): Unit
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"repartitionLake needs a manifest-mode lake (enableManifests): " +
          path))
    val image = readPinned(spark, path)
    // resolve to the lake's declared casing: the k=v dir names ARE the
    // physical column names every later read/write derives from
    val resolved = cols.map(c => image.columns
      .find(_.equalsIgnoreCase(c)).get)
    if (m.cur.isEmpty) {
      // nothing to restate: the re-grain is the declaration change
      FileManifest.redeclarePartitioning(fs, path, resolved)
      return (0, 0)
    }
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(repartitionStagingDir(path)))
    fs.delete(stage, true): Unit
    val writer = image.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (resolved.nonEmpty) writer.partitionBy(resolved: _*) else writer)
      .parquet(stage.toString)
    val nStaged = FileManifest.walkDataFiles(fs, stage).size
    promoteAndFlip(fs, qRoot, path, stage, s"g${m.version + 1}-", m.cur,
      dvSeenOf(m, m.cur), expectBase = Some(m.version))
    FileManifest.redeclarePartitioning(fs, path, resolved)
    (nStaged, m.cur.size)
  }

  def binPackStagingDir(path: String): String = s"$path/_staging/binpack"

  /** Generic SMALL-FILE COMPACTION (the lakehouse OPTIMIZE): rewrite
    * only the partitions whose small-file debt crosses the threshold —
    * per partition dir, the current files under `targetBytes` when
    * there are at least `minFiles` of them — bin-packing each dir's
    * victims into ~`targetBytes` outputs. Layout-only: the row
    * multiset is unchanged (deletion vectors on rewritten files are
    * MATERIALIZED through — the rewrite reads through them and the
    * commit drops the pointers), large files and healthy dirs are
    * never touched, and the commit is one optimistic manifest flip
    * (in-flight pinned scans undisturbed; a racing commit on other
    * files re-bases; a racing rewrite of a victim conflicts loudly).
    *
    * Why per-dir and thresholded: streaming archives land one file per
    * batch per partition — at 100 TB the scan-planning cost and
    * per-file open overhead of millions of tiny files IS the regression,
    * but rewriting healthy data to fix it would be its own regression.
    * Cost here is O(small files), the debt actually being retired.
    * Run from the maintenance sequence like any rewrite.
    *
    * @return (small files retired, packed files written) */
  def binPack(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 2): (Int, Int) = {
    require(targetBytes > 0 && minFiles >= 2,
      s"binPack needs targetBytes > 0 and minFiles >= 2")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"binPack needs a manifest-mode lake (enableManifests): $path"))
    if (m.cur.isEmpty) return (0, 0)
    def dirOf(rel: String): String =
      rel.take(math.max(rel.lastIndexOf('/'), 0))
    // size probe: ONE listStatus per partition dir, fanned out on the
    // bounded pool — at 10⁵–10⁶ files a sequential per-file
    // getFileStatus would serialize that many driver RPCs before any
    // packing starts; per-dir listings cost O(dirs) round trips
    val curByDir = m.cur.groupBy(dirOf)
    val sizesByDir = new java.util.concurrent.ConcurrentHashMap[
      String, Map[String, Long]]()
    LakeCommit.foreachPar(curByDir.keys.toSeq.sorted) { dir =>
      val p = if (dir.isEmpty) qRoot
              else new org.apache.hadoop.fs.Path(qRoot, dir)
      sizesByDir.put(dir,
        fs.listStatus(p).iterator.filter(_.isFile)
          .map(s => (s.getPath.getName, s.getLen)).toMap): Unit
    }
    val victims: Seq[(String, Long)] = curByDir.toSeq.sortBy(_._1)
      .flatMap { case (dir, rels) =>
        val names = sizesByDir.get(dir)
        val small = rels.flatMap { rel =>
          val name = rel.substring(rel.lastIndexOf('/') + 1)
          names.get(name).filter(_ < targetBytes).map(rel -> _)
        }
        if (small.size >= minFiles) small else Nil
      }
    if (victims.isEmpty) return (0, 0)
    val affected = victims.map(_._1).sorted
    val partCols = uniformPartCols(path, affected)
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(binPackStagingDir(path)))
    fs.delete(stage, true): Unit
    val slice = rewriteScan(spark, fs, qRoot, path, m, affected)
    // pack by directory: hashing on the partition columns sends each
    // dir's rows to one writer task → ~one output per dir, split at a
    // row count approximating targetBytes from the slice's own
    // bytes-per-row (clamped so a degenerate estimate can't explode)
    val sliceBytes = victims.map(_._2).sum
    val sliceRows = math.max(1L, slice.count())
    val rowsPerFile = math.min(5000000L, math.max(1000L,
      targetBytes / math.max(1L, sliceBytes / sliceRows)))
    val packed =
      if (partCols.nonEmpty) slice.repartition(partCols.map(col): _*)
      else slice.coalesce(math.max(1,
        math.ceil(sliceBytes.toDouble / targetBytes).toInt))
    val writer = packed.write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    val written = FileManifest.walkDataFiles(fs, stage).size
    promoteAndFlip(fs, qRoot, path, stage, s"o${m.version + 1}-", affected,
      dvSeenOf(m, affected))
    (affected.size, written)
  }

  def dvMaterializeStagingDir(path: String): String =
    s"$path/_staging/dvmat"

  /** Fold deletion vectors back into data: copy-on-write rewrite of
    * every current file whose vector deletes ≥ `minDeletedRows` rows
    * (default 1 — all vectored files), dropping the pointers in the
    * same commit. The DV lifecycle's compaction half: merge-on-read
    * keeps takedowns cheap; this bounds read-side vector debt when a
    * file's dead fraction grows. Run like any maintenance rewrite.
    * @return (files rewritten, rows materialized away) */
  def materializeDeletes(spark: SparkSession, path: String,
                         minDeletedRows: Long = 1L): (Int, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"materializeDeletes needs a manifest-mode lake: $path"))
    val affected = m.dvs.toSeq.collect {
      case (rel, name)
          if DeletionVector.read(fs, path, name).length >= minDeletedRows =>
        rel
    }.sorted
    if (affected.isEmpty) return (0, 0L)
    val affectedSet = affected.toSet
    val rows = m.dvs.collect { case (rel, name) if affectedSet(rel) =>
      DeletionVector.read(fs, path, name).length.toLong }.sum
    val partCols = uniformPartCols(path, affected)
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(dvMaterializeStagingDir(path)))
    fs.delete(stage, true): Unit
    val keep = rewriteScan(spark, fs, qRoot, path, m, affected)
    val writer = keep.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    promoteAndFlip(fs, qRoot, path, stage, s"v${m.version + 1}-", affected,
      dvSeenOf(m, affected))
    (affected.size, rows)
  }

  private def deleteImpl(spark: SparkSession, path: String,
                         predicate: org.apache.spark.sql.Column,
                         candidates: Option[Seq[String]]): (Int, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"deleteWhere needs a manifest-mode lake (enableManifests): $path"))
    if (m.cur.isEmpty) return (0, 0L)
    // pass 1: which current files hold matching rows, and how many.
    // Filter on the BARE predicate: `filter` keeps only TRUE rows (the
    // delete set) and, unwrapped, it pushes down to the parquet scan —
    // PushedFilters + row-group stats skipping, which at 100 TB is the
    // difference between reading the lake and reading its footers. The
    // coalesce wrapper is only needed where NULL must become false
    // explicitly: pass 2's negation below.
    val matchPred = coalesce(predicate, lit(false))
    // a candidate subset (bloom-pruned keyed delete) narrows the match
    // SCAN only; the rewrite below still applies the exact predicate
    val scanCur = candidates.getOrElse(m.cur)
    val relByAbs: Map[String, String] = scanCur.map(rel =>
      new org.apache.hadoop.fs.Path(qRoot, rel).toString -> rel).toMap
    val hits = planManifest(spark, fs, root, m.copy(cur = scanCur))
      .filter(predicate)
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (hits.isEmpty) return (0, 0L)
    val rowsDeleted = hits.map(_._2).sum
    val affected: Seq[String] = hits.map { case (fp, _) =>
      relByAbs.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
        throw new IllegalStateException(
          s"matched file not in the planned manifest: $fp"))
    }.toSeq.sorted
    val partCols = uniformPartCols(path, affected)
    // pass 2: rewrite the affected files minus the matching rows
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(deleteStagingDir(path)))
    fs.delete(stage, true): Unit
    val keep = rewriteScan(spark, fs, qRoot, path, m, affected)
      .filter(!matchPred)
    val writer = keep.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    promoteAndFlip(fs, qRoot, path, stage, s"d${m.version + 1}-", affected,
      dvSeenOf(m, affected))
    (affected.size, rowsDeleted)
  }

  /** Shared copy-on-write commit tail: promote every staged data file
    * into the live tree under `tag`-prefixed unique names (deterministic
    * per attempt — a crashed attempt's same-tag leftovers are swept
    * before renaming, so the converged state is one copy), then flip the
    * manifest ONCE: promoted files enter CUR, `affected` move to
    * RETIRED — an optimistic delta commit
    * ([[FileManifest.commitDelta]]), so batches committed since the
    * caller's match scan survive the flip (re-based, never read) and a
    * concurrent rewrite of the same files is detected loudly. */
  private def promoteAndFlip(fs: org.apache.hadoop.fs.FileSystem,
      qRoot: org.apache.hadoop.fs.Path, path: String,
      stage: org.apache.hadoop.fs.Path, tag: String,
      affected: Seq[String],
      dvSeen: Map[String, Option[String]] = Map.empty,
      expectBase: Option[Long] = None): Unit = {
    def dirOf(rel: String): String =
      rel.take(math.max(rel.lastIndexOf('/'), 0))
    val moves: Seq[(String, Seq[(org.apache.hadoop.fs.Path, String)])] =
      FileManifest.walkDataFiles(fs, stage)
        .groupBy(dirOf).toSeq.sortBy(_._1)
        .map { case (rel, rels) =>
          rel -> rels.sorted.zipWithIndex.map { case (r, i) =>
            new org.apache.hadoop.fs.Path(stage, r) -> s"${tag}p$i.parquet"
          }
        }
    LakeCommit.foreachPar(moves) { case (rel, files) =>
      val destDir = if (rel.isEmpty) qRoot
                    else new org.apache.hadoop.fs.Path(qRoot, rel)
      fs.mkdirs(destDir): Unit
      val leftovers = fs.globStatus(
        new org.apache.hadoop.fs.Path(destDir, tag + "*"))
      if (leftovers != null)
        leftovers.foreach(s => fs.delete(s.getPath, false))
      files.foreach { case (src, name) =>
        val dest = new org.apache.hadoop.fs.Path(destDir, name)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"promote failed: $src -> $dest")
      }
    }
    val movedRels = moves.flatMap { case (rel, files) =>
      files.map { case (_, name) =>
        if (rel.isEmpty) name else s"$rel/$name" } }
    if (movedRels.isEmpty && affected.isEmpty) {
      fs.delete(stage, true): Unit // nothing changed: no version bump
      return
    }
    // optimistic delta commit: re-bases over commits that landed since
    // the caller's match scan (their files are never in `affected`);
    // a TRUE conflict — a concurrent rewrite already retired one of
    // `affected`, or a merge-on-read delete moved a DV pointer the
    // rewrite scan applied — fails loudly instead of double-applying
    FileManifest.commitDelta(fs, path, movedRels, affected,
      dvSeen = dvSeen, expectBase = expectBase): Unit
    fs.delete(stage, true): Unit
  }

  def updateStagingDir(path: String): String = s"$path/_staging/update"

  /** Copy-on-write row UPDATE: every lake row matching `predicate`
    * gets `assignments` applied (name → new-value expression over the
    * row's existing columns); non-matching rows pass through
    * byte-identical. SQL UPDATE semantics: a row updates iff the
    * predicate is TRUE — NULL keeps the row unchanged. Assigned values
    * are cast to the column's existing type, so the lake schema never
    * drifts through an update; assigning a PARTITION column is legal
    * and the rewrite lands the row in its new directory naturally.
    *
    * Two passes, file-granular like [[deleteWhere]]: (1) one
    * column-pruned, filter-pushed scan of the manifest's current files
    * finds which files hold matches (the collect is bounded by the
    * AFFECTED FILE count, never row data); (2) one job rewrites just
    * those files with per-column `CASE WHEN pred THEN value ELSE col`
    * projections into staging — existing deletion vectors applied on
    * read, so a vectored-out row neither updates nor resurrects. The
    * staged bytes are constraint-validated ([[Constraints.enforceStaged]]
    * — an update CAN introduce a violation, unlike a delete) and the
    * commit is the usual single atomic manifest flip with DV-pointer
    * conflict detection: in-flight pinned scans undisturbed,
    * pre-update time travel intact until [[vacuum]], crash before
    * publish leaves only unreferenced staged orphans.
    *
    * At 100 TB the cost is proportional to the files the predicate
    * touches, not the lake: a keyed correction against an id-clustered
    * layout rewrites a handful of files. There is no merge-on-read
    * analog — an update changes bytes, so rewrite is the honest shape.
    * CALLER CONTRACT: `predicate` and assignment values must be
    * deterministic (pass 1 and pass 2 evaluate the predicate
    * independently). Run from the lake's single writer sequence.
    *
    * @return (files rewritten, rows updated) */
  def updateWhere(spark: SparkSession, path: String,
                  predicate: org.apache.spark.sql.Column,
                  assignments: Seq[(String, org.apache.spark.sql.Column)])
      : (Int, Long) =
    updateImpl(spark, path, predicate, assignments, None)

  /** KEYED correction: [[updateWhere]] for an explicit key list, with
    * the pass-1 match scan bloom-pruned through the per-file key index
    * ([[refreshKeyIndex]]) when one exists — the same prune
    * [[deleteKeys]] rides: on an unclustered 100 TB lake, "update
    * these 10k doc_ids" scans only the files whose filter might hold a
    * victim instead of the lake. Correctness is index-independent (no
    * false negatives; the rewrite applies the exact IN predicate), so
    * a stale or absent index only costs scan width. */
  def updateKeys(spark: SparkSession, path: String, keyCol: String,
                 values: Seq[Any],
                 assignments: Seq[(String, org.apache.spark.sql.Column)])
      : (Int, Long) = {
    require(values.nonEmpty, "updateKeys needs at least one key")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(FileManifest.enabled(fs, path),
      s"updateKeys needs a manifest-mode lake (enableManifests): $path")
    val (m, candidates) = bloomPrune(fs, path, keyCol, values, None)
    if (candidates.isEmpty) return (0, 0L)
    val probe = planManifest(spark, fs, root, m.copy(cur = m.cur.take(1)))
    if (probe.columns.isEmpty) return (0, 0L)
    keyInFilter(probe.schema(keyCol).dataType, keyCol, values) match {
      case Some(pred) =>
        updateImpl(spark, path, pred, assignments, Some(candidates))
      case None => (0, 0L)
    }
  }

  private def updateImpl(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      candidates: Option[Seq[String]]): (Int, Long) = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val names = assignments.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate assignment targets: ${names.diff(names.distinct).mkString(",")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"updateWhere needs a manifest-mode lake (enableManifests): $path"))
    if (m.cur.isEmpty) return (0, 0L)
    val matchPred = coalesce(predicate, lit(false))
    // a candidate subset (bloom-pruned keyed update) narrows the match
    // SCAN only; the rewrite below still applies the exact predicate
    val scanCur = candidates.getOrElse(m.cur)
    val relByAbs: Map[String, String] = scanCur.map(rel =>
      new org.apache.hadoop.fs.Path(qRoot, rel).toString -> rel).toMap
    // pass 1: which current files hold matching rows (bare predicate —
    // pushes to the parquet scan; see deleteImpl)
    val hits = planManifest(spark, fs, root, m.copy(cur = scanCur))
      .filter(predicate)
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (hits.isEmpty) return (0, 0L)
    val rowsUpdated = hits.map(_._2).sum
    val affected: Seq[String] = hits.map { case (fp, _) =>
      relByAbs.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
        throw new IllegalStateException(
          s"matched file not in the planned manifest: $fp"))
    }.toSeq.sorted
    val partCols = uniformPartCols(path, affected)
    // pass 2: rewrite the affected files with assignments applied
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(updateStagingDir(path)))
    fs.delete(stage, true): Unit
    val base = rewriteScan(spark, fs, qRoot, path, m, affected)
    val unknown = names.filterNot(base.columns.contains)
    require(unknown.isEmpty,
      s"updateWhere: unknown column(s) ${unknown.mkString(",")} — lake " +
        s"columns are ${base.columns.mkString(",")}")
    val assignMap = assignments.toMap
    val schema = base.schema
    val updated = base.select(base.columns.toIndexedSeq.map { c =>
      assignMap.get(c) match {
        case Some(v) =>
          when(matchPred, v.cast(schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    val writer = updated.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    // staged-bytes validation: the exact rows that would publish are
    // what the constraints judge (an update can break a CHECK)
    try Constraints.enforceStaged(spark, path, stage.toString)
    catch { case e: Throwable =>
      fs.delete(stage, true): Unit
      throw e
    }
    // "e" (edit) tag: distinct from mergeInto's "u" so the two
    // correction-family rewrites can never sweep each other's
    // same-version promote leftovers
    promoteAndFlip(fs, qRoot, path, stage, s"e${m.version + 1}-", affected,
      dvSeenOf(m, affected))
    (affected.size, rowsUpdated)
  }

  /** Copy-on-write UPDATE of every row whose `keyCols` value appears
    * in `keys` — [[updateWhere]] for a DISTRIBUTED key frame (the
    * decorrelated `UPDATE … WHERE x IN (SELECT y FROM s WHERE s.k =
    * t.k)` shape: the match list is a query, not a literal list):
    * matched-ness comes from ONE key-semi-join over the current files
    * in the match scan and one mark-join in the rewrite, so the key
    * frame never passes through the driver. `extraCond` (residual
    * target-side conjuncts) must ALSO hold for a row to update — NULL
    * is not-TRUE, SQL UPDATE semantics. NULL keys never match (join
    * semantics). Same cost shape and caller contract as [[updateWhere]]
    * (deterministic inputs; run from the writer sequence); the keys
    * frame is evaluated in both passes, so non-trivial plans should be
    * cached by the caller (the SQL command does).
    * @return (files rewritten, rows updated) */
  def updateMatched(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String],
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      extraCond: Option[org.apache.spark.sql.Column] = None): (Int, Long) =
    updateJoinImpl(spark, path, keys, keyCols, anti = false, extraCond,
      assignments)

  /** Copy-on-write UPDATE of every row whose `keyCols` value does NOT
    * appear in `keys` — the `MERGE … WHEN NOT MATCHED BY SOURCE THEN
    * UPDATE` arm (full-sync: mark rows the source no longer carries)
    * and the decorrelated `NOT EXISTS` UPDATE. One column-pruned
    * anti-join match scan, one mark-join rewrite; NULL-keyed lake rows
    * are never matched by any key, so they UPDATE here — exactly
    * standard MERGE (same rule as [[deleteUnmatchedDV]]).
    * @return (files rewritten, rows updated) */
  def updateUnmatched(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String],
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      extraCond: Option[org.apache.spark.sql.Column] = None): (Int, Long) =
    updateJoinImpl(spark, path, keys, keyCols, anti = true, extraCond,
      assignments)

  /** Copy-on-write UPDATE whose assigned VALUE comes from a keyed
    * frame — the decorrelated `UPDATE t SET x = (SELECT agg FROM s
    * WHERE s.k = t.k) [WHERE cond]`: `keys` is (keyCols…, valCol) with
    * at most one row per key (checked when `checkUnique` — the
    * standard scalar-subquery cardinality error; an aggregate-shaped
    * frame is unique per key by construction and skips the pass).
    * EVERY target row satisfying `extraCond` updates — key-matched
    * rows take the frame value through a 1:1 LEFT OUTER mark join,
    * unmatched rows take `emptyValue` (the subquery-over-empty-group
    * result: typed NULL for most aggregates, 0 for COUNT — the
    * decorrelation "count bug" handled the standard way). Plain
    * assignments ride the same single rewrite. One filter-pushed
    * match scan finds the affected files; one job rewrites exactly
    * those files; same staging/validation/OCC-flip contract as
    * [[updateWhere]]. The frame is evaluated in both passes — cache a
    * non-trivial plan (the SQL command does).
    * @return (files rewritten, rows updated) */
  def updateFromFrame(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String], setCol: String,
      valCol: String, emptyValue: org.apache.spark.sql.Column,
      plainAssignments: Seq[(String, org.apache.spark.sql.Column)],
      extraCond: Option[org.apache.spark.sql.Column],
      checkUnique: Boolean): (Int, Long) = {
    require(keyCols.nonEmpty, "updateFromFrame needs key columns")
    require((keyCols :+ valCol).forall(keys.columns.contains),
      s"keys frame missing columns: ${(keyCols :+ valCol).mkString(",")}")
    val names = setCol +: plainAssignments.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate assignment targets: ${names.mkString(",")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"updateFromFrame needs a manifest-mode lake (enableManifests): " +
          path))
    if (m.cur.isEmpty) return (0, 0L)
    val frame = keys.select((keyCols :+ valCol).map(col): _*)
    frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (checkUnique) {
        // SQL's scalar-subquery contract errors on >1 row per probe —
        // by ROW COUNT, not distinct values (two equal rows still err)
        val dup = frame
          .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
          .groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          "scalar subquery returned more than one row for a key, " +
            s"e.g. ${dup.headOption.orNull}")
      }
      val scan = planManifest(spark, fs, root, m)
      if (scan.columns.isEmpty) return (0, 0L)
      // NULL condition keeps the row unchanged: SQL UPDATE semantics
      val gate = extraCond.map(c => coalesce(c, lit(false)))
      // pass 1: every file holding a row the gate admits rewrites —
      // unmatched rows update too (to emptyValue), standard scalar-SET
      val preFiltered = gate.map(scan.filter).getOrElse(scan)
      val hits = preFiltered
        .groupBy(col("_metadata.file_path").as("fp"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (hits.isEmpty) return (0, 0L)
      val rowsUpdated = hits.map(_._2).sum
      val relByAbs: Map[String, String] = m.cur.map(rel =>
        new org.apache.hadoop.fs.Path(qRoot, rel).toString -> rel).toMap
      val affected: Seq[String] = hits.map { case (fp, _) =>
        relByAbs.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
          throw new IllegalStateException(
            s"matched file not in the planned manifest: $fp"))
      }.toSeq.sorted
      val partCols = uniformPartCols(path, affected)
      val stage = fs.makeQualified(
        new org.apache.hadoop.fs.Path(updateStagingDir(path)))
      fs.delete(stage, true): Unit
      val base = rewriteScan(spark, fs, qRoot, path, m, affected)
      val unknown = names.filterNot(base.columns.contains)
      require(unknown.isEmpty,
        s"updateFromFrame: unknown column(s) ${unknown.mkString(",")} — " +
          s"lake columns are ${base.columns.mkString(",")}")
      val marks = frame.withColumn("__graft_m", lit(true))
      val joined = base.join(marks, keyCols.toSeq, "left_outer")
      val updPred = gate.getOrElse(lit(true))
      val plainMap = plainAssignments.toMap
      val schema = base.schema
      val updated = joined.select(base.columns.toIndexedSeq.map { c =>
        if (c == setCol) {
          val v = when(col("__graft_m").isNotNull, col(valCol))
            .otherwise(emptyValue)
          when(updPred, v.cast(schema(c).dataType)).otherwise(col(c)).as(c)
        } else plainMap.get(c) match {
          case Some(v) =>
            when(updPred, v.cast(schema(c).dataType))
              .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
      val writer = updated.write.mode("overwrite")
        .option("maxRecordsPerFile", 5000000L)
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(stage.toString)
      try Constraints.enforceStaged(spark, path, stage.toString)
      catch { case e: Throwable =>
        fs.delete(stage, true): Unit
        throw e
      }
      // shares updateWhere's "e" staging tag: same staging dir, same
      // single-writer sequence
      promoteAndFlip(fs, qRoot, path, stage, s"e${m.version + 1}-",
        affected, dvSeenOf(m, affected))
      (affected.size, rowsUpdated)
    } finally frame.unpersist(blocking = false): Unit
  }

  /** Shared key-frame update tail: [[updateImpl]] with the match
    * decided by a semi/anti join against `keys` instead of a bare
    * predicate. Pass 1 finds the affected files through the join
    * (collect bounded by file count); pass 2 rewrites exactly those
    * files with a LEFT OUTER mark-join deciding per row — the key
    * frame is distinct-ed first, so the mark join is 1:1 and survivor
    * rows pass through byte-identical. */
  private def updateJoinImpl(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String], anti: Boolean,
      extraCond: Option[org.apache.spark.sql.Column],
      assignments: Seq[(String, org.apache.spark.sql.Column)])
      : (Int, Long) = {
    require(assignments.nonEmpty, "update needs at least one assignment")
    require(keyCols.nonEmpty, "key-frame update needs key columns")
    require(keyCols.forall(keys.columns.contains),
      s"keys frame missing key columns: ${keyCols.mkString(",")}")
    val names = assignments.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate assignment targets: ${names.diff(names.distinct).mkString(",")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"updateMatched/updateUnmatched needs a manifest-mode lake " +
          s"(enableManifests): $path"))
    if (m.cur.isEmpty) return (0, 0L)
    val keyFrame = keys.select(keyCols.map(col): _*).distinct()
    keyFrame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val scan = planManifest(spark, fs, root, m)
      if (scan.columns.isEmpty) return (0, 0L)
      // NULL extra-cond keeps the row unchanged: SQL UPDATE semantics
      val gate = extraCond.map(c => coalesce(c, lit(false)))
      // pass 1: which current files hold rows on the updating side
      val preFiltered = gate.map(scan.filter).getOrElse(scan)
      val hits = preFiltered
        .select(col("_metadata.file_path").as("__graft_fp") +:
          keyCols.map(col): _*)
        .join(keyFrame, keyCols, if (anti) "left_anti" else "left_semi")
        .groupBy(col("__graft_fp"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (hits.isEmpty) return (0, 0L)
      val rowsUpdated = hits.map(_._2).sum
      val relByAbs: Map[String, String] = m.cur.map(rel =>
        new org.apache.hadoop.fs.Path(qRoot, rel).toString -> rel).toMap
      val affected: Seq[String] = hits.map { case (fp, _) =>
        relByAbs.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
          throw new IllegalStateException(
            s"matched file not in the planned manifest: $fp"))
      }.toSeq.sorted
      val partCols = uniformPartCols(path, affected)
      // pass 2: rewrite the affected files; per-row matched-ness via a
      // 1:1 LEFT OUTER mark join against the distinct key frame
      val stage = fs.makeQualified(
        new org.apache.hadoop.fs.Path(updateStagingDir(path)))
      fs.delete(stage, true): Unit
      val base = rewriteScan(spark, fs, qRoot, path, m, affected)
      val unknown = names.filterNot(base.columns.contains)
      require(unknown.isEmpty,
        s"update: unknown column(s) ${unknown.mkString(",")} — lake " +
          s"columns are ${base.columns.mkString(",")}")
      val marks = keyFrame.withColumn("__graft_m", lit(true))
      val joined = base.join(marks, keyCols.toSeq, "left_outer")
      val sideFlag =
        if (anti) col("__graft_m").isNull else col("__graft_m").isNotNull
      val updPred = gate.map(_ && sideFlag).getOrElse(sideFlag)
      val assignMap = assignments.toMap
      val schema = base.schema
      val updated = joined.select(base.columns.toIndexedSeq.map { c =>
        assignMap.get(c) match {
          case Some(v) =>
            when(updPred, v.cast(schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
      val writer = updated.write.mode("overwrite")
        .option("maxRecordsPerFile", 5000000L)
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(stage.toString)
      try Constraints.enforceStaged(spark, path, stage.toString)
      catch { case e: Throwable =>
        fs.delete(stage, true): Unit
        throw e
      }
      // shares updateWhere's "e" staging tag: same staging dir, same
      // single-writer sequence — never concurrent with updateImpl
      promoteAndFlip(fs, qRoot, path, stage, s"e${m.version + 1}-",
        affected, dvSeenOf(m, affected))
      (affected.size, rowsUpdated)
    } finally keyFrame.unpersist(blocking = false): Unit
  }

  def mergeStagingDir(path: String): String = s"$path/_staging/merge"

  /** Copy-on-write keyed MERGE (upsert): every lake row whose
    * `keyCols` value appears in `updates` is REPLACED by the matching
    * update row; update rows with no lake match are INSERTED — the
    * correction/late-data half of the lifecycle next to [[deleteWhere]]
    * (takedown). Upsert-by-key semantics: ALL lake rows sharing a
    * matched key are superseded by the single update row for that key,
    * so `updates` must be key-distinct (checked — replacing one row
    * with two is ambiguous); NULL keys never match and always insert.
    *
    * File-granular like [[deleteWhere]]: a key-semi-join over the
    * manifest's current files finds which files hold matches (the
    * collect is bounded by the AFFECTED FILE count); one job rewrites
    * just those files minus the matched keys, unioned with the aligned
    * update rows, partition-laid-out by the lake's directory scheme —
    * an update that moves a row across partition values lands in its
    * new directory naturally. Commit is the shared single atomic
    * manifest flip: in-flight pinned scans undisturbed, pre-merge time
    * travel intact until [[vacuum]], crash before publish leaves only
    * unreferenced staged orphans.
    *
    * At 100 TB the rewrite cost is proportional to the files the keys
    * touch — against a key-clustered layout a keyed correction batch
    * rewrites a handful of files. `updates` is evaluated several times
    * (dup check, semi-join, anti-join, staged write): cache or
    * checkpoint a non-trivial updates plan before calling. Run from
    * the lake's single writer sequence.
    *
    * @return (files rewritten-or-retired, lake rows replaced) */
  def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
                keyCols: Seq[String]): (Int, Long) = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    require(keyCols.forall(updates.columns.contains),
      s"updates missing key columns: ${keyCols.mkString(",")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"mergeInto needs a manifest-mode lake (enableManifests): $path"))
    // NULL-keyed rows are exempt from the distinctness check: a NULL
    // key matches nothing (the contract below), so two NULL-keyed
    // update rows are two independent inserts, not an ambiguity
    val dupes = updates
      .filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
    require(dupes.isEmpty,
      s"mergeInto updates have duplicate keys, e.g. ${dupes.head}")
    val base = planManifest(spark, fs, root, m)
    val lakeCols: Seq[String] =
      if (base.columns.nonEmpty) base.columns.toSeq else updates.columns.toSeq
    require(updates.columns.toSet == lakeCols.toSet,
      s"updates schema ${updates.columns.sorted.mkString(",")} != " +
        s"lake schema ${lakeCols.sorted.mkString(",")}")
    val updAligned = updates.select(lakeCols.map(col): _*)
    Constraints.enforce(spark, path, updAligned)
    val updKeys = updates.select(keyCols.map(col): _*).distinct()
    // pass 1: which current files hold matched keys, and how many rows
    val relByAbs: Map[String, String] = m.cur.map(rel =>
      new org.apache.hadoop.fs.Path(qRoot, rel).toString -> rel).toMap
    // the _metadata pseudo-column resolves only on the scan itself, so
    // materialize file_path (plus just the keys — maximal pruning)
    // before the semi-join. Guard on the FILE SET, not the column set:
    // an EMPTY declared lake plans a schema-bearing LocalRelation,
    // which has columns but no _metadata pseudo-column to select
    // (round-16 renames-fuzz find — merge into a truncated declared
    // lake crashed instead of inserting)
    val hits =
      if (m.cur.isEmpty || base.columns.isEmpty)
        Array.empty[(String, Long)]
      else base.select(
          col("_metadata.file_path").as("__graft_fp") +: keyCols.map(col): _*)
        .join(updKeys, keyCols, "left_semi")
        .groupBy(col("__graft_fp"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
    val rowsReplaced = hits.map(_._2).sum
    val affected: Seq[String] = hits.map { case (fp, _) =>
      relByAbs.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
        throw new IllegalStateException(
          s"matched file not in the planned manifest: $fp"))
    }.toSeq.sorted
    // the lake's directory scheme governs where inserts land too —
    // declared, else derived from ALL current files, else (truncated
    // lake) from the retired files: layout memory
    val partCols = lakeLayout(fs, path, m)
    // pass 2: survivors of the affected files + all update rows
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(mergeStagingDir(path)))
    fs.delete(stage, true): Unit
    val staged =
      if (affected.isEmpty) updAligned
      else rewriteScan(spark, fs, qRoot, path, m, affected)
        .join(updKeys, keyCols, "left_anti")
        .select(lakeCols.map(col): _*)
        .unionByName(updAligned)
    val writer = staged.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    promoteAndFlip(fs, qRoot, path, stage, s"u${m.version + 1}-", affected,
      dvSeenOf(m, affected))
    (affected.size, rowsReplaced)
  }

  def clusterStagingDir(path: String): String = s"$path/_staging/cluster"

  /** Cluster-rewrite the lake's CURRENT files on `sortCol` and refresh
    * the footer-stats sidecar, so each data file afterwards holds a
    * tight, pairwise-disjoint range of the column — the layout
    * maintenance that turns [[readPinnedRange]]'s stats prune and the
    * keyed ops' file-granularity ([[deleteWhere]], [[mergeInto]]) from
    * best-effort into actually-few-files: against a freshly clustered
    * 100 TB lake a key-range scan or a keyed correction batch plans
    * O(range/file-span) files instead of all of them.
    *
    * One job: a range repartition on (partition cols, sortCol) — range
    * boundaries come from Spark's reservoir sample of the data, so
    * output files are balanced under any skew — sorted within
    * partitions (tight parquet row-group/page stats for the scan-side
    * min/max), written through the shared stage → version-tagged
    * promote → single manifest flip. Rows are moved, never folded:
    * contents are bit-identical to the pre-cluster lake, in-flight
    * pinned scans are undisturbed, and batches committed mid-cluster
    * survive the flip un-clustered (the next run picks them up).
    *
    * @param numFiles target output file count; <= 0 keeps the current
    *                 file count
    * @return (files retired, files newly statted) */
  def clusterBy(spark: SparkSession, path: String, sortCol: String,
                numFiles: Int = 0): (Int, Int) =
    clusterRewrite(spark, path, Seq(sortCol), numFiles, zOrder = false)

  /** Z-ORDER cluster-rewrite: like [[clusterBy]] but on the
    * bit-interleaved key of SEVERAL columns, so every clustered
    * column's per-file [min,max] stays tight SIMULTANEOUSLY — the
    * layout [[readPinnedBox]] multi-dimension queries prune against.
    * A single-column cluster makes its own column's spans tight and
    * every other column's spans full-range; interleaving trades a
    * little per-column tightness for tightness on all of them, the
    * standard multi-dim data-skipping layout.
    *
    * The Z key is pure Column arithmetic (normalize each column to 16
    * bits against its global [min,max] — one agg job — then interleave
    * the bits), so the rewrite stays inside whole-stage codegen; NULLs
    * normalize to 0 and cluster together at the origin. Columns must be
    * integral (the footer-stats sidecar prunes INT64 only). */
  def clusterByZ(spark: SparkSession, path: String, cols: Seq[String],
                 numFiles: Int = 0): (Int, Int) = {
    require(cols.size >= 2, s"clusterByZ needs >=2 columns, got $cols")
    clusterRewrite(spark, path, cols, numFiles, zOrder = true)
  }

  private def clusterRewrite(spark: SparkSession, path: String,
      cols: Seq[String], numFiles: Int, zOrder: Boolean): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"clusterBy needs a manifest-mode lake (enableManifests): $path"))
    if (m.cur.isEmpty) return (0, 0)
    val partCols = uniformPartCols(path, m.cur)
    val base = planManifest(spark, fs, root, m)
    cols.foreach(c => require(base.columns.contains(c),
      s"cluster column $c not in lake schema ${base.columns.mkString(",")}"))
    val n = math.max(1, if (numFiles > 0) numFiles else m.cur.size)
    val sortKeys: Seq[org.apache.spark.sql.Column] =
      if (!zOrder) cols.map(col)
      else {
        // one pass for the global [min,max] of every clustered column
        val mmExprs = cols.flatMap(c =>
          Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
        val mm = base.agg(mmExprs.head, mmExprs.tail: _*).collect()(0)
        Seq(zKey(cols.zipWithIndex.map { case (c, i) =>
          val (mn, mx) = (if (mm.isNullAt(2 * i)) 0L
                          else mm.getLong(2 * i),
                          if (mm.isNullAt(2 * i + 1)) 0L
                          else mm.getLong(2 * i + 1))
          (col(c), mn, mx)
        }))
      }
    val exprs = partCols.map(col) ++ sortKeys
    val stage = fs.makeQualified(
      new org.apache.hadoop.fs.Path(clusterStagingDir(path)))
    fs.delete(stage, true): Unit
    val staged = base.repartitionByRange(n, exprs: _*)
      .sortWithinPartitions(exprs: _*)
    val writer = staged.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage.toString)
    promoteAndFlip(fs, qRoot, path, stage, s"z${m.version + 1}-", m.cur,
      dvSeenOf(m, m.cur))
    val statted = cols.map(refreshStats(spark, path, _)).max
    (m.cur.size, statted)
  }

  /** Bit-interleaved Z key over (column, global min, global max)
    * triples: each value normalizes to 16 bits of its global range,
    * then bit i of column j lands at position i*k + j. Plain Column
    * arithmetic — folds into whole-stage codegen, no UDF. */
  private[sources] def zKey(
      colsMm: Seq[(org.apache.spark.sql.Column, Long, Long)])
      : org.apache.spark.sql.Column = {
    val k = colsMm.size
    val norms = colsMm.map { case (c, mn, mx) =>
      if (mx <= mn) lit(0L)
      else {
        // (clamped(v) - mn) / (mx - mn) * 65535, NULL → 0; double
        // arithmetic so a full-Long-range column can't overflow (the
        // 53-bit mantissa is ample for a 16-bit target)
        val clamped = least(greatest(coalesce(c.cast("long"), lit(mn)),
          lit(mn)), lit(mx)).cast("double")
        ((clamped - lit(mn.toDouble)) / lit(mx.toDouble - mn.toDouble)
          * lit(65535.0)).cast("long")
      }
    }
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      norms.zipWithIndex.foldLeft(acc) { case (a, (v, j)) =>
        a.bitwiseOR(shiftleft(
          shiftrightunsigned(v, i).bitwiseAND(lit(1L)),
          i * k + j).cast("long"))
      }
    }
  }

  // ----- retention (partition expiry) -----

  def expireManifestPath(path: String): String =
    s"$path/_staging/expire.manifest"

  /** Delete (expire) whole partitions by a partition-column predicate —
    * the retention half of the lake lifecycle (compaction rewrites hot
    * partitions; expiry retires aged-out ones). Returns the expired
    * partition rel-paths.
    *
    * Manifest mode: a pure manifest commit — the partitions' files move
    * to the RETIRED set (readers planned before the commit keep
    * scanning them; new [[readPinned]] plans exclude them) and
    * [[vacuum]] reclaims them after grace.
    *
    * Legacy mode: same discipline as the compaction swap — an atomic
    * expire manifest is the commit point ([[readSnapshot]] excludes its
    * partitions, so no reader ever sees a partial delete), the dirs are
    * dropped, the manifest removed; [[recoverExpire]] rolls an
    * interrupted delete forward. The `_ledger` dir is never touched —
    * the archive's replay guard outlives retention. */
  def expirePartitions(spark: SparkSession, path: String,
                       predicate: org.apache.spark.sql.Column): Seq[String] = {
    recoverExpire(spark, path): Unit
    recoverCompaction(spark, path): Unit
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val matching = matchPartitions(spark, fs, qRoot, predicate)
    if (matching.isEmpty) return Nil
    if (FileManifest.enabled(fs, path)) {
      val matchedSet = matching.toSet
      def dirOf(rel: String): String =
        rel.take(math.max(rel.lastIndexOf('/'), 0))
      val m = FileManifest.latest(fs, path).get
      val expired = m.cur.filter(rel => matchedSet(dirOf(rel)))
      if (expired.nonEmpty)
        FileManifest.commitDelta(fs, path, Nil, expired): Unit
      matching
    } else {
      val manifest = new org.apache.hadoop.fs.Path(expireManifestPath(path))
      // recoverExpire ran first: no earlier manifest can be pending
      SidecarIO.create(fs, manifest, matching.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      dropExpired(fs, qRoot, matching)
      fs.delete(manifest, false): Unit
      matching
    }
  }

  /** Retention convenience: expire partitions with `dt` strictly older
    * than `retainDays` days before `asOf` (exclusive — the boundary day
    * is retained). */
  def expireOlderThan(spark: SparkSession, path: String, retainDays: Int,
                      asOf: java.time.LocalDate): Seq[String] =
    expirePartitions(spark, path,
      col("dt") < lit(asOf.minusDays(retainDays.toLong).toString).cast("date"))

  /** Generic whole-partition retention for MANIFEST lakes: retire
    * every current file under a partition directory matching
    * `predicate` — evaluated over the lake's directory-encoded
    * partition columns (any scheme, decoded by the same
    * [[PartitionPredicate]] parsing the metadata aggregates fuzz),
    * each typed by the lake's read schema — in ONE metadata-only
    * commit: no data file is read or moved, the dirs just leave CUR,
    * so at 100 TB dropping a month costs a manifest flip and time
    * travel to the pre-expire version answers until [[vacuum]]. A
    * predicate referencing a non-partition column refuses loudly
    * (a row-level predicate would select whole partitions by a row
    * subset); the dir count bounds all driver work. The region/dt
    * [[expirePartitions]] predates the generic directory scheme and
    * remains for the history lake's legacy (non-manifest) mode.
    * @return the expired partition dirs */
  def expirePartitionsWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = FileManifest.latest(fs, path).getOrElse(
      throw new IllegalStateException(
        s"expirePartitionsWhere needs a manifest-mode lake " +
          s"(enableManifests): $path — legacy region/dt layouts use " +
          "expirePartitions"))
    if (m.cur.isEmpty) return Nil
    val partCols = uniformPartCols(path, m.cur)
    require(partCols.nonEmpty,
      s"$path has no partition directories to expire")
    def dirOf(rel: String): String =
      rel.take(math.max(rel.lastIndexOf('/'), 0))
    val dirs = m.cur.map(dirOf).distinct.sorted
    val raw: Seq[(String, Seq[String])] = dirs.map { d =>
      val vals = PartitionPredicate.partitionValues(s"$d/_p.parquet")
        .getOrElse(throw new IllegalStateException(
          s"undecodable partition dir under $path: $d"))
      d -> partCols.map(c => vals.get(c).flatten.orNull)
    }
    // typed exactly like a read: cast each raw dir value to the
    // column's type in the lake read schema (one-footer probe)
    val probe = planManifest(spark, fs, root, m.copy(cur = m.cur.take(1)))
    import spark.implicits._
    val strDf = raw.toDF("__dir", "__vals")
    val typed = partCols.zipWithIndex.foldLeft(strDf) {
      case (df, (c, i)) => df.withColumn(c,
        element_at(col("__vals"), i + 1).cast(probe.schema(c).dataType))
    }.drop("__vals")
    val matched = try typed.filter(predicate)
      .select(col("__dir")).collect().map(_.getString(0))
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          "predicate may only reference partition columns " +
            s"(${partCols.mkString(", ")}) — a row-level predicate " +
            "would select whole partitions by a row subset " +
            s"(analysis said: ${e.getMessage})")
    }
    if (matched.isEmpty) return Nil
    val mset = matched.toSet
    val expired = m.cur.filter(rel => mset(dirOf(rel)))
    FileManifest.commitDelta(fs, path, Nil, expired): Unit
    matched.toSeq.sorted
  }

  /** Roll an interrupted legacy-mode [[expirePartitions]] forward. No-op
    * without a pending expire manifest. */
  def recoverExpire(spark: SparkSession, path: String): Boolean = {
    val manifest = new org.apache.hadoop.fs.Path(expireManifestPath(path))
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifest)) return false
    val dirs = SidecarIO.readLines(fs, manifest)
    val qRoot = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    dropExpired(fs, qRoot, dirs)
    fs.delete(manifest, false): Unit
    true
  }

  private def dropExpired(fs: org.apache.hadoop.fs.FileSystem,
                          qRoot: org.apache.hadoop.fs.Path,
                          dirs: Seq[String]): Unit = {
    LakeCommit.foreachPar(dirs) { rel =>
      fs.delete(new org.apache.hadoop.fs.Path(qRoot, rel), true): Unit
    }
    // drop emptied region parents
    dirs.map(_.split('/').head).distinct.foreach { parent =>
      val p = new org.apache.hadoop.fs.Path(qRoot, parent)
      if (fs.exists(p) && fs.listStatus(p).isEmpty)
        fs.delete(p, false): Unit
    }
  }

  /** Schema-evolution read: merge parquet footers across the whole lake
    * so columns added to the record schema mid-life appear in the scan
    * (null-filled for partitions written before the change). The default
    * `spark.read.parquet` infers from one footer and would silently omit
    * late columns; compaction gradually converges old partitions onto
    * the unioned schema (compactLatest rewrites with mergeSchema).
    * Manifest-mode lakes read the manifest's current files (a plain
    * directory read would double-count retired files inside a vacuum
    * grace window); legacy lakes go through the SAME snapshot
    * resolution as [[readSnapshot]] — pending compaction swaps honored
    * and expire-pending partitions excluded, so an evolved read never
    * sees a partial delete either. */
  def readEvolved(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.latest(fs, path) match {
      case Some(m) if SchemaLog.latest(fs, path).isDefined =>
        // declared-schema lake: the committed schema already IS the
        // evolved shape (added columns null-backfilled, widened columns
        // reader-promoted) — no footer merge needed, same plan as
        // readPinned
        planManifest(spark, fs, root, m)
      case None => readSnapshotWith(spark, path, mergeSchema = true)
      case Some(m) if m.cur.isEmpty =>
        planManifest(spark, fs, root, m) // schema-preserving empty
      case Some(m) =>
        val qRoot = fs.makeQualified(root)
        spark.read.option("mergeSchema", "true")
          .option("basePath", qRoot.toString)
          .parquet(m.cur.sorted.map(rel =>
            new org.apache.hadoop.fs.Path(qRoot, rel).toString): _*)
    }
  }

  /** Roll the lake BACK (or forward) to a retained version's content,
    * as a NEW commit — the metadata-only undo for a bad delete, merge,
    * or ingest: no data file moves or is rewritten at any scale; the
    * target version's file set simply becomes current again
    * (resurrected files leave the retired set; the undone commit's
    * files retire with a fresh timestamp, so the REDO window is a full
    * vacuum grace too). History is preserved: the undone versions stay
    * time-travelable until vacuum. Fails loudly if any of the target's
    * files was already vacuumed (pure metadata check against the
    * latest cur+retired sets — a vacuum deletes a file and its retired
    * entry together, so membership is proof of existence). Returns the
    * new version. */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = FileManifest.at(fs, path, version).getOrElse(
      throw new IllegalArgumentException(
        s"cannot restore to version $version at $path (vacuumed or never " +
          s"published); retained: " +
          FileManifest.versions(fs, path).mkString(", ")))
    val m = FileManifest.latest(fs, path).get
    if (m.version == version) return m.version
    val known = m.curSet ++ m.retiredSet
    val gone = target.cur.filterNot(known)
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore to version $version at $path: ${gone.size} of its " +
          s"files were already vacuumed, e.g. ${gone.take(3).mkString(", ")}")
    // restore RE-LANDS the target image as the current version, so the
    // active CHECK set judges it like any other data-adding write: a
    // constraint added after bad rows were deleted must not be silently
    // un-made by rolling back past the delete (readers trust the
    // SQL-surfaced contract). Costs one validating scan of the target
    // image only when constraints exist; drop the constraint first to
    // restore anyway.
    if (Constraints.current(fs, path).nonEmpty)
      try Constraints.enforce(spark, path,
        planManifest(spark, fs, new org.apache.hadoop.fs.Path(path), target))
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"cannot restore $path to version $version: the target image " +
            s"violates the active constraint set — drop the constraint " +
            s"first, or pick another version. ${e.getMessage}")
      }
    val targetSet = target.curSet
    val now = System.currentTimeMillis()
    FileManifest.publish(fs, path, FileManifest.Manifest(
      m.version + 1,
      target.cur,
      m.retired.filterNot(e => targetSet(e._2)) ++
        m.cur.filterNot(targetSet).sorted.map(now -> _),
      // the restored snapshot's row set includes its deletion vectors:
      // restoring past a DV takedown re-deletes exactly what that
      // version's pointers said (and restoring BEFORE one un-deletes —
      // the pointers simply aren't there); sidecars of a retained
      // version are vacuum-pinned, so they still exist
      target.dvs))
    m.version + 1
  }

  /** EXPORT a snapshot as an independent lake: copy the resolved
    * version's current files (and the deletion-vector sidecars its
    * manifest references) to `destDir`, re-declare the source's table
    * schema there, and publish a fresh v1 manifest — a self-contained
    * clone that reads identically to `readPinned(src, version)` and
    * shares NO storage or metadata with the source: vacuum the source
    * to nothing and the export still answers. The
    * ship-this-exact-training-corpus operation — a tag makes a
    * snapshot durable in place, an export makes it portable.
    *
    * The copy is a DISTRIBUTED job: the file list parallelizes across
    * the cluster and each task streams its files through the Hadoop
    * FS API — at 100 TB the copy bandwidth is the cluster's aggregate,
    * never one driver's. Layout (lake-relative paths) is preserved, so
    * partition pruning at the destination matches the source.
    *
    * Resolution: explicit `version`, else `tag`, else latest. The
    * destination must not already hold a lake. Returns the
    * destination's manifest version (1). Deletion vectors are carried
    * as metadata, not materialized — the clone's row set is exact and
    * a later `materializeDeletes(dest)` folds them independently. */
  def exportSnapshot(spark: SparkSession, path: String, destDir: String,
                     version: Option[Long] = None,
                     tag: Option[String] = None): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(root)
    val v = version.orElse(tag.map(t =>
      FileManifest.tagVersion(fs, path, t).getOrElse(
        throw new IllegalArgumentException(
          s"unknown tag '$t' at $path; have: " +
            FileManifest.tags(fs, path).map(_._1).mkString(", ")))))
      .orElse(FileManifest.latestVersion(fs, path))
      .getOrElse(throw new IllegalStateException(
        s"exportSnapshot needs a manifest-mode lake: $path"))
    val m = FileManifest.at(fs, path, v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v not retained at $path (vacuumed or never " +
          s"published); retained: " +
          FileManifest.versions(fs, path).mkString(", ")))
    val destRoot = new org.apache.hadoop.fs.Path(destDir)
    val destFs = destRoot.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val qDest = destFs.makeQualified(destRoot)
    require(!FileManifest.enabled(destFs, destDir),
      s"exportSnapshot destination already holds a lake: $destDir")
    // a retry after a crash between the schema declaration and the
    // manifest publish finds declared-schema debris with no committed
    // lake behind it (the manifest IS the commit point, and the
    // occupied-destination guard above just proved none exists) —
    // sweep it or declareAs below would wedge every retry
    destFs.delete(new org.apache.hadoop.fs.Path(
      SchemaLog.schemaDir(destDir)), true): Unit
    // (source-relative, dest-relative) copy pairs: data files keep
    // their layout; referenced DV sidecars keep their names under the
    // destination's own _manifests/dvs
    val dvRel = "_manifests/dvs"
    val copies: Seq[(String, String)] =
      m.cur.map(rel => rel -> rel) ++
        m.dvs.values.toSeq.sorted.map(n => s"$dvRel/$n" -> s"$dvRel/$n")
    val srcStr = qRoot.toString
    val destStr = qDest.toString
    // Hadoop Configuration is not serializable; ship its explicit
    // entries as a plain map and rebuild per task (credentials and
    // fs.* settings included — an executor-default Configuration would
    // silently drop object-store auth)
    val confEntries: Seq[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.toSeq
    }
    val confBc = spark.sparkContext.broadcast(confEntries)
    val slices = math.max(1, math.min(copies.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(copies, slices).foreachPartition { it =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      confBc.value.foreach { case (k, vv) => conf.set(k, vv) }
      val sfs = new org.apache.hadoop.fs.Path(srcStr).getFileSystem(conf)
      val dfs = new org.apache.hadoop.fs.Path(destStr).getFileSystem(conf)
      it.foreach { case (srel, drel) =>
        val dst = new org.apache.hadoop.fs.Path(s"$destStr/$drel")
        dfs.mkdirs(dst.getParent): Unit
        org.apache.hadoop.fs.FileUtil.copy(
          sfs, new org.apache.hadoop.fs.Path(s"$srcStr/$srel"),
          dfs, dst, false, true, conf): Unit
      }
    }
    // carry the declared schema (re-inference at the destination would
    // lose the projection a mixed-era source depends on) AND the
    // retired-name tombstones: the copied files are raw bytes, so a
    // DROPPED column's values still sit inside them — without the
    // tombstone the destination could ADD the name back and resurrect
    // them (rename aliases ride the schema's field metadata already).
    // An EXPLICIT version/tag pin exports the SNAPSHOT-ERA declaration
    // (the manifest's schema stamp — the same schema readPinned(src,
    // version) plans), so a pre-drop export round-trips the dropped
    // column; a latest export carries the present declaration, exactly
    // like a latest read. Tombstones always carry in full: the era
    // files can only hold a SUBSET of the source's retired names, so
    // extra tombstones are pure protection, never a lost column.
    val exportDecl =
      if (version.isDefined || tag.isDefined)
        m.schemaV.map(sv => SchemaLog.at(fs, path, sv))
          .orElse(SchemaLog.latest(fs, path))
      else SchemaLog.latest(fs, path)
    exportDecl.foreach(s =>
      SchemaLog.declareAs(destFs, destDir, s): Unit)
    SchemaLog.carryRetired(fs, path, destFs, destDir)
    // carry the declared CHECK constraints too — the clone is an
    // independent lake, and a copy that silently dropped the source's
    // data-quality contract would admit rows the source never could
    Constraints.exportTo(fs, path, destFs, destDir)
    FileManifest.publish(destFs, destDir,
      FileManifest.Manifest(1L, m.cur, Nil, m.dvs))
    1L
  }

  /** Pin a manifest version under a named TAG: [[vacuum]] will never
    * reclaim the tagged version's root or the data files it references,
    * however far past grace they age — the durable-reproducibility
    * primitive (tag the exact corpus snapshot a model trained on; an
    * audit hold on a takedown's pre-image). Defaults to the latest
    * version. Fails loudly on a duplicate name or an unreachable
    * version. NOTE: tag a version while it is still retained (within
    * grace, or latest) — a tag cannot resurrect files an earlier
    * vacuum already reclaimed. */
  def tag(spark: SparkSession, path: String, name: String,
          version: Option[Long] = None): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(FileManifest.latestVersion(fs, path)).getOrElse(
      throw new IllegalStateException(
        s"tag needs a manifest-mode lake (enableManifests): $path"))
    FileManifest.createTag(fs, path, name, v)
    v
  }

  /** Read the snapshot a tag pins — time travel by name. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = FileManifest.tagVersion(fs, path, name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown tag '$name' at $path; have: " +
          FileManifest.tags(fs, path).map(_._1).mkString(", ")))
    readPinned(spark, path, v)
  }

  /** All tags as (name, pinned version). */
  def tags(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.tags(fs, path)
  }

  /** Release a tag's pin; the next [[vacuum]] past grace reclaims its
    * version and files like any other history. False if unknown. */
  def deleteTag(spark: SparkSession, path: String, name: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileManifest.deleteTag(fs, path, name)
  }

  /** Declare the lake's current read schema as the committed TABLE
    * schema (schema version 1) — see [[SchemaLog]]. From this point
    * every pinned read plans with the declared schema and every
    * [[append]] validates against it. Idempotent. */
  def declareSchema(spark: SparkSession, path: String): Long =
    SchemaLog.declare(spark, path)

  /** Commit a schema EVOLUTION: add nullable columns, widen
    * byte/short/int→long or float→double, relax nullability — validated
    * against the current declared schema, rejected otherwise
    * ([[SchemaLog.validateEvolution]]). Metadata-only: no data file is
    * rewritten; old files read back with nulls in the added columns and
    * reader-promoted values in the widened ones. Returns the new schema
    * version. */
  def evolveSchema(spark: SparkSession, path: String,
                   next: org.apache.spark.sql.types.StructType): Long =
    SchemaLog.evolve(spark, path, next)

  /** The committed table schema, or None for a lake that never
    * declared one (footer-inference reads apply). */
  def declaredSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SchemaLog.latest(fs, path)
  }

  /** Validated exactly-once APPEND to a manifest lake: the batch is
    * checked against the declared schema (unknown or wider-than-
    * declared columns fail loudly BEFORE any file lands; narrower
    * batches — old writers mid-evolution — stay legal), staged under
    * the batch key, published via [[LakeCommit.publish]]'s
    * sweep-then-rename idempotent protocol, and committed to the
    * manifest in one version flip. Re-running a crashed append with the
    * same key converges to exactly one copy. */
  def append(spark: SparkSession, path: String, batch: DataFrame,
             key: String, partitionCols: Seq[String] = Nil): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SchemaLog.latest(fs, path)
      .foreach(d => SchemaLog.validateWrite(d, batch.schema))
    // a DECLARED partitioning is authoritative: a caller passing Nil
    // inherits it (the first append into a CREATE TABLE'd empty lake
    // must land partitioned), a caller contradicting it would write an
    // ambiguous mixed layout and refuses
    val partBy = FileManifest.declaredPartitioning(fs, path) match {
      case Some(d) =>
        require(partitionCols.isEmpty || partitionCols == d,
          s"lake declares partitioning ${d.mkString("/")}, " +
            s"not ${partitionCols.mkString("/")}")
        d
      case None => partitionCols
    }
    val stage = LakeCommit.stagingDir(path, key)
    val writer = batch.write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000L)
    (if (partBy.nonEmpty) writer.partitionBy(partBy: _*)
     else writer).parquet(stage)
    // validate the STAGED bytes, not the live plan: enforcing before
    // the write would evaluate the batch twice, and a non-deterministic
    // batch (rand() columns, non-deterministic UDF inputs) could pass
    // validation on one row set and land another. The staged read is
    // the exact bytes that will publish; a violation deletes the stage
    // and nothing reaches the manifest.
    try Constraints.enforceStaged(spark, path, stage)
    catch { case e: Throwable =>
      fs.delete(new org.apache.hadoop.fs.Path(stage), true): Unit
      throw e
    }
    val rels = LakeCommit.publish(spark, path, key)
    FileManifest.addFiles(fs, path, rels)
    rels
  }

  /** S4: `get_data_from` — date-bounded scan; the `dt >= …` predicate is
    * a partition filter (no data files outside the range are opened —
    * explicit file paths carry their partition dirs, so pruning holds on
    * manifest-pinned reads too). */
  def readFrom(spark: SparkSession, path: String, fromDate: String): DataFrame =
    readPinned(spark, path).filter(col("dt") >= fromDate)

  /** S5-flavored: region + date bounded scan (both partition columns). */
  def readRegionFrom(spark: SparkSession, path: String, region: String,
                     fromDate: String): DataFrame =
    readPinned(spark, path)
      .filter(col("region") === region && col("dt") >= fromDate)
}
