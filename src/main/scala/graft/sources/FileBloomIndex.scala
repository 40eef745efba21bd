package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, xxhash64}
import org.apache.spark.sql.types.DataType

/** Per-file BLOOM key index for the manifest lake — the point-lookup
  * companion to [[FileStats]]' min/max ranges. Range stats prune files
  * only after a [[History.clusterBy]] laid keys out contiguously; on an
  * UNCLUSTERED lake every file spans the whole key range and a keyed
  * read degenerates to a full scan. A per-file Bloom filter over the
  * key column prunes by CONTENT instead of by range: a takedown /
  * audit / point-lookup for k keys plans only the files whose filter
  * might contain one of them — on a 100 TB lake, O(files actually
  * holding the keys) + the filter's false-positive rate, regardless of
  * layout.
  *
  * '''Sharded sidecar.''' Entries are ~24 KB each (20k keys @ 1% fpp),
  * three orders of magnitude heavier than a manifest line — a flat
  * one-file sidecar would be read whole on every keyed plan and
  * rewritten whole on every refresh, the exact O(lake) bound sharded
  * manifests just removed, reborn 1000× heavier. So the index shards
  * by PARTITION DIR, content-addressed: the entries for dir `d` live
  * at `_stats/bloom-<col>/<md5(d)>.shard` — no root file, readers
  * derive shard paths from the dirs they probe. Consequences:
  *
  *  - a keyed read loads only the shards of the partitions its
  *    (possibly dir-pruned) plan touches, each parse LRU-cached by
  *    (path, mtime, length) so repeated plans pay one metadata RTT;
  *  - a refresh after k new files rewrites only the shards of the
  *    dirs those files landed in — O(changed partitions), never the
  *    index ([[shardWrites]]/[[shardReads]] make both spec-assertable);
  *  - shard rewrites prune entries for files no longer live in THEIR
  *    dir; stale entries are never probed (probes iterate the
  *    manifest's current set) and the shard of a VANISHED dir is
  *    reclaimed by [[History.vacuum]] past grace ([[vacuumShards]],
  *    via each shard's `#dir` header line).
  *
  * Built with the engine's own native `bloom_build` aggregate in ONE
  * distributed job over the not-yet-indexed files (grouped by
  * `_metadata.file_path`), so refresh cost is O(new files), exactly
  * like [[FileStats.refresh]]. The driver-side collect is one
  * (path, filter-bytes) pair per NEW file — bounded by touched-file
  * count, never row data.
  *
  * Shard line format: {{{ <rel>\t<base64(filterBytes)>\t<base64(keyTypeJson)> }}}
  * Each entry records the Catalyst type the build hashed
  * (`xxhash64` hashes IntegerType and LongType differently!), so
  * [[probeHash]] can cast the probe literal to the BUILT type —
  * a probe that hashed a different type would produce bloom FALSE
  * NEGATIVES: silently dropped rows on read, silently skipped victim
  * files on takedown. A corrupted line or shard weakens pruning (file
  * always planned), never fails a read — same contract as the stats
  * sidecar. Files without an entry are ALWAYS planned, so the index
  * can only save work, never drop rows; [[History.readPinnedKeyed]]
  * applies the exact `IN` filter on top. */
object FileBloomIndex {

  /** One indexed file: its serialized filter + the Catalyst type the
    * build job hashed (the probe must hash the same type). */
  case class Entry(filter: Array[Byte], keyType: DataType)

  def indexDir(lakePath: String, colName: String): String =
    s"$lakePath/_stats/bloom-$colName"

  /** The pre-sharding flat sidecar's path — never read anymore (its
    * entries recorded no hash type, so probing them safely is
    * impossible); [[refresh]] deletes it once the sharded index exists
    * so an upgraded lake doesn't strand a heavy dead file. Until that
    * first refresh the lake simply plans every file (prune-only-saves-
    * work), it never loses rows. */
  def legacyIndexPath(lakePath: String, colName: String): String =
    s"$lakePath/_stats/bloom-$colName.index"

  private[graft] def shardFileName(dir: String): String =
    graft.Hashes.md5Hex(dir, 32) + ".shard"

  private def shardPath(lakePath: String, colName: String,
                        dir: String): Path =
    new Path(indexDir(lakePath, colName), shardFileName(dir))

  /** Physical shard-file reads (cache misses) — the scale spec asserts
    * a dir-pruned keyed read loads O(pruned partitions) shards and a
    * repeated read loads zero. */
  private[graft] val shardReads =
    new java.util.concurrent.atomic.AtomicLong(0)
  /** Shard files written by refresh — the scale spec asserts a
    * one-new-file refresh rewrites exactly one shard. */
  private[graft] val shardWrites =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Parsed-shard LRU, keyed (qualified shard path, mtime, length) —
    * shards are REWRITTEN in place by refresh (unlike manifest shards),
    * so the status pair invalidates naturally. Bounded by shard count
    * AND total filter bytes: at ~24 KB/entry an unbounded cache would
    * pin GBs of driver heap on a large lake. */
  private val cacheCap = 512
  private val cacheMaxBytes = 128L * 1024 * 1024
  private type CacheKey = (String, Long, Long)
  private val shardCache =
    new java.util.LinkedHashMap[CacheKey, Map[String, Entry]](16, 0.75f, true)
  private var cachedBytes = 0L
  private def weight(m: Map[String, Entry]): Long =
    m.valuesIterator.map(_.filter.length.toLong + 64L).sum + 64L

  private def parseShard(fs: FileSystem, p: Path): Map[String, Entry] = {
    val lines = SidecarIO.readLines(fs, p)
    lines.flatMap { l =>
      l.split('\t') match {
        case Array(rel, b64, tb64) =>
          scala.util.Try {
            val bytes = java.util.Base64.getDecoder.decode(b64)
            val tJson = new String(
              java.util.Base64.getDecoder.decode(tb64), "UTF-8")
            rel -> Entry(bytes, DataType.fromJson(tJson))
          }.toOption
        case _ => None // corrupted line: weakens pruning, never fails
      }
    }.toMap
  }

  /** Entries for every file under the partition dirs in `dirs` —
    * reads (and caches) only those dirs' shards. Missing shard → no
    * entries for that dir (its files are always planned). */
  def readDirs(fs: FileSystem, lakePath: String, colName: String,
               dirs: Set[String]): Map[String, Entry] =
    dirs.iterator.flatMap { dir =>
      val p = shardPath(lakePath, colName, dir)
      val st = try Some(fs.getFileStatus(p)) catch {
        case _: java.io.FileNotFoundException => None
      }
      st match {
        case None => Iterator.empty
        case Some(s) =>
          val key: CacheKey = (fs.makeQualified(p).toString,
            s.getModificationTime, s.getLen)
          val hit = shardCache.synchronized(Option(shardCache.get(key)))
          hit.getOrElse {
            shardReads.incrementAndGet(): Unit
            val parsed =
              try parseShard(fs, p)
              catch { case _: java.io.IOException => Map.empty[String, Entry] }
            shardCache.synchronized {
              val prev = shardCache.put(key, parsed)
              if (prev != null) cachedBytes -= weight(prev)
              cachedBytes += weight(parsed)
              val it = shardCache.entrySet().iterator()
              while ((shardCache.size() > cacheCap ||
                  cachedBytes > cacheMaxBytes) && it.hasNext) {
                cachedBytes -= weight(it.next().getValue)
                it.remove()
              }
            }
            parsed
          }
      }
    }.toMap

  /** Entries for the given lake-relative files (their dirs' shards). */
  def readFor(fs: FileSystem, lakePath: String, colName: String,
              files: Seq[String]): Map[String, Entry] =
    readDirs(fs, lakePath, colName,
      files.iterator.map(FileManifest.entryDir).toSet)

  /** Every entry in the index (lists the shard dir) — maintenance /
    * inspection surface, not a planning path. */
  def readAll(fs: FileSystem, lakePath: String,
              colName: String): Map[String, Entry] = {
    val dir = new Path(indexDir(lakePath, colName))
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".shard"))
      .flatMap(s => try parseShard(fs, s.getPath)
        catch { case _: java.io.IOException => Map.empty[String, Entry] })
      .toMap
  }

  private def writeShard(fs: FileSystem, lakePath: String, colName: String,
                         dir: String, entries: Map[String, Entry]): Unit = {
    val dest = shardPath(lakePath, colName, dir)
    val sb = new StringBuilder
    // header records the (un-hashable-from-md5) partition dir so
    // vacuum can reclaim shards of vanished partitions; parseShard
    // skips it like any non-entry line
    sb.append("#dir\t").append(dir).append('\n')
    entries.toSeq.sortBy(_._1).foreach { case (rel, e) =>
      sb.append(rel).append('\t')
        .append(java.util.Base64.getEncoder.encodeToString(e.filter))
        .append('\t')
        .append(java.util.Base64.getEncoder.encodeToString(
          e.keyType.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        .append('\n')
    }
    // refresh runs from the single maintenance writer: overwrite is the
    // contract (this shard is REPLACED with the merged entry set), and
    // atomic, so a concurrent reader never finds the shard missing
    SidecarIO.replace(fs, dest,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    shardWrites.incrementAndGet(): Unit
    // invalidate any cached parse of the replaced shard (its key pair
    // is stale, but removing frees the byte budget immediately)
    invalidatePath(fs.makeQualified(dest).toString)
  }

  /** Drop every cached parse of one qualified shard path, releasing
    * its byte budget — shared by shard rewrite and shard vacuum. */
  private def invalidatePath(q: String): Unit =
    shardCache.synchronized {
      val it = shardCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == q) { cachedBytes -= weight(e.getValue); it.remove() }
      }
    }

  /** Key columns with an index under this lake (the `bloom-<col>`
    * sidecar dirs present on disk). */
  def indexedColumns(fs: FileSystem, lakePath: String): Seq[String] = {
    val statsDir = new Path(s"$lakePath/_stats")
    if (!fs.exists(statsDir)) Nil
    else fs.listStatus(statsDir).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bloom-"))
      .map(_.getPath.getName.stripPrefix("bloom-")).toSeq.sorted
  }

  /** Reclaim shards of VANISHED partitions: a dir whose files were all
    * expired/deleted keeps its (heavy, ~24 KB/entry) shard forever —
    * refresh only rewrites dirs that gain files. Called from
    * [[History.vacuum]] with the live dir set and the grace cutoff;
    * reads one header line per candidate shard, never the filters.
    * Headerless (pre-header or corrupted) shards are left alone —
    * reclaiming them would need the full parse this path avoids.
    * Returns the number of shards deleted. */
  def vacuumShards(fs: FileSystem, lakePath: String,
                   liveDirs: Set[String], cutoffMtime: Long): Int = {
    var deleted = 0
    indexedColumns(fs, lakePath).foreach { colName =>
      val dir = new Path(indexDir(lakePath, colName))
      fs.listStatus(dir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".shard") &&
          s.getModificationTime <= cutoffMtime)
        .foreach { s =>
          val header = scala.util.Try(
            SidecarIO.readFirstLine(fs, s.getPath)).toOption.flatten
          header match {
            case Some(l) if l.startsWith("#dir\t") =>
              val d = l.stripPrefix("#dir\t")
              if (!liveDirs(d)) {
                fs.delete(s.getPath, false): Unit
                deleted += 1
                invalidatePath(fs.makeQualified(s.getPath).toString)
              }
            case _ => () // headerless/corrupt: keep (only costs disk)
          }
        }
    }
    deleted
  }

  /** TRY-cast `value` to `dt` as a typed Catalyst literal. None when
    * the value cannot be represented in `dt` (e.g. a URL string probed
    * against a Long-built index) — such a key can't exist in the
    * column, so "matches nothing" is the correct answer, NOT an error:
    * a takedown list routinely mixes key shapes, and under this
    * build's ANSI default a plain Cast would throw mid-prune. Also
    * None for runtime types `Literal` doesn't support. */
  def tryCastLiteral(value: Any, dt: DataType)
      : Option[org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    scala.util.Try {
      val raw = Literal(value)
      if (raw.dataType == dt) Some(raw)
      else {
        val v = Cast(raw, dt, Some("UTC"), EvalMode.TRY).eval(null)
        if (v == null) None else Some(Literal(v, dt))
      }
    }.toOption.flatten
  }

  /** The exact hash the index probes with: the same Catalyst
    * `xxhash64` the build job applied to the key column, evaluated on
    * the driver for one literal value — CAST to the recorded build
    * type first, because `xxhash64` hashes each type differently and
    * a mismatched probe (Int vs Long, String vs numeric) would be a
    * bloom false negative: silently dropped rows. Throws on an
    * uncastable value; planners use [[tryProbeHash]]. */
  def probeHash(value: Any, keyType: DataType): Long =
    tryProbeHash(value, keyType).getOrElse(
      throw new IllegalArgumentException(
        s"$value is not representable as ${keyType.simpleString}"))

  /** [[probeHash]] with try-cast semantics: None when the value can't
    * exist in a column of `keyType` (the filter then simply can't
    * match it — never an error, never a false negative). */
  def tryProbeHash(value: Any, keyType: DataType): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    tryCastLiteral(value, keyType).map(l =>
      XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long])
  }

  /** Index every manifest-current file lacking an entry (or, with
    * `onlyFiles`, just those of them — the change-feed-driven
    * maintenance path: the caller already knows which files a commit
    * range added, so nothing else is even STATTED). One distributed
    * `bloom_build`-per-file job over the missing files; rewrites only
    * the shards of the dirs they landed in. Returns the number of
    * files newly indexed. Maintenance op — run from the writer
    * sequence like [[FileStats.refresh]]. */
  def refresh(spark: SparkSession, lakePath: String, colName: String,
              expectedPerFile: Long = 20000L, fpp: Double = 0.01,
              onlyFiles: Option[Seq[String]] = None): Int = {
    val root = new Path(lakePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = FileManifest.latest(fs, lakePath).getOrElse(
      throw new IllegalStateException(
        s"bloom index refresh needs a manifest-mode lake: $lakePath"))
    val scope = onlyFiles match {
      case Some(fl) => val cs = m.curSet; fl.filter(cs)
      case None => m.cur
    }
    if (scope.isEmpty) return 0
    val have = readFor(fs, lakePath, colName, scope)
    val missing = scope.filterNot(have.contains)
    if (missing.isEmpty) return 0
    val qRoot = fs.makeQualified(root)
    val relByAbs: Map[String, String] = missing.map(rel =>
      new Path(qRoot, rel).toString -> rel).toMap
    // declared-schema lakes index through the SAME projection every
    // read uses: widened types hash at the declared width (probes cast
    // to the entry's keyType, so build and probe always agree) and
    // RENAMED columns resolve for pre-rename files too (the alias
    // coalesce — a footer-inferred scan would fail to resolve the new
    // name against old files)
    val declared = SchemaLog.latest(fs, lakePath)
    val reader = declared match {
      case Some(s) => spark.read.schema(SchemaLog.physicalReadSchema(s))
      case None => spark.read
    }
    val scan0 = reader
      .option("basePath", qRoot.toString)
      .parquet(missing.map(rel => new Path(qRoot, rel).toString): _*)
    val scan = declared.map(SchemaLog.applyAliases(scan0, _))
      .getOrElse(scan0)
    val keyType = scan.schema(colName).dataType // what the build hashes
    val fresh: Map[String, Entry] = scan
      .select(col("_metadata.file_path").as("__graft_fp"),
        xxhash64(col(colName)).as("__graft_h"))
      .groupBy(col("__graft_fp"))
      .agg(graft.functions.Bloom.bloom_build(
        col("__graft_h"), expectedPerFile, fpp).as("bf"),
        count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val rel = relByAbs.getOrElse(new Path(r.getString(0)).toString,
          throw new IllegalStateException(
            s"indexed file not in the planned set: ${r.getString(0)}"))
        rel -> Entry(r.getAs[Array[Byte]]("bf"), keyType)
      }.toMap
    // rewrite ONLY the touched dirs' shards; within each, drop entries
    // for files no longer live (cur or retired-awaiting-vacuum may
    // still serve pins — keep both, like the stats sidecar)
    val keep = m.curSet ++ m.retiredSet
    fresh.groupBy { case (rel, _) => FileManifest.entryDir(rel) }
      .foreach { case (dir, entries) =>
        val prior = have.filter { case (rel, _) =>
          FileManifest.entryDir(rel) == dir && keep(rel) }
        writeShard(fs, lakePath, colName, dir, prior ++ entries)
      }
    // upgraded lake: the pre-sharding flat sidecar is dead weight the
    // sharded reader never parses — reclaim it now that shards exist
    val legacy = new Path(legacyIndexPath(lakePath, colName))
    if (fs.exists(legacy)) fs.delete(legacy, false): Unit
    fresh.size
  }
}
