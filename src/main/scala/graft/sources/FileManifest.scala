package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}

/** Versioned per-file manifests for the history lake — the minimal slice
  * of a table format that closes the last reader race
  * ([[History.readSnapshot]] pins directories at LISTING time, so a
  * compaction swap completing under a long scan still moves files out
  * from under it).
  *
  * Invariants (manifest mode, opt-in via [[History.enableManifests]]):
  *
  *  - '''Data files are immutable and immobile.''' A writer only ever
  *    ADDS files (unique names) and a vacuum only ever DELETES files
  *    past their grace window; nothing is renamed once published. A
  *    reader that planned from manifest vN can finish its scan after
  *    any number of later commits, because every file vN references is
  *    still at its path until a vacuum's grace period says otherwise.
  *  - '''The manifest is the commit point and the source of truth.'''
  *    `v<version>.manifest` lists the CURRENT file set and the RETIRED
  *    set (superseded files awaiting vacuum, with their retirement
  *    timestamp). Publishing is one no-overwrite [[SidecarIO.create]]
  *    — atomic on HDFS/local — and readers resolve the highest version,
  *    so a crash between data-file writes and the manifest publish
  *    leaves only invisible orphans (vacuumed later), never a partial
  *    commit.
  *  - '''Optimistic concurrency for data-path writers.''' Versions
  *    advance by one per commit and the atomic no-overwrite root
  *    rename arbitrates races: the loser never corrupts the winner.
  *    Commits expressed as DELTAS ([[commitDelta]] — appends and the
  *    copy-on-write rewrites) re-base onto the new latest and retry;
  *    a true write-write conflict (two commits retiring the same file)
  *    fails loudly with `ConcurrentModificationException`. Metadata-
  *    SHRINKING maintenance (vacuum, retention expiry of the retired
  *    set) still assumes one maintenance agent per lake; direct
  *    [[publish]] callers keep the legacy fail-loudly behavior.
  *
  * File format (one line per entry, tab-separated):
  * {{{
  *   cur\t<region=R/dt=D/file.parquet>
  *   ret\t<retiredAtEpochMs>\t<region=R/dt=D/file.parquet>
  *   dv\t<region=R/dt=D/file.parquet>\t<dv-sidecar-name>
  * }}}
  *
  * A `dv` line attaches a DELETION VECTOR ([[DeletionVector]]) to a
  * CURRENT file: the sidecar lists the row positions deleted from that
  * file, applied at read time — merge-on-read row deletes that never
  * rewrite data. The pointer is part of the committed snapshot, so
  * time travel / tags / restore see each version's exact row set, and
  * retiring a file drops its pointer (a rewrite materializes the
  * deletes it read through).
  *
  * Scale note: one manifest line per live data file — a 100 TB lake at
  * healthy file sizes is ~10⁵–10⁶ lines. Published versions are
  * immutable, so parses are cached per (lake, version): a session pays
  * the driver-side read once per version it touches, not once per plan
  * (bounded LRU; see `parsedCache`).
  *
  * '''Sharded mode''' (opt-in via [[History.enableShardedManifests]])
  * removes the one-flat-file bound for good: the version file becomes
  * a small MANIFEST LIST — one `shard\t<file>\t<partitionDir>` line
  * per partition directory — and the per-file entries live in
  * immutable shard files under `_manifests/shards/`. Two scale wins:
  *
  *  - '''Commits write proportional to what changed.''' A commit that
  *    touches k of N partitions writes k new shard files + one small
  *    root; the other N−k shards are referenced by name, unchanged.
  *    At 10⁶ files over 10⁴ partitions that turns a tens-of-MB rewrite
  *    per commit into ~100 entries of actual change.
  *  - '''Partition-pruned plans parse proportional to what they scan.'''
  *    [[atPruned]] reads only the shards whose partition dir passes the
  *    caller's predicate — a one-partition read of a 10⁴-partition lake
  *    parses one shard, not 10⁶ lines ([[History.readPinnedPartitions]]
  *    is the reader surface; `shardFileReads` makes it spec-assertable).
  *
  * The commit point is unchanged: the root's atomic no-overwrite
  * rename. Shard files are written BEFORE the root lands and are
  * immutable + uniquely named (md5(dir)-v<version>), so a crash mid-
  * publish leaves only unreferenced shard orphans (vacuumed past
  * grace), never a torn manifest; readers of version N always resolve
  * the exact shard set N's root names. Flat and sharded versions can
  * coexist in one lake's history — each root self-describes — and
  * every publish after the conversion stays sharded automatically.
  */
object FileManifest {

  def manifestDir(lakePath: String): String = s"$lakePath/_manifests"

  def shardsDir(lakePath: String): String = s"${manifestDir(lakePath)}/shards"

  /** @param schemaV the DECLARED SCHEMA VERSION current when this
    *        manifest version committed (`schema\t<v>` root line),
    *        stamped by [[publish]] — the snapshot-era schema a
    *        time-travel read resolves so `VERSION AS OF` stops
    *        projecting dropped/renamed columns to the lake's present
    *        declaration. None on pre-stamp manifests and undeclared
    *        lakes (readers fall back to the current declaration —
    *        the old contract). */
  case class Manifest(version: Long, cur: Seq[String],
                      retired: Seq[(Long, String)],
                      dvs: Map[String, String] = Map.empty,
                      schemaV: Option[Long] = None) {
    def curSet: Set[String] = cur.toSet
    def retiredSet: Set[String] = retired.map(_._2).toSet
  }

  /** Partition directory of a lake-relative entry path — the shard key.
    * Root-level files (unpartitioned lakes) shard under ".". */
  private[graft] def entryDir(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "." else rel.substring(0, i)
  }

  private def versionPath(lakePath: String, v: Long): Path =
    new Path(manifestDir(lakePath), f"v$v%012d.manifest")

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      scala.util.Try(
        name.stripPrefix("v").stripSuffix(".manifest").toLong).toOption
    else None

  /** Manifest mode is on iff at least one version file exists. */
  def enabled(fs: FileSystem, lakePath: String): Boolean =
    latestVersion(fs, lakePath).isDefined

  def partitioningPath(lakePath: String): Path =
    new Path(manifestDir(lakePath), "partitioning.tsv")

  /** DECLARE the lake's partition columns (SQL `CREATE TABLE …
    * PARTITIONED BY` — the one moment a partitioning exists before any
    * file does). Write-once: lakes without a declaration keep deriving
    * the scheme from their files' `k=v` directories, and a
    * declaration contradicting an existing layout would make every
    * writer ambiguous. */
  def declarePartitioning(fs: FileSystem, lakePath: String,
                          cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.distinct == cols,
      s"partitioning must be distinct non-empty columns: $cols")
    require(cols.forall(c => !c.contains('\t') && !c.contains('\n')),
      s"partition column names must be tab/newline-free: $cols")
    val dest = partitioningPath(lakePath)
    require(!fs.exists(dest),
      s"partitioning already declared at $lakePath")
    // a racer past the same check loses the no-overwrite publish
    SidecarIO.create(fs, dest, cols.mkString("\t").getBytes(UTF_8))
  }

  /** REPLACE the declared partitioning — the one caller is
    * [[History.repartitionLake]]'s whole-lake re-grain, which runs the
    * physical restatement first and then updates the declaration to
    * match (write-once [[declarePartitioning]] stays the rule for
    * everyone else: a declaration changed WITHOUT restating the files
    * would make every writer ambiguous). Empty `cols` removes the
    * declaration (an unpartitioned re-grain) — layout memory then
    * derives the scheme from the restated files, which is consistent
    * at every crash point of the atomic replace below. */
  private[sources] def redeclarePartitioning(fs: FileSystem,
      lakePath: String, cols: Seq[String]): Unit = {
    require(cols.distinct == cols,
      s"partitioning must be distinct columns: $cols")
    require(cols.forall(c => !c.contains('\t') && !c.contains('\n')),
      s"partition column names must be tab/newline-free: $cols")
    val dest = partitioningPath(lakePath)
    if (cols.isEmpty) fs.delete(dest, false): Unit
    else SidecarIO.replace(fs, dest, cols.mkString("\t").getBytes(UTF_8))
  }

  /** The declared partition columns, if any — authoritative over the
    * layout-derived scheme (an EMPTY declared-partitioned lake has no
    * files to derive from, but its first write must still land
    * partitioned). */
  def declaredPartitioning(fs: FileSystem,
                           lakePath: String): Option[Seq[String]] = {
    val p = partitioningPath(lakePath)
    if (!fs.exists(p)) None
    else SidecarIO.readLines(fs, p).headOption
      .map(_.split('\t').toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty)
  }

  def latestVersion(fs: FileSystem, lakePath: String): Option[Long] = {
    val dir = new Path(manifestDir(lakePath))
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).iterator
        .flatMap(s => parseVersion(s.getPath.getName))
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Every manifest version still on disk (ascending) — the time-travel
    * horizon: versions vanish only when [[History.vacuum]]'s grace
    * window retires them. */
  def versions(fs: FileSystem, lakePath: String): Seq[Long] = {
    val dir = new Path(manifestDir(lakePath))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator
      .flatMap(s => parseVersion(s.getPath.getName)).toSeq.sorted
  }

  /** Commit time of a retained version (its root's mtime — the atomic
    * rename instant), or None if vacuumed/unknown. `TIMESTAMP AS OF`
    * resolution for the SQL catalog. */
  def versionMtime(fs: FileSystem, lakePath: String,
                   v: Long): Option[Long] = {
    val p = versionPath(lakePath, v)
    if (fs.exists(p)) Some(fs.getFileStatus(p).getModificationTime)
    else None
  }

  /** Read one specific retained version (time travel), or None if that
    * version never existed or was vacuumed. */
  def at(fs: FileSystem, lakePath: String, version: Long): Option[Manifest] =
    if (fs.exists(versionPath(lakePath, version)))
      Some(readVersion(fs, lakePath, version))
    else None

  /** Read the highest-version manifest, or None when manifest mode is
    * off for this lake. */
  def latest(fs: FileSystem, lakePath: String): Option[Manifest] =
    latestVersion(fs, lakePath).map(v => readVersion(fs, lakePath, v))

  /** Parsed-manifest cache. A published `v<N>.manifest` never changes
    * in place, but the LAKE can be wiped and rebuilt at the same path
    * (version numbering restarts) — so the key carries the manifest
    * file's (mtime, length) alongside (qualified root, version): a
    * rebuilt lake's v1 is a different file and misses the dead lake's
    * entry. The status probe is one metadata RTT per plan; the win is
    * skipping the ~10⁵–10⁶-line read+parse (every pinned read,
    * stats-pruned read, expiry and vacuum resolves the manifest).
    * Bounds: entry-count LRU AND a total parsed-line budget — at 100 TB
    * one manifest is tens of MB of path strings, so a count-only cap
    * could pin GBs of driver heap. */
  private val cacheCap = 64
  private val cacheMaxLines = 1000000L
  private type CacheKey = (String, Long, Long, Long)
  private val parsedCache =
    new java.util.LinkedHashMap[CacheKey, Manifest](16, 0.75f, true)
  private var cachedLines = 0L
  private def weight(m: Manifest): Long = (m.cur.size + m.retired.size + 1).toLong
  /** Physical manifest ROOT reads (cache misses) — exposed so the scale
    * spec can assert the second read of a version is served from cache. */
  private[graft] val manifestFileReads =
    new java.util.concurrent.atomic.AtomicLong(0)
  /** Physical shard-file reads — exposed so the scale spec can assert a
    * partition-pruned plan parses only the shards it scans. */
  private[graft] val shardFileReads =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** One manifest's (or shard's) parsed entry lines. */
  private case class Entries(cur: Seq[String], ret: Seq[(Long, String)],
                             dvs: Map[String, String])

  /** Parsed shard files, keyed (qualified lake root, shard file name).
    * Shard files are immutable AND uniquely named (the name embeds the
    * publishing version), so no mtime/length in the key; same dual
    * count + total-line budget as `parsedCache`. */
  private val shardCache = new java.util.LinkedHashMap[
    (String, String), Entries](16, 0.75f, true)
  private var shardCachedLines = 0L
  private def shardWeight(e: Entries): Long =
    (e.cur.size + e.ret.size + e.dvs.size + 1).toLong

  /** One parsed root: either the flat entry list itself, or the shard
    * index (shardFileName, partitionDir) — plus the root-level
    * schema-version stamp (shard FILES never carry one). */
  private type Root = Either[Entries, Seq[(String, String)]]

  private def parseRoot(lines: List[String],
                        v: Long): (Root, Option[Long]) = {
    val shards = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    val ret = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val dvs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var schemaV: Option[Long] = None
    lines.foreach { l =>
      l.split('\t') match {
        case Array("cur", rel) => cur += rel
        case Array("ret", ts, rel) => ret += ((ts.toLong, rel))
        case Array("dv", rel, name) => dvs += ((rel, name))
        case Array("shard", name, dir) => shards += ((name, dir))
        case Array("schema", sv) => schemaV = Some(sv.toLong)
        case other => throw new java.io.IOException(
          s"bad manifest line in v$v: ${other.mkString("\\t")}")
      }
    }
    if (shards.nonEmpty && (cur.nonEmpty || ret.nonEmpty || dvs.nonEmpty))
      throw new java.io.IOException(
        s"manifest v$v mixes flat and shard lines")
    if (shards.nonEmpty) (Right(shards.toSeq), schemaV)
    else (Left(Entries(cur.toSeq, ret.toSeq, dvs.toMap)), schemaV)
  }

  // retries the local-FS mid-rename checksum window — see SidecarIO
  private def readLines(fs: FileSystem, p: Path): List[String] =
    SidecarIO.readLines(fs, p)

  /** Root-kind index: Some((shard index, schema stamp)) for sharded
    * roots, None for flat — tiny entries, count-bounded with the same
    * LRU policy. A flat root's ENTRIES live in `parsedCache` (populated
    * on the same read), so no root is ever parsed twice while cached. */
  private val rootIndexCache = new java.util.LinkedHashMap[
    CacheKey, Option[(Seq[(String, String)], Option[Long])]](16, 0.75f, true)

  private def cacheKey(fs: FileSystem, lakePath: String, v: Long,
                       st: org.apache.hadoop.fs.FileStatus): CacheKey =
    (fs.makeQualified(new Path(lakePath)).toString, v,
      st.getModificationTime, st.getLen)

  private def putParsed(key: CacheKey, m: Manifest): Unit =
    parsedCache.synchronized {
      val prev = parsedCache.put(key, m)
      if (prev != null) cachedLines -= weight(prev) // racing re-parse
      cachedLines += weight(m)
      // evict least-recently-used until within BOTH bounds
      val it = parsedCache.entrySet().iterator()
      while ((parsedCache.size() > cacheCap ||
          cachedLines > cacheMaxLines) && it.hasNext) {
        cachedLines -= weight(it.next().getValue)
        it.remove()
      }
    }

  /** Ensure version `v`'s root is classified (and, for flat roots,
    * fully parsed into `parsedCache`); returns its (shard index,
    * schema stamp), or None for a flat root. ONE physical root read
    * per cached lifetime. */
  private def rootIndex(fs: FileSystem, lakePath: String,
      v: Long): Option[(Seq[(String, String)], Option[Long])] = {
    val st = fs.getFileStatus(versionPath(lakePath, v))
    val key = cacheKey(fs, lakePath, v, st)
    val hit = rootIndexCache.synchronized(Option(rootIndexCache.get(key)))
    hit.getOrElse {
      manifestFileReads.incrementAndGet(): Unit
      val idx = parseRoot(readLines(fs, versionPath(lakePath, v)), v) match {
        case (Left(e), sv) =>
          putParsed(key, Manifest(v, e.cur, e.ret, e.dvs, sv))
          None
        case (Right(shards), sv) => Some((shards, sv))
      }
      rootIndexCache.synchronized {
        rootIndexCache.put(key, idx): Unit
        val it = rootIndexCache.entrySet().iterator()
        while (rootIndexCache.size() > cacheCap && it.hasNext) {
          it.next(); it.remove()
        }
      }
      idx
    }
  }

  private def putShardCache(key: (String, String),
      entry: Entries): Unit =
    shardCache.synchronized {
      val prev = shardCache.put(key, entry)
      if (prev != null) shardCachedLines -= shardWeight(prev)
      shardCachedLines += shardWeight(entry)
      val it = shardCache.entrySet().iterator()
      while ((shardCache.size() > cacheCap ||
          shardCachedLines > cacheMaxLines) && it.hasNext) {
        shardCachedLines -= shardWeight(it.next().getValue)
        it.remove()
      }
    }

  /** Parse one shard file (cached; immutable + uniquely named). */
  private def readShard(fs: FileSystem, lakePath: String,
                        name: String): Entries = {
    val key = (fs.makeQualified(new Path(lakePath)).toString, name)
    val cached = shardCache.synchronized(Option(shardCache.get(key)))
    cached.getOrElse {
      shardFileReads.incrementAndGet(): Unit
      val entry = parseRoot(
        readLines(fs, new Path(shardsDir(lakePath), name)), -1L) match {
        case (Left(e), _) => e
        case (Right(_), _) => throw new java.io.IOException(
          s"shard file $name contains shard lines (nested sharding)")
      }
      putShardCache(key, entry)
      entry
    }
  }

  private def readVersion(fs: FileSystem, lakePath: String,
                          v: Long): Manifest = {
    val vp = versionPath(lakePath, v)
    val st = fs.getFileStatus(vp) // FileNotFoundException like open would
    val key = cacheKey(fs, lakePath, v, st)
    val cached = parsedCache.synchronized(Option(parsedCache.get(key)))
    cached.getOrElse {
      rootIndex(fs, lakePath, v) match {
        case None =>
          // flat root: rootIndex parsed it into parsedCache — but the
          // entry may ALSO have been LRU-evicted since (the root-kind
          // cache outlives the parsed cache), so repopulate after an
          // uncached re-parse and return the parse DIRECTLY: no
          // re-lookup, so a manifest larger than the whole cache line
          // budget (which evicts itself on insert) still can't loop.
          Option(parsedCache.synchronized(parsedCache.get(key))).getOrElse {
            manifestFileReads.incrementAndGet(): Unit
            parseRoot(readLines(fs, vp), v) match {
              case (Left(e), sv) =>
                val m = Manifest(v, e.cur, e.ret, e.dvs, sv)
                putParsed(key, m)
                m
              case (Right(_), _) => throw new IllegalStateException(
                s"root of v$v changed kind under a reader: $vp")
            }
          }
        case Some((shards, sv)) =>
          val parts = shards.sortBy(_._2)
            .map { case (name, _) => readShard(fs, lakePath, name) }
          val m = Manifest(v, parts.flatMap(_.cur), parts.flatMap(_.ret),
            parts.flatMap(_.dvs).toMap, sv)
          putParsed(key, m)
          m
      }
    }
  }

  /** Is version `v`'s root a shard index? */
  def isSharded(fs: FileSystem, lakePath: String, v: Long): Boolean =
    rootIndex(fs, lakePath, v).isDefined

  /** PARTITION-PRUNED read of version `v`: only entries whose partition
    * dir passes `dirPred`. On a sharded root this parses only the
    * matching shards — the driver-side analogue of partition pruning,
    * O(touched partitions) not O(lake files). On a flat root it filters
    * the (cached) full parse — same result, no parse win. None when the
    * version doesn't exist. */
  def atPruned(fs: FileSystem, lakePath: String, version: Long,
               dirPred: String => Boolean): Option[Manifest] = {
    if (!fs.exists(versionPath(lakePath, version))) return None
    val m = rootIndex(fs, lakePath, version) match {
      case None =>
        val full = readVersion(fs, lakePath, version) // parsedCache hit
        Manifest(version, full.cur.filter(r => dirPred(entryDir(r))),
          full.retired.filter(r => dirPred(entryDir(r._2))),
          full.dvs.filter { case (r, _) => dirPred(entryDir(r)) },
          full.schemaV)
      case Some((shards, sv)) =>
        val parts = shards.sortBy(_._2)
          .collect { case (name, dir) if dirPred(dir) =>
            readShard(fs, lakePath, name) }
        Manifest(version, parts.flatMap(_.cur), parts.flatMap(_.ret),
          parts.flatMap(_.dvs).toMap, sv)
    }
    Some(m)
  }

  private def flatContent(m: Manifest): String = {
    val sb = new StringBuilder
    m.schemaV.foreach(sv =>
      sb.append("schema\t").append(sv).append('\n'))
    m.cur.sorted.foreach(rel => sb.append("cur\t").append(rel).append('\n'))
    m.retired.sortBy(_._2).foreach { case (ts, rel) =>
      sb.append("ret\t").append(ts).append('\t').append(rel).append('\n')
    }
    m.dvs.toSeq.sortBy(_._1).foreach { case (rel, name) =>
      sb.append("dv\t").append(rel).append('\t').append(name).append('\n')
    }
    sb.toString
  }

  /** Atomically publish `m` as the next version. Fails loudly (never
    * corrupts) if the version already exists — two writers raced, which
    * the single-writer contract forbids. Once a lake's latest root is
    * SHARDED ([[convertToSharded]]), every subsequent publish stays
    * sharded automatically — all writers (archive appends, compaction,
    * delete/merge/cluster, expiry, vacuum) funnel through here. */
  def publish(fs: FileSystem, lakePath: String, m: Manifest): Unit = {
    val dest = versionPath(lakePath, m.version)
    if (fs.exists(dest))
      throw new VersionCollisionException(
        s"manifest version collision at $dest: two writers raced")
    // stamp the DECLARED SCHEMA VERSION current at this commit (always
    // re-resolved — a caller-copied manifest could carry a stale one):
    // every file this version references was validated against a
    // declaration ≤ this stamp, so a time-travel read resolving it
    // plans era-consistent (see History.readPinned(version))
    val stamped = m.copy(schemaV = SchemaLog.latestVersion(fs, lakePath))
    val shardedMode =
      latestVersion(fs, lakePath).exists(v => isSharded(fs, lakePath, v))
    if (shardedMode) publishSharded(fs, lakePath, stamped)
    else SidecarIO.create(fs, dest, flatContent(stamped).getBytes(UTF_8))
    recordWitnessed(lakePath, m.version)
  }

  /** Thread-local COMMIT WITNESS: the versions THIS THREAD published,
    * per lake, inside a [[witnessCommits]] window. Multi-commit
    * statements (the CDC-apply MERGE lands up to three engine commits)
    * need to know which versions are THEIRS so a compensating
    * [[History.restore]] never reverts a concurrent writer's durable
    * commit — and inferring "ours" by re-reading latestVersion after
    * each arm is exactly the race the foreign-version guard exists to
    * close (a concurrent commit landing between our publish and the
    * re-read gets misattributed). Recording at the publish funnel is
    * race-FREE: only a version this thread's own `publish` call landed
    * is ever recorded. */
  private val commitWitness =
    new ThreadLocal[scala.collection.mutable.Set[(String, Long)]]()

  /** Run `body` with a fresh witness installed; `body` receives the
    * LIVE set — it accumulates as commits land, so a failure handler
    * mid-window reads the versions committed so far. Windows nest: an
    * inner window's commits propagate to the outer one on exit. */
  def witnessCommits[T](
      body: scala.collection.Set[(String, Long)] => T): T = {
    val prev = commitWitness.get()
    val mine = scala.collection.mutable.Set.empty[(String, Long)]
    commitWitness.set(mine)
    try body(mine)
    finally {
      commitWitness.set(prev)
      if (prev != null) prev ++= mine
    }
  }

  private def recordWitnessed(lakePath: String, v: Long): Unit = {
    val w = commitWitness.get()
    if (w != null) w += ((lakePath, v)): Unit
  }

  /** Publish `m` as a SHARDED version: entries grouped by partition
    * dir into immutable shard files; dirs whose entry set is unchanged
    * from the previous sharded version REUSE its shard file by name
    * (zero bytes rewritten); the root lists (shard, dir) pairs and
    * commits by the same atomic rename. Crash before the root rename
    * leaves only unreferenced shard files — vacuumed past grace.
    *
    * '''Cold-writer bootstrap cost''' (companion to the single-writer
    * contract): the reuse check compares each dir's entries against
    * the previous version's shard, so the FIRST sharded commit of a
    * new writer process reads every prior shard once — O(dirs), the
    * same as one full manifest read. Every shard it reads OR writes is
    * cached (immutable + uniquely named, no invalidation), so from the
    * second commit on, a warm writer reads zero prior shard files and
    * pays only O(touched dirs) in writes — spec-asserted via
    * [[shardFileReads]] in `ShardedManifestSpec`. */
  private def publishSharded(fs: FileSystem, lakePath: String,
                             m: Manifest): Unit = {
    val dest = versionPath(lakePath, m.version)
    val prevIdx: Map[String, String] =
      latestVersion(fs, lakePath) match {
        case Some(v) => rootIndex(fs, lakePath, v)
          .map(_._1.map { case (name, dir) => dir -> name }.toMap)
          .getOrElse(Map.empty)
        case None => Map.empty
      }
    val curByDir = m.cur.groupBy(entryDir)
    val retByDir = m.retired.groupBy(e => entryDir(e._2))
    val dvByDir = m.dvs.groupBy(e => entryDir(e._1))
    // one nonce per publish ATTEMPT: two writers optimistically racing
    // the same version number ([[commitDelta]]) must never write the
    // same shard path — with deterministic names the loser's shard
    // write could replace the winner's bytes BEFORE the root rename
    // decides the race, splicing one writer's root onto the other's
    // shard content. Unique names reduce every race to orphan garbage
    // (vacuumed past grace), never a torn commit.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // an EMPTY manifest (fully-deleted lake after vacuum drained the
    // retired set) still emits one zero-entry "." shard: a root with
    // zero shard lines would classify as FLAT and silently drop the
    // lake out of sharded mode
    val dirs = (curByDir.keySet ++ retByDir.keySet).toSeq.sorted match {
      case Seq() => Seq(".")
      case ds => ds
    }
    val qLake = fs.makeQualified(new Path(lakePath)).toString
    val shardLines = dirs.map { dir =>
      val entry = Entries(curByDir.getOrElse(dir, Nil).sorted,
        retByDir.getOrElse(dir, Nil).sortBy(_._2),
        dvByDir.getOrElse(dir, Map.empty))
      val reuse = prevIdx.get(dir)
        .filter(name => readShard(fs, lakePath, name) == entry)
      val name = reuse.getOrElse {
        val n =
          f"${graft.Hashes.md5Hex(dir, 32)}%s-v${m.version}%012d-$nonce%s.shard"
        val shardDest = new Path(shardsDir(lakePath), n)
        // names are unique per attempt (the nonce), so a crashed or
        // raced attempt's leftovers sit under OTHER names — plain
        // orphans vacuumed past grace, never a collision with this
        // write and never a torn root/shard splice under optimistic
        // concurrency. The exists-guard below is defense in depth.
        if (fs.exists(shardDest)) {
          fs.delete(shardDest, false): Unit
          shardCache.synchronized {
            val prev = shardCache.remove((qLake, n))
            if (prev != null) shardCachedLines -= shardWeight(prev)
          }
        }
        val shard = Manifest(m.version, entry.cur, entry.ret, entry.dvs)
        SidecarIO.create(fs, shardDest, flatContent(shard).getBytes(UTF_8))
        // cache what was just written: the writer's NEXT publish
        // reuse-checks this name and its next readVersion reassembles
        // it — neither should pay a physical re-read of bytes this
        // process just produced
        putShardCache((qLake, n), entry)
        n
      }
      s"shard\t$name\t$dir"
    }
    // the schema stamp is a ROOT line (shard files never carry one —
    // they are reused across versions, and the stamp is per-commit)
    val schemaLine = m.schemaV.map(sv => s"schema\t$sv").toSeq
    SidecarIO.create(fs, dest,
      (schemaLine ++ shardLines).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Convert a manifest-mode lake to SHARDED manifests: republish the
    * latest version's content as version+1 in sharded form. Every
    * later publish stays sharded. Returns the new version. Idempotent:
    * converting an already-sharded lake is a no-op returning the
    * current version. */
  def convertToSharded(fs: FileSystem, lakePath: String): Long = {
    val v = latestVersion(fs, lakePath).getOrElse(
      throw new IllegalStateException(
        s"convertToSharded needs a manifest-mode lake: $lakePath"))
    if (isSharded(fs, lakePath, v)) v
    else {
      val m = readVersion(fs, lakePath, v)
      // stamp here too: this bypasses publish() (which would route a
      // not-yet-sharded lake back to a flat write), and an unstamped
      // conversion version would silently fall back to the present
      // declaration under an era time-travel pin (ADVICE r18)
      publishSharded(fs, lakePath, Manifest(v + 1, m.cur, m.retired, m.dvs)
        .copy(schemaV = SchemaLog.latestVersion(fs, lakePath)))
      v + 1
    }
  }

  // ------------------------------------------------------------------
  // Snapshot TAGS — named retention pins.
  //
  // A tag is a tiny file (`_manifests/tags/<name>.tag`) holding a
  // version number. Its one semantic: [[History.vacuum]] never reclaims
  // a tagged version — not its root, not the data files it references —
  // however far past the grace window they age. That turns time travel
  // from "whatever the vacuum grace happens to retain" into a durable
  // contract: tag the corpus snapshot a model trained on and the exact
  // multiset of rows stays reproducible for the model's lifetime, while
  // everything untagged ages out normally. Deleting the tag releases
  // the pin; the next vacuum past grace reclaims as usual.
  //
  // Scale: resolving pins costs one listing of the tags dir plus one
  // (cached) manifest read per tagged version — proportional to the
  // number of tags, never to the lake.
  // ------------------------------------------------------------------

  def tagsDir(lakePath: String): String = s"${manifestDir(lakePath)}/tags"

  private val tagNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r

  private def tagPath(lakePath: String, name: String): Path = {
    require(tagNameRe.matches(name),
      s"illegal tag name '$name' (want [A-Za-z0-9][A-Za-z0-9._-]*)")
    new Path(tagsDir(lakePath), s"$name.tag")
  }

  /** Pin `version` under `name`. Fails loudly on a duplicate name (the
    * no-overwrite rename arbitrates even a race) or an unreachable
    * (never-published or already-vacuumed) version. */
  def createTag(fs: FileSystem, lakePath: String, name: String,
                version: Long): Unit = {
    val dest = tagPath(lakePath, name)
    if (fs.exists(dest))
      throw new IllegalArgumentException(
        s"tag '$name' already exists at $lakePath (delete it first)")
    if (!fs.exists(versionPath(lakePath, version)))
      throw new IllegalArgumentException(
        s"cannot tag unreachable version $version at $lakePath; " +
          s"retained: ${versions(fs, lakePath).mkString(", ")}")
    SidecarIO.create(fs, dest, s"$version\n".getBytes(UTF_8))
  }

  /** All tags as (name, version), sorted by name. */
  def tags(fs: FileSystem, lakePath: String): Seq[(String, Long)] = {
    val dir = new Path(tagsDir(lakePath))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".tag"))
      .map { s =>
        val v = SidecarIO.readString(fs, s.getPath).trim.toLong
        (s.getPath.getName.stripSuffix(".tag"), v)
      }.toSeq.sortBy(_._1)
  }

  /** The version `name` pins, or None for an unknown tag. */
  def tagVersion(fs: FileSystem, lakePath: String,
                 name: String): Option[Long] = {
    val p = tagPath(lakePath, name)
    if (!fs.exists(p)) None
    else Some(SidecarIO.readString(fs, p).trim.toLong)
  }

  /** Release the pin. Returns false for an unknown tag. The pinned
    * version's files become ordinary vacuum candidates again (their
    * retirement timestamps kept aging, so the next vacuum past grace
    * reclaims them). */
  def deleteTag(fs: FileSystem, lakePath: String, name: String): Boolean =
    fs.delete(tagPath(lakePath, name), false)

  /** Every version some tag pins (vacuum's keep-set). */
  def taggedVersions(fs: FileSystem, lakePath: String): Set[Long] =
    tags(fs, lakePath).map(_._2).toSet

  /** Shard files present on disk, with modification times (vacuum's
    * candidate list). */
  def listShardFiles(fs: FileSystem, lakePath: String): Seq[(String, Long)] = {
    val dir = new Path(shardsDir(lakePath))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".shard"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSeq
  }

  /** Shard files referenced by ANY retained version root — everything
    * else under `shards/` is garbage (crashed publishes, vacuumed
    * versions) once past grace. */
  def referencedShards(fs: FileSystem, lakePath: String): Set[String] =
    versions(fs, lakePath).flatMap(v =>
      rootIndex(fs, lakePath, v).map(_._1).getOrElse(Nil).map(_._1)).toSet

  /** Test-only deterministic race injection: consumed (run once) by the
    * next [[commitDelta]] attempt, between its latest-read and its
    * publish — the window where a competing commit forces a rebase.
    * When [[testRaceHookPath]] is set, only a commit against that lake
    * consumes it — suites sharing the JVM-wide session can't steal a
    * hook armed for a long-window operator (scan → jobs → commit). */
  private[graft] var testRaceHook: Option[() => Unit] = None
  private[graft] var testRaceHookPath: Option[String] = None

  /** OPTIMISTIC-CONCURRENCY commit: apply a DELTA — `adds` become
    * current, `retire` move current→retired — on top of WHATEVER the
    * latest version is when the commit lands. On a version collision
    * (another writer published first) the delta is re-based onto the
    * new latest and retried; the atomic no-overwrite root rename is the
    * arbiter, so the loser never corrupts the winner.
    *
    * Conflict rule (write-write detection): every file in `retire` must
    * still be CURRENT at commit time. Adds always commute (unique file
    * names, immutable files); two writers retiring disjoint file sets
    * commute (compactions/deletes of different partitions, a delete
    * racing an append); but if a file this commit retires was already
    * retired or removed by a concurrent commit, the data it derived its
    * rewrite from has changed — retrying would double-apply or lose
    * rows, so the commit fails loudly with
    * `ConcurrentModificationException` and the caller re-runs its scan
    * against the new snapshot. This is the same commit model as the
    * log-structured table formats' optimistic transactions: snapshot
    * isolation for readers, first-writer-wins per file for writers.
    *
    * Idempotence: already-current `adds` dedupe away; if the filtered
    * delta is empty, no version is published. Returns the version the
    * delta landed as (or the current version for an empty delta).
    *
    * What still needs a single agent: maintenance that SHRINKS metadata
    * (vacuum dropping retired entries / old versions, retention expiry
    * of whole partitions) — those operate on the retired set, not cur,
    * and run from one maintenance agent per lake. Data-path writers
    * (appends, compaction, delete/merge/cluster rewrites) all commit
    * through this delta and may run concurrently.
    *
    * Deletion-vector arguments:
    *
    *  - `setDvs` maps a CURRENT file to (expected existing DV pointer,
    *    new DV sidecar name): a merge-on-read delete replacing the
    *    file's vector. The expectation guards the lost-update race —
    *    two concurrent DV writers both read vector X and each write
    *    X ∪ theirs; the second to land would silently drop the first's
    *    deletes, so a pointer that moved since the caller read it fails
    *    loudly (`ConcurrentModificationException` — recompute from the
    *    new snapshot and retry). A version collision alone (some OTHER
    *    file advanced the lake) re-bases and retries as usual.
    *  - `dvSeen` states, for files in `retire`, the DV pointer the
    *    caller's rewrite scan APPLIED (None = no vector). A rewrite
    *    materializes the deletes it read through — if a new vector
    *    landed on the file after the scan, committing the rewrite would
    *    resurrect those deleted rows, so a moved pointer is a conflict.
    *    Files retired without a `dvSeen` entry keep the legacy rule
    *    (membership-only conflict detection).
    *
    * Retiring a file always DROPS its DV pointer from the next version
    * (the invariant `dvs.keySet ⊆ curSet` holds for every published
    * manifest). */
  def commitDelta(fs: FileSystem, lakePath: String, adds: Seq[String],
                  retire: Seq[String], maxAttempts: Int = 10,
                  setDvs: Map[String, (Option[String], String)] = Map.empty,
                  dvSeen: Map[String, Option[String]] = Map.empty,
                  expectBase: Option[Long] = None): Long = {
    val retireSet = retire.toSet
    // `maxAttempts` bounds NO-PROGRESS retries, not losses: under real
    // contention a committer can lose the next-version race once per
    // competing commit (N queued appends elsewhere = N legitimate
    // losses), and every loss re-bases onto an ADVANCED version — the
    // system is making progress and aborting would be spurious. Only
    // a collision with no version advance (rename layer stuck) counts
    // toward the bound.
    // Losses still cost work (re-list, re-read, re-publish), so total
    // attempts are hard-capped at 20× the no-progress bound and every
    // retry backs off with jitter — bounded latency for callers, no
    // thundering-herd rebase storm among many writers.
    var attempt = 0
    var totalAttempts = 0
    var lastSeen = -1L
    while (true) {
      val m = latest(fs, lakePath).getOrElse(
        throw new IllegalStateException(
          s"commitDelta on a lake without manifests: $lakePath"))
      attempt = if (m.version > lastSeen) 1 else attempt + 1
      totalAttempts += 1
      lastSeen = m.version
      // compare-and-swap commits (whole-lake restatement) must land on
      // EXACTLY the version their retire set was computed from — a
      // rebase over any concurrent commit would let that commit's
      // files survive a "retires everything" contract
      expectBase.foreach { base =>
        if (m.version != base)
          throw new java.util.ConcurrentModificationException(
            s"commit conflict at $lakePath: expected base version $base " +
              s"but the lake is at ${m.version} — a concurrent commit " +
              "landed under the restatement; recompute from the new " +
              "snapshot and retry")
      }
      val gone = retireSet -- m.curSet
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"commit conflict at $lakePath: files to retire are no longer " +
            s"current (a concurrent commit rewrote or removed them): " +
            gone.toSeq.sorted.take(4).mkString(", "))
      // a retired file whose DV pointer moved since the caller's scan:
      // the rewrite was computed against a stale row set — committing it
      // would resurrect the newer vector's deleted rows
      val dvMoved = dvSeen.collect {
        case (rel, seen) if retireSet(rel) && m.dvs.get(rel) != seen => rel
      }
      if (dvMoved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"commit conflict at $lakePath: deletion vectors changed under " +
            s"the rewrite scan for: ${dvMoved.toSeq.sorted.take(4).mkString(", ")}")
      setDvs.foreach { case (rel, (expected, _)) =>
        if (!m.curSet(rel))
          throw new java.util.ConcurrentModificationException(
            s"commit conflict at $lakePath: DV target $rel is no longer " +
              "current (a concurrent commit rewrote or removed it)")
        if (m.dvs.get(rel) != expected)
          throw new java.util.ConcurrentModificationException(
            s"commit conflict at $lakePath: DV pointer for $rel moved " +
              s"(expected ${expected.getOrElse("none")}, " +
              s"found ${m.dvs.get(rel).getOrElse("none")}) — " +
              "a concurrent merge-on-read delete landed; recompute and retry")
      }
      val freshAdds = adds.filterNot(m.curSet)
      if (freshAdds.isEmpty && retireSet.isEmpty && setDvs.isEmpty)
        return m.version
      val now = System.currentTimeMillis()
      val next = Manifest(m.version + 1,
        m.cur.filterNot(retireSet) ++ freshAdds,
        m.retired ++ retire.sorted.map(now -> _),
        (m.dvs -- retireSet) ++ setDvs.map { case (rel, (_, n)) => rel -> n })
      // fire (and consume) the injected race exactly once
      if (testRaceHookPath.forall(_ == lakePath))
        testRaceHook.foreach { h =>
          testRaceHook = None; testRaceHookPath = None; h()
        }
      try {
        publish(fs, lakePath, next)
        return next.version
      } catch {
        case e: VersionCollisionException =>
          if (attempt >= maxAttempts || totalAttempts >= maxAttempts * 20)
            throw e // rename layer stuck, or pathological contention
          Thread.sleep( // jittered backoff before the rebase
            1L + java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(4L * attempt))
      }
    }
    -1L // unreachable
  }

  /** Commit `added` (lake-relative file paths) as new current files —
    * the archive's per-batch manifest add. Idempotent for a replayed
    * batch: already-current paths dedupe away and no new version is
    * published when nothing changes. Optimistically concurrent: an
    * append commutes with ANY other commit, so a version collision
    * re-bases and retries ([[commitDelta]]). */
  def addFiles(fs: FileSystem, lakePath: String,
               added: Seq[String]): Unit =
    commitDelta(fs, lakePath, added, Nil): Unit

  /** List the two-level (`region=…/dt=…`-shaped) partition dirs under
    * `qRoot` as relative paths — hidden (`_`/`.`) segments excluded at
    * EVERY level, sorted. The one shared listing primitive for every
    * lake walker (snapshot reads, stats, vacuum, compaction staging,
    * manifest bootstrap) so hidden-file and depth handling can never
    * drift between them again. */
  def listPartitionDirs(fs: FileSystem, qRoot: Path): Seq[String] =
    Option(fs.globStatus(new Path(qRoot, "*/*")))
      .getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(s => qRoot.toUri.relativize(s.getPath.toUri).getPath)
      .filterNot(_.split('/')
        .exists(seg => seg.startsWith("_") || seg.startsWith(".")))
      .sorted.toSeq

  /** Recursively list every non-hidden data file under `qRoot` — ANY
    * partition depth including none — as qRoot-relative paths. Hidden
    * segments (`_staging`, `_manifests`, `_ledger`, `.…`) prune whole
    * subtrees. */
  def walkDataFiles(fs: FileSystem, qRoot: Path): Seq[String] = {
    def walk(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) walk(s.getPath)
        else Seq(s.getPath)
      }
    walk(qRoot).map(p => qRoot.toUri.relativize(p.toUri).getPath).sorted
  }

  /** List every live (non-hidden) data file under the lake, as
    * lake-relative paths — any partition layout (the `region=…/dt=…`
    * two-level lake, single-level, or unpartitioned). */
  def listLiveFiles(fs: FileSystem, lakePath: String): Seq[String] =
    walkDataFiles(fs, fs.makeQualified(new Path(lakePath)))
}
