package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.jdk.CollectionConverters._

/** Per-file column statistics for the manifest-mode lake — the second
  * half of table-format scan planning: partition dirs prune by
  * (region, dt); these stats prune WITHIN partitions by the min/max of
  * a sort-ish column (the event-time epoch), read straight from
  * parquet FOOTERS (no data pages touched).
  *
  * Design constraints that keep this safe:
  *  - '''Stats are an optimization, never a correctness input.''' A
  *    file with no stats entry is always planned; a stale sidecar can
  *    only fail to prune, never wrongly prune (data files are
  *    immutable, so a file's recorded [min,max] can never go stale).
  *  - '''Sidecar, not manifest.''' Stats live in
  *    `_manifests/stats.tsv`, rewritten whole and published by
  *    write-tmp-then-rename, decoupled from the manifest commit — a
  *    crash between data commit and stats refresh leaves correct reads
  *    with weaker pruning, and the next [[refresh]] catches up.
  *  - '''Refresh is incremental.''' Only files missing from the sidecar
  *    get their footer read, so steady-state maintenance cost is
  *    O(new files since last refresh) driver-side footer reads — the
  *    same cost class as the manifest append itself. At 100 TB the
  *    footer reads parallelize trivially if needed; they are metadata
  *    (KBs per file), not data.
  *
  * Format: one `rel\tcol\tmin\tmax` line per (file, column) — the
  * column name is part of the key, so stats refreshed for one column
  * can never be consulted for another (a mixed-up lookup would
  * wrong-prune, the one failure mode the design forbids). A file whose
  * footer yields NO usable stats (column absent, not INT64, unstatted
  * row group) gets a `-\t-` sentinel line: "known unstattable, always
  * plan, don't re-read the footer every refresh". Lines that don't
  * parse are SKIPPED, not fatal — a corrupt sidecar degrades to
  * weaker pruning, never to a failed read.
  */
object FileStats {

  /** A (file, column) stats entry: INT64/INT32/DATE columns fold to a
    * long range (DATE as days-since-epoch — the physical INT32 value);
    * STRING columns to a string range under UTF-8-byte unsigned
    * ordering (parquet's binary comparator, which is also exactly
    * [[org.apache.spark.unsafe.types.UTF8String]]'s ordering — the
    * one ordering both the writer and every reader agree on). */
  sealed trait StatRange
  final case class LongRange(mn: Long, mx: Long) extends StatRange
  final case class StrRange(mn: String, mx: String) extends StatRange
  /** DOUBLE/FLOAT extrema (floats widen exactly). Footer bounds
    * involving NaN or ±0.0 REFUSE at read time — parquet double stats
    * are unreliable around NaN (a writer may drop NaN from bounds or
    * order it arbitrarily) and the −0.0/+0.0 min/max convention varies
    * by writer, so a bound touching either could answer or prune
    * wrongly. */
  final case class DoubleRange(mn: Double, mx: Double) extends StatRange
  /** DECIMAL extrema as UNSCALED INT32/INT64 bounds — a DISTINCT type
    * (not [[LongRange]]) so generic long-range consumers
    * ([[History.readPinnedBox]] pruning, BIGINT extrema) can never
    * consume an unscaled value as a logical one; only the typed
    * decimal reader, which knows the declared (precision, scale),
    * interprets it. Unscaled order = logical order at a fixed scale,
    * so the fold is plain long min/max. FIXED_LEN_BYTE_ARRAY-backed
    * decimals (precision > 18) have Binary stats with no safe
    * ordering shortcut here and stay unstatted. */
  final case class UnscaledRange(mn: Long, mx: Long) extends StatRange

  /** UTF-8-byte unsigned comparison — parquet's and Spark's shared
    * string ordering (Java String.compareTo differs above the BMP). */
  private[sources] def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  def statsPath(lakePath: String): String =
    s"${FileManifest.manifestDir(lakePath)}/stats.tsv"

  /** Sidecar FORMAT VERSION header (first line). v2 = timestamp
    * entries are unit-normalized to micros at footer-read time; a
    * sidecar WITHOUT the marker predates the normalization, so its
    * INT64 TIMESTAMP_MILLIS entries hold raw millis that a v2 reader
    * would serve 1000x off (typed MIN/MAX and readPinnedBox pruning).
    * Unversioned sidecars are therefore DISCARDED on read — pruning
    * degrades until the next refresh rebuilds them under v2, which is
    * the one failure direction the design allows. */
  private val FormatHeader = "#graft-stats-v2"

  /** Reserved pseudo-column: the file's TOTAL ROW COUNT (footer block
    * counts summed), stored as (n, n). Refreshed through the ordinary
    * [[refresh]] path (so the change-feed maintenance cadence applies
    * unchanged — list it in `statsCols`), served by
    * [[History.fastCount]] for metadata-only COUNT(*). The underscore
    * prefix keeps it out of any real column's namespace. */
  val RowsCol = "_graft_rows"

  /** Reserved pseudo-column PREFIX: `_graft_nulls:<col>` holds the
    * file's NULL COUNT for `<col>` as (n, n) — recorded by the same
    * footer read that stats the column's extrema (zero extra I/O),
    * served by [[History.fastCountColFiles]] for metadata-only
    * COUNT(col) = rows − nulls. */
  val NullsPrefix = "_graft_nulls:"

  /** Parsed-sidecar LRU keyed (qualified path, mtime, length) — the
    * sidecar is rewritten whole by refresh, so the status pair
    * invalidates naturally. Every stats-pruned plan consults the full
    * map; without the cache each PLAN re-read and re-parsed O(lake
    * files × cols) lines (lightweight entries, but the same per-plan
    * O(lake) driver cost class the manifest and bloom caches already
    * eliminated). Entry-count + total-line budget like the manifest
    * cache. */
  private val cacheCap = 64
  private val cacheMaxLines = 2000000L
  private val parsedCache = new java.util.LinkedHashMap[
    (String, Long, Long), Map[(String, String), Option[StatRange]]](
    16, 0.75f, true)
  private var cachedLines = 0L
  /** Physical sidecar reads — spec-assertable: a repeated stats-pruned
    * plan must be served from cache. */
  private[graft] val statsFileReads =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Load the sidecar: (rel path, column) → Some(range), or None for
    * the known-unstattable sentinel. Empty when absent. Cached per
    * (path, mtime, length); one metadata RTT per call thereafter. */
  def read(fs: FileSystem, lakePath: String)
      : Map[(String, String), Option[StatRange]] = {
    val p = new Path(statsPath(lakePath))
    val st = try Some(fs.getFileStatus(p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    // string bounds ride base64 of the UTF-8 bytes (`s:` tag) — the
    // one encoding that keeps a tab/newline-bearing bound on one TSV
    // line and round-trips exactly; numeric lines stay bare longs, so
    // pre-string sidecars parse unchanged
    // double bounds ride a `d:` tag with java.lang.Double.toString —
    // exact round-trip for every finite double and ±Infinity (NaN/±0.0
    // never get written — refused at footer-read time); unscaled
    // decimal bounds ride a `u:` tag (see UnscaledRange)
    def bound(v: String): Option[Any] =
      if (v.startsWith("s:"))
        scala.util.Try(new String(
          java.util.Base64.getDecoder.decode(v.drop(2)),
          java.nio.charset.StandardCharsets.UTF_8): Any).toOption
      else if (v.startsWith("d:"))
        scala.util.Try(
          java.lang.Double.parseDouble(v.drop(2)): Any).toOption
      else if (v.startsWith("u:"))
        scala.util.Try(Unscaled(v.drop(2).toLong): Any).toOption
      else scala.util.Try(v.toLong: Any).toOption
    st match {
      case None => Map.empty
      case Some(s) =>
        val key = (fs.makeQualified(p).toString,
          s.getModificationTime, s.getLen)
        val hit = parsedCache.synchronized(Option(parsedCache.get(key)))
        hit.getOrElse {
          statsFileReads.incrementAndGet(): Unit
          val allLines = SidecarIO.readLines(fs, p)
          // pre-v2 sidecars (no format header) may hold raw-millis
          // timestamp bounds a v2 reader would misread as micros —
          // discard whole; the next refresh re-reads footers and
          // republishes under v2 (weaker pruning meanwhile, never a
          // wrong prune)
          val lines =
            if (allLines.headOption.contains(FormatHeader)) allLines.tail
            else Seq.empty
          val parsed = lines.flatMap { l =>
            l.split('\t') match {
              case Array(rel, c, "-", "-") => Some((rel, c) -> None)
              case Array(rel, c, mn, mx) =>
                (bound(mn), bound(mx)) match {
                  case (Some(a: Long), Some(b: Long)) =>
                    Some((rel, c) -> Some(LongRange(a, b)))
                  case (Some(a: String), Some(b: String)) =>
                    Some((rel, c) -> Some(StrRange(a, b)))
                  case (Some(a: Double), Some(b: Double)) =>
                    Some((rel, c) -> Some(DoubleRange(a, b)))
                  case (Some(Unscaled(a)), Some(Unscaled(b))) =>
                    Some((rel, c) -> Some(UnscaledRange(a, b)))
                  case _ => None // mixed/unparsable: plan the file
                }
              case _ => None // unparsable: plan the file, don't fail reads
            }
          }.toMap
          parsedCache.synchronized {
            val prev = parsedCache.put(key, parsed)
            if (prev != null) cachedLines -= prev.size + 1
            cachedLines += parsed.size + 1
            val it = parsedCache.entrySet().iterator()
            while ((parsedCache.size() > cacheCap ||
                cachedLines > cacheMaxLines) && it.hasNext) {
              cachedLines -= it.next().getValue.size + 1
              it.remove()
            }
          }
          parsed
        }
    }
  }

  private def publish(fs: FileSystem, lakePath: String,
      stats: Map[(String, String), Option[StatRange]]): Unit = {
    def b64(s: String): String = "s:" + java.util.Base64.getEncoder
      .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder
    sb.append(FormatHeader).append('\n')
    stats.toSeq.sortBy(_._1).foreach { case ((rel, c), v) =>
      sb.append(rel).append('\t').append(c).append('\t')
      v match {
        case Some(LongRange(mn, mx)) =>
          sb.append(mn).append('\t').append(mx)
        case Some(StrRange(mn, mx)) =>
          sb.append(b64(mn)).append('\t').append(b64(mx))
        case Some(DoubleRange(mn, mx)) =>
          sb.append("d:").append(java.lang.Double.toString(mn))
            .append('\t')
            .append("d:").append(java.lang.Double.toString(mx))
        case Some(UnscaledRange(mn, mx)) =>
          sb.append("u:").append(mn).append('\t')
            .append("u:").append(mx)
        case None => sb.append("-\t-")
      }
      sb.append('\n')
    }
    // atomic replace: no window in which a crash loses the sidecar
    SidecarIO.replace(fs, new Path(statsPath(lakePath)),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** A floating-point footer bound pair folded to a [[DoubleRange]],
    * or None when either bound is NaN or ±0.0 (unreliable writer
    * conventions — see [[DoubleRange]]). */
  private def dblRange(mn: Double, mx: Double): Option[DoubleRange] =
    if (mn.isNaN || mx.isNaN || mn == 0.0d || mx == 0.0d) None
    else Some(DoubleRange(mn, mx))

  /** Parse-time marker for a `u:`-tagged sidecar bound (see
    * [[UnscaledRange]]). */
  private final case class Unscaled(v: Long)

  /** Footer min/max of a top-level INT64/INT32/DATE/STRING column, or
    * None when the file has no such column, no stats, or an unreadable
    * footer (never throws — a file we can't stat just stays unpruned).
    * Multi-rowgroup files fold across blocks; integral stats widen to
    * a [[LongRange]] (DATE as its physical days-since-epoch INT32),
    * string stats fold under UTF-8-byte unsigned order into a
    * [[StrRange]]. Non-string BINARY (raw bytes, decimals) stays
    * unstatted — no reader ordering to answer MIN/MAX under. */
  def minMaxFromFooter(conf: Configuration, file: Path,
                       colName: String): Option[StatRange] =
    footerColumnStats(conf, file, colName)._1

  /** One footer read answering BOTH stats families for a column: its
    * min/max range ([[minMaxFromFooter]]'s contract) and its total
    * NULL COUNT (blocks' num-nulls summed — None unless every block
    * declares one, or on any read problem; never throws). */
  def footerColumnStats(conf: Configuration, file: Path,
      colName: String): (Option[StatRange], Option[Long]) =
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val nullsPerBlock: Seq[Option[Long]] = blocks.toSeq.map { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == colName)
            .flatMap { c =>
              val st = c.getStatistics
              if (st == null || st.isEmpty || !st.isNumNullsSet) None
              else Some(st.getNumNulls)
            }
        }
        val nulls: Option[Long] =
          if (nullsPerBlock.isEmpty || nullsPerBlock.exists(_.isEmpty))
            None
          else Some(nullsPerBlock.map(_.get).sum)
        val ranges: Seq[StatRange] = blocks.toSeq.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == colName)
            .flatMap { c =>
              val st = c.getStatistics
              // INT64 TIMESTAMP stats NORMALIZE to micros — the unit
              // catalyst timestamps use — or refuse: serving a
              // TIMESTAMP_MILLIS bound as micros would answer 1000x
              // off, and NANOS cannot round-trip through micros
              def tsToMicros(v: Long): Option[Long] =
                c.getPrimitiveType.getLogicalTypeAnnotation match {
                  case ts: org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation =>
                    ts.getUnit match {
                      case org.apache.parquet.schema
                          .LogicalTypeAnnotation.TimeUnit.MICROS =>
                        Some(v)
                      case org.apache.parquet.schema
                          .LogicalTypeAnnotation.TimeUnit.MILLIS =>
                        try Some(Math.multiplyExact(v, 1000L))
                        catch { case _: ArithmeticException => None }
                      case _ => None // NANOS: not micros-representable
                    }
                  // UINT64: the signed longValue() view wraps values
                  // above Long.MaxValue into negatives — a wrong bound
                  // could wrong-prune, so refuse like NANOS does
                  case i: org.apache.parquet.schema.LogicalTypeAnnotation
                      .IntLogicalTypeAnnotation if !i.isSigned => None
                  case _ => Some(v) // plain signed INT64
                }
              def isDecimal: Boolean =
                c.getPrimitiveType.getLogicalTypeAnnotation
                  .isInstanceOf[org.apache.parquet.schema
                    .LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
              // UINT32 (read by Spark as LONG): signed intValue() turns
              // values above Int.MaxValue negative — same wrong-prune
              // hazard, same refusal (mirrors the timestamp-unit guard)
              def int32Signed: Boolean =
                c.getPrimitiveType.getLogicalTypeAnnotation match {
                  case i: org.apache.parquet.schema.LogicalTypeAnnotation
                      .IntLogicalTypeAnnotation => i.isSigned
                  case _ => true
                }
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else (st.genericGetMin, st.genericGetMax) match {
                // DECIMAL-backed INT32/INT64: the stat is the UNSCALED
                // value — recorded under the DISTINCT UnscaledRange so
                // no plain-long consumer can misread it; only the
                // typed decimal reader (which knows the scale) serves
                case (mn: java.lang.Long, mx: java.lang.Long)
                    if isDecimal =>
                  Some(UnscaledRange(mn.longValue(), mx.longValue()))
                case (mn: java.lang.Integer, mx: java.lang.Integer)
                    if isDecimal =>
                  Some(UnscaledRange(mn.longValue(), mx.longValue()))
                case (mn: java.lang.Long, mx: java.lang.Long) =>
                  for (a <- tsToMicros(mn.longValue());
                       b <- tsToMicros(mx.longValue()))
                    yield LongRange(a, b)
                case (mn: java.lang.Integer, mx: java.lang.Integer)
                    if int32Signed =>
                  Some(LongRange(mn.longValue(), mx.longValue()))
                // DOUBLE/FLOAT: refuse bounds touching NaN or ±0.0
                // (see DoubleRange's scaladoc — writer conventions
                // vary there, and a wrong bound can wrong-prune)
                case (mn: java.lang.Double, mx: java.lang.Double) =>
                  dblRange(mn.doubleValue(), mx.doubleValue())
                case (mn: java.lang.Float, mx: java.lang.Float) =>
                  // float → double is exact for every float value
                  dblRange(mn.floatValue().toDouble,
                    mx.floatValue().toDouble)
                case (mn: org.apache.parquet.io.api.Binary,
                      mx: org.apache.parquet.io.api.Binary)
                    if c.getPrimitiveType.getLogicalTypeAnnotation
                      .isInstanceOf[org.apache.parquet.schema
                        .LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                  Some(StrRange(mn.toStringUsingUTF8, mx.toStringUsingUTF8))
                case _ => None
              }
            }
        }
        // every row group must report stats (of one shape), or rows
        // outside the folded range could exist in an unstatted block
        val range: Option[StatRange] =
          if (ranges.isEmpty || ranges.size != blocks.size) None
          else if (ranges.forall(_.isInstanceOf[LongRange])) {
            val ls = ranges.collect { case r: LongRange => r }
            Some(LongRange(ls.map(_.mn).min, ls.map(_.mx).max))
          } else if (ranges.forall(_.isInstanceOf[StrRange])) {
            val ss = ranges.collect { case r: StrRange => r }
            Some(StrRange(
              ss.map(_.mn).reduce((a, b) => if (utf8Lt(a, b)) a else b),
              ss.map(_.mx).reduce((a, b) => if (utf8Lt(a, b)) b else a)))
          } else if (ranges.forall(_.isInstanceOf[DoubleRange])) {
            val ds = ranges.collect { case r: DoubleRange => r }
            // per-block bounds already exclude NaN/±0.0; min/max over
            // finite doubles and ±Infinity fold plainly
            Some(DoubleRange(ds.map(_.mn).min, ds.map(_.mx).max))
          } else if (ranges.forall(_.isInstanceOf[UnscaledRange])) {
            val us = ranges.collect { case r: UnscaledRange => r }
            // unscaled order = logical order at the column's fixed scale
            Some(UnscaledRange(us.map(_.mn).min, us.map(_.mx).max))
          } else None
        (range, nulls)
      } finally reader.close()
    } catch { case _: Throwable => (None, None) }

  /** Footer total row count (blocks summed), or None on an unreadable
    * footer (never throws — same contract as [[minMaxFromFooter]]). */
  def rowCountFromFooter(conf: Configuration, file: Path): Option[Long] =
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try Some(reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      finally reader.close()
    } catch { case _: Throwable => None }

  /** Bring the sidecar up to date with the latest manifest for
    * `colName`: footer-read only the current files missing an entry FOR
    * THAT COLUMN, drop entries for files no longer current or retired
    * (vacuum fodder), publish atomically. Entries for other columns are
    * retained untouched — per-column refresh cadences compose. With
    * `onlyFiles` the candidate set is restricted to those files (the
    * change-feed-driven maintenance path: the caller already knows
    * which files a commit range added, so nothing else is considered).
    * Returns the number of newly statted files. Run from the lake's
    * writer sequence like any maintenance op. */
  def refresh(fs: FileSystem, conf: Configuration, lakePath: String,
              colName: String,
              onlyFiles: Option[Seq[String]] = None): Int = {
    val m = FileManifest.latest(fs, lakePath).getOrElse(
      throw new IllegalStateException(
        s"stats refresh needs a manifest-mode lake: $lakePath"))
    val have = read(fs, lakePath)
    val qRoot = fs.makeQualified(new Path(lakePath))
    val scope = onlyFiles match {
      case Some(fl) => val cs = m.curSet; fl.filter(cs)
      case None => m.cur
    }
    // a real column's refresh records BOTH its extrema range and its
    // null count (same footer read); either entry missing re-reads —
    // so a pre-nulls sidecar upgrades in place on its next refresh
    val nullsKey = s"$NullsPrefix$colName"
    val missing = scope.filterNot(rel =>
      have.contains((rel, colName)) &&
        (colName == RowsCol || have.contains((rel, nullsKey))))
    // RENAMED columns: files written before the rename hold the column
    // under a retired physical name — fall back through the alias
    // chain (newest first) when the declared name yields nothing, so
    // metadata extrema/COUNT(col) keep answering across a rename. The
    // entry is still KEYED by the declared name; values are the same
    // logical column, so a consulted bound can never wrong-prune.
    val aliasNames: Seq[String] =
      if (colName == RowsCol) Nil
      else SchemaLog.latest(fs, lakePath).toSeq.flatMap(
        // case-INSENSITIVE field lookup, like every other name
        // resolution on the lake surface — a case-variant colName must
        // still find the alias chain, or pre-rename files silently stay
        // unstatted and metadata extrema degrade to scans
        _.fields.find(_.name.equalsIgnoreCase(colName)).toSeq
          .flatMap(f => SchemaLog.aliasesOf(f).reverse))
    // footer reads are independent KB-scale metadata fetches — run them
    // on the same bounded pool as commit renames (matters on object
    // stores where each footer is a round-trip)
    val freshMap = new java.util.concurrent.ConcurrentHashMap[
      String, (Option[StatRange], Option[Long])]()
    LakeCommit.foreachPar(missing) { rel =>
      // record unstattable files as a sentinel so they're footer-read
      // ONCE, not on every refresh (keeps the steady state O(new files))
      freshMap.put(rel,
        if (colName == RowsCol)
          (rowCountFromFooter(conf, new Path(qRoot, rel))
            .map(n => LongRange(n, n)), None)
        else
          (colName +: aliasNames).iterator
            .map(n => footerColumnStats(conf, new Path(qRoot, rel), n))
            .find { case (r, n) => r.isDefined || n.isDefined }
            .getOrElse((None, None))): Unit
    }
    val fresh = missing.flatMap(rel =>
      Option(freshMap.get(rel)).toSeq.flatMap { case (range, nulls) =>
        Seq((rel, colName) -> range) ++
          (if (colName == RowsCol) Nil
           else Seq((rel, nullsKey) ->
             nulls.map(n => LongRange(n, n): StatRange)))
      })
    val keep = m.curSet ++ m.retiredSet // retired may still serve pins
    val next = have.view.filterKeys(k => keep(k._1)).toMap ++ fresh
    if (next != have) publish(fs, lakePath, next)
    fresh.count { case ((_, c), v) => c == colName && v.isDefined }
  }
}
