package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DELETION VECTORS — merge-on-read row deletes for manifest lakes.
  *
  * A vector is an immutable sidecar under `_manifests/dvs/` listing the
  * row POSITIONS (parquet row indexes) deleted from ONE data file. The
  * manifest attaches it with a `dv` line ([[FileManifest]]); readers
  * apply it by filtering `_metadata.row_index` against the file's
  * vector — so a takedown of k rows in a 4 GB file writes a few-KB
  * sidecar and one manifest commit instead of rewriting 4 GB
  * ([[History.deleteKeysDV]] / [[History.deleteWhereDV]]). Copy-on-write
  * rewrites read THROUGH the vector and drop the pointer on commit
  * (materializing the deletes), so DV and COW compose freely;
  * [[History.materializeDeletes]] is the explicit compaction.
  *
  * Format (text, tab-separated; positions ascending, run-length
  * encoded — `r\t<start>\t<len>` covers start..start+len-1):
  * {{{
  *   file\t<lake-relative data file>
  *   n\t<position count>
  *   r\t0\t3
  *   r\t17\t1
  * }}}
  *
  * Scale properties:
  *  - A vector's size is O(deleted rows in that file), never O(file
  *    rows): sparse takedowns cost bytes. Mass deletes belong to the
  *    copy-on-write path — [[History]] caps the merge-on-read position
  *    count and fails loudly past it rather than building a sidecar
  *    rivaling the data.
  *  - Sidecars are immutable and uniquely named (md5(rel), publishing
  *    version, per-attempt nonce): a superseding delete writes a NEW
  *    vector (the union of positions) and swaps the pointer in one
  *    OCC commit — crash/race leftovers are unreferenced orphans,
  *    reclaimed by vacuum past grace like shards.
  *  - Parses are LRU-cached with a total-position budget, so repeated
  *    pinned reads of a DV-bearing snapshot pay one sidecar read per
  *    (lake, vector), not one per plan.
  *  - At read time the positions ride a broadcast-small reference
  *    object inside whole-stage codegen ([[DvLookup]]): per row one
  *    reference compare (the metadata file path is constant per file
  *    split) + one binary search over that file's positions.
  */
object DeletionVector {

  def dvsDir(lakePath: String): String =
    s"${FileManifest.manifestDir(lakePath)}/dvs"

  /** Encode sorted distinct positions as the sidecar content. */
  private def content(rel: String, positions: Array[Long]): String = {
    val sb = new StringBuilder
    sb.append("file\t").append(rel).append('\n')
    sb.append("n\t").append(positions.length).append('\n')
    var i = 0
    while (i < positions.length) {
      val start = positions(i)
      var len = 1L
      while (i + 1 < positions.length && positions(i + 1) == start + len) {
        len += 1; i += 1
      }
      sb.append("r\t").append(start).append('\t').append(len).append('\n')
      i += 1
    }
    sb.toString
  }

  /** Write the vector for `rel` as a new immutable sidecar; returns its
    * name for the manifest `dv` line. `positions` need not be sorted or
    * distinct; must be non-empty (an empty vector is represented by NO
    * pointer). */
  def write(fs: FileSystem, lakePath: String, rel: String,
            positions: Array[Long], version: Long): String = {
    require(positions.nonEmpty,
      s"refusing to write an empty deletion vector for $rel — drop the " +
        "pointer instead")
    val sorted = positions.distinct.sorted
    require(sorted.head >= 0, s"negative row position for $rel")
    // mirror the reader's hard ceiling: a sidecar the reader would
    // refuse must never be written — it would poison the file (and
    // every old++fresh union after it) as permanently unreadable
    require(sorted.length <= (1 << 28),
      s"deletion vector for $rel carries ${sorted.length} positions " +
        "> 2^28 — materialize via the copy-on-write path instead")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val name =
      f"${graft.Hashes.md5Hex(rel, 32)}%s-v$version%012d-$nonce%s.dv"
    SidecarIO.create(fs, new Path(dvsDir(lakePath), name),
      content(rel, sorted).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the writer's own next read should not pay a physical re-read
    putCache(cacheKey(fs, lakePath, name), sorted)
    name
  }

  /** Parsed-vector cache: immutable + uniquely named sidecars, so the
    * name alone keys an entry; LRU with a total-position budget (a
    * pathological vector set cannot pin unbounded driver heap). */
  private val cacheCap = 256
  private val cacheMaxPositions = 8L * 1024 * 1024 // ≈64 MB of longs
  private val cache =
    new java.util.LinkedHashMap[(String, String), Array[Long]](16, 0.75f, true)
  private var cachedPositions = 0L
  /** Physical sidecar reads — spec hook (cached rereads must be 0). */
  private[graft] val dvFileReads =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def cacheKey(fs: FileSystem, lakePath: String,
                       name: String): (String, String) =
    (fs.makeQualified(new Path(lakePath)).toString, name)

  private def putCache(key: (String, String), v: Array[Long]): Unit =
    cache.synchronized {
      val prev = cache.put(key, v)
      if (prev != null) cachedPositions -= prev.length
      cachedPositions += v.length
      val it = cache.entrySet().iterator()
      while ((cache.size() > cacheCap ||
          cachedPositions > cacheMaxPositions) && it.hasNext) {
        cachedPositions -= it.next().getValue.length
        it.remove()
      }
    }

  /** Read a vector's sorted positions (cached). Fails loudly on a
    * missing or corrupt sidecar — a DV that silently read as empty
    * would resurrect deleted rows. */
  def read(fs: FileSystem, lakePath: String, name: String): Array[Long] = {
    val key = cacheKey(fs, lakePath, name)
    val hit = cache.synchronized(Option(cache.get(key)))
    hit.getOrElse {
      dvFileReads.incrementAndGet(): Unit
      val lines = SidecarIO.readLines(fs, new Path(dvsDir(lakePath), name))
      var declared = -1L
      // primitive growth buffer: an ArrayBuffer[Long] boxes every
      // position — at the 10M-position cap that is >100 MB of Long
      // objects for 80 MB of payload
      var arr = new Array[Long](1024)
      var n = 0
      def add(v: Long): Unit = {
        if (n == arr.length)
          arr = java.util.Arrays.copyOf(arr, arr.length << 1)
        arr(n) = v; n += 1
      }
      lines.foreach { l =>
        l.split('\t') match {
          case Array("file", _) => ()
          case Array("n", d) =>
            declared = d.toLong
            // hard reader ceiling: a legitimate vector is capped at the
            // WRITE side (History.deleteWhereDV maxPositions, default
            // 10M); a declaration past ~268M positions (~2 GB of longs)
            // could only come from corruption or a sidecar rivaling its
            // data file — either way, fail before allocating toward it
            if (declared < 0 || declared > (1L << 28))
              throw new java.io.IOException(
                s"deletion vector $name corrupt: declares $declared positions")
          case Array("r", start, len) =>
            val s = start.toLong; val k = len.toLong
            // bound growth DURING expansion, not just at the final
            // declared-count check: a corrupt run length (`r\t0\t9e15`)
            // must fail loudly here, before it allocates/loops the
            // driver toward OOM. The writer emits `n` before any run,
            // so a run with no declaration is itself corruption.
            if (declared < 0) throw new java.io.IOException(
              s"deletion vector $name corrupt: run before 'n' declaration")
            if (s < 0 || k <= 0 || k > declared - n)
              throw new java.io.IOException(
                s"deletion vector $name corrupt: run $s+$k at $n " +
                  s"positions exceeds declared $declared or is malformed")
            var j = 0L
            while (j < k) { add(s + j); j += 1 }
          case other => throw new java.io.IOException(
            s"bad deletion-vector line in $name: ${other.mkString("\\t")}")
        }
      }
      if (declared != n)
        throw new java.io.IOException(
          s"deletion vector $name corrupt: declares $declared positions, " +
            s"carries $n")
      val out = java.util.Arrays.copyOf(arr, n)
      putCache(key, out)
      out
    }
  }

  /** Per-name cardinality cache (a long per entry — no budget needed
    * beyond an entry cap; names are immutable+unique like the sidecars
    * they describe). */
  private val countCache =
    new java.util.LinkedHashMap[(String, String), Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Long]): Boolean =
        size() > 65536
    }
  /** Physical cardinality-only sidecar reads — spec hook. */
  private[graft] val dvCountReads =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** A vector's position COUNT without materializing the positions:
    * answered from the parse cache when the vector is resident, from
    * the cardinality cache on a repeat, else by reading the sidecar
    * and parsing ONLY its `n` declaration line — O(sidecar KB) driver
    * I/O, never O(positions) heap. The metadata path behind
    * [[History.fastCount]]: a table-resolution-time count must not
    * expand (or churn the budgeted cache with) every vector's full
    * position array just to take its length. */
  def cardinality(fs: FileSystem, lakePath: String, name: String): Long = {
    val key = cacheKey(fs, lakePath, name)
    val resident = cache.synchronized(Option(cache.get(key)))
    resident match {
      case Some(arr) => arr.length.toLong
      case None =>
        val cached = countCache.synchronized(
          Option(countCache.get(key)))
        cached.getOrElse {
          dvCountReads.incrementAndGet(): Unit
          val lines =
            SidecarIO.readLines(fs, new Path(dvsDir(lakePath), name))
          val n = lines.collectFirst {
            case l if l.startsWith("n\t") => l.stripPrefix("n\t").toLong
          }.getOrElse(throw new java.io.IOException(
            s"deletion vector $name corrupt: no 'n' declaration"))
          if (n < 0 || n > (1L << 28))
            throw new java.io.IOException(
              s"deletion vector $name corrupt: declares $n positions")
          countCache.synchronized(countCache.put(key, n)): Unit
          n
        }
    }
  }

  /** Sidecar files on disk, with mtimes (vacuum's candidate list). */
  def listDvFiles(fs: FileSystem, lakePath: String): Seq[(String, Long)] = {
    val dir = new Path(dvsDir(lakePath))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".dv"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSeq
  }

  /** DV names referenced by ANY retained version — everything else
    * under `dvs/` is garbage (superseded vectors, crashed attempts)
    * once past grace. O(retained versions) cached manifest reads. */
  def referencedDvs(fs: FileSystem, lakePath: String): Set[String] =
    FileManifest.versions(fs, lakePath).flatMap(v =>
      FileManifest.at(fs, lakePath, v).map(_.dvs.values.toSeq)
        .getOrElse(Nil)).toSet

  /** Drop cached vectors for a wiped/rebuilt lake (test hygiene). */
  private[graft] def evictCache(): Unit = {
    cache.synchronized { cache.clear(); cachedPositions = 0L }
    countCache.synchronized(countCache.clear())
  }
}

/** The executor-side position table behind [[DvDeleted]]: data-file
  * path → sorted deleted positions, shipped as a REAL Spark broadcast
  * — the expression (serialized into every task closure) carries only
  * the handle, and each executor fetches the table once. Holding the
  * table inline would re-serialize EVERY planned vector per task: at
  * heavy DV volume (10⁵ vectored files × 10³ positions) that is
  * hundreds of MB per task launch, the classic non-broadcast closure
  * regression.
  *
  * Keys are registered under the planner's qualified-path form;
  * `_metadata.file_path` may spell the same file differently (URI
  * form), so a miss normalizes through Hadoop `Path` once per distinct
  * path and memoizes — including definite misses (files with no
  * vector, the common case) — in the executor-local table (broadcast
  * values deserialize once per executor; the CHM mutation is
  * thread-safe and bounded by the distinct files scanned there). The
  * single-entry `last` pair makes the per-row steady state one
  * bytes-equality compare, since a file split's metadata path is
  * constant. */
final class DvLookup(
    private val bc: org.apache.spark.broadcast.Broadcast[
      java.util.concurrent.ConcurrentHashMap[String, Array[Long]]])
  extends Serializable {

  @transient private var last: (UTF8String, Array[Long]) = null

  def deleted(fp: UTF8String, rowIndex: Long): Boolean = {
    // equals (bytes), not eq: an UnsafeRow hands out a fresh UTF8String
    // wrapper per access, and a reused buffer under a stale wrapper
    // would make identity both useless and unsafe. The cached key is a
    // defensive clone, so the compare is against stable bytes.
    val l = last
    val arr =
      if (l != null && l._1.equals(fp)) l._2
      else {
        val a = lookup(fp)
        last = (fp.clone(), a)
        a
      }
    (arr.length != 0) && java.util.Arrays.binarySearch(arr, rowIndex) >= 0
  }

  private def lookup(fp: UTF8String): Array[Long] = {
    val table = bc.value
    val s = fp.toString
    val direct = table.get(s)
    if (direct != null) direct
    else {
      // normalize the metadata spelling (file:///x ↔ file:/x) once per
      // distinct path and memoize under the raw spelling
      val norm = new Path(s).toString
      val found = table.get(norm)
      val resolved = if (found != null) found else DvLookup.EMPTY
      table.putIfAbsent(s, resolved)
      resolved
    }
  }
}

object DvLookup {
  private[sources] val EMPTY = Array.empty[Long]

  /** Build from lake-relative pointers, resolving sidecars via
    * [[DeletionVector.read]], keying by the planner's qualified path,
    * and publishing the table as one broadcast. */
  def forFiles(spark: org.apache.spark.sql.SparkSession,
               fs: FileSystem, qRoot: Path, lakePath: String,
               dvs: Map[String, String]): DvLookup = {
    val t = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    dvs.foreach { case (rel, name) =>
      t.put(new Path(qRoot, rel).toString,
        DeletionVector.read(fs, lakePath, name)): Unit
    }
    new DvLookup(spark.sparkContext.broadcast(t))
  }

  /** Wrap an already-built position-delta table (the change feed's
    * positional path). */
  def ofTable(spark: org.apache.spark.sql.SparkSession,
      t: java.util.concurrent.ConcurrentHashMap[String, Array[Long]])
      : DvLookup =
    new DvLookup(spark.sparkContext.broadcast(t))
}

/** `dv_deleted(file_path, row_index)` — TRUE iff the row at
  * `row_index` of the file at `file_path` is deleted by the plan's
  * deletion vectors. Codegen-native (stays inside whole-stage
  * codegen); per row one cached-pair compare + binary search. Readers
  * apply `!dv_deleted(...)`; the positional change feed uses it
  * positively to SELECT exactly the rows a vector added. */
case class DvDeleted(left: Expression, right: Expression, lookup: DvLookup)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dv_deleted expects (string file_path, bigint row_index), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(fp: Any, idx: Any): Any =
    lookup.deleted(fp.asInstanceOf[UTF8String], idx.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvLookup", lookup,
      classOf[DvLookup].getName)
    defineCodeGen(ctx, ev, (fp, idx) => s"$ref.deleted($fp, $idx)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvDeleted =
    copy(left = newLeft, right = newRight)
}
