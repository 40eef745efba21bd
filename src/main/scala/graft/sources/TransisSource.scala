package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1/S2: the push-stream source as a DataSource V2 `MicroBatchStream`
  * (SURVEY.md §2.1; reference `transis_consumer.py:49-151`).
  *
  * The reference opens a streaming HTTP GET, frames documents on NUL bytes
  * and retries the connection up to `max_transis_reconnects` times, with the
  * counter reset after every successfully-read document
  * (`transis_consumer.py:13,41-47,140-148`). Here the transport is
  * abstracted behind [[PayloadTransport]]: http(s) paths use
  * [[HttpPayloadTransport]] (the reference's streaming GET with basic
  * auth and stall timeout, exercised against a loopback server in
  * `TransisSourceSpec`); other paths use [[FilePayloadTransport]] for
  * file-backed streams in tests and local runs.
  *
  * Offsets are document indices, so Structured Streaming checkpointing gives
  * exactly-once source tracking — strictly stronger than the reference's
  * resume-at-now behavior (SURVEY §2.9, allowed upgrade).
  *
  * Usage: `spark.readStream.format("transis").option("path", f).load()`
  * → one row per framed document: `value` (the raw doc) plus `doc_type`
  * and `dt` metadata columns that exist so S4 date/type predicates have
  * a column to push down into the transport (TransisScanBuilder).
  */
trait PayloadTransport extends Serializable {
  /** Number of documents currently available. */
  def available(): Long
  /** Read documents [from, until). May throw transient IO errors. */
  def read(from: Long, until: Long): Iterator[String]
  /** Offsets below `end` are committed: they are never read again. */
  def commit(end: Long): Unit = ()
  /** Release any long-lived resources (driver-side offset tracking). */
  def close(): Unit = ()
}

/** The NUL framer every transport uses (F1, reference
  * `transis_consumer.py:88-89,127-139`): reads the stream in chunks into
  * its own buffer, splits on byte 0, drops blank fragments and keeps the
  * documents `filters` match. A document is decoded only when it is served
  * ([[text]]) or when a filter needs its text.
  *
  * [[advance]] reads from the stream only when no complete document is
  * buffered, so a read on a LIVE connection returns its document without
  * waiting on bytes the server hasn't sent yet; bytes already read for the
  * next document stay buffered for the next call. A trailing unterminated
  * fragment at EOF is discarded — a connection cut mid-document must not
  * surface a truncated doc. */
private[graft] final class NulFramer(in: java.io.InputStream,
                                     filters: DocFilters = DocFilters()) {
  private var buf = new Array[Byte](64 << 10)
  private var base = 0L // stream offset of buf(0)
  private var head = 0  // first byte not yet framed
  private var scan = 0  // buf[head, scan) holds no 0 byte
  private var limit = 0 // buf[0, limit) holds bytes read
  private var eof = false
  private var from, until = 0 // buf[from, until) is the current document
  private var decoded: String = _

  /** Stream offsets [docStart, docEnd) of the current document. */
  def docStart: Long = base + from
  def docEnd: Long = base + until

  /** The current document's text, decoded once; valid until the next
    * [[advance]] or [[fill]]. */
  def text: String = {
    if (decoded == null) decoded = new String(buf, from, until - from,
      java.nio.charset.StandardCharsets.UTF_8)
    decoded
  }

  /** Move to the next document already complete in the buffer; false
    * when there is none. Reads nothing from the stream. */
  def nextBuffered(): Boolean = {
    var found = false
    while (!found && scan < limit) {
      val b = buf
      val l = limit
      var s = scan
      while (s < l && b(s) != 0) s += 1
      scan = s
      if (s < l) {
        from = head; until = s; head = s + 1; scan = head
        decoded = null
        // blank (String.trim-empty in UTF-8): every byte is <= ' ' unsigned
        var i = from
        while (i < until && (b(i) & 0xff) <= ' ') i += 1
        found = i < until && (filters.isEmpty || filters.matches(text))
      }
    }
    found
  }

  /** One read from the stream into the buffer, after dropping the bytes
    * already framed; false at EOF. */
  def fill(): Boolean = {
    if (head > 0) {
      System.arraycopy(buf, head, buf, 0, limit - head)
      base += head; scan -= head; limit -= head; head = 0
    }
    if (limit == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    if (!eof) {
      val n = in.read(buf, limit, buf.length - limit)
      if (n < 0) eof = true else limit += n
    }
    !eof
  }

  /** Move to the next document, reading only while no complete one is
    * buffered; false at EOF. */
  def advance(): Boolean = {
    var found = nextBuffered()
    while (!found && fill()) found = nextBuffered()
    found
  }

  /** Bytes the stream can give without blocking. */
  def ready: Int = in.available()

  def close(): Unit = try in.close() catch { case _: java.io.IOException => () }
}

/** NUL-framed documents in a single growable file, framed by the same
  * [[NulFramer]] as the live stream: blank fragments are dropped (F1,
  * reference `transis_consumer.py:89`) and an unterminated tail — a
  * document still being written — is not a document yet. Pushed-down doc
  * filters are applied while framing — the file stands in for the
  * server, so the filter runs where the server's would.
  *
  * The byte range of every matching document is indexed once per
  * (path, filters) for the whole JVM and the index is rebuilt only when
  * the file's length or modification time changes, so an idle poll reads
  * no bytes, a micro-batch task's fresh transport does not re-frame the
  * file, and a read decodes only the documents it serves. */
class FilePayloadTransport(path: String, filters: DocFilters = DocFilters())
    extends PayloadTransport {
  private def file = java.nio.file.Paths.get(path)

  private def decode(bytes: Array[Byte], from: Int, until: Int): String =
    new String(bytes, from, until - from, java.nio.charset.StandardCharsets.UTF_8)

  override def available(): Long =
    FilePayloadTransport.index(path, filters).starts.length.toLong

  override def read(from: Long, until: Long): Iterator[String] = {
    val ix = FilePayloadTransport.index(path, filters)
    val n = ix.starts.length.toLong
    val (lo, hi) = (math.min(from, n).toInt, math.min(until, n).toInt)
    if (lo >= hi) Iterator.empty
    else {
      val base = ix.starts(lo)
      val bytes = new Array[Byte]((ix.ends(hi - 1) - base).toInt)
      val ch = java.nio.channels.FileChannel.open(file)
      try {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        while (buf.hasRemaining && ch.read(buf, base + buf.position()) >= 0) ()
      } finally ch.close()
      (lo until hi).iterator.map(i =>
        decode(bytes, (ix.starts(i) - base).toInt, (ix.ends(i) - base).toInt))
    }
  }
}

object FilePayloadTransport {
  /** Document i of the file as it was at (length, mtime) spans bytes
    * [starts(i), ends(i)). */
  private final case class Index(length: Long, mtime: Long,
                                 starts: Array[Long], ends: Array[Long])

  /** One index per (path, filters), kept for the life of the JVM. */
  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[(String, DocFilters), Index]()

  private val builds = new java.util.concurrent.atomic.AtomicLong()

  /** How many times an index was framed from the file, JVM-wide. */
  private[graft] def indexBuilds: Long = builds.get()

  /** The index of the file as it is now: the shared one unless the
    * file's length or modification time changed since it was built. */
  private def index(path: String, filters: DocFilters): Index = {
    val file = java.nio.file.Paths.get(path)
    val length = java.nio.file.Files.size(file)
    val mtime = java.nio.file.Files.getLastModifiedTime(file).toMillis
    indexes.compute((path, filters), (_, cached) =>
      if (cached != null && cached.length == length && cached.mtime == mtime)
        cached
      else {
        builds.incrementAndGet(): Unit
        val starts, ends = Array.newBuilder[Long]
        val framer = new NulFramer(java.nio.file.Files.newInputStream(file), filters)
        try while (framer.advance()) { starts += framer.docStart; ends += framer.docEnd }
        finally framer.close()
        Index(length, mtime, starts.result(), ends.result())
      })
  }
}

/** Live HTTP transport: the reference's ingress — a streaming GET with
  * basic auth, `Content-type: text/xml`, `Connection: close`, and a stall
  * timeout (reference `transis_consumer.py:49-68`: Transis tends to stop
  * sending without closing the connection, so reads that stall longer
  * than `stallTimeoutMs` abort and count against the reconnect budget).
  *
  * One connection per transport, and the driver owns it: documents are
  * framed on NUL bytes as they stream in (`transis_consumer.py:127-139`;
  * empty fragments are dropped, F1), counted by [[available]] and kept
  * until [[commit]] passes them, so `read(from, until)` serves the very
  * documents that were counted (Spark's `TextSocketMicroBatchStream`
  * keeps its rows the same way). A read past what was received receives
  * on the same connection first. The received count is the high-water
  * mark: a connection that ends or breaks is replaced by a fresh GET that
  * skips as many documents as were already received, which resumes at
  * the next offset on a replaying endpoint (the test server, or a replay
  * proxy in front of the live feed). The held documents sit in driver
  * memory, so a restart that replays a long backlog holds all of it
  * until the batches that read it commit.
  *
  * Two losses stay open on a feed that sends a connection only what
  * arrives after it opened (ROADMAP direction 1): after a cut, that skip
  * drops as many new documents as were received; and a restarted query,
  * whose fresh transport has received nothing, drops as many as its
  * checkpointed offset. */
class HttpPayloadTransport(url: String,
                           stallTimeoutMs: Int = 20 * 60 * 1000,
                           username: String = null,
                           password: String = null,
                           filters: DocFilters = DocFilters())
    extends PayloadTransport {

  /** Pushed filters ride as the reference's URL params
    * (`getFromDate?startDate=…&types=…`); they are also re-checked
    * client-side after framing, so a server that ignores them still
    * yields correct (just less efficient) results. */
  private def effectiveUrl: String =
    if (filters.isEmpty) url
    else url + (if (url.contains("?")) "&" else "?") +
      filters.queryParams.mkString("&")

  private def open(): java.io.InputStream = {
    val conn = new java.net.URL(effectiveUrl).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    conn.setConnectTimeout(stallTimeoutMs)
    conn.setReadTimeout(stallTimeoutMs)
    conn.setRequestProperty("Content-type", "text/xml;charset=\"utf-8\"")
    conn.setRequestProperty("Connection", "close")
    if (username != null) {
      val cred = java.util.Base64.getEncoder.encodeToString(
        s"$username:$password".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      conn.setRequestProperty("Authorization", s"Basic $cred")
    }
    val code = conn.getResponseCode
    if (code >= 400) // raise_for_status
      throw new java.io.IOException(s"HTTP $code from $url")
    // the reference reads the socket one byte at a time
    // (transis_consumer.py:127, iter_content(1)) — a pathology SURVEY
    // §4.1 calls out, not something to reproduce: NulFramer reads chunks
    conn.getInputStream
  }

  @transient private var conn: NulFramer = _
  private var skip = 0L     // documents the connection replays from before `received`
  private var received = 0L // documents received: the next one's offset
  private var heldFrom = 0L // offset of held(0); nothing below it is kept
  private val held = scala.collection.mutable.ArrayDeque.empty[String]

  private def connect(): Unit =
    if (conn == null) { conn = new NulFramer(open(), filters); skip = received }

  private def disconnect(): Unit = if (conn != null) { conn.close(); conn = null }

  /** Frame the complete documents already buffered: replayed ones are
    * skipped, new ones counted and, from `heldFrom` on, kept. */
  private def frameBuffered(): Unit =
    while (conn.nextBuffered()) {
      if (skip > 0) skip -= 1
      else {
        if (received >= heldFrom) held += conn.text
        received += 1
      }
    }

  /** Documents received so far. On a LIVE connection this drains whatever
    * has already arrived; only when that drain received nothing new does
    * it make one blocking read (the push-stream "wait for the server to
    * send", reference transis_consumer.py:115-126, bounded by the stall
    * timeout), so received documents are offered at once and an idle
    * stream waits here instead of spinning. A stall keeps the connection:
    * a live feed with no traffic cannot be told from a wedged server. A
    * bounded endpoint signals EOF; growth there is only visible through a
    * fresh GET, so EOF re-opens once per call, unless this call's own GET
    * reached it. Any other IOException drops the connection and is thrown,
    * so the caller's reconnect budget counts it. */
  override def available(): Long = synchronized {
    var opened = false
    var go = true
    try {
      while (go) {
        if (conn == null) { connect(); opened = true }
        val before = received
        var blocked = false
        while (conn != null && !(conn.ready == 0 && (blocked || received > before))) {
          if (conn.ready == 0) blocked = true
          if (conn.fill()) frameBuffered() else disconnect()
        }
        go = conn == null && !opened
      }
    } catch {
      case _: java.net.SocketTimeoutException => ()
      case e: java.io.IOException => disconnect(); throw e
    }
    received
  }

  /** Documents [from, until) as held, each returned as soon as it has
    * been received. A connection that ends or breaks before `until` is
    * dropped and the read throws IOException, so [[ReconnectingReader]]
    * applies the S2 budget and its retry continues on a fresh GET. */
  override def read(from: Long, until: Long): Iterator[String] =
    (from until until).iterator.map { i =>
      synchronized {
        require(i >= heldFrom, s"document $i is below the committed offset $heldFrom")
        try {
          while (received <= i) {
            connect()
            frameBuffered()
            if (received <= i && !conn.fill()) {
              disconnect()
              throw new java.io.IOException(
                s"transis stream ended at doc $received before requested $until")
            }
          }
        } catch { case e: java.io.IOException => disconnect(); throw e }
        held((i - heldFrom).toInt)
      }
    }

  override def commit(end: Long): Unit = synchronized {
    val n = math.min(end - heldFrom, held.size.toLong)
    if (n > 0) held.remove(0, n.toInt)
    heldFrom = math.max(heldFrom, end)
  }

  override def close(): Unit = synchronized(disconnect())
}

/** Cheap per-document metadata probes (no XML parse): the root's first
  * child element name and the first `date="yyyy-MM-dd…"` attribute. These
  * back the `doc_type` / `dt` source columns and the S4 predicate
  * pushdown (SURVEY §4.2 row 1). */
object TransisDocMeta {
  private val childElem =
    "(?s)<\\s*(?:[A-Za-z0-9]+:)?TransisResponse[^>]*>\\s*<\\s*(?:[A-Za-z0-9]+:)?([A-Za-z0-9]+)".r
  private val dateAttr = "date=\"(\\d{4}-\\d{2}-\\d{2})".r
  def docType(doc: String): String =
    childElem.findFirstMatchIn(doc).map(_.group(1)).orNull
  def docDate(doc: String): String =
    dateAttr.findFirstMatchIn(doc).map(_.group(1)).orNull
}

/** S4 pushdown state: the `types=` / `startDate=` server params of the
  * reference's `getFromDate` (`transis_consumer.py:166-173`), evaluated
  * by the transport. HTTP mode forwards them as URL query params (the
  * real server-side pushdown) and re-applies them client-side for
  * defense in depth; file mode evaluates them while framing — either
  * way matching documents are selected BEFORE rows reach Spark, and the
  * post-scan Filter node disappears. */
case class DocFilters(docType: Option[String] = None,
                      fromDate: Option[String] = None) extends Serializable {
  def isEmpty: Boolean = docType.isEmpty && fromDate.isEmpty
  def matches(doc: String): Boolean =
    docType.forall(t => TransisDocMeta.docType(doc) == t) &&
      fromDate.forall { d =>
        val dd = TransisDocMeta.docDate(doc); dd != null && dd >= d
      }
  def queryParams: Seq[String] = {
    // URL-encode values: reference dates carry '+' timezone offsets and
    // ':' which would decode as a space / confuse the query string (the
    // reference encodes via requests' params=, transis_consumer.py:169).
    def enc(v: String) = java.net.URLEncoder.encode(
      v, java.nio.charset.StandardCharsets.UTF_8)
    docType.map(t => s"types=${enc(t)}").toSeq ++
      fromDate.map(d => s"startDate=${enc(d)}").toSeq
  }
}

/** Serializable transport selector: http(s) paths get the live HTTP
  * transport, anything else the file transport. Carried into executors
  * by file input partitions only. */
case class TransportConfig(path: String,
                           stallTimeoutMs: Int = 20 * 60 * 1000,
                           username: String = null,
                           password: String = null,
                           filters: DocFilters = DocFilters()) extends Serializable {
  private def isHttp: Boolean =
    path.startsWith("http://") || path.startsWith("https://")

  def newTransport(): PayloadTransport =
    if (isHttp) new HttpPayloadTransport(path, stallTimeoutMs, username, password, filters)
    else new FilePayloadTransport(path, filters)

  /** The input partition for documents [from, until) of `reader`'s
    * transport: an HTTP batch is read here, on the driver, and carries its
    * documents, so executors open no connection and see no credentials; a
    * file batch carries the range, which its executor reads by index. */
  def partition(reader: ReconnectingReader, from: Long, until: Long): InputPartition =
    if (isHttp) TransisDocsPartition(reader.read(from, until).toArray)
    else TransisInputPartition(this, from, until)
}

/** S2 reconnect budget: consecutive failed opens or reads of `transport`
  * with no document in between are retried at once, up to `maxReconnects`
  * times; each received document resets the count (reference
  * `transis_consumer.py:140-148`). A stall on an idle live connection is
  * not a failure (see [[HttpPayloadTransport.available]]). */
class ReconnectingReader(transport: PayloadTransport, maxReconnects: Int) {
  private var failures = 0
  private var seen = 0L

  private def failed(e: java.io.IOException): Unit = {
    failures += 1
    if (failures > maxReconnects)
      throw new java.io.IOException(
        s"transis stream failed after $maxReconnects reconnects", e)
  }

  /** `transport.available()` under the budget; a count past every earlier
    * one means a document was received. */
  def available(): Long = {
    var n = -1L
    while (n < 0) try n = transport.available()
      catch { case e: java.io.IOException => failed(e) }
    if (n > seen) { seen = n; failures = 0 }
    n
  }

  def read(from: Long, until: Long): Iterator[String] = new Iterator[String] {
    private var pos = from
    private var inner: Iterator[String] = Iterator.empty
    override def hasNext: Boolean = pos < until
    override def next(): String = {
      while (true) {
        try {
          if (!inner.hasNext) inner = transport.read(pos, until)
          val doc = inner.next()
          pos += 1
          failures = 0
          return doc
        } catch {
          case e: java.io.IOException => inner = Iterator.empty; failed(e)
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }
}

case class DocOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class TransisSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "transis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TransisSourceProvider.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TransisTable(
      TransportConfig(
        properties.get("path"),
        Option(properties.get("stalltimeoutms")).map(_.toInt)
          .getOrElse(20 * 60 * 1000),
        properties.get("username"),
        properties.get("password")),
      Option(properties.get("maxreconnects")).map(_.toInt).getOrElse(3),
      Option(properties.get("maxdocsperbatch")).map { v =>
        val n = v.toLong
        // ReadLimit.maxRows takes an Int: reject rather than let a
        // too-large value overflow into a negative/garbage row limit
        require(n > 0 && n <= Int.MaxValue,
          s"maxdocsperbatch must be in (0, ${Int.MaxValue}], got $n")
        n
      })
}

object TransisSourceProvider {
  /** `value` is the raw document; `doc_type` / `dt` are cheap metadata
    * probes (TransisDocMeta) that exist to give S4 predicates a column
    * to land on — filters on them push into the transport. */
  val schema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("doc_type", StringType),
    StructField("dt", StringType)))
}

class TransisTable(config: TransportConfig, maxReconnects: Int,
                   maxDocsPerBatch: Option[Long] = None)
    extends Table with SupportsRead {
  override def name(): String = s"transis(${config.path})"
  override def schema(): StructType = TransisSourceProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TransisScanBuilder(config, maxReconnects, maxDocsPerBatch)
}

/** S4 pushdown (SURVEY §4.2 row 1): `doc_type = X` → `types=X`,
  * `dt >= D` → `startDate=D`. Accepted filters are FULLY handled by the
  * transport, so they are removed from the post-scan plan (no residual
  * Filter node); everything else stays Spark-side. Column pruning drops
  * unprojected metadata columns from the rows the reader materializes. */
class TransisScanBuilder(config: TransportConfig, maxReconnects: Int,
                         maxDocsPerBatch: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources._

  private var docFilters = DocFilters()
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = TransisSourceProvider.schema

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    // Multiple dt lower bounds conjoin to their max (ISO-8601 strings
    // order lexicographically = chronologically), so pushing the max
    // fully handles EVERY `dt >=` conjunct. Multiple doc_type equalities
    // to distinct values can't all ride one `types=` param: push one and
    // keep the rest as residual Spark filters — the transport returns a
    // superset and Spark finishes the conjunction. (Claiming filters
    // handled whose value was never pushed would silently drop them.)
    val typeEqs = fs.collect { case EqualTo("doc_type", v: String) => v }.distinct
    val dateGtes = fs.collect { case GreaterThanOrEqual("dt", v: String) => v }
    val typeEq = typeEqs.headOption
    val dateGte = if (dateGtes.nonEmpty) Some(dateGtes.max) else None
    docFilters = DocFilters(typeEq, dateGte)
    val handled: Filter => Boolean = {
      case EqualTo("doc_type", v: String) => typeEq.contains(v)
      case IsNotNull("doc_type") => typeEq.isDefined // implied by equality
      case GreaterThanOrEqual("dt", _: String) => dateGte.isDefined
      case IsNotNull("dt") => dateGte.isDefined // implied by >= bound
      case _ => false
    }
    pushed = fs.filter(handled)
    fs.filterNot(handled)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(
      TransisSourceProvider.schema.fields.filter(f => keep.contains(f.name)))
  }

  override def build(): Scan =
    new TransisScan(config.copy(filters = docFilters), required,
      maxReconnects, maxDocsPerBatch)
}

class TransisScan(config: TransportConfig, schema: StructType,
                  maxReconnects: Int,
                  maxDocsPerBatch: Option[Long] = None) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"transis(${config.path}) PushedDocFilters: ${config.filters}"
  override def toBatch: Batch = new TransisBatch(config, schema, maxReconnects)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TransisMicroBatchStream(config, schema, maxReconnects, maxDocsPerBatch)
}

/** A file batch: its executor reads documents [from, until) by index. */
case class TransisInputPartition(config: TransportConfig, from: Long, until: Long)
  extends InputPartition

/** An HTTP batch: the documents the driver received, shipped in the
  * partition (Spark's `TextSocketInputPartition`). */
case class TransisDocsPartition(docs: Array[String]) extends InputPartition

class TransisPartitionReaderFactory(schema: StructType, maxReconnects: Int)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val docs = p match {
      case TransisDocsPartition(d) => d.iterator
      case TransisInputPartition(config, from, until) =>
        new ReconnectingReader(config.newTransport(), maxReconnects).read(from, until)
    }
    val fields: Array[String => UTF8String] = schema.fieldNames.map {
      case "value" => (d: String) => UTF8String.fromString(d)
      case "doc_type" => (d: String) =>
        UTF8String.fromString(TransisDocMeta.docType(d))
      case "dt" => (d: String) =>
        UTF8String.fromString(TransisDocMeta.docDate(d))
    }
    new PartitionReader[InternalRow] {
      private var current: String = _
      override def next(): Boolean =
        if (docs.hasNext) { current = docs.next(); true } else false
      override def get(): InternalRow =
        InternalRow.fromSeq(fields.toIndexedSeq.map(_.apply(current)))
      override def close(): Unit = ()
    }
  }
}

/** One-shot batch read (S3-flavored: whole current payload). */
class TransisBatch(config: TransportConfig, schema: StructType,
                   maxReconnects: Int) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val transport = config.newTransport()
    val reader = new ReconnectingReader(transport, maxReconnects)
    try Array(config.partition(reader, 0L, reader.available()))
    finally transport.close()
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TransisPartitionReaderFactory(schema, maxReconnects)
}

/** Micro-batch driver with admission control: batches are bounded by
  * `maxDocsPerBatch` (`ReadLimit.maxRows`) so a restart/backfill over a
  * large replayable payload arrives as many bounded batches rather than
  * ONE mega-batch — the reference's generator likewise delivers one
  * document at a time (`transis_consumer.py:115-151`; set
  * `maxDocsPerBatch=1` for exactly that cadence). `Trigger.AvailableNow`
  * pins the target offset at query start, drains it in bounded batches,
  * and stops. One transport serves the whole query, under one S2 budget:
  * over HTTP it is the query's only connection. */
class TransisMicroBatchStream(config: TransportConfig, schema: StructType,
                              maxReconnects: Int,
                              maxDocsPerBatch: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val transport = config.newTransport()
  private val reader = new ReconnectingReader(transport, maxReconnects)
  private var availableNowTarget: Option[Long] = None
  private var lastSeen = 0L

  override def initialOffset(): Offset = DocOffset(0L)

  override def getDefaultReadLimit: ReadLimit =
    maxDocsPerBatch.map(n => ReadLimit.maxRows(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit = {
    lastSeen = reader.available()
    availableNowTarget = Some(lastSeen)
  }

  /** Admission-controlled end offset: everything available, capped to
    * start + maxRows, and never past an AvailableNow pin. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[DocOffset].n
    // the query's start offset, or the end of a batch already run
    transport.commit(s)
    val avail = availableNowTarget.getOrElse {
      lastSeen = reader.available(); lastSeen
    }
    val end = limit match {
      case mr: ReadMaxRows => math.min(avail, s + mr.maxRows())
      case _ => avail
    }
    DocOffset(math.max(end, s))
  }

  /** Spark calls the two-arg admission-controlled variant above. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def reportLatestOffset(): Offset = DocOffset(lastSeen)

  override def deserializeOffset(json: String): Offset =
    DocOffset(json.trim.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DocOffset].n
    val e = end.asInstanceOf[DocOffset].n
    if (e <= s) Array.empty
    else Array(config.partition(reader, s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TransisPartitionReaderFactory(schema, maxReconnects)
  override def commit(end: Offset): Unit =
    transport.commit(end.asInstanceOf[DocOffset].n)
  override def stop(): Unit = transport.close()
}
