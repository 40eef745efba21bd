package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.sink.{KinesisClient, KinesisRecord, ProcCaller, PutOutcome, PutRecordsResult}

/** One traced interval. `parent` and `trace` tie a span to what caused
  * it (a micro-batch, a gate, a read); 0 means none. */
final case class Span(name: String, startNs: Long, endNs: Long,
                      parent: Long, trace: Long)

/** In-memory span log, written out once at the end of a traced run. */
object Trace {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** A wall-clock time (as in `StreamingQueryProgress`) on the span clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def record(name: String, startNs: Long, endNs: Long,
             parent: Long = 0, trace: Long = 0): Unit =
    if (on) spans.add(Span(name, startNs, endNs, parent, trace)): Unit
}

/** What the bench's Kinesis client saw. Static because the sink builds
  * its client from a factory on executors; in local mode that is this
  * JVM, so one shared state counts every put. */
object KinesisProbe {
  val records = new ConcurrentLinkedQueue[Array[Byte]]()
  /** Record count acknowledged per document period (the record's
    * `collectionendtimestamp_plus_3_mins`), and when the last one came. */
  val ackedByTs = new java.util.concurrent.ConcurrentHashMap[Long, AtomicInteger]()
  val lastAckNs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  val putCalls = new AtomicLong(0)
  val recordsPut = new AtomicLong(0)
  val putBusyNs = new AtomicLong(0)
  /** Self-test fault injection: drop or alter the n-th record put
    * (-1 = off). The client then reports success anyway, which is the
    * silent failure the output checks must catch. */
  @volatile var dropNth: Long = -1
  @volatile var alterNth: Long = -1

  def reset(): Unit = {
    records.clear(); ackedByTs.clear(); lastAckNs.clear()
    putCalls.set(0); recordsPut.set(0); putBusyNs.set(0)
  }

  private val tsKey = "\"collectionendtimestamp_plus_3_mins\":"
  /** The period timestamp of one record's JSON, found without a parser
    * so the client stays cheap next to the sink it measures. */
  def tsOf(json: String): Long = {
    val i = json.indexOf(tsKey) + tsKey.length
    var j = i
    while (j < json.length && (json.charAt(j).isDigit || json.charAt(j) == '-')) j += 1
    json.substring(i, j).toLong
  }
}

/** Counting no-op `KinesisClient`: every record succeeds. */
final class CountingClient extends KinesisClient {
  import KinesisProbe._
  override def putRecords(recs: Seq[KinesisRecord], streamName: String)
      : PutRecordsResult = {
    val t0 = System.nanoTime()
    recs.foreach { r =>
      val n = recordsPut.getAndIncrement()
      if (n != dropNth) {
        val data =
          if (n == alterNth) new String(r.data, "UTF-8")
            .replaceFirst("\"siteId\":\"", "\"siteId\":\"9").getBytes("UTF-8")
          else r.data
        records.add(data)
        val ts = tsOf(new String(data, "UTF-8"))
        ackedByTs.computeIfAbsent(ts, _ => new AtomicInteger()).incrementAndGet()
        lastAckNs.put(ts, System.nanoTime())
      }
    }
    putCalls.incrementAndGet()
    val t1 = System.nanoTime()
    putBusyNs.addAndGet(t1 - t0)
    Trace.record("sink.putRecords", t0, t1)
    PutRecordsResult(0, recs.map(_ => PutOutcome(None)))
  }
}

/** Recording `ProcCaller` answering the DI procs the way the framework
  * expects (a job id for `strt_job`, "success" otherwise). */
final class RecordingCaller extends ProcCaller {
  val calls = new ConcurrentLinkedQueue[(String, Seq[Any])]()
  val busyNs = new AtomicLong(0)
  private val jobs = new AtomicLong(0)
  override def call(proc: String, args: Seq[Any]): String = {
    val t0 = System.nanoTime()
    calls.add((proc, args))
    val resp =
      if (proc.endsWith("strt_job"))
        s"""[{"key":"job_id","value":"J-${jobs.incrementAndGet()}"}]"""
      else """[{"key":"status","value":"success"}]"""
    val t1 = System.nanoTime()
    busyNs.addAndGet(t1 - t0)
    Trace.record("di." + proc.split('.').last, t0, t1)
    resp
  }
}
