package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, cores: Int,
                      selftest: String)

/** What a workload measured: the end-to-end metrics, the per-layer
  * metrics, and how many operations it attempted and got wrong. */
final case class Result(attempted: Long, failed: Long,
                        e2e: Seq[(String, Double, String)],
                        layers: Seq[(String, Double, String)],
                        notes: Seq[String] = Nil)

object Common {
  /** The session settings of `graft.Bench` (from `workloads.json`), so
    * this benchmark times the plans the gate bench times; temporary state
    * stays under `work`. */
  def settings(a: Args): Seq[(String, String)] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get("perfbench", "workloads.json")))
    spec.get("session").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq ++ Seq(
      "spark.master" -> s"local[${a.cores}]",
      "spark.sql.shuffle.partitions" -> a.cores.toString,
      "spark.local.dir" -> s"${a.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${a.work}/warehouse")
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
    settings(a).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Build the session once in this fresh JVM and run the workload's
    * warm-up; returns the session and the seconds both took, which is
    * the set-up a restart pays (class loading and first-query code
    * generation included). */
  def setUp(a: Args)(warm: SparkSession => Unit): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(a)
    warm(spark)
    val s = (System.nanoTime() - t0) / 1e9
    phase("set-up")
    (spark, s)
  }

  private var phaseNs = System.nanoTime()
  /** Log how long the phase that just ended took (to stderr). */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name: ${(now - phaseNs) / 1e9}%.1f s")
    phaseNs = now
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The most heap in use just after a collection, over the JVM's life:
    * what the program kept live, plus the garbage the collector had not
    * reached yet, but not the free heap the collector chose to keep.
    * Counts from `installHeapWatch`. */
  @volatile private var heapAfterGcPeak = 0L
  def peakHeapMb: Double = heapAfterGcPeak / 1048576.0

  def installHeapWatch(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
        synchronized { heapAfterGcPeak = math.max(heapAfterGcPeak, used) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  def freshDir(a: Args, name: String): String = {
    val d = Paths.get(a.work, "run", s"$name-${System.nanoTime()}")
    Files.createDirectories(d.getParent)
    d.toString
  }

  /** The documents of a NUL-framed payload, each with its terminator. */
  def splitPayload(path: String): IndexedSeq[Array[Byte]] = {
    val b = Files.readAllBytes(Paths.get(path))
    val out = IndexedSeq.newBuilder[Array[Byte]]
    var s = 0
    var i = 0
    while (i < b.length) {
      if (b(i) == 0) { out += java.util.Arrays.copyOfRange(b, s, i + 1); s = i + 1 }
      i += 1
    }
    out.result()
  }

  def writeDocs(path: String, docs: Seq[Array[Byte]]): String = {
    val o = Files.newOutputStream(Paths.get(path))
    try docs.foreach(o.write) finally o.close()
    path
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .configure(com.fasterxml.jackson.databind.SerializationFeature
      .ORDER_MAP_ENTRIES_BY_KEYS, true)

  /** A record as sorted-key compact JSON, the form the generator writes. */
  def canonical(json: String): String =
    mapper.writeValueAsString(mapper.readValue(json, classOf[java.util.Map[_, _]]))

  final case class Doc(ts: Long, records: Int)

  /** The generator's per-document index and expected record multiset. */
  final case class Expected(docs: IndexedSeq[Doc], records: Map[String, Int]) {
    def total: Long = docs.map(_.records.toLong).sum
  }

  def expected(a: Args, name: String): Expected = {
    val idx = mapper.readTree(Files.readAllBytes(Paths.get(a.work, s"$name.docs.json")))
    val docs = idx.get("docs").elements().asScala
      .map(d => Doc(d.get("ts").asLong(), d.get("records").asInt())).toIndexedSeq
    val recs = Files.readAllLines(Paths.get(a.work, s"$name.expected"), UTF_8)
      .asScala.groupBy(identity).view.mapValues(_.size).toMap
    Expected(docs, recs)
  }

  /** Documents whose pushed records differ from the generator's: a
    * record missing, extra or altered fails the document it belongs to
    * (the period timestamp in the record names the document). */
  def badDocs(exp: Expected, pushed: Iterable[String]): Set[Long] = {
    val got = pushed.map(canonical).groupBy(identity).view.mapValues(_.size).toMap
    (exp.records.keySet ++ got.keySet)
      .filter(k => exp.records.getOrElse(k, 0) != got.getOrElse(k, 0))
      .map(k => scala.util.Try(KinesisProbe.tsOf(k)).getOrElse(-1L))
  }

  def pushedJson(): Seq[String] =
    KinesisProbe.records.asScala.map(b => new String(b, UTF_8)).toSeq

  /** Run a streaming query's stop, swallowing the stop-time interrupt. */
  def stop(q: StreamingQuery): Unit =
    try q.stop() catch { case _: Exception => () }

  def progress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows >= 0)

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)

  /** A batch's source offsets [start, end), in documents. */
  def offsets(p: StreamingQueryProgress): (Long, Long) =
    p.sources.headOption.map { s =>
      val st = Option(s.startOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(0L)
      (st, Option(s.endOffset).map(_.trim.toLong).getOrElse(st))
    }.getOrElse((0L, 0L))

  /** Documents in a batch. */
  def docsIn(p: StreamingQueryProgress): Long = {
    val (st, end) = offsets(p)
    end - st
  }

  /** Emit spans for each batch's progress phases (trace runs only). */
  def traceProgress(ps: Seq[StreamingQueryProgress], prefix: String): Unit =
    ps.foreach { p =>
      val startNs = Trace.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val id = Trace.nextId()
      val trig = (dur(p, "triggerExecution") * 1e6).toLong
      Trace.record(s"$prefix.trigger", startNs, startNs + trig, 0, id)
      p.durationMs.asScala.foreach { case (k, v) =>
        if (k != "triggerExecution")
          Trace.record(s"$prefix.$k", startNs, startNs + v.longValue() * 1000000L, id, id)
      }
    }

  /** Wait until `cond` holds or `timeoutMs` passes; true if it held. */
  def await(timeoutMs: Long, pollMs: Long = 2)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < end) Thread.sleep(pollMs)
    cond
  }
}

/** Jobs and stages per micro-batch, keyed by the batch id Spark sets as
  * a local property on every job a micro-batch runs; also counts the
  * stages that read source input (one per pass over the batch's
  * documents). */
final class JobCounter(queryId: () => String)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  val jobsByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  val stagesByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  val inputStagesByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile var jobs = 0
  @volatile var stages = 0

  private def batchOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pp =>
      if (queryId() != null && pp.getProperty("sql.streaming.queryId") != queryId()) None
      else Option(pp.getProperty("streaming.sql.batchId")).map(_.toLong))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs += 1
    batchOf(e.properties).foreach(b => jobsByBatch.merge(b, 1, _ + _))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages += 1
    batchOf(e.properties).foreach { b =>
      stagesByBatch.merge(b, 1, _ + _)
      stageBatch.put(e.stageInfo.stageId, b)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val b = stageBatch.get(e.stageInfo.stageId)
    val m = e.stageInfo.taskMetrics
    if (m != null && m.inputMetrics.recordsRead > 0 && stageBatch.containsKey(e.stageInfo.stageId))
      inputStagesByBatch.merge(b, 1, _ + _)
  }
}
