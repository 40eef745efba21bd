package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.graftbridge.ListenerBridge
import scala.jdk.CollectionConverters._
import graft.LiveMain
import graft.stream.Pipeline
import graft.sources.{FileManifest, History}
import Common._

/** The three streaming workloads. Each drives the program only through
  * `LiveMain.wire` (with the bench's counting client and recording DI
  * caller) or `Pipeline.archive` and the `History` readers. */
object Streams {
  val tsCol = "collectionendtimestamp_plus_3_mins"

  /** Wire the live connector, unchanged, against `path`. */
  def wire(spark: SparkSession, a: Args, path: String,
           caller: RecordingCaller): LiveMain.Wired = {
    spark.conf.set("spark.graft.transis.path", path)
    spark.conf.set("spark.graft.checkpointDir", freshDir(a, "ckpt"))
    spark.conf.set("spark.graft.kinesis.streamName", "perfbench")
    LiveMain.wire(spark, Some(() => new CountingClient), Some(caller))
  }

  /** Warm-up: the connector end to end over a two-document file. */
  def warmLive(spark: SparkSession, a: Args, path: String): Unit = {
    val w = wire(spark, a, path, new RecordingCaller)
    try w.query.processAllAvailable() finally Common.stop(w.query)
    KinesisProbe.reset()
  }

  /** Each micro-batch must run exactly D1→D2→D3, and the record counts
    * the batches logged must sum to the records pushed. Returns the
    * number of violations. */
  def diViolations(calls: Seq[(String, Seq[Any])], batches: Int, pushed: Long): Int = {
    val procs = calls.map(_._1.split('.').last)
    val shapeOk = procs.grouped(3).forall(_ == Seq("strt_job", "log_job_stus", "end_job"))
    val logged = calls.filter(_._1.endsWith("log_job_stus")).map { c =>
      val m = "\"records_in_xml_doc\":\\s*(\\d+)".r.findFirstMatchIn(c._2(2).toString)
      m.map(_.group(1).toLong).getOrElse(-1L)
    }
    (if (shapeOk) 0 else 1) +
      (if (procs.size == 3 * batches) 0 else 1) +
      (if (logged.sum == pushed) 0 else 1)
  }

  def dataBatches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(p => docsIn(p) > 0)

  /** Stream-engine metrics over the batches that carried documents. */
  def streamLayers(ps: Seq[StreamingQueryProgress], jc: JobCounter)
      : Seq[(String, Double, String)] = {
    val bs = dataBatches(ps)
    val ids = bs.map(_.batchId)
    def per(m: java.util.concurrent.ConcurrentHashMap[Long, Int]) =
      if (ids.isEmpty) 0.0 else ids.map(b => m.getOrDefault(b, 0)).sum.toDouble / ids.size
    Seq(
      ("stream.batches", bs.size.toDouble, "count"),
      ("stream.docs_per_batch_p50", median(bs.map(docsIn(_).toDouble)), "count"),
      ("stream.trigger_ms_p50", median(bs.map(dur(_, "triggerExecution"))), "ms"),
      ("stream.trigger_ms_p90", pct(bs.map(dur(_, "triggerExecution")), 90), "ms"),
      ("stream.add_batch_ms_p50", median(bs.map(dur(_, "addBatch"))), "ms"),
      ("stream.planning_ms_p50", median(bs.map(dur(_, "queryPlanning"))), "ms"),
      ("stream.commit_ms_p50", median(bs.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms"),
      ("stream.jobs_per_batch", per(jc.jobsByBatch), "count"),
      ("stream.stages_per_batch", per(jc.stagesByBatch), "count"),
      ("stream.source_passes_per_batch", per(jc.inputStagesByBatch), "count"),
      ("sources.latest_offset_ms_p50", median(bs.map(dur(_, "latestOffset"))), "ms"))
  }

  /** Split a streaming workload's processing time into layers: the
    * engine's own phases from progress plus one stage floor per stage the
    * listener saw, the isolated per-document costs times the documents
    * each batch read (once per source pass the listener saw; the push's
    * encode and repartition once per batch), the transport's re-open
    * reads (`rereadS`), and the client and DI time the bench's adapters
    * measured. What is left is `unattributed`. */
  def attribute(ps: Seq[StreamingQueryProgress], jc: JobCounter,
                c: LayerCosts, startS: Double, putS: Double, diS: Double,
                pushes: Boolean, rereadS: Double = 0.0): Seq[(String, Double, String)] = {
    val bs = dataBatches(ps)
    val e2e = startS + ps.map(dur(_, "triggerExecution")).sum / 1e3
    val stages = bs.map(p => jc.stagesByBatch.getOrDefault(p.batchId, 0)).sum
    val engine = startS + stages * c.floorS + ps.map(p => dur(p, "triggerExecution") -
      dur(p, "addBatch") - dur(p, "latestOffset")).sum / 1e3
    val latest = ps.map(dur(_, "latestOffset")).sum / 1e3
    val passDocs = bs.map(p => jc.inputStagesByBatch.getOrDefault(p.batchId, 0) * docsIn(p)).sum
    val docs = bs.map(docsIn).sum
    val sources = latest + passDocs * c.perDoc(c.sourceS) + rereadS
    val parse = passDocs * c.perDoc(c.parseS)
    val ops = passDocs * c.perDoc(c.opsS)
    val encode = if (pushes) docs * c.perDoc(c.encodeS + c.repartitionS) else 0.0
    val lake = docs * c.perDoc(c.lakeS)
    val layers = Seq("stream" -> engine, "sources" -> sources, "parse" -> parse,
      "ops" -> ops, "sink" -> (encode + putS + diS), "lake" -> lake)
    val un = e2e - layers.map(_._2).sum
    val (costliest, cs) = layers.maxBy(_._2)
    System.err.println(f"[perfbench] costliest layer: $costliest ($cs%.2f s of $e2e%.2f s)")
    Seq(("trace.e2e_s", e2e, "s"), ("stream.self_s", engine, "s"),
      ("sources.self_s", sources, "s"), ("parse.self_s", parse, "s"),
      ("ops.self_s", ops, "s"), ("sink.encode_self_s", encode, "s"),
      ("lake.self_s", lake, "s"), ("unattributed_s", un, "s"),
      ("unattributed_frac", if (e2e > 0) un / e2e else 0.0, "ratio"),
      ("stream.stage_floor_ms", c.floorS * 1e3, "ms"),
      ("parse.mb_per_s", if (c.parseS > 0) c.bytes / 1e6 / c.parseS else 0.0, "MB/s"),
      ("sources.read_mb_per_s", if (c.readS > 0) c.bytes / 1e6 / c.readS else 0.0, "MB/s"))
  }

  /** Traced over untraced, on the first end-to-end metric, against the
    * mean of the untraced runs before and after (cancels warm-up drift). */
  def overhead(traced: Seq[(String, Double, String)], before: Seq[(String, Double, String)],
               after: Seq[(String, Double, String)]): Double =
    traced.head._2 / ((before.head._2 + after.head._2) / 2) - 1

  def sinkLayers(putS: Double, diS: Double, caller: RecordingCaller, batches: Int)
      : Seq[(String, Double, String)] = {
    val calls = KinesisProbe.putCalls.get()
    val recs = KinesisProbe.recordsPut.get()
    Seq(("sink.put_calls", calls.toDouble, "count"),
      ("sink.records_per_put", if (calls > 0) recs.toDouble / calls else 0.0, "count"),
      ("sink.put_busy_s", putS, "s"),
      ("sink.attempted", recs.toDouble, "count"),
      ("di.calls_per_batch", if (batches > 0) caller.calls.size.toDouble / batches else 0.0, "count"),
      ("di.busy_s", diS, "s"))
  }

  // ---------------------------------------------------------------- live

  /** Open loop: a loopback server releases one document every period
    * into the unchanged `LiveMain.wire`; a document's latency runs from
    * when it was due to when its last record was acknowledged. */
  def liveHttp(a: Args): Result = {
    val rp = runParams(a, "live_http")
    // the measured documents: after a lead-in that brings the stream to
    // steady state, and before a tail that keeps the open loop running
    // until they are all through
    val lead = rp("lead_docs").toInt
    val exp = {
      val all = expected(a, "live_http")
      val docs = all.docs.slice(lead, all.docs.size - rp("tail_docs").toInt)
      val ts = docs.map(_.ts).toSet
      Expected(docs, all.records.filter { case (r, _) => ts(KinesisProbe.tsOf(r)) })
    }
    val docs = splitPayload(s"${a.work}/live_http.payload")
    val warmPath = writeDocs(s"${a.work}/live_http-warm.payload", docs.take(2))
    val (spark, setupS) = setUp(a)(s => warmLive(s, a, warmPath))
    val periodMs = 1000.0 / rp("rate_docs_per_s")

    def measure() = {
      KinesisProbe.reset()
      val feed = new Feed(docs, periodMs)
      val caller = new RecordingCaller
      val w = wire(spark, a, s"http://127.0.0.1:${feed.port}/", caller)
      val qid = w.query.id.toString
      val jc = new JobCounter(() => qid)
      spark.sparkContext.addSparkListener(jc)
      val (wall0, nano0) = (System.currentTimeMillis(), System.nanoTime())
      val t0 = nano0
      feed.start(leadMs = 100)
      val scheduleMs = (feed.dueNs.last - System.nanoTime()) / 1000000L
      def acked(d: Doc) =
        Option(KinesisProbe.ackedByTs.get(d.ts)).map(_.get()).getOrElse(0) >= d.records
      await(scheduleMs + 60000)(exp.docs.forall(acked))
      // stop releasing the tail and wait until the stream is blocked on
      // the feed for offsets with every DI bracket closed; only then stop
      // the query (closing the feed unblocks the transport's read)
      feed.pause()
      // quiet must hold for 2 s on end: a trigger that is still counting
      // offsets may yet start a batch, and one slowed by a busy host can
      // take longer than a single poll
      var calls = -1
      var quietSinceNs = Long.MaxValue
      await(30000, 100) {
        val c = caller.calls.size
        val now = System.nanoTime()
        if (c == calls && c % 3 == 0 && w.query.status.message.startsWith("Getting offsets"))
          quietSinceNs = math.min(quietSinceNs, now)
        else quietSinceNs = Long.MaxValue
        calls = c
        now - quietSinceNs >= 2000000000L
      }
      // the DI check covers the stream up to here: closing the feed below
      // ends the transport's blocked read, and it then offers the
      // documents it held back, so a batch may start that the stop cuts
      val quiet = (caller.calls.asScala.toSeq, dataBatches(progress(w.query)).size,
        KinesisProbe.recordsPut.get())
      val stopper = new Thread(() => Common.stop(w.query))
      stopper.start()
      Thread.sleep(100)
      feed.stop()
      stopper.join(30000)
      val ps = progress(w.query)
      ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jc)
      val mine = exp.docs.map(_.ts).toSet
      val bad = badDocs(exp, pushedJson().filter(j => mine(KinesisProbe.tsOf(j))))
      val lat = exp.docs.indices.filter(i => exp.docs(i).records > 0 && acked(exp.docs(i)))
        .map(i => (KinesisProbe.lastAckNs.get(exp.docs(i).ts) - feed.dueNs(lead + i)) / 1e6)
      val complete = exp.docs.count(_.records > 0)
      val bs = dataBatches(ps)
      val di = diViolations(quiet._1, quiet._2, quiet._3)
      val failed = math.min(exp.docs.size.toLong, bad.size + (complete - lat.size) + di)
      val notes = Seq(s"live_http: ${bad.size} documents with wrong records, " +
        s"${complete - lat.size} not fully acknowledged, $di DI bracket violations" +
        bad.headOption.map(ts => s"; first wrong document $ts: expected " +
          s"${exp.docs.find(_.ts == ts).map(_.records).getOrElse(0)} records, got " +
          s"${pushedJson().count(j => KinesisProbe.tsOf(j) == ts)}").getOrElse(""))
        .filter(_ => failed > 0)
      val lastAck = exp.docs.map(d => KinesisProbe.lastAckNs.getOrDefault(d.ts, t0).longValue).max
      val e2e = Seq(("latency_p50_ms", median(lat), "ms"),
        ("latency_p90_ms", pct(lat, 90), "ms"),
        ("throughput_per_s", exp.total / ((lastAck - feed.dueNs(lead)) / 1e9), "1/s"))
      // documents already due once a batch had its offsets but not in it
      val backlog = bs.map { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "latestOffset")
        val startNs = nano0 + ((startMs - wall0) * 1e6).toLong
        feed.dueNs.count(_ <= startNs) - p.sources.head.endOffset.trim.toLong
      }.maxOption.getOrElse(0L).max(0L)
      val putS = KinesisProbe.putBusyNs.get() / 1e9
      val diS = caller.busyNs.get() / 1e9
      val layers = streamLayers(ps, jc) ++ sinkLayers(putS, diS, caller, bs.size) ++ Seq(
        ("stream.backlog_docs_max", backlog.toDouble, "count"),
        ("gen.late_ms_max", feed.lateMsMax, "ms"),
        ("sources.connections", feed.connections.toDouble, "count"),
        ("sources.bytes_served_ratio", feed.bytesWritten.toDouble / feed.payloadBytes, "ratio"))
      if (Trace.on) traceProgress(ps, "stream")
      (e2e, layers, exp.docs.size.toLong, failed, ps, jc, notes)
    }

    // an untraced run measures three passes and reports each metric's
    // median over them, so a slow spell of the host in one pass does not
    // set the run's figures
    val untraced = Seq.fill(if (a.trace) 1 else 3)(measure())
    val e2e = untraced.head._1.indices.map { i =>
      val (k, _, u) = untraced.head._1(i)
      (k, median(untraced.map(_._1(i)._2)), u)
    }
    val layers = untraced.last._2
    var attempted = untraced.map(_._3).sum
    var failed = untraced.map(_._4).sum
    var notes = untraced.flatMap(_._7)
    val traced = if (!a.trace) Nil else {
      Trace.on = true
      val (e2eT, layersT, attT, failT, psT, jcT, notesT) = measure()
      Trace.on = false
      val (after, _, attA, failA, _, _, notesA) = measure()
      attempted += attT + attA
      failed += failT + failA
      notes ++= notesT ++ notesA
      val costs = Isolated.run(spark, a, docs,
        math.max(1, median(dataBatches(psT).map(docsIn(_).toDouble)).round.toInt), 8)
      val rereads = Isolated.httpRereads(docs, dataBatches(psT).map { p =>
        val (st, end) = offsets(p)
        (st, end, jcT.inputStagesByBatch.getOrDefault(p.batchId, 0))
      }, costs)
      def get(k: String) = layersT.find(_._1 == k).get._2
      layersT ++ attribute(psT, jcT, costs, 0.0, get("sink.put_busy_s"), get("di.busy_s"),
        pushes = true, rereads) ++ Seq(("trace.overhead_frac", overhead(e2eT, e2e, after), "ratio"))
    }
    Result(attempted, failed, e2e ++ Seq(("setup_s", setupS, "s")),
      if (a.trace) traced else layers, notes)
  }

  // ------------------------------------------------------------ backfill

  /** Closed loop: a network-day in one NUL-framed file, drained by the
    * unchanged `LiveMain.wire` until every record is acknowledged;
    * repeated with fresh checkpoints until the run's seconds are used. */
  def backfillFile(a: Args): Result = {
    val exp = expected(a, "backfill_file")
    val path = s"${a.work}/backfill_file.payload"
    val docs = splitPayload(path)
    val warmPath = writeDocs(s"${a.work}/backfill_file-warm.payload", docs.take(2))
    val (spark, setupS) = setUp(a)(s => warmLive(s, a, warmPath))

    final case class Drain(s: Double, lat: Seq[Double], failed: Long,
                           ps: Seq[StreamingQueryProgress], jc: JobCounter,
                           startS: Double, putS: Double, diS: Double,
                           sink: Seq[(String, Double, String)])
    def drain(): Drain = {
      KinesisProbe.reset()
      val caller = new RecordingCaller
      val (wall0, t0) = (System.currentTimeMillis(), System.nanoTime())
      val w = wire(spark, a, path, caller)
      val qid = w.query.id.toString
      val jc = new JobCounter(() => qid)
      spark.sparkContext.addSparkListener(jc)
      val ok = await(170000)(KinesisProbe.recordsPut.get() >= exp.total)
      val t1 = System.nanoTime()
      val ps = try {
        await(5000)(progress(w.query).map(docsIn).sum >= docs.size &&
          caller.calls.size >= 3 * dataBatches(progress(w.query)).size)
        progress(w.query)
      } finally Common.stop(w.query)
      ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jc)
      val bad = badDocs(exp, pushedJson())
      val lat = exp.docs.filter(_.records > 0).map { d =>
        (Option(KinesisProbe.lastAckNs.get(d.ts)).map(_.longValue()).getOrElse(t1) - t0) / 1e6
      }
      val bs = dataBatches(ps)
      val di = diViolations(caller.calls.asScala.toSeq, bs.size, KinesisProbe.recordsPut.get())
      // query start: from the wire call to the first trigger
      val firstTrigger = ps.headOption.map { p =>
        math.max(0.0, (java.time.Instant.parse(p.timestamp).toEpochMilli - wall0) / 1e3)
      }.getOrElse(0.0)
      val putS = KinesisProbe.putBusyNs.get() / 1e9
      val diS = caller.busyNs.get() / 1e9
      Drain((t1 - t0) / 1e9, lat, (if (ok) 0L else 1L) + bad.size + di, ps, jc,
        firstTrigger, putS, diS, sinkLayers(putS, diS, caller, bs.size))
    }
    def measure(): Seq[Drain] = {
      val end = System.nanoTime() + a.seconds * 1000000000L
      val out = Seq.newBuilder[Drain]
      var n = 0
      while (n == 0 || (System.nanoTime() < end && n < 50)) { out += drain(); n += 1 }
      out.result()
    }
    val ds = measure()
    val e2e = Seq(
      ("latency_p50_ms", median(ds.map(d => median(d.lat))), "ms"),
      ("latency_p90_ms", median(ds.map(d => pct(d.lat, 90))), "ms"),
      ("throughput_per_s", median(ds.map(d => exp.total / d.s)), "1/s"),
      ("setup_s", setupS, "s"))
    var all = ds
    val layers = if (!a.trace) {
      val d = ds.last
      streamLayers(d.ps, d.jc) ++ d.sink
    } else {
      Trace.on = true
      val dt = measure()
      val d = dt.last
      traceProgress(d.ps, "stream")
      Trace.on = false
      val after = measure()
      all = ds ++ dt ++ after
      val costs = Isolated.run(spark, a, docs, docs.size, 1)
      def drain(x: Seq[Drain]) = Seq(("drain_s", median(x.map(_.s)), "s"))
      streamLayers(d.ps, d.jc) ++ d.sink ++
        attribute(d.ps, d.jc, costs, d.startS, d.putS, d.diS, pushes = true) ++ Seq(
          ("trace.overhead_frac", overhead(drain(dt), drain(ds), drain(after)), "ratio"))
    }
    Result(exp.docs.size.toLong * all.size, all.map(_.failed).sum, e2e, layers)
  }

  // ---------------------------------------------------------------- lake

  /** A network-day archived through `Pipeline.archive` into a
    * manifest-mode lake (file ledger, in-line compaction), then a seeded
    * closed-loop series of `History.readPinnedRange` window reads. */
  def lakeArchive(a: Args): Result = {
    val exp = expected(a, "lake_archive")
    val rp = runParams(a, "lake_archive")
    val path = s"${a.work}/lake_archive.payload"
    val docs = splitPayload(path)
    val perBatch = rp("max_docs_per_batch").toInt
    val compactEvery = rp("compact_every").toInt
    val warmPath = writeDocs(s"${a.work}/lake_archive-warm.payload", docs.take(2))

    def archive(spark: SparkSession, payload: String, docsPerBatch: Int)
        : (String, Double, Seq[StreamingQueryProgress], JobCounter, Double) = {
      val lake = freshDir(a, "lake")
      Files.createDirectories(Paths.get(lake))
      History.enableManifests(spark, lake)
      val (wall0, t0) = (System.currentTimeMillis(), System.nanoTime())
      val raw = spark.readStream.format("transis").option("path", payload)
        .option("maxdocsperbatch", docsPerBatch.toString).load()
      val q = Pipeline.archive(Pipeline.payloadToRecords(raw), lake,
        freshDir(a, "ckpt"), Some(new Pipeline.FileBatchLedger(s"$lake/_ledger")),
        Some(compactEvery))
      val qid = q.id.toString
      val jc = new JobCounter(() => qid)
      spark.sparkContext.addSparkListener(jc)
      val ps = try { q.processAllAvailable(); progress(q) } finally Common.stop(q)
      val s = (System.nanoTime() - t0) / 1e9
      ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jc)
      // query start: from the archive call to the first trigger
      val startS = ps.headOption.map(p =>
        math.max(0.0, (java.time.Instant.parse(p.timestamp).toEpochMilli - wall0) / 1e3))
      (lake, s, ps, jc, startS.getOrElse(0.0))
    }
    def read(spark: SparkSession, lake: String, lo: Long, hi: Long): (Long, Int, Double) = {
      val t0 = System.nanoTime()
      val df = History.readPinnedRange(spark, lake, tsCol, lo, hi)
      val n = df.count()
      val s = (System.nanoTime() - t0) / 1e9
      (n, df.inputFiles.length, s)
    }
    val (spark, setupS) = setUp(a) { s =>
      val (lake, _, _, _, _) = archive(s, warmPath, 4)
      read(s, lake, exp.docs.head.ts, exp.docs(1).ts): Unit
    }

    def measure() = {
      val (lake, archiveS, ps, jc, startS) = archive(spark, path, perBatch)
      phase("archive")
      val rows = History.readPinned(spark, lake)
        .select(to_json(struct(col("collectionIntervalSecs"), col("region"), col("siteId"),
          col(tsCol), col("detectorCounts")))).collect().map(_.getString(0))
      val bad = badDocs(exp, rows.toSeq)
      phase("lake contents check")
      val rnd = new scala.util.Random(a.seed)
      val end = System.nanoTime() + a.seconds * 1000000000L
      val reads = Seq.newBuilder[(Double, Int, Boolean)]
      var n = 0
      while (n < 3 || System.nanoTime() < end) {
        val w = 6 + rnd.nextInt(31) // 30 minutes to 3 hours of periods
        val i = rnd.nextInt(exp.docs.size - w + 1)
        val (lo, hi) = (exp.docs(i).ts, exp.docs(i + w - 1).ts)
        val want = exp.docs.slice(i, i + w).map(_.records.toLong).sum
        val id = Trace.nextId()
        val t0 = System.nanoTime()
        val (got, files, s) = read(spark, lake, lo, hi)
        Trace.record("lake.readPinnedRange", t0, System.nanoTime(), 0, id)
        reads += ((s * 1e3, files, got == want))
        n += 1
      }
      val rs = reads.result()
      phase("window reads")
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val m = FileManifest.latest(fs, lake)
      val layers = streamLayers(ps, jc) ++ Seq(
        ("lake.add_batch_ms_p50", median(dataBatches(ps).map(dur(_, "addBatch"))), "ms"),
        ("lake.files_live", m.map(_.cur.size.toDouble).getOrElse(0.0), "count"),
        ("lake.manifest_versions", FileManifest.latestVersion(fs, lake).getOrElse(0L).toDouble, "count"),
        ("lake.files_planned_per_read", median(rs.map(_._2.toDouble)), "count"),
        ("lake.reads", rs.size.toDouble, "count"))
      val e2e = Seq(("latency_p50_ms", median(rs.map(_._1)), "ms"),
        ("latency_p90_ms", pct(rs.map(_._1), 90), "ms"),
        ("throughput_per_s", exp.total / archiveS, "1/s"))
      (e2e, layers, exp.docs.size.toLong + rs.size, bad.size.toLong + rs.count(!_._3),
        ps, jc, startS)
    }
    val (e2e, layers, attempted0, failed0, _, _, _) = measure()
    var (attempted, failed) = (attempted0, failed0)
    val out = if (!a.trace) layers else {
      Trace.on = true
      val (e2eT, layersT, attT, failT, psT, jcT, startT) = measure()
      attempted += attT
      failed += failT
      traceProgress(psT, "stream")
      Trace.on = false
      val costs = Isolated.run(spark, a, docs, perBatch, 8,
        Some((freshDir(a, "iso-lake"), compactEvery)))
      // no second untraced run here: it would take a traced run of this
      // workload too close to the runner's time limit
      layersT ++ attribute(psT, jcT, costs, startT, 0.0, 0.0, pushes = false) ++ Seq(
        ("trace.overhead_frac", overhead(e2eT, e2e, e2e), "ratio"))
    }
    Result(attempted, failed, e2e ++ Seq(("setup_s", setupS, "s")), out)
  }

  def runParams(a: Args, name: String): Map[String, Double] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val run = m.readTree(Files.readAllBytes(Paths.get(a.work, s"$name.docs.json"))).get("run")
    if (run == null) Map.empty
    else run.fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
  }
}
