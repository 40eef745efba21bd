package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.fixtures.ReferenceFixtures._
import graft.sink._
import graft.stream.Pipeline

/** Executor-side state sink — static so local-mode task serialization still
  * lands mutations in this JVM. */
object PipelineSpecState {
  val pushed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val procCalls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { pushed.clear(); procCalls.clear(); sent.clear() }
}

class RecordingClient extends KinesisClient {
  override def putRecords(records: Seq[KinesisRecord],
                          streamName: String): PutRecordsResult = {
    records.foreach(r => PipelineSpecState.pushed.add(
      r.partitionKey + "|" + new String(r.data, "UTF-8")))
    PutRecordsResult(0, records.map(_ => PutOutcome(None)))
  }
}

/** Throttles every ROZ record on every call (so each is retried once and
  * then dropped) and records what it was sent and what it accepted. */
class ThrottlingClient extends KinesisClient {
  override def putRecords(records: Seq[KinesisRecord],
                          streamName: String): PutRecordsResult = {
    val outcomes = records.map { r =>
      val key = r.partitionKey + "|" + new String(r.data, "UTF-8")
      PipelineSpecState.sent.add(key)
      if (r.partitionKey == "ROZ")
        PutOutcome(Some("ProvisionedThroughputExceededException"))
      else { PipelineSpecState.pushed.add(key); PutOutcome(None) }
    }
    PutRecordsResult(outcomes.count(_.errorCode.isDefined), outcomes)
  }
}

class RecordingCaller extends ProcCaller {
  override def call(proc: String, args: Seq[Any]): String = {
    PipelineSpecState.procCalls.add(proc + "(" + args.mkString(",") + ")")
    """[{"key": "job_id", "value": "42"}, {"key": "status", "value": "success"}]"""
  }
}

/** End-to-end §3.1 flagship path under Structured Streaming with the
  * reference's begin/process/commit job bracket
  * (`transis_kinesis_connector.py:19-26`). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("stream payload → records → Kinesis push with D1→D2→D3 bracket") {
    import spark.implicits._
    PipelineSpecState.reset()
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val records = Pipeline.payloadToRecords(input.toDF())
    val sink = new KinesisSink(() => new RecordingClient, "stream",
      sleeper = _ => ())
    val di = new DiFramework(new RecordingCaller, "disch", "graft_job")
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    val q = Pipeline.run(records, sink, di, checkpoint)
    try {
      input.addData(streamPayload)
      q.processAllAvailable()
    } finally q.stop()

    // 3 records (1 single-site + 2 multi-site); error + empty docs dropped
    val pushed = PipelineSpecState.pushed.toArray.map(_.toString).sorted
    assert(pushed.length === 3)
    // partition key is the region VALUE (documented T5 deviation)
    assert(pushed.map(_.split('|').head).toSet === Set("ROZ", "SYD"))
    // JSON-encoded canonical record on the wire (P5)
    assert(pushed.exists(s => s.contains(""""siteId":"8"""") &&
      s.contains(""""collectionIntervalSecs":300""")))

    // D1 → D2(metrics) → D3 order, parameterized calls (D6 fix)
    val calls = PipelineSpecState.procCalls.toArray.map(_.toString).toList
    assert(calls.head.startsWith("disch.strt_job(graft_job)"))
    assert(calls(1).startsWith("disch.log_job_stus(graft_job,42,"))
    assert(calls(1).contains(""""records_in_xml_doc": 3"""))
    assert(calls(1).contains(epoch1543.toString)) // A4 first/min timestamp
    assert(calls(2).startsWith("disch.end_job(graft_job,42)"))
  }

  test("BatchLedger makes a replayed foreachBatch exactly-once at the sink") {
    import spark.implicits._
    PipelineSpecState.reset()
    val records = Pipeline.payloadToRecords(Seq(singleSiteDoc).toDF("value"))
    val sink = new KinesisSink(() => new RecordingClient, "stream",
      sleeper = _ => ())
    val di = new DiFramework(new RecordingCaller, "disch", "graft_job")
    val ledger = new Pipeline.InMemoryBatchLedger
    // first delivery of batch 0: pushes + brackets + marks the ledger
    Pipeline.pushBatch(records, 0L, sink, di, 1, Some(ledger))
    assert(PipelineSpecState.pushed.size === 1)
    assert(ledger.lastCommitted === 0L)
    // crash-replay of batch 0 (Structured Streaming re-runs the last
    // unacknowledged batch on restart): no duplicate push, no duplicate
    // DI job bracket
    val callsAfterFirst = PipelineSpecState.procCalls.size
    Pipeline.pushBatch(records, 0L, sink, di, 1, Some(ledger))
    assert(PipelineSpecState.pushed.size === 1)
    assert(PipelineSpecState.procCalls.size === callsAfterFirst)
    // the NEXT batch flows normally
    Pipeline.pushBatch(records, 1L, sink, di, 1, Some(ledger))
    assert(PipelineSpecState.pushed.size === 2)
    assert(ledger.lastCommitted === 1L)
  }

  /** Runs `pushBatch` on `records` and returns its D2 status JSON and
    * the Spark jobs and stages it started. */
  private def pushOnce(records: org.apache.spark.sql.DataFrame,
                       client: () => KinesisClient): (String, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    PipelineSpecState.reset()
    val group = s"push-${java.util.UUID.randomUUID()}"
    val jobs, stages = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet(); stages.addAndGet(e.stageInfos.size): Unit
        }
    }
    val sc = spark.sparkContext
    val sink = new KinesisSink(client, "stream", sleeper = _ => ())
    val di = new DiFramework(new RecordingCaller, "disch", "graft_job")
    sc.addSparkListener(l)
    try {
      // bounded, so an observation that never completes fails the test
      // instead of hanging the suite
      scala.concurrent.Await.result(scala.concurrent.Future {
        sc.setJobGroup(group, "pushBatch")
        try Pipeline.pushBatch(records, 0L, sink, di, 1)
        finally sc.clearJobGroup()
      }(scala.concurrent.ExecutionContext.global),
        scala.concurrent.duration.Duration(60, "s"))
      org.apache.spark.graftbridge.ListenerBridge.drain(sc, 10000L)
    } finally sc.removeSparkListener(l)
    val calls = PipelineSpecState.procCalls.toArray.map(_.toString)
    assert(calls.length === 3, calls.mkString("\n"))
    (calls(1), jobs.get(), stages.get())
  }

  test("pushBatch is one Spark job and one stage per batch, empty or not") {
    import spark.implicits._
    val records = Pipeline.payloadToRecords(
      Seq(singleSiteDoc, multiSiteDoc).toDF("value"))
    val (status, jobs, stages) = pushOnce(records, () => new RecordingClient)
    assert((jobs, stages) === ((1, 1)), status)
    assert(status.contains(""""records_in_xml_doc": 3, """), status)
    assert(status.contains(epoch1543.toString), status)
    assert(status.contains(""""attempted": 3, "retried": 0, "dropped": 0}"""),
      status)
    assert(PipelineSpecState.pushed.size === 3)

    // an empty batch still brackets and logs its zero count
    val empty = Pipeline.payloadToRecords(Seq.empty[String].toDF("value"))
    val (zero, _, _) = pushOnce(empty, () => new RecordingClient)
    assert(zero.contains(""""records_in_xml_doc": 0, """), zero)
    assert(zero.contains(""""attempted": 0, "retried": 0, "dropped": 0}"""),
      zero)
  }

  test("D2 status reports the push's retried and dropped counts") {
    import spark.implicits._
    val records = Pipeline.payloadToRecords(
      Seq(singleSiteDoc, multiSiteDoc).toDF("value"))
    val (status, _, _) = pushOnce(records, () => new ThrottlingClient)
    // what the client saw: every distinct record it was sent and never
    // accepted was dropped; every repeat send was a retry
    val sent = PipelineSpecState.sent.toArray.map(_.toString).toSeq
    val dropped = sent.distinct.size - PipelineSpecState.pushed.size
    val retried = sent.size - sent.distinct.size
    assert(dropped > 0 && retried === dropped)
    assert(status.contains(
      s""""attempted": 3, "retried": $retried, "dropped": $dropped}"""), status)
  }

  test("a live run writes its checkpoint logs without checksum or temp " +
      "files and leaves the session's manager setting as it was") {
    PipelineSpecState.reset()
    val payload = java.nio.file.Files
      .createTempFile("graft-pipe", ".payload").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(payload),
      (0 until 3).map(i => singleSiteDoc
        .replace("Sid=\"2087\"", s"Sid=\"${500 + i}\"") + NUL).mkString
        .getBytes("UTF-8"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-pipe-ckpt").toString
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val before = spark.conf.getOption(key)
    val raw = spark.readStream.format("transis").option("path", payload)
      .option("maxdocsperbatch", "1").load()
    val sink = new KinesisSink(() => new RecordingClient, "stream",
      sleeper = _ => ())
    val di = new DiFramework(new RecordingCaller, "disch", "graft_job")
    val q = Pipeline.run(Pipeline.payloadToRecords(raw), sink, di, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(spark.conf.getOption(key) === before)
    assert(PipelineSpecState.pushed.size === 3)
    for (log <- Seq("offsets", "commits")) {
      val files = new java.io.File(s"$ckpt/$log").list().toSet
      assert(files === Set("0", "1", "2"), s"$log: $files")
    }
    val stray = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .toArray.map(_.toString).filter(n => n.endsWith(".crc") ||
        n.endsWith(".tmp"))
    assert(stray.isEmpty, stray.mkString(", "))
  }

  test("D5: K/V extraction from proc response (di_framework.py:44-55)") {
    val di = new DiFramework(new RecordingCaller, "s", "j")
    assert(di.extractValue(
      """[{"key": "job_id", "value": "7"}]""", "job_id") === Some("7"))
    assert(di.extractValue("""[{"key": "other", "value": "7"}]""", "job_id")
      === None)
  }
}
