package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sink.{KinesisRecord, KinesisSink, PushCounts, SdkKinesisClient}
import graft.fakesdk.FakeSdkState

/** The reflective AWS-SDK adapter driven against offline stubs with the
  * SDK's exact method shapes: proves the builder chains, byte wrapping,
  * and response mapping the deployment path runs — and that the K1–K4
  * sink semantics compose over it unchanged. */
class SdkKinesisClientSpec extends AnyFunSuite {

  private def fakeClient() = new SdkKinesisClient(
    kinesisClientClass = "graft.fakesdk.KinesisClient",
    modelPackage = "graft.fakesdk",
    sdkBytesClass = "graft.fakesdk.SdkBytes")

  test("builder chain, byte wrapping, and response mapping round-trip") {
    FakeSdkState.reset()
    val client = fakeClient()
    val res = client.putRecords(Seq(
      KinesisRecord("pk-a", "alpha".getBytes("UTF-8")),
      KinesisRecord("fail-b", "beta".getBytes("UTF-8")),
      KinesisRecord("pk-c", "gamma".getBytes("UTF-8"))), "streamX")
    // request formed exactly once with every field threaded through
    assert(FakeSdkState.requests.size === 1)
    val req = FakeSdkState.requests.peek()
    assert(req.streamName === "streamX")
    val entries = req.entries
    assert(entries.size === 3)
    assert(entries.get(0).partitionKey === "pk-a")
    assert(new String(entries.get(1).data.bytes, "UTF-8") === "beta")
    // response mapped positionally: failed count + per-record codes
    assert(res.failedRecordCount === 1)
    assert(res.outcomes.map(_.errorCode) === Seq(None,
      Some("ProvisionedThroughputExceededException"), None))
  }

  test("a configured region is pinned through the builder path") {
    FakeSdkState.reset()
    val client = new SdkKinesisClient(
      kinesisClientClass = "graft.fakesdk.KinesisClient",
      modelPackage = "graft.fakesdk",
      sdkBytesClass = "graft.fakesdk.SdkBytes",
      region = Some("ap-southeast-2"),
      regionClass = "graft.fakesdk.Region")
    client.putRecords(
      Seq(KinesisRecord("pk", "x".getBytes("UTF-8"))), "streamR"): Unit
    assert(FakeSdkState.regions.size === 1 &&
      FakeSdkState.regions.peek() === "ap-southeast-2",
      "region must reach the client builder, not the provider chain")
    assert(FakeSdkState.requests.size === 1)
  }

  test("missing SDK fails loudly at first put, never silently drops") {
    val client = new SdkKinesisClient() // real SDK class names — absent here
    val e = intercept[ClassNotFoundException] {
      client.putRecords(Seq(KinesisRecord("k", Array[Byte](1))), "s")
    }
    assert(e.getMessage.contains("software.amazon.awssdk"))
  }

  test("K1-K4 sink semantics compose over the reflective adapter") {
    FakeSdkState.reset()
    val slept = new java.util.concurrent.atomic.AtomicLong(0)
    val sink = new KinesisSink(() => fakeClient(), "streamY",
      batchSize = 2, retrySleepMs = 2000, sleeper = slept.addAndGet(_): Unit)
    // 3 records → chunks (2, 1); the fail- record throttles in chunk 1,
    // retries once after the 2 s penalty, throttles again → dropped
    val pushed = sink.pushPartition(Iterator(
      KinesisRecord("pk-a", "a".getBytes),
      KinesisRecord("fail-b", "b".getBytes),
      KinesisRecord("pk-c", "c".getBytes)))
    assert(pushed === PushCounts(attempted = 3L, retried = 1L, dropped = 1L))
    assert(slept.get() === 2000L)
    // chunk1, chunk1-retry (failed subset only), chunk2
    assert(FakeSdkState.requests.size === 3)
    val retry = FakeSdkState.requests.toArray()
      .apply(1).asInstanceOf[graft.fakesdk.PutRecordsRequest]
    assert(retry.entries.size === 1)
    assert(retry.entries.get(0).partitionKey === "fail-b")
  }
}
