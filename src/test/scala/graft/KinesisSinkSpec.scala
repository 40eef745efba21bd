package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sink._

/** Ports `KinesisProducerTests` (`tests.py:121-168`): only
  * throttle-failed records are retried, exactly once. */
class KinesisSinkSpec extends AnyFunSuite {

  /** Scriptable stub: `script(i)` = outcomes for the i-th putRecords call. */
  class StubClient(script: Seq[Seq[Option[String]]]) extends KinesisClient {
    var calls: List[Seq[KinesisRecord]] = Nil
    override def putRecords(records: Seq[KinesisRecord],
                            streamName: String): PutRecordsResult = {
      val outcomes = script(calls.size).map(PutOutcome(_))
      calls = calls :+ records
      PutRecordsResult(outcomes.count(_.errorCode.isDefined), outcomes)
    }
  }

  private def rec(i: Int) = KinesisRecord(s"pk$i", s"data$i".getBytes("UTF-8"))
  private val Throttle = Some("ProvisionedThroughputExceededException")

  private def sink(client: KinesisClient, sleeps: StringBuilder = new StringBuilder) =
    new KinesisSink(() => client, "stream", batchSize = 10,
      retrySleepMs = 2000, lenient = true, sleeper = ms => { sleeps.append(s"$ms;"); () })

  test("K3/F6: alternating failures → exactly the 2 failed records retried once (tests.py:128-147)") {
    val client = new StubClient(Seq(
      Seq(None, Throttle, None, Throttle), // first call: records 1,3 throttled
      Seq(None, None))) // retry call: both succeed
    val sleeps = new StringBuilder
    val pushed =
      sink(client, sleeps).pushPartition(Iterator(rec(0), rec(1), rec(2), rec(3)))
    assert(pushed === PushCounts(attempted = 4, retried = 2, dropped = 0))
    assert(client.calls.size === 2)
    assert(client.calls(1).map(_.partitionKey) === Seq("pk1", "pk3"))
    assert(sleeps.toString === "2000;") // 2 s penalty before the retry
  }

  test("K3: retry is bounded — still-failing records dropped after one retry") {
    val client = new StubClient(Seq(
      Seq(Throttle, None),
      Seq(Throttle))) // retry fails again → dropped, no third call
    val pushed = sink(client).pushPartition(Iterator(rec(0), rec(1)))
    assert(pushed === PushCounts(attempted = 2, retried = 1, dropped = 1))
    assert(client.calls.size === 2)
  }

  test("F6: non-retryable error codes are not resubmitted") {
    val client = new StubClient(Seq(Seq(Some("InternalFailure"), None)))
    val pushed = sink(client).pushPartition(Iterator(rec(0), rec(1)))
    assert(pushed === PushCounts(attempted = 2, retried = 0, dropped = 1))
    assert(client.calls.size === 1) // no retry call for non-throttle errors
  }

  test("K1: fixed-size batching into chunks of batchSize (utils.py:33-36)") {
    val client = new StubClient(Seq.fill(3)(Seq.fill(10)(None)))
    val pushed = sink(client).pushPartition((0 until 25).iterator.map(rec))
    assert(pushed.attempted === 25)
    assert(client.calls.map(_.size) === List(10, 10, 5))
  }

  test("K4: lenient sink absorbs hard put errors, batch dropped") {
    val boom = new KinesisClient {
      override def putRecords(r: Seq[KinesisRecord], s: String) =
        throw new RuntimeException("kinesis down")
    }
    val pushed = sink(boom).pushPartition(Iterator(rec(0), rec(1)))
    assert(pushed === PushCounts(attempted = 2, retried = 0, dropped = 2)) // absorbed, no throw
  }

  test("K4 fail-fast mode: non-lenient sink rethrows (engine default, SURVEY §7.5)") {
    val boom = new KinesisClient {
      override def putRecords(r: Seq[KinesisRecord], s: String) =
        throw new RuntimeException("kinesis down")
    }
    val strict = new KinesisSink(() => boom, "stream", lenient = false,
      sleeper = _ => ())
    intercept[RuntimeException] { strict.pushPartition(Iterator(rec(0))) }
  }
}
