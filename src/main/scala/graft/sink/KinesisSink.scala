package graft.sink

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** One record bound for Kinesis: `{PartitionKey, Data}` (T5; reference
  * `kinesis_producer.py:44-56`). */
case class KinesisRecord(partitionKey: String, data: Array[Byte])

/** Per-record put outcome, mirroring the `put_records` response entries the
  * reference inspects (`kinesis_producer.py:87-98`): either a sequence
  * number or an error code. */
case class PutOutcome(errorCode: Option[String])

case class PutRecordsResult(failedRecordCount: Int, outcomes: Seq[PutOutcome])

/** What a push did: records attempted, records re-put once after a
  * throttle (K3), and records dropped (failed after the retry, failed
  * with a non-retryable code, or absorbed by the lenient K4 path). */
case class PushCounts(attempted: Long, retried: Long, dropped: Long) {
  def +(o: PushCounts): PushCounts =
    PushCounts(attempted + o.attempted, retried + o.retried, dropped + o.dropped)
}

/** Minimal client surface of `put_records` (K2). Implementations must be
  * constructible on executors — the sink takes a factory, never a live
  * connection, so pushes run distributed inside each partition's task and
  * no record ever crosses the driver (only per-partition counts do). */
trait KinesisClient extends Serializable {
  def putRecords(records: Seq[KinesisRecord], streamName: String): PutRecordsResult
}

/** K1–K4: batching, put, partial-failure single retry, lenient error
  * absorption (reference `kinesis_producer.py:20-98`).
  *
  * Scale design: the sink is executor-side only. Each task pushes its own
  * partition in `batchSize` chunks; parallelism = number of partitions of
  * the output DataFrame (co-sized to shard count by the caller). The
  * reference's single-thread push loop
  * (`transis_kinesis_connector.py:19-26`) becomes N concurrent pushers.
  *
  * Faithful-behavior deviation (SURVEY §2.3 T5): the reference passes the
  * literal string "region" as every record's partition key (one-shard
  * hotspot); this sink partitions by the region *value*.
  */
class KinesisSink(
    clientFactory: () => KinesisClient,
    streamName: String,
    batchSize: Int = 10,
    retrySleepMs: Long = 2000,
    lenient: Boolean = true,
    sleeper: Long => Unit = Thread.sleep) extends Serializable {

  /** Retryable error code (F6; reference `kinesis_producer.py:92`). */
  val ThroughputExceeded = "ProvisionedThroughputExceededException"

  /** K1+K2+K3+K4 for one iterator of records (one Spark partition). */
  def pushPartition(records: Iterator[KinesisRecord]): PushCounts = {
    val client = clientFactory()
    var attempted, retried, dropped = 0L
    records.grouped(batchSize).foreach { chunk => // K1 fixed-size batching
      attempted += chunk.size
      try {
        val (throttled, failed) = put(client, chunk)
        // added to `dropped` only once both puts returned: when one
        // throws, the lenient path below drops the whole chunk instead
        var lost = failed
        // K3: re-put exactly the throughput-throttled subset once after a
        // penalty sleep; whatever fails again is dropped (reference
        // `kinesis_producer.py:70-79`)
        if (throttled.nonEmpty) {
          retried += throttled.size
          sleeper(retrySleepMs) // 2 s penalty (reference kinesis_producer.py:76)
          val (again, failedAgain) = put(client, throttled)
          lost += again.size + failedAgain
        }
        dropped += lost
      } catch {
        case e: Exception if lenient => // K4: log + absorb, batch dropped
          dropped += chunk.size
          System.err.println(s"[kinesis-sink] batch dropped: ${e.getMessage}")
      }
    }
    PushCounts(attempted, retried, dropped)
  }

  /** One `put_records` call: (the throttled records, to retry; the count
    * of records that failed with any other error code, which are not
    * resubmitted — reference `kinesis_producer.py:87-98`). */
  private def put(client: KinesisClient, chunk: Seq[KinesisRecord])
      : (Seq[KinesisRecord], Long) = {
    val res = client.putRecords(chunk, streamName)
    if (res.failedRecordCount <= 0) (Nil, 0L)
    else {
      val throttled = chunk.zip(res.outcomes).collect { // F6 positional zip
        case (rec, PutOutcome(Some(code))) if code == ThroughputExceeded => rec
      }
      (throttled, (res.failedRecordCount - throttled.size).toLong)
    }
  }

  /** Distributed push of a (micro-)batch in one Spark job: each partition
    * pushes its records and returns its counts, summed on the driver.
    * Input must have columns `partitionKey` (string) and `data` (binary). */
  def push(df: DataFrame): PushCounts = {
    val sink = this
    df.select(col("partitionKey"), col("data"))
      .mapPartitions { rows: Iterator[org.apache.spark.sql.Row] =>
        Iterator(sink.pushPartition(rows.map(r =>
          KinesisRecord(r.getString(0), r.getAs[Array[Byte]](1)))))
      }(Encoders.product[PushCounts])
      .collect()
      .foldLeft(PushCounts(0, 0, 0))(_ + _)
  }
}

object KinesisSink {
  /** T5 + P5: decorate an output-record DataFrame as Kinesis records —
    * partition key = region value, data = UTF-8 JSON of the record
    * (reference `kinesis_producer.py:53-56`). */
  def toKinesisRecords(records: DataFrame): DataFrame =
    records.select(
      col("region").as("partitionKey"),
      encode(to_json(struct(records.columns.toIndexedSeq.map(col): _*)), "UTF-8")
        .as("data"))
}
