package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time analytics over the detector-count record stream
  * (SURVEY.md §2.9): the reference forwards pre-windowed 5-minute SCATS
  * aggregates and never re-windows; this layer adds the natural windowed
  * aggregates Spark gives for free, with the event-time/watermark design
  * SURVEY prescribes.
  *
  * Event-time note: the `date` attribute is collection end + 3 minutes of
  * delivery latency (reference `transis_response_models.py:20,25,38`), so
  * true window end = date − 180 s and the watermark allows one extra batch
  * of slack (10 min) over the built-in 3-minute delay.
  */
object WindowedAnalytics {

  /** Derive the true event-time column from the canonical records. */
  def withEventTime(records: DataFrame): DataFrame =
    records.withColumn("eventTime",
      timestamp_seconds(col("collectionendtimestamp_plus_3_mins") - 180))

  /** Per-region per-5-minute-window vehicle volume (streaming-safe:
    * watermark + tumbling window; also runs identically in batch mode).
    * Map-side partial aggregation keeps the shuffle at
    * (#regions × #windows) rows regardless of input size. */
  def regionVolumes(records: DataFrame): DataFrame =
    withEventTime(records)
      .withWatermark("eventTime", "10 minutes")
      .select(col("eventTime"), col("region"),
        explode(col("detectorCounts")).as(Seq("did", "cnt")))
      .groupBy(window(col("eventTime"), "5 minutes"), col("region"))
      .agg(sum(col("cnt").cast("int")).as("total_count"),
        count(lit(1)).as("n_detectors"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("region"), col("total_count"), col("n_detectors"))
}
