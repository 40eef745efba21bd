package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.History

/** Streaming keyed upsert (§2.9 × h08): apply a stream of corrections /
  * late records to a manifest-mode lake, one copy-on-write
  * [[History.mergeInto]] per micro-batch — the CDC-apply stage of a
  * continuously-corrected corpus, where takedowns use the delete path
  * and everything else lands as keyed upserts.
  *
  * '''Delivery contract''': effectively-once ROWS, at-least-once
  * VERSIONS. `mergeInto` is idempotent for a deterministic key-distinct
  * batch — re-applying the same updates replaces the same keys with the
  * same rows — so a crash between the manifest flip and the ledger mark
  * replays to the SAME lake image (one extra manifest version, swept by
  * vacuum's stale-version reclaim). The ledger's job is to skip the
  * replay's rewrite COST, not to guard correctness.
  *
  * foreachBatch runs batches serially in batch-id order, which is
  * exactly the single-writer discipline every lake maintenance op
  * requires — do not run another writer against the lake while the
  * merge stream is up. At 100 TB each batch's cost is proportional to
  * the files its keys touch ([[History.clusterBy]] keeps that small),
  * never to the lake.
  */
object StreamingMerge {

  /** Start the merge stream.
    *
    * @param keyCols upsert identity; a lake row whose key appears in a
    *   batch is replaced, unmatched update keys insert
    * @param seqCol optional ordering column for CDC streams where one
    *   batch can carry several versions of a key: the row with the
    *   MAX `seqCol` per key wins (remaining columns break exact ties
    *   deterministically). Without it, a key-duplicated batch is
    *   rejected by [[History.mergeInto]]'s ambiguity check.
    * @param ledger durable batch ledger (e.g. `<lake>/_ledger` via
    *   [[Pipeline.FileBatchLedger]]) so a restarted stream skips the
    *   replayed batch's rewrite instead of re-running it */
  def mergeStream(updates: DataFrame, lake: String, keyCols: Seq[String],
                  checkpointDir: String, seqCol: Option[String] = None,
                  ledger: Option[Pipeline.BatchLedger] = None)
                 : StreamingQuery = {
    val writer = updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, lake, keyCols, seqCol, ledger): Unit
      }
    LocalCheckpointFileManager.start(updates.sparkSession)(writer.start())
  }

  /** One merge batch — [[mergeStream]]'s `foreachBatch` body, callable
    * directly so crash-replay behavior is testable: invoking it again
    * with the same `batchId` IS the replay a restarted stream performs.
    * Returns true iff the batch applied (false = ledger-skipped
    * replay). */
  def mergeBatch(batch: DataFrame, batchId: Long, lake: String,
                 keyCols: Seq[String], seqCol: Option[String] = None,
                 ledger: Option[Pipeline.BatchLedger] = None): Boolean = {
    if (ledger.exists(_.lastCommitted >= batchId)) return false
    History.mergeInto(batch.sparkSession, lake,
      latestPerKey(batch, keyCols, seqCol), keyCols): Unit
    ledger.foreach(_.markCommitted(batchId))
    true
  }

  /** Fold a batch to one row per key: max `seqCol` wins, remaining
    * columns (in schema order) break exact seq ties deterministically —
    * a struct max is a lexicographic compare over its fields. */
  private[graft] def latestPerKey(batch: DataFrame, keyCols: Seq[String],
                                   seqCol: Option[String]): DataFrame =
    seqCol match {
      case None => batch
      case Some(sc) =>
        require(batch.columns.contains(sc), s"seq column $sc not in batch")
        val rest = batch.columns.toSeq.filterNot(keyCols.contains)
        val ordered = sc +: rest.filterNot(_ == sc)
        batch.groupBy(keyCols.map(col): _*)
          .agg(max(struct(ordered.map(col): _*)).as("__winner"))
          .select(batch.columns.toSeq.map {
            case k if keyCols.contains(k) => col(k)
            case c => col(s"__winner.$c").as(c)
          }: _*)
    }
}
