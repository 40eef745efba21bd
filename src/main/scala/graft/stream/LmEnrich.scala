package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.LmRollup

/** Streaming serve-side of the MAINTAINED LM model ([[graft.ext
  * .LmRollup]]): each micro-batch of candidate documents is scored
  * against the bigram/unigram count tables — the streaming admission
  * filter of a training-data pipeline (score on arrival, route
  * keep/reject downstream) backed by a model that the maintenance
  * agent keeps exact as the corpus evolves.
  *
  * Version semantics — deliberately the OPPOSITE of [[VectorEnrich]]'s
  * pinned codebook: cell assignments must stay within one codebook for
  * a corpus to be searchable, but LM scores are per-document
  * judgments with no cross-batch consistency requirement, and a
  * takedown-driven model update should reach the filter as fast as
  * possible. So every micro-batch re-resolves the rollups' CURRENT
  * version (one version-listing per table per batch — metadata, not
  * data); a model publish between batches applies from the next batch
  * boundary, never mid-batch.
  *
  * Plan shape per batch: O(batch) bigram stream joined against the
  * vocabulary-sized model — [[LmRollup.scoreDocs]]'s shape, unseen
  * grams flowing through the smoothing, so brand-new documents score
  * meaningfully. */
object LmEnrich {

  /** Start a foreachBatch query scoring each micro-batch's documents.
    * `onBatch` receives (`idCol`, n_bigrams, avg_nll) per batch, ONE
    * ROW PER INPUT DOC: an unscoreable doc (null/blank text, fewer
    * than two tokens) surfaces with n_bigrams = 0 and a NULL score —
    * an admission filter must route every document it saw, never
    * silently drop one. Filter on the score and route as the
    * deployment needs. */
  def scoreStream(stream: DataFrame, idCol: String, textCol: String,
                  bigramDir: String, unigramDir: String,
                  checkpointDir: String)
                 (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scores = LmRollup.scoreDocs(batch.sparkSession, bigramDir,
          unigramDir, batch, idCol, textCol)
        val all = batch.select(col(idCol))
          .join(scores, Seq(idCol), "left")
          .withColumn("n_bigrams",
            coalesce(col("n_bigrams"), lit(0L)))
        onBatch(all, batchId)
      }
    LocalCheckpointFileManager.start(stream.sparkSession)(writer.start())
  }
}
