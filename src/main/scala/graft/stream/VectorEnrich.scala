package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.Similarity

/** Streaming serve-side of the ANN index lifecycle (§2.9 × s07/s08):
  * the quantizer is TRAINED once in batch ([[Similarity.trainCentroids]]
  * → [[Similarity.saveCentroids]], versioned pointer-file publish) and
  * SERVED here — each micro-batch of embeddings is assigned its IVF
  * cell against the published centroids, the enrichment step that keeps
  * a streaming corpus searchable (new vectors land in the right
  * inverted list as they arrive).
  *
  * Plan shape per batch: the K-row centroid table is loaded ONCE at
  * wiring time (a pointer read + K-row parquet scan, persisted) and
  * broadcast into every micro-batch's assignment job; the argmax is the
  * same partial-agg `max_by` as the batch path, so a batch shuffles its
  * own N rows and nothing else. Re-wire the stream to pick up a newer
  * published quantizer version — assignments within one query lifetime
  * are intentionally pinned to one version (a mid-stream flip would
  * split a batch across codebooks).
  */
object VectorEnrich {

  /** Start a foreachBatch query assigning each micro-batch's vectors to
    * their nearest published centroid. `onBatch` receives the enriched
    * frame (`idCol`, `embCol`, `cell`) per batch — route it to a sink
    * (lake append, index update) as the deployment needs.
    */
  def assignStream(stream: DataFrame, idCol: String, embCol: String,
                   quantizerPath: String, checkpointDir: String)
                  (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    val centroids = Similarity.loadCentroids(spark, quantizerPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    centroids.count(): Unit // materialize once, not inside batch 0
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(Similarity.assignCells(batch, idCol, embCol, centroids),
          batchId)
      }
    LocalCheckpointFileManager.start(stream.sparkSession)(writer.start())
  }
}
