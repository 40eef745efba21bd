package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.{Dedup, TextAnalysis}
import graft.sources.LakeCommit

/** Streaming dedup admission (§2.9 × d09): each micro-batch of documents
  * is admitted against the ACCUMULATED MinHash/LSH band table, and only
  * the admitted docs' bands append to it — near-dup filtering at ingest,
  * the stage a continuously-fed training-data pipeline runs so the
  * corpus never has to be re-deduplicated from text.
  *
  * Per batch (all bounded by the BATCH, never the corpus):
  * shingle→minhash→band the incoming docs once; [[Dedup.incrementalKeep]]
  * probes the corpus band table with a semi-join (corpus text is never
  * read); admitted bands append via the same stage-then-publish commit
  * as the lake archive, so a crash-replayed batch converges to exactly
  * one copy of its bands — the band table stays a faithful index of
  * exactly the admitted corpus. The per-batch checkpoint inside the
  * admission is released after the batch completes (a week-long stream
  * must not accumulate per-batch checkpoint blocks).
  */
object StreamingDedup {

  /** Start the admission stream. `onAdmitted` receives the admitted
    * subset of each micro-batch (original columns) — route it to the
    * corpus sink; rejected near-dups simply don't appear.
    *
    * '''Delivery contract''': the BAND table is exactly-once (batch-
    * keyed stage-then-publish), but `onAdmitted` itself is
    * AT-LEAST-ONCE — a crash after the band publish and before the
    * ledger mark replays the batch, and the replay re-delivers the SAME
    * admitted set (self-exclusion reproduces it from the published
    * bands). A sink with its own idempotence — [[corpusSink]]'s
    * batch-keyed publish, an upsert by `idCol`, a dedup-on-read view —
    * turns that into end-to-end exactly-once; a blind append does NOT
    * and will hold duplicate admitted docs after such a crash.
    *
    * @param bandTable directory of the accumulated band table (put the
    *   ledger at `<bandTable>/_ledger` to make replays exactly-once
    *   across restarts)
    * @param buckets >0 keeps the band table BUCKETED at rest on
    *   (band, bkey) — [[graft.ext.Dedup.ensureBandTable]] registers the
    *   layout, each batch's admitted bands publish as bucket-tagged
    *   files, and the admission probe reads the catalog table so its
    *   semi-join shuffles ONLY the incoming batch (at streaming steady
    *   state the accumulated corpus bands dwarf any batch; a flat
    *   layout re-shuffles them EVERY batch — per-batch cost growing
    *   with corpus size). 0 = legacy flat parquet (probe shuffles both
    *   sides). The count is fixed at the table's creation — size it for
    *   the CORPUS's target scale up front (buckets ≈ corpus band rows ·
    *   row width / target partition size).
    * @param compactEvery >0 runs [[graft.ext.Dedup.compactBandTable]]
    *   in-line every N committed batches (the lake's maintenance-tick
    *   discipline: the foreachBatch body is the single writer, so no
    *   admitter can race the sweep) — without it a week-long stream
    *   accumulates ~buckets small files per batch. Requires `buckets`>0
    *   and a ledger: compaction sweeps old batch-tagged files, so the
    *   glob-based replay detection no longer covers ledger-committed
    *   batches — the ledger does (and compaction only ever runs after
    *   the current batch's mark).
    */
  def admitStream(docs: DataFrame, idCol: String, textCol: String,
                  bandTable: String, checkpointDir: String,
                  ledger: Option[Pipeline.BatchLedger] = None,
                  shingleN: Int = 3, sigK: Int = 8, bandRows: Int = 2,
                  buckets: Int = 0, compactEvery: Int = 0)
                 (onAdmitted: (DataFrame, Long) => Unit): StreamingQuery = {
    require(compactEvery == 0 || (buckets > 0 && ledger.nonEmpty),
      "compactEvery needs a bucketed band table AND a durable ledger " +
        "(compaction sweeps the batch-tagged files glob-replay relies on)")
    // stream-scoped batch keys (see Pipeline.streamTagOf): a fresh
    // checkpoint restarts batch ids, and bare ids would collide with a
    // previous incarnation's published band files
    val tag = Pipeline.streamTagOf(checkpointDir)
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committed = admitBatch(batch, batchId, idCol, textCol,
          bandTable, s"$tag-$batchId", ledger, shingleN, sigK, bandRows,
          buckets)(onAdmitted)
        // tick only after a batch that actually committed work — a
        // ledger-skipped replay must not pay a full table rewrite on
        // restart (and may run before any batch registered the table)
        if (committed && compactEvery > 0 &&
            (batchId + 1) % compactEvery == 0 &&
            batch.sparkSession.catalog.tableExists(
              Dedup.bandTableName(bandTable)))
          Dedup.compactBandTable(batch.sparkSession, bandTable,
            buckets): Unit
      }
    LocalCheckpointFileManager.start(docs.sparkSession)(writer.start())
  }

  /** One admission batch — [[admitStream]]'s `foreachBatch` body,
    * callable directly so crash-replay behavior is testable the way
    * `Pipeline.archiveBatch`'s is: invoking it again with the same
    * `key` IS the replay a restarted stream performs. Returns true iff
    * the batch committed work (false = ledger-skipped replay no-op). */
  private[graft] def admitBatch(batch: DataFrame, batchId: Long,
                                idCol: String, textCol: String,
                                bandTable: String, key: String,
                                ledger: Option[Pipeline.BatchLedger],
                                shingleN: Int = 3, sigK: Int = 8,
                                bandRows: Int = 2, buckets: Int = 0)
                               (onAdmitted: (DataFrame, Long) => Unit): Boolean = {
    if (ledger.exists(_.lastCommitted >= batchId)) return false
    val spark = batch.sparkSession
    val sh = batch.select(col(idCol),
      explode(TextAnalysis.wordShingles(col(textCol), shingleN))
        .as("shingle"))
    val bands = Dedup.lshBands(
      Dedup.minhashSignatures(sh, idCol, sigK), idCol, sigK, bandRows)
    val fs = new org.apache.hadoop.fs.Path(bandTable)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasCorpus = {
      val p = new org.apache.hadoop.fs.Path(bandTable)
      fs.exists(p) && fs.listStatus(p).exists(s =>
        s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
    }
    val corpus =
      if (buckets > 0) {
        // catalog-described bucketed layout: the scan reports
        // HashPartitioning(band, bkey, buckets), so the probe's
        // semi-join plans no Exchange on this (corpus) side. The
        // session caches a datasource table's file listing at
        // first resolution — refresh so this batch sees every
        // band published before it (prior batches, prior
        // incarnations, concurrent admitters).
        val tbl = graft.ext.Dedup.ensureBandTable(
          spark, bandTable, bands.schema, buckets)
        spark.catalog.refreshTable(tbl)
        spark.table(tbl)
      } else if (hasCorpus) spark.read.parquet(bandTable)
      else bands.limit(0)
    // REPLAY detection: this batch's bands already published →
    // the corpus contains the admitted docs' own bands, and the
    // probe must exclude self-id collisions to converge on the
    // same admitted set. On a normal first run self-exclusion
    // stays OFF so a re-delivered doc id in a later batch is
    // still dropped as the duplicate it is.
    val replayed = hasCorpus && Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(bandTable,
          LakeCommit.fileTag(key) + "*")))
      .exists(_.nonEmpty)
    val kept = Dedup.incrementalKeep(bands, corpus, idCol,
      excludeSelf = replayed)
    try {
      // exactly-once band append: batch-tagged stage-then-publish
      // (replay sweeps a prior partial attempt's files first); in
      // bucketed mode the stage is repartitioned on the bucket
      // columns so each staged task IS one bucket, and the
      // publish carries the bucket id into the published names
      val admittedBands = bands.join(kept, Seq(idCol), "left_semi")
      if (buckets > 0) {
        admittedBands.repartition(buckets, col("band"), col("bkey"))
          .write.mode("overwrite")
          .parquet(LakeCommit.stagingDir(bandTable, key))
        LakeCommit.publishBucketed(spark, bandTable, key): Unit
      } else {
        admittedBands.write.mode("overwrite")
          .parquet(LakeCommit.stagingDir(bandTable, key))
        LakeCommit.publish(spark, bandTable, key): Unit
      }
      onAdmitted(batch.join(kept, Seq(idCol), "left_semi"), batchId)
      ledger.foreach(_.markCommitted(batchId))
    } finally Dedup.releaseBacking(kept)
    true
  }

  /** Exactly-once corpus sink for [[admitStream]]'s `onAdmitted`: each
    * batch's admitted docs go through the SAME batch-keyed
    * stage-then-publish as the band table (key derived from the same
    * `checkpointDir`), so a crash at ANY point — before the sink, mid-
    * stage, after publish but before the ledger mark — converges to
    * exactly one copy of every admitted doc on replay: re-publishing a
    * key first sweeps that key's previous files. This is the sink that
    * closes the band-publish→sink-commit window the raw `onAdmitted`
    * contract leaves at-least-once. */
  def corpusSink(corpusDir: String,
                 checkpointDir: String): (DataFrame, Long) => Unit = {
    val tag = Pipeline.streamTagOf(checkpointDir)
    (admitted, batchId) => {
      val spark = admitted.sparkSession
      val key = s"$tag-$batchId"
      admitted.write.mode("overwrite")
        .parquet(LakeCommit.stagingDir(corpusDir, key))
      LakeCommit.publish(spark, corpusDir, key): Unit
    }
  }
}
