package graft.stream

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Schemas
import graft.ops.DetectorCounts
import graft.parse.TransisXml
import graft.sink.{DiFramework, KinesisSink}

/** §3.1 flagship path as a Structured Streaming job:
  *
  * `readStream → frame → from_xml → gates → T1-T4 projection →
  *  foreachBatch { startJob; push-to-Kinesis-with-retry; logStatus; endJob }`
  *
  * vs the reference's single-thread loop (`transis_kinesis_connector.py:19-26`).
  * Checkpointed micro-batches give exactly-once source tracking +
  * at-least-once sink — strictly stronger than the reference's
  * resume-at-now behavior (SURVEY §2.9, allowed upgrade).
  */
object Pipeline {

  /** Transform layer shared by batch and streaming: raw payload strings
    * (column `value`) → canonical output records. Stateless narrow ops
    * only, so it plans identically under `read` and `readStream`. */
  def payloadToRecords(raw: DataFrame): DataFrame = {
    val framed = TransisXml.frame(raw)
    val parsed = TransisXml.parse(framed, Schemas.transisResponse)
    DetectorCounts.toRecords(TransisXml.detectorCountDocs(parsed))
  }

  /** Sink-side batch ledger: records the highest batchId whose push
    * COMPLETED. After a crash between sink output and checkpoint commit,
    * Structured Streaming re-runs the last batch — consulting the ledger
    * turns that at-least-once replay into exactly-once OUTPUT (the
    * standard foreachBatch idempotence pattern). An implementation must
    * make `markCommitted` durable with the batch's output (same
    * transaction, or written after the output is visible):
    * [[FileBatchLedger]] for the lake archive (markers in the lake
    * itself), [[DiBatchLedger]] for the Kinesis push (a row beside the
    * DI job bracket); the in-memory implementation is for tests and
    * single-JVM runs only. */
  trait BatchLedger extends Serializable {
    /** Highest committed batchId, -1 when none. */
    def lastCommitted: Long
    def markCommitted(batchId: Long): Unit
  }

  class InMemoryBatchLedger extends BatchLedger {
    private val last = new java.util.concurrent.atomic.AtomicLong(-1L)
    override def lastCommitted: Long = last.get()
    override def markCommitted(batchId: Long): Unit =
      last.updateAndGet(math.max(_, batchId)): Unit
  }

  /** Durable ledger as marker files (`batch-<id>`) in a filesystem
    * directory — put it INSIDE the output lake (`<lake>/_ledger`) so the
    * commit record lives, and survives, with the batch output itself: a
    * process restart constructs a fresh instance over the same dir and
    * reads back exactly the committed set (the "new JVM" case the
    * in-memory ledger cannot cover). Marker creation is one
    * [[graft.sources.SidecarIO.replace]] on the lake's filesystem;
    * `lastCommitted` is one dir listing of marker files (never data).
    * Underscore-prefixed, so parquet readers skip the dir. */
  class FileBatchLedger(dir: String) extends BatchLedger {
    private def fs(p: org.apache.hadoop.fs.Path) =
      p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    /** Marker name → batchId; non-numeric `batch-*` names (editor swap
      * files, copy-tool droppings) are ignored, not a stream-wedging
      * NumberFormatException. */
    private def markerId(name: String): Option[Long] =
      if (name.startsWith("batch-"))
        scala.util.Try(name.stripPrefix("batch-").toLong).toOption
      else None
    override def lastCommitted: Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val f = fs(p)
      if (!f.exists(p)) -1L
      else {
        val ids = f.listStatus(p).iterator
          .flatMap(s => markerId(s.getPath.getName))
        if (ids.isEmpty) -1L else ids.max
      }
    }
    /** Creates the batch's marker, then prunes every marker below the
      * directory's high-water mark: the contract only ever needs the
      * maximum, so the ledger dir stays O(1) files instead of one marker
      * per batch forever (a 5-min cadence is ~105k markers/year, and
      * `lastCommitted` lists the dir once per micro-batch). Prune order
      * is safe at every crash point — the high-water marker is written
      * before anything is deleted, and deleting below-max markers can
      * never regress `lastCommitted`. */
    override def markCommitted(batchId: Long): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId")
      val f = fs(p)
      graft.sources.SidecarIO.replace(f, p, Array.emptyByteArray)
      val entries = f.listStatus(p.getParent)
        .flatMap(s => markerId(s.getPath.getName).map(_ -> s.getPath))
      if (entries.nonEmpty) {
        val highWater = entries.map(_._1).max
        entries.filter(_._1 < highWater)
          .foreach { case (_, stale) => f.delete(stale, false): Unit }
      }
    }
  }

  /** Durable ledger as a row in the DI database, through the same
    * bind-parameter [[graft.sink.ProcCaller]] seam the job bracket uses
    * (reference analog `di_framework.py:35-42` — the DI store is where
    * the reference records job lifecycle, so the batch high-water mark
    * for the Kinesis push path lands beside it; with [[graft.sink.JdbcProcCaller]]
    * both ride one autocommit connection). Proc contract:
    * `<schema>.get_last_batch(job) -> bigint-as-text` (empty/non-numeric
    * = none) and `<schema>.mark_batch(job, id)`. */
  class DiBatchLedger(caller: graft.sink.ProcCaller, schemaName: String,
                      jobName: String) extends BatchLedger {
    override def lastCommitted: Long = {
      val resp = caller.call(s"$schemaName.get_last_batch", Seq(jobName))
      val trimmed = if (resp == null) "" else resp.trim
      if (trimmed.matches("-?\\d+")) trimmed.toLong else -1L
    }
    override def markCommitted(batchId: Long): Unit =
      caller.call(s"$schemaName.mark_batch",
        Seq(jobName, java.lang.Long.valueOf(batchId))): Unit
  }

  /** One micro-batch through the job-bracketed Kinesis sink — the
    * foreachBatch body, extracted so batch-replay semantics are directly
    * testable. The batch costs one Spark job and one pass over its
    * documents: the push, which also yields the K6 metrics and the
    * push counts for the D2 status row. A batch at-or-below the ledger's
    * committed mark is a restart replay: skipped entirely (no duplicate
    * push, no duplicate DI job bracket). */
  def pushBatch(batch: DataFrame, batchId: Long, sink: KinesisSink,
                di: DiFramework, shards: Int,
                ledger: Option[BatchLedger] = None): Unit = {
    if (ledger.exists(_.lastCommitted >= batchId)) return // replayed batch
    di.startJob() // D1
    try {
      // K6 rides the push: the count and first timestamp are observed
      // while the push job reads the batch, so the batch is read once
      val metrics = Observation()
      val observed = batch.observe(metrics, count(lit(1)).as("n"),
        min(col("collectionendtimestamp_plus_3_mins")).as("ts"))
      val records = KinesisSink.toKinesisRecords(observed)
      // the source plans one partition per batch, so one shard needs no
      // shuffle to keep record order and push grouping
      val out =
        if (shards == 1) records.coalesce(1)
        else records.repartition(shards, col("partitionKey"))
      val pushed = sink.push(out) // K1-K4 on executors
      // D2 + K6/A3/A4: the reference's two keys
      // (transis_kinesis_connector.py:40-44), then the push's counts
      val m = metrics.get
      di.logJobStatus(
        s"""{"records_in_xml_doc": ${m("n")}, """ +
          s""""collectionendtimestamp_plus_3_mins": ${m("ts")}, """ +
          s""""attempted": ${pushed.attempted}, "retried": ${pushed.retried}, """ +
          s""""dropped": ${pushed.dropped}}""")
      di.endJob() // D3
      ledger.foreach(_.markCommitted(batchId))
    } catch {
      case e: Exception => di.errorJob(e.getMessage); throw e // D4
    }
  }

  /** Wire the record stream into the job-bracketed Kinesis sink.
    *
    * @param shards number of output partitions ≈ Kinesis shard fan-out
    * @param ledger optional exactly-once output ledger (see BatchLedger)
    */
  def run(records: DataFrame, sink: KinesisSink, di: DiFramework,
          checkpointDir: String, shards: Int = 1,
          ledger: Option[BatchLedger] = None): StreamingQuery = {
    val writer = records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        pushBatch(batch, batchId, sink, di, shards, ledger)
      }
    LocalCheckpointFileManager.start(records.sparkSession)(writer.start())
  }

  /** Stable per-stream-incarnation tag: the batch-id namespace IS the
    * streaming checkpoint (ids restart at 0 with a fresh checkpoint
    * dir), so the published-file namespace must be too. md5 of the
    * checkpoint path — stable across restarts of the same query,
    * distinct across incarnations. */
  private[graft] def streamTagOf(checkpointDir: String): String =
    graft.Hashes.md5Hex(checkpointDir, 8)

  /** One archive micro-batch — extracted like [[pushBatch]] so the
    * crash-replay no-op is directly testable.
    *
    * With a ledger the batch goes through [[graft.sources.LakeCommit]]
    * stage-then-publish instead of a bare append: the ledger alone only
    * covers the window between output-complete and checkpoint commit; a
    * crash MID-append leaves partial task files that a replayed bare
    * append would duplicate (fresh UUID names every attempt). Staged
    * overwrite + batch-tagged publish is idempotent from every crash
    * point, so replay always converges to exactly one copy of the batch.
    * Ledger implementations that persist with the output
    * ([[FileBatchLedger]] in the lake) make this exactly-once across
    * JVM restarts, not just within one process. */
  def archiveBatch(batch: DataFrame, batchId: Long, lakePath: String,
                   ledger: Option[BatchLedger] = None,
                   streamTag: Option[String] = None): Unit =
    if (!ledger.exists(_.lastCommitted >= batchId)) {
      val spark = batch.sparkSession
      val fs = new org.apache.hadoop.fs.Path(lakePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // stream-scoped batch key: a stream restarted with a FRESH
      // checkpoint dir restarts batch ids at 0, so bare ids collide
      // with a previous incarnation's published names — the replay
      // guard below would silently drop the new batches as "already
      // committed", and publish's tag sweep could delete the old
      // incarnation's committed files. The checkpoint-derived tag makes
      // keys unique per incarnation while staying stable across the
      // restarts OF one incarnation (same checkpoint → same tag), which
      // is exactly the replay-detection contract.
      val key = streamTag.fold(batchId.toString)(t => s"$t-$batchId")
      val manifests = graft.sources.FileManifest.enabled(fs, lakePath)
      // A batch whose tagged files the manifest already references (as
      // CURRENT, or RETIRED by a later in-line compaction) is already
      // committed — the crash happened after the manifest add but
      // before the ledger mark / checkpoint commit. The replay must
      // NOT re-publish: publish's bN-* sweep would delete files a
      // pinned reader planned from the manifest (immutability
      // violation), a replay with different task parallelism would
      // leave dangling cur entries, and re-adding files a compaction
      // already retired would duplicate the batch's rows. (Vacuum only
      // reaps retired entries past grace — size the grace window to
      // cover the longest possible replay delay, as for scans.)
      val alreadyCommitted = manifests &&
        graft.sources.LakeCommit.batchCommitted(fs, lakePath, key)
      if (alreadyCommitted) {
        // fall through to the ledger mark only
      } else if (ledger.isDefined || manifests) {
        // manifest-mode lakes ALWAYS stage-then-publish, ledgered or
        // not: the publish names the batch's files, and the manifest
        // add makes them visible to readPinned. A crash between publish
        // and the manifest add replays into the same batch-tagged names
        // and the (idempotent) add — readers never see a torn batch.
        graft.sources.History.writePartitioned(batch,
          graft.sources.LakeCommit.stagingDir(lakePath, key),
          mode = "overwrite")
        val published =
          graft.sources.LakeCommit.publish(spark, lakePath, key)
        if (manifests)
          graft.sources.FileManifest.addFiles(fs, lakePath, published)
      } else {
        graft.sources.History.writePartitioned(batch, lakePath,
          mode = "append")
      }
      ledger.foreach(_.markCommitted(batchId))
    }

  /** Streaming archive: each micro-batch of canonical records appends
    * into the partitioned history lake (same layout and small-files
    * guard as the batch loader), with the ledger turning crash-replayed
    * batches into no-ops — exactly-once lake output.
    *
    * @param compactEvery in-line lake maintenance: every N batches the
    *   archive compacts the partitions THAT batch touched (rewrite to
    *   ~one file per partition, exact logical duplicates — same
    *   (siteId, ts) — collapsed latest-wins). Running maintenance from
    *   the archive's own foreachBatch sequences it BETWEEN appends,
    *   which is precisely the single-writer-per-lake discipline
    *   [[graft.sources.History.compactLatest]] requires — no second
    *   process, no lock. Off by default.
    * @param keyIndexCol when set (manifest-mode lakes, with
    *   compactEvery): the per-file bloom key index on this column
    *   refreshes on the same maintenance tick, so content-pruned
    *   lookups/takedowns ([[graft.sources.History.readPinnedKeyed]],
    *   `deleteKeys`) never lag more than one window.
    *
    * Batch ids are namespaced per stream incarnation (checkpoint-derived
    * tag), so starting over with a fresh checkpoint dir cannot collide
    * with a previous incarnation's published files. The LEDGER is the
    * caller's to scope the same way: it is keyed by bare batch id, so a
    * fresh checkpoint needs a fresh ledger dir (or the old high-water
    * mark silently skips the new incarnation's early batches). */
  def archive(records: DataFrame, lakePath: String, checkpointDir: String,
              ledger: Option[BatchLedger] = None,
              compactEvery: Option[Int] = None,
              keyIndexCol: Option[String] = None): StreamingQuery = {
    // fail at wiring time, not inside foreachBatch: Some(0) would hit
    // `batchId % 0` at batch 1 and kill the running query after appends
    compactEvery.foreach(n => require(n > 0,
      s"compactEvery must be >= 1 (got $n); use None to disable"))
    val tag = streamTagOf(checkpointDir)
    val writer = records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        compactEvery.foreach { _ =>
          // roll a crashed maintenance swap forward BEFORE appending —
          // otherwise a partition could sit in its mid-swap state (live
          // absent) until the next maintenance tick. No-op without a
          // pending manifest (one existence check).
          graft.sources.History.recoverCompaction(
            batch.sparkSession, lakePath): Unit
        }
        archiveBatch(batch, batchId, lakePath, ledger, Some(tag))
        compactEvery.foreach { n =>
          if (batchId > 0 && batchId % n == 0) {
            compactTouched(batch, lakePath)
            // manifest-mode lakes also keep the per-file stats sidecar
            // warm (incremental: footers only for files this window's
            // appends/compaction added), so readPinnedRange pruning
            // never lags more than one maintenance tick
            val fs = new org.apache.hadoop.fs.Path(lakePath).getFileSystem(
              batch.sparkSession.sparkContext.hadoopConfiguration)
            if (graft.sources.FileManifest.enabled(fs, lakePath)) {
              graft.sources.History.refreshStats(batch.sparkSession,
                lakePath, "collectionendtimestamp_plus_3_mins"): Unit
              // the bloom key index rides the same tick (O(new files)):
              // content-pruned takedowns/point lookups never lag more
              // than one maintenance window either
              keyIndexCol.foreach(c =>
                graft.sources.History.refreshKeyIndex(
                  batch.sparkSession, lakePath, c): Unit)
            }
          }
        }
      }
    LocalCheckpointFileManager.start(records.sparkSession)(writer.start())
  }

  /** Compact the lake partitions a batch touched: the touched (region,
    * dt) set is a tiny distinct over the batch (metadata-scale collect —
    * partition VALUES, never rows), turned into the partition-only
    * predicate compactLatest enforces. Keying on (siteId, ts) makes the
    * rewrite a pure small-files compaction that also collapses exact
    * logical duplicates, never dropping distinct periods. Idempotent and
    * crash-recoverable like any compaction (manifest commit point;
    * the next archiveBatch's replay guard is unaffected — the ledger
    * high-water mark lives in `_ledger`, which compaction never touches). */
  private[graft] def compactTouched(batch: DataFrame, lakePath: String): Unit = {
    val touched = batch
      .select(col("region"), date_format(
        timestamp_seconds(col("collectionendtimestamp_plus_3_mins")),
        "yyyy-MM-dd").as("dt"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (touched.nonEmpty) {
      val pred = touched.map { case (r, d) =>
        col("region") === r && col("dt") === d
      }.reduce(_ || _)
      graft.sources.History.compactLatest(batch.sparkSession, lakePath,
        Seq("siteId", "collectionendtimestamp_plus_3_mins"),
        "collectionendtimestamp_plus_3_mins", pred)
    }
  }
}
