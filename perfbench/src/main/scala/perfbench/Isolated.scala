package perfbench

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format, timestamp_seconds}
import graft.model.Schemas
import graft.ops.DetectorCounts
import graft.parse.TransisXml
import graft.sources.History
import graft.sink.KinesisSink
import graft.stream.Pipeline

/** Cost of each layer's public function, timed on its own over the
  * workload's payload, in chunks of the size the stream's micro-batches
  * had. Each step adds one layer to the previous step's plan and is
  * forced through a `noop` write, so column pruning cannot skip work.
  * Every step's time is taken net of its stages' fixed cost (`floorS`
  * per stage, timed on a one-row, one-stage job); a layer's self time is
  * its net step minus the net step before. Times are totals over `docs`. */
final case class LayerCosts(floorS: Double, readS: Double, sourceS: Double,
                            parseS: Double, opsS: Double, encodeS: Double,
                            repartitionS: Double, lakeS: Double,
                            docs: Long, bytes: Long) {
  def perDoc(x: Double): Double = if (docs == 0) 0.0 else x / docs
}

object Isolated {
  /** The isolated pass runs only in traced runs, after the traced
    * passes, so its spans are recorded whether or not `Trace.on` is. */
  private def span(name: String, startNs: Long, endNs: Long): Unit =
    Trace.spans.add(Span(name, startNs, endNs, 0, 0)): Unit

  /** `chunkDocs` documents per action, over at most `maxChunks` chunks
    * spread across the payload. `lake` (directory, compact every N
    * batches) adds the archive's batch commit (`Pipeline.archiveBatch`:
    * staged write, publish, manifest, ledger) as a step after the
    * projection, followed on every N-th batch by the maintenance tick
    * `Pipeline.archive` runs: compaction of the partitions the batch
    * touched and the stats refresh. Chunk `i` is batch `i`, as in a
    * stream that starts at batch 0. */
  def run(spark: SparkSession, a: Args, docs: IndexedSeq[Array[Byte]],
          chunkDocs: Int, maxChunks: Int,
          lake: Option[(String, Int)] = None): LayerCosts = {
    val jc = new JobCounter(() => null)
    spark.sparkContext.addSparkListener(jc)
    /** (seconds, stages) of one action. */
    def timed(f: => Unit): (Double, Int) = {
      ListenerBridge.drain(spark.sparkContext)
      val s0 = jc.stages
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      ListenerBridge.drain(spark.sparkContext)
      (s, jc.stages - s0)
    }
    def noop(df: DataFrame): (Double, Int) =
      timed(df.write.format("noop").mode("overwrite").save())
    val floor = Common.median((0 until 5).map(_ => noop(spark.range(1).toDF())).map {
      case (s, n) => s / math.max(1, n) })
    def net(t: (Double, Int)): Double = t._1 - t._2 * floor

    val all = docs.grouped(math.max(1, chunkDocs)).toIndexedSeq
    val step = math.max(1, all.size / maxChunks)
    val chunks = all.indices.by(step).take(maxChunks).map(all)
    // a manifest-mode lake with a file ledger, as the archive writes it
    val ledger = lake.map { case (d, _) =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      History.enableManifests(spark, d)
      new Pipeline.FileBatchLedger(s"$d/_ledger")
    }
    var batch = 0L
    var read, source, parse, ops, encode, repart, lakeS = 0.0
    var nDocs, nBytes = 0L
    chunks.foreach { chunk =>
      val path = Common.writeDocs(Common.freshDir(a, "iso") + ".payload", chunk)
      nDocs += chunk.size
      nBytes += chunk.map(_.length.toLong).sum
      // transport read outside Spark: the executor-side framing cost
      val t0 = System.nanoTime()
      val it = new graft.sources.FilePayloadTransport(path).read(0, chunk.size)
      while (it.hasNext) it.next(): Unit
      val tRead = (System.nanoTime() - t0) / 1e9
      span("iso.read", t0, System.nanoTime())
      val src = spark.read.format("transis").load(path)
      val tSrc = net(noop(src.select("value")))
      val parsed = TransisXml.detectorCountDocs(
        TransisXml.parse(TransisXml.frame(src), Schemas.transisResponse))
      val tParse = net(noop(parsed))
      val records = DetectorCounts.toRecords(parsed)
      val tOps = net(noop(records))
      val out = KinesisSink.toKinesisRecords(records)
      val tEnc = net(noop(out))
      val tRep = net(noop(out.repartition(1, col("partitionKey"))))
      val tLake = lake.map { case (path, every) =>
        val commit = net(timed {
          History.recoverCompaction(spark, path)
          Pipeline.archiveBatch(records, batch, path, ledger, Some("iso"))
        })
        // the tick re-reads the batch to find its partitions: that pass
        // is charged to the layers below, so only its excess is lake time
        val tick = if (batch > 0 && batch % every == 0)
          math.max(0.0, net(timed(maintain(records, path))) - tOps) else 0.0
        commit + tick
      }.getOrElse(tOps)
      batch += 1
      read += tRead
      source += tSrc
      parse += math.max(0.0, tParse - tSrc)
      ops += math.max(0.0, tOps - tParse)
      encode += math.max(0.0, tEnc - tOps)
      repart += math.max(0.0, tRep - tEnc)
      lakeS += math.max(0.0, tLake - tOps)
    }
    spark.sparkContext.removeSparkListener(jc)
    LayerCosts(floor, read, source, parse, ops, encode, repart, lakeS, nDocs, nBytes)
  }

  /** Seconds the HTTP transport spends on reads that re-open the
    * stream: for each (start, end, passes) batch, one read of [start,
    * end) on a fresh GET to a server that has released the whole stream
    * (so it skips `start` documents first), less the isolated file read
    * of the same documents, times the source passes beyond the first
    * (the first continues the connection the batch before parked). */
  def httpRereads(docs: IndexedSeq[Array[Byte]], batches: Seq[(Long, Long, Int)],
                  c: LayerCosts): Double = {
    val feed = new Feed(docs, 0.0)
    feed.start(leadMs = 0)
    try {
      Common.await(10000)(feed.releasedCount == docs.size)
      batches.zipWithIndex.map { case ((start, end, passes), i) =>
        // a distinct URL per read, so no read finds a parked connection
        val t = new graft.sources.HttpPayloadTransport(s"http://127.0.0.1:${feed.port}/?r=$i")
        val t0 = System.nanoTime()
        val it = t.read(start, end)
        while (it.hasNext) it.next(): Unit
        val t1 = System.nanoTime()
        t.close()
        span("iso.http_reread", t0, t1)
        math.max(0.0, (t1 - t0) / 1e9 - (end - start) * c.perDoc(c.readS)) *
          math.max(0, passes - 1)
      }.sum
    } finally feed.stop()
  }

  /** The maintenance tick of `Pipeline.archive` through the public lake
    * API: compact the (region, dt) partitions the batch touched, keyed
    * on (siteId, period), then refresh the manifest's stats sidecar. */
  private def maintain(batch: DataFrame, path: String): Unit = {
    val ts = "collectionendtimestamp_plus_3_mins"
    val touched = batch.select(col("region"),
        date_format(timestamp_seconds(col(ts)), "yyyy-MM-dd").as("dt"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    if (touched.nonEmpty) {
      val pred = touched.map { case (r, d) => col("region") === r && col("dt") === d }
        .reduce(_ || _)
      History.compactLatest(batch.sparkSession, path, Seq("siteId", ts), ts, pred)
    }
    History.refreshStats(batch.sparkSession, path, ts): Unit
  }
}
