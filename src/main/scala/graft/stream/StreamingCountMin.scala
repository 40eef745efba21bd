package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.CountMin

/** Persisted Count-Min sketch over a stream — the frequency companion to
  * [[StreamingFrequentItems]]: CMS is a LINEAR sketch (merge =
  * element-wise sum), so maintaining it under a stream is one fixed-size
  * aggregate per micro-batch plus one addition into the persisted
  * matrix; the accumulated sketch is byte-identical to a single batch
  * build over every row the stream has delivered (spec-proven), and any
  * consumer can point-estimate frequencies from the published bytes
  * without touching the stream.
  *
  * Exactly-once without a separate ledger: the state file IS the commit
  * record — `[tag][batchId][sketch]` written whole via
  * write-tmp-then-atomic-rename, so the sketch and the high-water batch
  * id can never be seen apart. A crash-replayed batch reads its own id
  * back and skips; a crash mid-publish leaves the previous state file
  * intact. (Contrast [[StreamingDedup]], whose band PUBLISH and ledger
  * mark are separate files and need the replay-detection dance — here
  * the state is one small blob, so the whole commit fits one rename.)
  *
  * At 100 TB: the sketch never grows (depth×width longs regardless of
  * input), each batch pays one map-side-combined aggregate over its own
  * rows, and the driver-side state I/O is the sketch's fixed size — the
  * stream's cost is per-batch, never per-corpus.
  */
object StreamingCountMin {

  /** Start the sketch-maintenance stream over `rows`. `hashOf` derives
    * the 64-bit hash column fed to `cms_build` (use
    * `xxhash64(col(...))` — build and probe must hash identically). */
  def sketchStream(rows: DataFrame, hashOf: Column, statePath: String,
                   checkpointDir: String, depth: Int = 5,
                   width: Int = 8192): StreamingQuery = {
    val tag = Pipeline.streamTagOf(checkpointDir)
    val writer = rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sketchBatch(batch, batchId, hashOf, statePath, tag, depth, width)
      }
    LocalCheckpointFileManager.start(rows.sparkSession)(writer.start())
  }

  /** One maintenance batch — extracted like `StreamingDedup.admitBatch`
    * so crash-replay is directly testable: re-invoking with the same
    * (tag, batchId) is a no-op. */
  private[graft] def sketchBatch(batch: DataFrame, batchId: Long,
                                 hashOf: Column, statePath: String,
                                 tag: String, depth: Int,
                                 width: Int): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(statePath).getFileSystem(conf)
    val prior = readState(fs, statePath)
    // replay skip: this incarnation already folded this batch in (ids
    // are monotone per incarnation; a DIFFERENT tag is a new stream
    // whose ids restart, and its batches are new data)
    if (prior.exists(s => s.tag == tag && s.batchId >= batchId)) return
    val batchSketch = batch
      .agg(CountMin.cms_build(hashOf, depth, width).as("cms"))
      .head.getAs[Array[Byte]]("cms")
    val merged = prior match {
      case Some(s) => CountMin.mergeBytes(s.sketch, batchSketch)
      case None => batchSketch
    }
    writeState(fs, statePath, State(tag, batchId, merged))
  }

  case class State(tag: String, batchId: Long, sketch: Array[Byte])

  private def currentPath(statePath: String) = new Path(statePath, "current")

  /** The persisted sketch bytes (None before the first committed batch)
    * — feed to `cms_estimate(lit(bytes), xxhash64(...))` to serve
    * point frequencies from the maintained state. */
  def loadSketch(spark: SparkSession, statePath: String): Option[Array[Byte]] = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readState(fs, statePath).map(_.sketch)
  }

  private[graft] def readState(fs: org.apache.hadoop.fs.FileSystem,
                               statePath: String): Option[State] = {
    val p = currentPath(statePath)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val din = new java.io.DataInputStream(in)
        val tagLen = din.readInt()
        require(tagLen >= 0 && tagLen <= 1024, s"corrupt sketch state: $p")
        val tagBytes = new Array[Byte](tagLen)
        din.readFully(tagBytes)
        val batchId = din.readLong()
        val sketch = new Array[Byte](din.readInt())
        din.readFully(sketch)
        Some(State(new String(tagBytes,
          java.nio.charset.StandardCharsets.UTF_8), batchId, sketch))
      } finally in.close()
    }
  }

  private def writeState(fs: org.apache.hadoop.fs.FileSystem,
                         statePath: String, s: State): Unit = {
    val bytes = new java.io.ByteArrayOutputStream
    val dout = new java.io.DataOutputStream(bytes)
    val tagBytes = s.tag.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    dout.writeInt(tagBytes.length)
    dout.write(tagBytes)
    dout.writeLong(s.batchId)
    dout.writeInt(s.sketch.length)
    dout.write(s.sketch)
    dout.flush()
    // single atomic commit: state + high-water id flip together
    graft.sources.SidecarIO.replace(fs, currentPath(statePath),
      bytes.toByteArray)
  }
}
