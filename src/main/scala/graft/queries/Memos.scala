package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Lifecycle manager for the per-session memos ([[SessionMemo]]): the
  * shared LSH candidate pairs and near-dup clusters, the at-rest ANN,
  * BPE and band artifacts, the x-family input relations, the h-family
  * fixture lakes, and the parquet relation cache in [[graft.Tables]].
  *
  * The memos exist so one gate/correctness pass pays each expensive
  * sub-pipeline once (d02/d06/d07 share MinHash+LSH pairs; h01–h05 share
  * the lake build). Without eviction they pin persisted DataFrames and
  * temp directories for the life of the JVM — fine at gate cadence,
  * wrong for a long-lived library session.
  *
  * A memo has one of two lifetimes:
  *   - per iteration (the query memos: pairs, signatures, clusters):
  *     released by [[evictQueryMemos]] before every measured bench
  *     iteration, and at teardown;
  *   - session (everything else): released only by [[evictAll]].
  *
  * Registration is automatic: constructing a [[SessionMemo]] registers
  * it here, and its first build for a session calls [[install]], so no
  * memo can be written that teardown does not release.
  */
object Memos {

  private val memos =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_, _]]()

  private[queries] def register(memo: SessionMemo[_, _]): Unit =
    memos.add(memo): Unit

  /** Release the per-iteration memos of `spark` (candidate pairs,
    * signatures, clusters) and the checkpoints in
    * [[graft.ext.CkptRegistry]]. Used by Bench before every measured
    * iteration so min-of-N times the real pipeline, not a cache read. */
  def evictQueryMemos(spark: SparkSession): Unit = {
    graft.ext.CkptRegistry.release(spark)
    memos.forEach(m => if (m.perIteration) m.evict(spark))
  }

  /** Full session teardown: every memo of `spark`, whatever its
    * lifetime, plus the registered checkpoints. */
  def evictAll(spark: SparkSession): Unit = {
    graft.ext.CkptRegistry.release(spark)
    memos.forEach(_.evict(spark))
  }

  private val installed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Idempotently register an application-end listener that evicts every
    * memo keyed to `spark`. Called by [[SessionMemo]] on each build, so
    * any code path that creates a memo also arranges its cleanup. */
  def install(spark: SparkSession): Unit = {
    val key = graft.SessionKey(spark)
    if (installed.add(key)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          evictAll(spark)
          installed.remove(key)
        }
      })
    }
  }
}
