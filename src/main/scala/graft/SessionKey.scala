package graft

import org.apache.spark.sql.SparkSession

/** Stable, unique cache key for a live SparkSession.
  *
  * The session memos ([[graft.queries.SessionMemo]], Memos.install)
  * used to key on `System.identityHashCode(spark)`, which
  * can collide between two live sessions or be recycled after GC — one
  * session could be served, or cross-evict, another session's cached
  * DataFrames. Classic sessions expose a UUID; anything else gets one
  * issued through a weak-keyed identity map (entries vanish with the
  * session, so dead sessions never alias live ones).
  */
object SessionKey {
  private val issued = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def apply(spark: SparkSession): String = spark match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      org.apache.spark.sql.graftbridge.DatasetBridge.sessionUUID(c)
    case other =>
      issued.computeIfAbsent(other, _ => java.util.UUID.randomUUID().toString)
  }
}
