package graft.queries

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** A value built once per (session, key) and released when [[Memos]]
  * evicts the session.
  *
  * Each memo keeps its own map: builders call other memos (the clusters
  * builder calls the pairs memo, every lake builder reads the
  * `documents` relation), and nested `computeIfAbsent` calls on one
  * shared map would throw a recursive-update error. Constructing a memo
  * registers it with [[Memos]], and its first build for a session
  * installs that session's application-end teardown.
  *
  * @param perIteration released by [[Memos.evictQueryMemos]] between
  *   bench iterations as well as by [[Memos.evictAll]]; otherwise only
  *   at session teardown.
  * @param release frees what the value holds (persisted frames, temp
  *   dirs, catalog tables); called once per evicted entry.
  */
final class SessionMemo[K, V](private[queries] val perIteration: Boolean)(
    release: (SparkSession, K, V) => Unit) {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, K), V]()
  Memos.register(this)

  def apply(s: SparkSession, key: K)(build: => V): V =
    entries.computeIfAbsent((graft.SessionKey(s), key), _ => {
      Memos.install(s)
      build
    })

  /** Release and drop every entry of `s`. */
  private[graft] def evict(s: SparkSession): Unit = {
    val sk = graft.SessionKey(s)
    entries.keySet.forEach { k =>
      if (k._1 == sk) Option(entries.remove(k)).foreach { v =>
        try release(s, k._2, v)
        catch { case NonFatal(_) => () } // context may already be down
      }
    }
  }
}
