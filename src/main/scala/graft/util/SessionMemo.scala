package graft.util

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once-per-session memo: `memo(spark, k)(build)` runs `build` the
  * first time a session asks for `k` and hands the same value back for
  * the rest of that session's life. This is how the engine shares
  * intermediates inside one long-lived session — corpus plans, token and
  * pair tables, the stream-stream family run, the tuned streaming child
  * session — without any operator handling session identity or eviction.
  *
  * Entries key on a per-session UUID, never on the session itself: values
  * are DataFrames, which reference their session, so a session-keyed map
  * would pin every session forever; and unlike an identity hash a UUID can
  * never alias between a collected session and a new one. When a session
  * is collected or its context stopped, the next new session's first
  * lookup evicts the dead session's entries from every memo.
  *
  * Each memo has its own map because builds nest (the sharded pair table
  * reads the token table, the anchor batches read `Tables.read`): one
  * shared map would re-enter its own `computeIfAbsent`, which throws
  * `IllegalStateException: Recursive update`.
  *
  * `cached` names the parts of a value its builder `.cache()`d; eviction
  * unpersists exactly those. `unpersist` matches cached data by plan
  * `sameResult` across sessions, so unpersisting an uncached plan could
  * drop a live session's equal cache entry.
  */
final class SessionMemo[K, V <: AnyRef](cached: V => Seq[DataFrame]) {
  private val map = new ConcurrentHashMap[(String, K), V]()
  SessionMemo.memos.add(this)

  def apply(spark: SparkSession, k: K)(build: => V): V =
    map.computeIfAbsent((SessionMemo.sessionKey(spark), k), _ => build)

  /** Install `v` for (spark, k), unpersisting what a replaced value cached. */
  def replace(spark: SparkSession, k: K, v: V): Unit = {
    val old = map.put((SessionMemo.sessionKey(spark), k), v)
    if (old != null && (old ne v)) unpersist(old)
  }

  private def drop(uuid: String): Unit = {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == uuid) {
        it.remove()
        unpersist(e.getValue)
      }
    }
  }

  private def unpersist(v: V): Unit =
    cached(v).foreach(df =>
      try df.unpersist(blocking = false) catch { case NonFatal(_) => () })
}

object SessionMemo {
  private val memos = new CopyOnWriteArrayList[SessionMemo[_, _ <: AnyRef]]()

  /** Session → UUID. The one map that may key on a live SparkSession: its
    * String values hold no reference back, so the weak keys really work.
    */
  private val sessionIds: java.util.Map[SparkSession, String] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** UUID → weak session ref, for the liveness check at prune time. */
  private val sessionRefs = new ConcurrentHashMap[
    String, java.lang.ref.WeakReference[SparkSession]]()

  private[graft] def sessionKey(spark: SparkSession): String = {
    val existing = sessionIds.get(spark)
    if (existing != null) existing
    else {
      val id = sessionIds.computeIfAbsent(spark,
        _ => java.util.UUID.randomUUID().toString)
      sessionRefs.putIfAbsent(id, new java.lang.ref.WeakReference(spark))
      // prune OUTSIDE the synchronizedMap monitor: eviction takes memo bin
      // locks, and a thread inside a memo's computeIfAbsent holds that bin
      // lock while re-entering sessionKey for the map mutex — pruning
      // under the mutex would be a lock-order inversion (mutex→bin here,
      // bin→mutex there) that deadlocks a multi-session JVM. Racing
      // prunes are harmless: the maps are concurrent, eviction idempotent.
      pruneDeadSessions()
      id
    }
  }

  private def pruneDeadSessions(): Unit = {
    val it = sessionRefs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val s = e.getValue.get()
      if (s == null || s.sparkContext.isStopped) {
        it.remove()
        evict(e.getKey)
      }
    }
  }

  /** Remove session `uuid`'s entries from every memo. */
  private[graft] def evict(uuid: String): Unit = memos.forEach(_.drop(uuid))
}
