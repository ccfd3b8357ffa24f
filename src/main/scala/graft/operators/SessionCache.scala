package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, key) artifact cache — the in-session stand-in for
  * the persisted tables a 100 TB deployment keeps on storage
  * (band-signature indexes, PQ code tables, ground-truth eval sets).
  * [[get]] holds frames: built once, persisted MEMORY_AND_DISK and
  * counted eagerly so a consumer finds the artifact BUILT, as in
  * production. So Bench's cold pass times an artifact's build, and its
  * steady passes time the consumers over the persisted artifact.
  * [[value]] holds small driver-side values (trained centroids, a
  * learned merge list) under the same keys and lifecycle. Keys are
  * namespaced by family (`sim:ivf:…`, `cur:bpe:…`): one map serves
  * both kinds.
  *
  * Keyed weakly by the session: a restarted session must not see a
  * predecessor's dead cached plan. The cached DataFrames strongly
  * reference their session, so the weak KEY alone can never clear
  * (value → key edge, per WeakHashMap contract) — stopped sessions
  * are swept explicitly or every dead session's plans would stay on
  * the driver heap for the JVM lifetime.
  */
private[graft] object SessionCache {

  private val caches = new java.util.WeakHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, AnyRef]]

  def get(s: SparkSession, key: String, build: => DataFrame): DataFrame =
    cached(s, key, {
      val df = build
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })(_.unpersist())

  /** A driver-side value, built once per (session, key). */
  def value[T <: AnyRef](s: SparkSession, key: String)(build: => T): T =
    cached(s, key, build)(_ => ())

  private def cached[T <: AnyRef](s: SparkSession, key: String, build: => T)(
      discard: T => Unit): T = {
    val perSession = caches.synchronized {
      val it = caches.keySet.iterator()
      while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
      var m = caches.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]
        caches.put(s, m)
      }
      m
    }
    // NOT computeIfAbsent: an artifact's build may read ANOTHER
    // cached artifact (cc labels build over the cached pair table),
    // and a nested computeIfAbsent on one ConcurrentHashMap throws
    // "Recursive update". Check-then-putIfAbsent is reentrant; if
    // two threads race, the loser's duplicate build is discarded.
    val existing = perSession.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val v = build
      val prev = perSession.putIfAbsent(key, v)
      if (prev != null) { discard(v); prev.asInstanceOf[T] } else v
    }
  }
}
