package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The one owner of Spark caches that outlive the function creating
  * them. Spark's CacheManager dedups persists by CANONICALIZED plan
  * session-wide, so plan-identical frames built by parallel builds, the
  * CV fit and the query modules share ONE cache entry; ownership is
  * therefore reference-counted per canonical plan:
  *
  *  - [[acquire]] takes one reference and returns a [[Lease]]; the first
  *    reference persists.
  *  - [[Lease.close]] (idempotent) returns it; the last one unpersists.
  *  - A frame some outside code cached while unregistered is used, never
  *    owned: its lease is a no-op (their unpersist, their timing).
  *  - A registered entry whose cache outside code dropped (e.g.
  *    `spark.catalog.clearCache()` between phases) is persisted again by
  *    the next acquire, so later holders never silently recompute.
  *
  * A session-lifetime pin is a lease that is never closed. Persist and
  * unpersist happen INSIDE the registry lock: unpersisting after the
  * lock opened a window where a concurrent acquire saw no reference but
  * storage still set and classified the dying cache as external. Both
  * calls are lazy/non-blocking, so no Spark job runs under the monitor.
  *
  * Keys are the canonicalized plan OBJECT (CacheManager's `sameResult`
  * semantics), never its toString, which truncates past
  * `spark.sql.debug.maxToStringFields` and would collide wide frames
  * sharing a 25-column prefix. Canonicalization is computed before the
  * lock, so parallel builds don't serialize on it. */
object SessionCache {
  private val refs = scala.collection.mutable.Map.empty[LogicalPlan, Int]

  /** One reference on `df`'s cache; `close()` returns it. */
  final class Lease private[SessionCache] (
      val df: DataFrame, key: Option[LogicalPlan]) extends AutoCloseable {
    private val open = new AtomicBoolean(key.isDefined)
    def close(): Unit = if (open.compareAndSet(true, false)) release(key.get, df)
  }

  def acquire(df: DataFrame): Lease = {
    val k = keyOf(df)
    refs.synchronized {
      val n = refs.getOrElse(k, 0)
      val cached = df.storageLevel != StorageLevel.NONE
      if (n == 0 && cached) new Lease(df, None)
      else {
        if (!cached) df.persist()
        refs(k) = n + 1
        new Lease(df, Some(k))
      }
    }
  }

  /** Return one reference on `df`'s plan without holding its lease (for
    * callers handed a frame whose reference the producer took). No-op
    * for plans this module never registered. */
  def release(df: DataFrame): Unit = release(keyOf(df), df)

  private def release(k: LogicalPlan, df: DataFrame): Unit =
    refs.synchronized {
      refs.get(k) match {
        case Some(n) if n <= 1 => refs.remove(k); df.unpersist(): Unit
        case Some(n) => refs(k) = n - 1
        case None => ()
      }
    }

  private[graft] def isRegistered(df: DataFrame): Boolean = {
    val k = keyOf(df)
    refs.synchronized(refs.contains(k))
  }

  private def keyOf(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed.canonicalized
}
