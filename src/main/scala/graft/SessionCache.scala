package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftx.CheckpointBridge
import org.apache.spark.storage.StorageLevel

/** The one owner of Spark storage in the library. The rule: code that
  * needs a frame persisted or checkpointed holds a [[Lease]] and closes
  * it when done; nothing else persists, unpersists or frees a
  * checkpoint. That matters because Spark's CacheManager dedups persists
  * by CANONICALIZED plan session-wide, so plan-identical frames built by
  * parallel builds, the CV fit and the query modules share ONE cache
  * entry, and a bare `unpersist()` by one claimant yanks it from all.
  *
  *  - [[acquire]] takes one reference on a frame's cache; the first
  *    reference persists (MEMORY_AND_DISK), the idempotent
  *    [[Lease.close]] of the last one unpersists.
  *  - A frame some outside code cached while unregistered is used, never
  *    owned: its lease is a no-op (their unpersist, their timing).
  *  - A registered entry whose cache outside code dropped (e.g.
  *    `spark.catalog.clearCache()` between phases) is persisted again by
  *    the next acquire, so later holders never silently recompute.
  *  - [[checkpoint]] cuts lineage into a checkpoint this object records;
  *    closing its lease frees the blocks and, for a reliable checkpoint,
  *    the files. [[releaseCheckpoints]] does the same for the recorded
  *    checkpoints at a frame's leaves; checkpoints made elsewhere are
  *    never touched.
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

  /** Checkpoints [[checkpoint]] created and nobody has freed yet. Keyed
    * (applicationId, rddId), NOT the bare RDD id: ids are
    * SparkContext-scoped and restart from 0 in a new context, so a stale
    * id from an unreleased prior-context frame would alias a new
    * context's caller-owned RDD and let a release destroy storage this
    * object never created. Only keys are held, so an unreleased,
    * unreachable checkpoint RDD is still left to Spark's ContextCleaner. */
  private val ckpts = scala.collection.mutable.Set.empty[(String, Int)]

  /** One claim on `df`'s storage; `close()` returns it. */
  final class Lease private[SessionCache] (val df: DataFrame, free: () => Unit)
      extends AutoCloseable {
    private val open = new AtomicBoolean(true)
    def close(): Unit = if (open.compareAndSet(true, false)) free()
  }

  def acquire(df: DataFrame): Lease = {
    val k = keyOf(df)
    refs.synchronized {
      val n = refs.getOrElse(k, 0)
      val cached = df.storageLevel != StorageLevel.NONE
      if (n == 0 && cached) new Lease(df, () => ())
      else {
        if (!cached) df.persist(StorageLevel.MEMORY_AND_DISK)
        refs(k) = n + 1
        new Lease(df, () => release(k, df))
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

  /** Lineage-cut `df` with a partitioning-preserving checkpoint (see
    * [[CheckpointBridge.checkpointKeyed]] for the `keyCols` contract):
    * local blocks, or files under the context's checkpoint dir when
    * `reliable`. The checkpoint is lazy; the first action over the
    * lease's frame materializes it. */
  def checkpoint(df: DataFrame, keyCols: Seq[String], reliable: Boolean): Lease = {
    val out = CheckpointBridge.checkpointKeyed(df, keyCols, reliable)
    val rdd = leafRdds(out).head // the frame IS the bare LogicalRDD
    ckpts.synchronized(ckpts.add(ckptKey(rdd)))
    new Lease(out, () => freeCheckpoint(rdd, out))
  }

  /** Free every [[checkpoint]] at `df`'s leaves (a frame derived from a
    * checkpoint lease's frame still scans it as a leaf), as closing
    * those leases would. Checkpoints made elsewhere are left alone. */
  def releaseCheckpoints(df: DataFrame): Unit =
    leafRdds(df).foreach(freeCheckpoint(_, df))

  private def freeCheckpoint(rdd: RDD[_], df: DataFrame): Unit =
    if (ckpts.synchronized(ckpts.remove(ckptKey(rdd)))) {
      rdd.unpersist(false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
          .delete(p, true): Unit
      }
    }

  private def leafRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  private def ckptKey(rdd: RDD[_]): (String, Int) =
    (rdd.context.applicationId, rdd.id)

  private[graft] def isRegistered(df: DataFrame): Boolean = {
    val k = keyOf(df)
    refs.synchronized(refs.contains(k))
  }

  private def keyOf(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed.canonicalized
}
