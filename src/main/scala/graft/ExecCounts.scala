package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftx.SchedulerBridge

/** The one counter of Spark work: the audit main, the runtime shuffle
  * guard and the zero-job probe test all count through [[during]].
  *
  * A count belongs to the body that caused it. [[during]] puts a fresh
  * job tag on the calling thread; Spark copies thread-local job
  * properties into threads the body starts and into its broadcast and
  * subquery pools, so every job the body causes carries the tag, and a
  * concurrent job elsewhere in the session does not. Counts are read
  * after the listener bus has delivered every posted event, so no sleep
  * or poll decides when they are complete. */
object ExecCounts {
  /** Jobs started, stages completed, tasks (summed `numTasks` of the
    * completed stages) and distinct shuffle dependencies whose map
    * stages completed. A retried stage counts once per completed
    * attempt; its shuffle counts once. */
  final case class Counts(jobs: Int, stages: Int, tasks: Long, shuffles: Int)

  private val ids = new AtomicLong

  def during[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val rec = new Recorder(s"graft-exec-counts-${ids.incrementAndGet()}")
    sc.addSparkListener(rec)
    try {
      sc.addJobTag(rec.tag)
      val out = try body finally sc.removeJobTag(rec.tag)
      SchedulerBridge.drain(sc)
      (out, rec.counts)
    } finally sc.removeSparkListener(rec)
  }

  /** `Exchange (hash|range)partitioning` nodes in the frame's
    * pre-execution plan: a fingerprint, not a runtime count, since a
    * cached subtree prints its exchanges under every scan of it. Read it
    * before the frame runs; after, the plan is AQE's final one. */
  def planShuffles(df: DataFrame): Int =
    planExchange.findAllMatchIn(df.queryExecution.executedPlan.toString).size

  private val planExchange = "Exchange (hash|range)partitioning".r

  private final class Recorder(val tag: String) extends SparkListener {
    private val jobs, stages = new AtomicInteger
    private val tasks = new AtomicLong
    private val ownStages = ConcurrentHashMap.newKeySet[Int]()
    private val shuffleIds = ConcurrentHashMap.newKeySet[Int]()

    private def ours(props: java.util.Properties): Boolean =
      SchedulerBridge.jobTags(props).contains(tag)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) jobs.incrementAndGet(): Unit

    // a completion event carries no properties: remember the stages
    // submitted under the tag
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) ownStages.add(e.stageInfo.stageId): Unit

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (ownStages.contains(e.stageInfo.stageId)) {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        SchedulerBridge.shuffleDepId(e.stageInfo).foreach(shuffleIds.add)
      }

    def counts: Counts =
      Counts(jobs.get, stages.get, tasks.get, shuffleIds.size)
  }
}
