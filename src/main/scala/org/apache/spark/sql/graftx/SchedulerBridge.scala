package org.apache.spark.sql.graftx

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The scheduler internals [[graft.ExecCounts]] reads, all
  * `private[spark]`: the live listener bus (to wait until every posted
  * event reached its listeners), the shuffle dependency a map stage wrote,
  * and the job-tag property a job carries. */
object SchedulerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId

  /** The job tags in a job's or stage's properties (null-safe: low-level
    * submission paths post no properties). */
  def jobTags(props: Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .toSeq.flatMap(_.split(SparkContext.SPARK_JOB_TAGS_SEP))
}
