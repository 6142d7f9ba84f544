package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev measurement tool (optimization guide §1: measure first): run
  * selected queries once, counting the Spark JOBS, STAGES and TASKS each
  * one launches and its wall time. At bench scale the data is small, so
  * per-query cost is roughly (job count × driver latency) + task overhead
  * — this surfaces redundant passes (an assembly recomputed per eager
  * job) that `explain` alone cannot show. Run:
  * `sbt "runMain graft.JobAudit [sfDir] [query...]"`. */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val traceJobs = sys.env.get("GRAFT_AUDIT_TRACE").contains("1")
    // per-job wall time: start timestamps by job id, duration printed at
    // job end — attributes a query's seconds, not just its job count
    val jobStartNs = scala.collection.mutable.Map.empty[Int, (Long, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        synchronized {
          jobs += 1
          val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          jobStartNs(js.jobId) = (System.nanoTime(), site)
          if (traceJobs) {
            val caller = js.stageInfos.lastOption
              .map(_.details.linesIterator.filter(_.contains("graft"))
                .take(3).mkString(" <- ")).getOrElse("")
            println(s"  [job ${js.jobId}] $site | $caller")
          }
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        synchronized {
          if (traceJobs) jobStartNs.get(je.jobId).foreach { case (t0, site) =>
            println(f"  [job ${je.jobId} end] ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
          }
          jobStartNs.remove(je.jobId): Unit
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized { stages += 1; tasks += sc.stageInfo.numTasks }
      // SQL execution starts attribute the anonymous AQE stage jobs:
      // each eager action in a query path opens one execution whose
      // description carries the driver-side call site
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            if (traceJobs) synchronized {
              val d = s.description.linesIterator.take(1).mkString
              println(s"  [sql ${s.executionId}] ${d.take(160)}")
            }
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // warm-up so session/codegen init doesn't land on the first query
    try SparkEntry.queries.get("q03_revenue_filter")
      .foreach(_(spark, sfDir).queryExecution.toRdd.count())
    catch { case _: Throwable => () }
    println(f"${"query"}%-32s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          // settle listener events from the previous query (the bus is
          // private[spark]; a short sleep is enough for a dev tool)
          Thread.sleep(300)
          synchronized { jobs = 0; stages = 0; tasks = 0 }
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            df.queryExecution.toRdd.count()
            val sec = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300)
            println(f"$n%-32s $sec%8.2f $jobs%5d $stages%6d $tasks%6d")
            graft.llm.Components.releaseQuietly(df)
              .foreach(m => println(s"  [release] $m"))
          } catch { case e: Throwable =>
            println(f"$n%-32s FAILED: ${e.getMessage}")
          }
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
