package graft

/** Dev measurement tool: run selected queries once and print, per query,
  * its wall time and the Spark work it caused, counted by [[ExecCounts]]
  * over the query's construction and full materialization: jobs, stages,
  * tasks, distinct shuffles, and the exchange count of its pre-execution
  * plan. At bench scale the data is small, so per-query cost is roughly
  * (job count × driver latency) + task overhead; this surfaces redundant
  * passes (an assembly recomputed per eager job) that `explain` alone
  * cannot show. Run:
  * `sbt "runMain graft.JobAudit [sfDir] [query...]"`. */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up so session/codegen init doesn't land on the first query
    try SparkEntry.queries.get("q03_revenue_filter")
      .foreach(_(spark, sfDir).queryExecution.toRdd.count())
    catch { case _: Throwable => () }
    println(f"${"query"}%-32s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"shuffles"}%8s ${"plan_exchanges"}%14s")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try {
            val ((df, planned, sec), c) = ExecCounts.during(spark.sparkContext) {
              val t0 = System.nanoTime()
              val df = fn(spark, sfDir)
              val planned = ExecCounts.planShuffles(df)
              df.queryExecution.toRdd.count()
              (df, planned, (System.nanoTime() - t0) / 1e9)
            }
            println(f"$n%-32s $sec%8.2f ${c.jobs}%5d ${c.stages}%6d " +
              f"${c.tasks}%6d ${c.shuffles}%8d $planned%14d")
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
