package graft

import org.apache.spark.sql.functions._

/** Dev probe: does hash partitioning survive (a) a
  * CacheManager persist and (b) a Dataset.localCheckpoint, under AQE —
  * i.e. do the per-round Components joins actually plan zero exchanges
  * once their inputs are pre-keyed? Run:
  * `sbt "Test/runMain graft.PartitioningProbe"`. */
object PartitioningProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    println("canChangeCachedPlanOutputPartitioning=" +
      spark.conf.getOption(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"))
    val df = (1 to 100).map(i => (i.toLong, (i % 7).toLong)).toDF("a", "b")
    val sym = df.repartition(4, col("b")).dropDuplicates()
      .sortWithinPartitions("b").persist()
    sym.count()
    val labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).persist()
    labels.count()
    println("=== nbrMin-shaped plan (sym join labels-renamed on b) ===")
    val j = sym.join(labels.withColumnRenamed("node", "b")
        .withColumnRenamed("label", "lab"), "b")
      .groupBy(col("a").as("node")).agg(min(col("lab")).as("nbr_min"))
    println(j.queryExecution.executedPlan.toString.take(3000))
    println("=== checkpointed frame outputPartitioning ===")
    val ck = labels.repartition(4, col("node")).localCheckpoint(false)
    ck.count()
    println("ck partitioning: " +
      ck.queryExecution.executedPlan.outputPartitioning)
    println("=== changed-shaped plan (ck join labels on node) ===")
    val j2 = ck.join(labels, Seq("node"), "left")
    println(j2.queryExecution.executedPlan.toString.take(3000))
    spark.stop()
  }
}
