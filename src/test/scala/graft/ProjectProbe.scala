package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only project-scale probe (test scope — not part of the shipped
  * library): builds a 30-machine project — the reference's
  * ≤30-machines-per-workflow design scale
  * (`gordo/cli/workflow_generator.py:187-196`) — over the sf0.1 events
  * table with the REAL default estimator path (hourglass MLP per
  * machine, no closed-form substitution), through the same
  * `Project.buildAll` driver-thread pool a production build uses.
  * Prints wall, the per-machine training-time distribution, and the
  * Spark scheduler evidence (concurrent jobs share the session).
  * COVERAGE.md records the numbers.
  *
  * Run: `sbt "Test/runMain graft.ProjectProbe /root/testdata/sf0.1 [parallelism]"`.
  */
object ProjectProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val parallelism = if (args.length > 1) args(1).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // not LocalSession: FAIR pools need the scheduler mode at context start
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // 30 machines = all 10 tag pairs × 3 overlapping train windows
    val tags = Seq("click", "view", "purchase", "signup", "error")
    val pairs = for {
      i <- tags.indices; j <- (i + 1) until tags.size
    } yield (tags(i), tags(j))
    val windows = Seq(
      ("2024-01-01T00:00:00Z", "2024-01-15T00:00:00Z"),
      ("2024-01-08T00:00:00Z", "2024-01-22T00:00:00Z"),
      ("2024-01-15T00:00:00Z", "2024-01-29T00:00:00Z"))
    val machines = for {
      ((a, b), pi) <- pairs.zipWithIndex
      ((s, e), wi) <- windows.zipWithIndex
    } yield
      s"""  - name: probe-$pi-$wi
         |    dataset:
         |      tag_list: [$a, $b]
         |      train_start_date: $s
         |      train_end_date: $e""".stripMargin
    val yaml =
      s"""globals:
         |  dataset:
         |    resolution: 1H
         |    interpolation_limit: 6H
         |  model:
         |    gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
         |      base_estimator:
         |        gordo.machine.model.models.KerasAutoEncoder:
         |          kind: feedforward_hourglass
         |machines:
         |${machines.mkString("\n")}""".stripMargin

    val spec = graft.build.Project.parse(yaml, "graft-project-probe")
    require(spec.machines.size == 30, s"expected 30, got ${spec.machines.size}")
    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val tmp = Scratch.dir("graft-project-probe")

    val t0 = System.nanoTime()
    val results = graft.build.Project.buildAll(spec, long,
      "tag", "ts", "value", outputRoot = s"$tmp/models",
      registryDir = Some(s"$tmp/registry"), parallelism = parallelism)
    val wall = (System.nanoTime() - t0) / 1e9

    val trainSecs = results.map(_.metadata("model")
      .asInstanceOf[Map[String, Any]]("model_training_duration_sec")
      .toString.toDouble).sorted
    def pct(p: Double) =
      trainSecs((p * (trainSecs.size - 1)).round.toInt)
    val sum = trainSecs.sum
    println(f"""{"probe":"project30","dir":"$dir","machines":${results.size},""" +
      f""""parallelism":$parallelism,"wall_sec":$wall%.1f,""" +
      f""""train_sum_sec":$sum%.1f,"speedup":${sum / wall}%.2f,""" +
      f""""train_min":${trainSecs.head}%.2f,"train_p50":${pct(0.5)}%.2f,""" +
      f""""train_p90":${pct(0.9)}%.2f,"train_max":${trainSecs.last}%.2f,""" +
      f""""scheduler":"${spark.sparkContext.getSchedulingMode}"}""")
    spark.stop()
  }
}
