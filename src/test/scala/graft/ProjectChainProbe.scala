package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only multi-workflow chaining probe (test scope — not part of the
  * shipped library): exercises `Project.plan`'s ≤30-machine workflow
  * chunking (`gordo/cli/workflow_generator.py:187-196`) END TO END —
  * not just the plan JSON, but executing each planned workflow in
  * order through `Project.buildAll` against ONE shared model registry,
  * then a REDEPLOY of the grown project where every unchanged machine
  * must cache-hit by its F9 key and only the new machines train.
  *
  * Deploy 1: 70 machines → plan chunks [30, 30, 10]; all builds cold.
  * Deploy 2: the same 70 + 14 new → chunks [30, 30, 24]; the 70
  * carried-over machines hit the registry (same name + config ⇒ same
  * sha3-512 cache key), the 14 new ones build. This is the reference's
  * operational loop: re-running workflow generation after a project
  * config grows re-trains only what changed.
  *
  * The plan JSON itself drives execution (parsed with Spark), so the
  * chunk boundaries exercised are the ones `plan` actually emitted.
  *
  * Run: `sbt "Test/runMain graft.ProjectChainProbe /root/testdata/sf0.1 [parallelism]"`.
  */
object ProjectChainProbe {
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

    val tags = Seq("click", "view", "purchase", "signup", "error")
    val pairs = for {
      i <- tags.indices; j <- (i + 1) until tags.size
    } yield (tags(i), tags(j))
    // 7 overlapping train windows × 10 pairs = 70 machines; deploy 2
    // appends windows 7..8 for the first 7 pairs (+14 machines)
    def window(wi: Int): (String, String) =
      (f"2024-01-${1 + wi}%02dT00:00:00Z", f"2024-01-${15 + wi}%02dT00:00:00Z")
    def machineYaml(pi: Int, wi: Int): String = {
      val (a, b) = pairs(pi)
      val (s, e) = window(wi)
      s"""  - name: chain-$pi-$wi
         |    dataset:
         |      tag_list: [$a, $b]
         |      train_start_date: $s
         |      train_end_date: $e""".stripMargin
    }
    def projectYaml(ms: Seq[String]): String =
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
         |${ms.mkString("\n")}""".stripMargin

    val deploy1 = for (pi <- pairs.indices; wi <- 0 until 7)
      yield machineYaml(pi, wi)
    val deploy2 = deploy1 ++
      (for (pi <- 0 until 7; wi <- 7 until 9) yield machineYaml(pi, wi))

    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val tmp = Scratch.dir("graft-chain-probe")
    val registry = s"$tmp/registry"

    // execute one deploy: plan → parse the emitted plan JSON → run each
    // planned workflow in order through buildAll on the shared registry
    def runDeploy(label: String, yamls: Seq[String]): Unit = {
      val spec = graft.build.Project.parse(projectYaml(yamls), "graft-chain")
      val planJson = graft.build.Project.plan(spec, maxPerWorkflow = 30)
      val byName = spec.machines.map(m => m.name -> m).toMap
      val workflows = spark.read.json(Seq(planJson).toDS())
        .select(explode($"workflows").as("w"))
        .select($"w.workflow".as("wf"), $"w.machines.name".as("names"))
        .orderBy($"wf")
        .as[(Long, Seq[String])].collect()
      workflows.foreach { case (wf, names) =>
        val chunkSpec = spec.copy(machines = names.map(byName))
        val t0 = System.nanoTime()
        val results = graft.build.Project.buildAll(chunkSpec, long,
          "tag", "ts", "value", outputRoot = s"$tmp/$label/models",
          registryDir = Some(registry), parallelism = parallelism)
        val wall = (System.nanoTime() - t0) / 1e9
        val hits = results.count(_.fromCache)
        println(f"""{"probe":"project_chain","deploy":"$label","workflow":$wf,""" +
          f""""machines":${results.size},"cache_hits":$hits,""" +
          f""""built":${results.size - hits},"wall_sec":$wall%.1f}""")
      }
    }

    runDeploy("deploy1", deploy1)   // 70 machines, chunks [30,30,10], all cold
    runDeploy("deploy2", deploy2)   // 84 machines, chunks [30,30,24], 70 hits
    spark.stop()
  }
}
