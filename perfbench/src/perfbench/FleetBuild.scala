package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.build.{ModelBuilder, Project}
import graft.config.{Config, ModelRegistry}
import graft.data.TimeSeries

/** `fleet_build`: the paper's headline flow. A seeded sensor lake feeds
  * a generated project of machines with the default detector; each
  * operation is one cold `Project.buildAll` into a fresh registry,
  * followed by a rebuild against that registry that must be all hits. */
final class FleetBuild(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  val nTags = 24
  val days = 2
  val tagsPerMachine = 4
  val nShared = 3
  val nOwn = 1
  val parallelism = 4

  private var long: DataFrame = _
  private var spec: Project.ProjectSpec = _
  private var yaml: String = _
  private var lakeRows = 0L
  private var runs = 0
  private var rebuildHits = Vector.empty[Int] // registry hits per rebuild
  private var lastBuild: Seq[ModelBuilder.BuildResult] = Nil

  def inputs: Map[String, Any] = Map(
    "lake_rows" -> lakeRows, "tags" -> nTags, "days" -> days,
    "sample_interval" -> "1min", "machines" -> (nShared + nOwn),
    "machines_sharing_a_dataset_group" -> nShared,
    "tags_per_machine" -> tagsPerMachine, "resolution" -> "10T",
    "model" -> "DiffBasedAnomalyDetector(KerasAutoEncoder feedforward_hourglass)",
    "parallelism" -> parallelism)

  def generate(dir: String): Unit = {
    lakeRows = Gen.writeLake(spark, seed, nTags, days, s"$dir/lake")
    long = spark.read.parquet(s"$dir/lake")
    yaml = Gen.fleetYaml(seed, nTags, tagsPerMachine, nShared, nOwn, days)
    spec = Project.parse(yaml, "perfbench-fleet")
  }

  private def buildAll(root: String, registry: String) =
    Trace.span("build.buildAll") {
      Project.buildAll(spec, long, "tag", "ts", "value",
        outputRoot = s"$root/models", registryDir = Some(registry),
        parallelism = parallelism)
    }

  def warmup(): Unit = {
    val root = s"$work/fleet-warm"
    buildAll(root, s"$root/registry")
    graft.Scratch.deleteTree(java.nio.file.Paths.get(root))
  }

  /** One op: cold build (timed), then the all-hits rebuild (checked). */
  def measure(seconds: Double): Phase = loop(seconds) {
    val root = s"$work/fleet-${runs}"
    runs += 1
    val registry = s"$root/registry"
    val (ms, built) = Clock.ms(buildAll(root, registry))
    require(built.forall(!_.fromCache), "cold buildAll hit the registry")
    lastBuild = built
    val again = Trace.span("build.rebuild") {
      Project.buildAll(spec, long, "tag", "ts", "value",
        outputRoot = s"$root/again", registryDir = Some(registry),
        parallelism = parallelism)
    }
    rebuildHits :+= again.count(_.fromCache)
    graft.Scratch.deleteTree(java.nio.file.Paths.get(root))
    (Seq(ms), built.size.toDouble)
  }

  def check(): Seq[Check] = {
    val n = spec.machines.size
    val misses = rebuildHits.filter(_ != n)
    val nonFinite = lastBuild.flatMap { r =>
      val t = r.fitted.thresholds
      (t.featureThresholds.toSeq :+ ("aggregate" -> t.aggregateThreshold))
        .filterNot(_._2.isFinite).map(x => s"${r.spec.name}:${x._1}")
    }
    Seq(
      Check("rebuild_all_registry_hits", rebuildHits.nonEmpty && misses.isEmpty,
        s"${rebuildHits.size} rebuilds of $n machines; hits per rebuild " +
          rebuildHits.mkString(",")),
      Check("thresholds_finite", lastBuild.size == n && nonFinite.isEmpty,
        s"non-finite: ${nonFinite.mkString(",")}"))
  }

  def layers(progress: StreamProgress): Map[String, Double] = {
    // config layer: parse the project and compile every machine's model
    val (compileMs, _) = Clock.ms {
      val p = Project.parse(yaml, "perfbench-fleet")
      p.machines.foreach(m => ModelRegistry.compile(m.model))
    }
    // data layer: assemble each machine's wide frame, forced
    val (assembleMs, wideRows) = Clock.ms {
      spec.machines.map { m =>
        val wide = TimeSeries.getData(long, "tag", "ts", "value", Config.datasetConfig(m))
        try wide.count() finally TimeSeries.releaseAssembled(wide)
      }.sum
    }
    val fitS = lastBuild.map { r =>
      r.metadata("model").asInstanceOf[Map[String, Any]]("model_training_duration_sec")
        .toString.toDouble
    }.sum
    val n = spec.machines.size
    Map(
      "config.compile_ms" -> compileMs,
      "data.assemble_s" -> assembleMs / 1e3,
      "data.source_rows" -> long.count().toDouble,
      "data.wide_rows" -> wideRows.toDouble,
      "ml.fit_s" -> fitS,
      "build.rebuild_s" -> Stats.median(Trace.named("build.rebuild").map(_.ms / 1e3)),
      "build.registry_hit_ratio" -> rebuildHits.sum.toDouble / (n * rebuildHits.size).max(1))
  }
}
