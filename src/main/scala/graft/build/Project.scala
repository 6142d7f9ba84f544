package graft.build

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame

import graft.config.Config

/** Project layer (SURVEY §3.2): a project config declares N machines +
  * globals; "workflow generate" becomes emitting a build plan (JSON)
  * instead of Argo k8s YAML, and the Argo DAG of builder pods becomes
  * parallel driver threads sharing one SparkSession (fair-scheduler
  * pools). The ≤30-machines-per-workflow split of
  * `gordo/cli/workflow_generator.py:187-196` is kept as plan chunking.
  */
object Project {

  case class ProjectSpec(projectName: String,
                         globals: Map[String, Any],
                         machines: Seq[Config.MachineSpec])

  def parse(yaml: String, projectName: String): ProjectSpec = {
    val root = Config.parseYaml(yaml)
    // explicit null (`globals:`) means none; a scalar globals block or a
    // non-mapping machine entry is a config ERROR — the raw asInstanceOf
    // was an anonymous NPE/ClassCastException on user YAML
    val globals = root.get("globals") match {
      case None | Some(null) => Map.empty[String, Any]
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case Some(other) => throw new Config.ConfigException(
        s"globals must be a mapping, got: $other")
    }
    val machines = root.getOrElse("machines",
      throw new Config.ConfigException("project has no machines")) match {
      case l: List[_] => l.map {
        case m: Map[_, _] => Config.machineFromConfig(
          m.asInstanceOf[Map[String, Any]], Some(projectName), globals)
        case other => throw new Config.ConfigException(
          s"each machine must be a mapping, got: $other")
      }
      case other => throw new Config.ConfigException(s"machines must be a list: $other")
    }
    val dup = machines.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
    if (dup.nonEmpty)
      throw new Config.ConfigException(s"duplicate machine names: $dup")
    ProjectSpec(projectName, globals, machines)
  }

  /** The build plan: machine list with cache keys, chunked into
    * workflows of ≤ `maxPerWorkflow`. `closedForm` must match the
    * intended [[buildAll]] run — the two modes key the registry
    * differently (a closed-form build never aliases a full build), and
    * a plan emitted with the wrong mode would misreport every key any
    * registry tooling pre-checks against. */
  def plan(spec: ProjectSpec, maxPerWorkflow: Int = 30,
           closedForm: Boolean = false): String = {
    val chunks = spec.machines.grouped(maxPerWorkflow).toSeq
    Persistence.toJson(Map(
      "project_name" -> spec.projectName,
      "n_machines" -> spec.machines.size,
      "closed_form" -> closedForm,
      "workflows" -> chunks.zipWithIndex.map { case (ms, i) =>
        Map("workflow" -> i,
          "machines" -> ms.map(m => Map(
            "name" -> m.name,
            "cache_key" -> Persistence.cacheKey(m, closedForm))))
      }))
  }

  /** Build every machine of the project in parallel driver threads over
    * a shared long frame. Spark schedules the concurrent jobs across the
    * cluster; per-machine state (fit aggregations) is tiny.
    *
    * One lake scan per machine GROUP, with a size-adaptive cache
    * layout: machines
    * whose dataset configs differ only by tag list share ONE
    * filter→resample pass over the union of their tags, cached; each
    * machine's grid/interpolate/pivot then reads its tags from the
    * cache. Per-(tag, bucket) resampling commutes exactly with tag
    * filtering, so values are unchanged. The shared cache is
    * repartitioned to a partition count derived from the INPUT's size
    * (≈64 MB of source bytes per partition, clamped to the session's
    * shuffle partitions) — pinning the session shuffle count into the
    * cache would make every downstream per-machine stage run that many
    * micro-tasks at small scale, a measured local regression. The group
    * frame is built
    * only when ≥2 machines actually MISS the model registry: a
    * fully-cached second buildAll (the q75 gate's contract) must stay
    * zero-Spark-work. */
  def buildAll(spec: ProjectSpec, long: DataFrame, keyCol: String,
               tsCol: String, valueCol: String, outputRoot: String,
               registryDir: Option[String] = None,
               parallelism: Int = 4,
               closedForm: Boolean = false): Seq[ModelBuilder.BuildResult] = {
    import org.apache.spark.sql.functions.col
    import graft.data.TimeSeries
    val pool = Executors.newFixedThreadPool(math.max(1, parallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // machines that will really assemble (registry misses) grouped by
    // their pre-resample config (everything but the tag lists)
    def misses(m: Config.MachineSpec): Boolean =
      registryDir.flatMap(Persistence.checkCache(_,
        Persistence.cacheKey(m, closedForm))).isEmpty
    val sharedByName: Map[String, DataFrame] = {
      val groups = spec.machines.filter(misses)
        .groupBy(m => Config.datasetConfig(m).copy(tags = Nil, targetTags = Nil))
        .filter(_._2.size >= 2)
      groups.flatMap { case (cfg0, ms) =>
        val unionTags = ms.flatMap(m => {
          val c = Config.datasetConfig(m); (c.tags ++ c.targetTags)
        }).distinct
        // size-adaptive cache layout: ≈64 MB of SOURCE bytes per cached
        // partition (resampled rows are never more than source rows),
        // at least 1, never above the session's shuffle partitions —
        // local runs get a compact cache instead of shuffle-partition-
        // many micro-partitions, cluster runs keep their sizing
        val bytes = long.queryExecution.optimizedPlan.stats.sizeInBytes
        val cap = long.sparkSession.sessionState.conf.numShufflePartitions
        val nPart = (bytes / (64L << 20) + 1).min(BigInt(cap)).max(BigInt(1)).toInt
        val shared = TimeSeries.resampleStage(long, keyCol, tsCol, valueCol,
          cfg0.copy(tags = unionTags))
          .repartition(nPart, col(keyCol))
        ms.map(_.name -> shared)
      }
    }
    // ONE lease per distinct shared frame (the first reference
    // persists); the first builder thread's bounds aggregation fills the
    // compact cache (siblings block on the partition fill briefly — an
    // up-front count() here measured strictly worse: one more full
    // execution, overlapped with nothing)
    val sharedLeases = sharedByName.values.toSeq.distinct
      .map(graft.SessionCache.acquire)
    try {
      val futures = spec.machines.map { m =>
        Future {
          val pre = sharedByName.get(m.name).map { shared =>
            val c = Config.datasetConfig(m)
            val mTags = (c.tags ++ c.targetTags).distinct
            TimeSeries.assemble(
              shared.filter(col(keyCol).isin(mTags: _*)), keyCol, valueCol, c)
          }
          ModelBuilder.buildSpec(m, long, keyCol, tsCol, valueCol,
            outputDir = s"$outputRoot/${m.name}",
            registryDir = registryDir, closedForm = closedForm,
            preAssembled = pre)
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } catch { case e: Throwable =>
      // fail-fast must not return while sibling builds are still
      // WRITING: plain shutdown() runs every queued build and lets
      // in-flight ones finish in the background, so a caller that
      // retries or cleans outputRoot/registry after catching would race
      // half-written model dirs. Drop the QUEUED builds (never started,
      // nothing torn), let the in-flight ones COMPLETE their writes
      // (shutdownNow's interrupt could tear a dir mid-save), and only
      // then rethrow.
      pool match {
        case tp: java.util.concurrent.ThreadPoolExecutor =>
          tp.getQueue.clear()
        case _ => ()
      }
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS): Unit
      throw e
    } finally {
      pool.shutdown()
      // drop the shared resample caches — every machine's build has
      // persisted (or abandoned) its own wide frame by now
      sharedLeases.foreach(_.close())
    }
  }
}
