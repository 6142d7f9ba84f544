package graft.build

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.config.{Config, ModelRegistry}
import graft.data.TimeSeries
import graft.ml.DiffAnomaly

/** Build orchestration (SURVEY M15/§3.1; ref: `gordo/builder/
  * build_model.py:48-339`): config → cache probe → dataset assembly →
  * model compile → CV (thresholds + fold scores) → final fit → metadata →
  * save + registry.
  *
  * One builder call trains ONE machine; a project of N machines runs N
  * builds as parallel driver threads sharing the SparkSession (scheduler
  * pools) — the Spark shape of the reference's parallel builder pods.
  */
object ModelBuilder {

  case class BuildResult(
      spec: Config.MachineSpec,
      fitted: DiffAnomaly.FittedDetector,
      metadata: Map[String, Any],
      modelDir: String,
      fromCache: Boolean)

  /** Build a machine from its config over a long `(key, ts, value)` frame.
    *
    * @param long        source frame (any provider: parquet scan, stream)
    * @param outputDir   model directory destination
    * @param registryDir optional cache registry (F9 keyed)
    */
  def build(machineConfig: Map[String, Any],
            globals: Map[String, Any],
            long: DataFrame, keyCol: String, tsCol: String, valueCol: String,
            outputDir: String,
            registryDir: Option[String] = None,
            projectName: Option[String] = None,
            closedForm: Boolean = false): BuildResult =
    buildSpec(Config.machineFromConfig(machineConfig, projectName, globals),
      long, keyCol, tsCol, valueCol, outputDir, registryDir, closedForm)

  /** Build from an already-assembled spec (the project layer's path —
    * preserves the spec's merged metadata instead of re-deriving it).
    *
    * @param closedForm substitute every iteratively-trained MLP node with
    *   its closed-form ridge stand-in (deterministic, oracle-replayable
    *   fits). The substitution is recorded in the model metadata
    *   (`impl_requested` / `impl_substitution`) and keyed into the cache
    *   key — a closed-form build never aliases a full build.
    * @param preAssembled optional lease on the assembled frame to use
    *   INSTEAD of assembling the dataset here — its frame must be exactly
    *   `TimeSeries.getData(long, …, Config.datasetConfig(spec))`'s output
    *   (callers that need the assembled frame AGAIN after the build —
    *   serve-path scoring — assemble once, cache, and hand it in, instead
    *   of paying getData's eager bounds job and a second lake scan per
    *   consumer; guide §2.4). The build takes ownership: the lease is
    *   closed on every path, the registry-hit return included. */
  def buildSpec(spec: Config.MachineSpec,
                long: DataFrame, keyCol: String, tsCol: String, valueCol: String,
                outputDir: String,
                registryDir: Option[String] = None,
                closedForm: Boolean = false,
                preAssembled: Option[graft.SessionCache.Lease] = None): BuildResult =
    try {
    val key = Persistence.cacheKey(spec, closedForm)

    // cache probe (`build_model.py:104-190`): hit short-circuits the build.
    // The hit is MATERIALIZED into the requested outputDir — callers
    // address the model by the dir they asked for (serving configs,
    // predict(s"$outputRoot/$name")), and a registry entry can point into
    // an earlier run's directory that may not outlive this one; a
    // bit-identical copy keeps the checksummed layout valid either way.
    registryDir.flatMap(Persistence.checkCache(_, key)).foreach { dir =>
      val src = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
      val dst = java.nio.file.Paths.get(outputDir).toAbsolutePath.normalize
      if (src != dst) {
        // nested layouts are a misconfiguration with destructive
        // consequences: clearing a dst that CONTAINS the registry's src
        // would wipe the cached model before the copy; loud beats that
        require(!src.startsWith(dst) && !dst.startsWith(src),
          s"cache materialization cannot copy between nested directories " +
            s"(src=$src, dst=$dst) — choose an outputDir outside the registry")
        // a dst that previously held a DIFFERENT model would keep its
        // extra files alongside the copied layout (breaking the
        // checksummed-dir contract) — clear it before copying
        if (java.nio.file.Files.isDirectory(dst))
          graft.Scratch.deleteTree(dst, keepRoot = true)
        java.nio.file.Files.createDirectories(dst)
        // walk streams hold a directory handle until closed — leaking
        // one per registry cache hit exhausts fds on a hot serving loop
        val walk = java.nio.file.Files.walk(src)
        try walk.forEach { p =>
          val t = dst.resolve(src.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        } finally walk.close()
      }
      return BuildResult(spec, Persistence.load(outputDir),
        Persistence.loadMetadata(outputDir), outputDir, fromCache = true)
    }

    val dsCfg = Config.datasetConfig(spec)
    val t0 = System.nanoTime()
    // the assembled frame feeds every CV fold fit, the final fit, and the
    // fold-score pass — leased so resample/grid/interpolate run once. A
    // lease, not a storageLevel check: plan-identical parallel builds
    // share one CacheManager entry, and the first finisher would
    // otherwise unpersist it from under its still-running siblings.
    val lease = preAssembled.getOrElse(
      TimeSeries.dataLease(long, keyCol, tsCol, valueCol, dsCfg))
    val wide = lease.df
    val querySec = (System.nanoTime() - t0) / 1e9
    try {

    val requested = ModelRegistry.compile(spec.model)
    val compiled =
      if (closedForm) ModelRegistry.substituteClosedForm(requested)
      else requested
    // a model without an explicit detector node (e.g. the reference's
    // canonical top-level Pipeline[MinMaxScaler, KerasAutoEncoder]) is
    // wrapped in a default detector with the WHOLE tree as base — its
    // preprocessing prefix must survive, not be dropped
    val detector = ModelRegistry.detectorOf(compiled).getOrElse(
      ModelRegistry.Detector(compiled,
        ModelRegistry.Scaler("minmax"), None, None, shuffle = false))
    val epoch0 = dsCfg.trainStart
      .map(s => Config.parseTzAware(s).toEpochSecond).getOrElse(0L)
    // base-estimator preprocessing prefix (the reference's default model
    // IS Pipeline[MinMaxScaler, KerasAutoEncoder]): the wrapper REFITS
    // the transform chain inside every fit call — per CV fold on that
    // fold's train span, finally on the full series — exactly sklearn's
    // clone-and-refit pipeline semantics; the reconstruction fits in the
    // transformed space with predictions mapped back to raw units
    // M6 sequence models: materialize the lookback window as lag feature
    // columns (J3 offset rows dropped); the model's X becomes the lag
    // columns while y stays the raw target tags — and the SAME surgery
    // is recorded in the model state so the serve path re-applies it
    val windowSpec = ModelRegistry.windowOf(detector.base)
    val prepSpecs = ModelRegistry.preprocessSpecs(
      ModelRegistry.basePreprocess(detector.base))
    val base0 = ModelRegistry.reconstructorOf(detector.base, "bucket_ts", epoch0)
    val base =
      if (prepSpecs.isEmpty) base0
      else new graft.ml.Preprocess.Reconstructor(base0, prepSpecs,
        // windowed models fit transform stats ONCE PER RAW TAG (the
        // reference scales X before the estimator windows it); lag
        // features share their base tag's stats
        statTags = windowSpec.map(_ =>
          (dsCfg.tags ++ dsCfg.effectiveTargets).distinct))
    val (fitFrame, xTags, yTagsForFit) = windowSpec match {
      case Some(wd) =>
        val (w2, lagTags) = graft.ml.Windows.withLookback(
          wide, dsCfg.tags, "bucket_ts", wd.lookback, wd.lookahead)
        (w2, lagTags, dsCfg.effectiveTargets)
      case None => (wide, dsCfg.tags, dsCfg.targetTags)
    }
    // evaluation.cv compiles STRICTLY: a configured splitter that fails
    // to compile, or compiles to something else, is a config ERROR —
    // falling back to the default 3 would silently cross-validate with
    // settings the user never asked for. KFold-fold thresholds are the
    // M12 KFCV detector's semantics (`DiffAnomaly.fitKfcv`), so the
    // expanding-window build rejects the method loudly rather than
    // running time-series folds under a kfold label.
    val nSplits = spec.evaluation.get("cv") match {
      case None | Some(null) => 3
      case Some(cv) => ModelRegistry.compile(cv) match {
        case ModelRegistry.CvSplit("timeseries", n) => n
        case ModelRegistry.CvSplit(method, _) =>
          throw new ModelRegistry.CompileException(
            s"evaluation.cv method '$method' is not supported by the " +
              "expanding-window detector build (KFold CV is the " +
              "DiffBasedKFCVAnomalyDetector variant's semantics)")
        case other => throw new ModelRegistry.CompileException(
          s"evaluation.cv must be a CV splitter, got: $other")
      }
    }

    // A8/A9/M13/M14 inputs: metric list + scoring scaler (fit on the FULL
    // y first, `build_model.py:377-446`); the fold scores are computed
    // inside the SAME CV loop that derives thresholds — no second pass
    // refitting the base models
    import graft.ml.{CrossValidate, Metrics, Scalers}
    val metricNames = spec.evaluation.get("metrics") match {
      case Some(l: List[_]) => l.map {
        // `metrics: [r2_score, ~]` was an anonymous NPE from _.toString
        case null => throw new ModelRegistry.CompileException(
          "evaluation.metrics contains a null entry")
        case v => v.toString
      }
      case None | Some(null) => List("explained_variance_score", "r2_score",
        "mean_squared_error", "mean_absolute_error")
      case Some(other) =>
        // a scalar ("metrics: r2_score") silently falling through to the
        // defaults would discard the user's selection with no error —
        // the same loud stance the evaluation.cv parser takes
        throw new ModelRegistry.CompileException(
          s"evaluation.metrics must be a LIST of metric names, got: $other")
    }
    val foldMetrics = metricNames.map(name => name -> (name match {
      case "explained_variance_score" => Metrics.explainedVariance _
      case "r2_score" => Metrics.r2 _
      case "mean_squared_error" => Metrics.mse _
      case "mean_absolute_error" => Metrics.mae _
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }))
    // dispatch on the CONFIGURED scaler class (a RobustScaler must not be
    // silently substituted with MinMax — it skews the fold-metric scores).
    // The default minmax scorer of an UNWINDOWED spec is DEFERRED into
    // the CV's own segmented stats pass (r15, guide §1.2: this eager
    // full-frame aggregation was a whole extra execution per build for
    // stats the CV pass already computes; min/max merge exactly, so the
    // values are unchanged). Windowed specs keep the eager fit: the
    // reference fits the scorer on the PRE-window frame, whose head rows
    // the CV frame has dropped. Robust has no mergeable statistic.
    val (scoringScaler, deferredScoringKind) =
      spec.evaluation.get("scoring_scaler")
        .filter(_ != null).map { v =>
          ModelRegistry.compile(v) match {
            case ModelRegistry.Scaler("minmax") if windowSpec.isEmpty =>
              (None, Some("minmax"))
            case ModelRegistry.Scaler("minmax") =>
              (Some(Scalers.fitMinMax(wide, dsCfg.effectiveTargets)), None)
            case ModelRegistry.Scaler("robust") =>
              (Some(Scalers.fitRobust(wide, dsCfg.effectiveTargets)), None)
            case other => throw new ModelRegistry.CompileException(
              s"unsupported scoring_scaler: $other")
          }
        }.getOrElse((None, None))

    // J3 model offset: head rows the windowing dropped; also shifts the
    // CV fold boundaries back onto the RAW row count like the reference
    val offset = windowSpec.map(_.offset).getOrElse(0)

    val t1 = System.nanoTime()
    val fitted = DiffAnomaly.fit(fitFrame, xTags, "bucket_ts", base,
      scalerKind = detector.scaler.kind, nSplits = nSplits,
      window = detector.window,
      smoothingMethod = detector.smoothingMethod.getOrElse("smm"),
      foldMetrics = foldMetrics, scoringScaler = scoringScaler,
      targetTags = yTagsForFit, foldOffset = offset,
      scoringScalerKind = deferredScoringKind)
    val trainSec = (System.nanoTime() - t1) / 1e9

    val scores = fitted.foldScores.map { case (name, vals) =>
      name.replace("_", "-") -> CrossValidate.aggregateScores(vals)
    }

    val implName = fitted.model.impl
    // the estimator family the CONFIG asked for: a substitution must be
    // visible in metadata, never silent — the definition round-trips the
    // original class path for config fidelity, so `impl` is the truth
    // about what actually trained
    val requestedImpl = ModelRegistry.reconstructorOf(
      ModelRegistry.detectorOf(requested).map(_.base).getOrElse(requested),
      "bucket_ts", epoch0).impl
    val substitution: Map[String, Any] =
      if (implName == requestedImpl) Map("impl" -> implName)
      else Map(
        "impl" -> implName,
        "impl_requested" -> requestedImpl,
        "impl_substitution" ->
          (s"closed-form '$implName' trained in place of the configured " +
            s"'$requestedImpl' (deterministic, oracle-replayable fits)"))
    val metadata = Map[String, Any](
      "name" -> spec.name,
      "project_name" -> spec.projectName,
      "cache_key" -> key,
      "user_defined" -> spec.metadata,
      "dataset" -> (Config.patchDict(Config.datasetDefaults, spec.dataset) +
        ("query_duration_sec" -> querySec)),
      "model" -> (substitution ++
        // A10: the keras-History analog for iteratively-trained models
        // (per-epoch loss list); closed-form fits have no epochs and no
        // history key, like the reference's non-keras models
        (if (fitted.model.history.nonEmpty)
          Map("history" -> fitted.model.history) else Map.empty) ++
        Map(
        "definition" -> ModelRegistry.intoDefinition(compiled),
        "model_offset" -> offset,
        "model_training_duration_sec" -> trainSec,
        "feature-thresholds" -> fitted.thresholds.featureThresholds,
        "aggregate-threshold" -> fitted.thresholds.aggregateThreshold,
        "aggregate-thresholds-per-fold" -> fitted.thresholds.perFoldAggregate,
        "cross_validation" -> Map(
          "scores" -> scores,
          // `build_model.py` `build_split_dict`: per-fold span metadata.
          // The reference records index TIMESTAMPS; rows here are 0-based
          // positions in the aligned frame (ends inclusive, like
          // `train_ind[-1]`) — same shape, position-valued
          "splits" -> fitted.folds.flatMap { f =>
            val k = f.index + 1
            Seq[(String, Any)](
              s"fold-$k-train-start" -> f.trainStart,
              s"fold-$k-train-end" -> (f.trainEnd - 1),
              s"fold-$k-test-start" -> f.testStart,
              s"fold-$k-test-end" -> (f.testEnd - 1),
              s"fold-$k-n-train" -> f.nTrain,
              s"fold-$k-n-test" -> f.nTest)
          }.toMap))))

    Persistence.save(outputDir,
      Persistence.stateOf(fitted, epoch0,
        windowSpec.map(wd => (dsCfg.tags, wd.lookback, wd.lookahead))),
      metadata)
    registryDir.foreach(Persistence.registerModel(_, key, outputDir))
    BuildResult(spec, fitted, metadata, outputDir, fromCache = false)
    } finally lease.close()
    } finally preAssembled.foreach(_.close())

  /** Re-apply a persisted model's windowing to a raw serve-time frame
    * (M6): the saved lag feature columns are rebuilt from the base tags
    * exactly as at fit time; row-local models pass through. Every serve
    * path crosses this entry, so it is also where [[requireUniqueOrder]]
    * rejects duplicate time values. */
  private def serveFrame(fd: graft.ml.DiffAnomaly.FittedDetector,
                         windowing: Option[(Seq[String], Int, Int)],
                         wide: DataFrame): DataFrame = {
    requireUniqueOrder(wide, fd.orderCol)
    windowing match {
      case Some((baseTags, lb, la)) =>
        graft.ml.Windows.withLookback(wide, baseTags, fd.orderCol, lb, la)._1
      case None => wide
    }
  }

  /** Duplicate time values in a client frame are REJECTED: the
    * smoothing windows, the ewm recursion, and the lag-window surgery all
    * order by the time column, and Spark gives tied rows NO defined order
    * (unlike pandas, whose duplicate index rows keep their positional
    * order) — the smooth-* and lag-feature outputs would silently differ
    * run to run. Loud beats run-dependent. The fit path never reaches
    * here and its assembly resamples to unique buckets by construction.
    *
    * A request frame built from local rows (also behind
    * `Serving.verifyColumns`' projection) optimizes to a `LocalRelation`:
    * its order column is already on the driver, so it is collected by a
    * local table scan and checked with a hash set, with no Spark job. The
    * scoring plan folds to a `LocalRelation` too, so such a request runs
    * no job at all, where the aggregate alone cost 2. Any other frame
    * keeps the aggregate, so a batch frame is never collected to the
    * driver. A null order value is a key on both paths, as in `groupBy`. */
  private def requireUniqueOrder(wide: DataFrame, orderCol: String): Unit = {
    val order = wide.select(col(orderCol))
    val repeat = order.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        val seen = new java.util.HashSet[Any]
        order.collect().iterator.map(_.get(0)).find(v => !seen.add(v))
      case _ =>
        wide.groupBy(col(orderCol)).count()
          .filter(col("count") > 1).limit(1).collect().headOption.map(_.get(0))
    }
    require(repeat.isEmpty,
      s"serve frame has duplicate $orderCol values (e.g. " +
        s"${repeat.getOrElse("")}) — windows over " +
        "tied rows have no defined order; deduplicate or resample first")
  }

  /** §3.3 `/prediction` equivalent: model-input/output only, no targets
    * or residuals (`gordo/server/blueprints/base.py:30-113`). */
  def predict(modelDir: String, wide: DataFrame,
              resolutionSec: Long): DataFrame = {
    val (fd, windowing) = Persistence.loadFull(modelDir)
    graft.ml.DiffAnomaly.predictFrame(fd, serveFrame(fd, windowing, wide),
      resolutionSec)
  }

  /** The one scoring body both serve entries share: window surgery →
    * anomaly frame → P8 drop of the smooth-* groups unless all_columns
    * (`gordo/server/blueprints/anomaly.py:56-62`). Keeping it single
    * means the cached and uncached paths can never drift. */
  private def scoreWith(fd: graft.ml.DiffAnomaly.FittedDetector,
                        windowing: Option[(Seq[String], Int, Int)],
                        wide: DataFrame, resolutionSec: Long,
                        allColumns: Boolean): DataFrame = {
    val frame = DiffAnomaly.anomaly(fd, serveFrame(fd, windowing, wide),
      resolutionSec)
    if (allColumns) frame
    else frame.drop(frame.columns.filter(_.startsWith("smooth-")).toIndexedSeq: _*)
  }

  /** §3.3 batch scoring entry: load a model dir and produce the anomaly
    * frame for an input wide frame (the serve-path equivalent of
    * `POST /anomaly/prediction`). */
  def score(modelDir: String, wide: DataFrame, resolutionSec: Long,
            allColumns: Boolean = false): DataFrame = {
    val (fd, windowing) = Persistence.loadFull(modelDir)
    scoreWith(fd, windowing, wide, resolutionSec, allColumns)
  }

  /** [[score]] routed through a [[Serving.ModelCache]] — the S5
    * serving discipline: hot models stay loaded across requests,
    * capacity-evicted ones reload on demand (the reference worker
    * holds 2 models per process and reloads the rest). */
  def scoreCached(cache: Serving.ModelCache, modelDir: String,
                  wide: DataFrame, resolutionSec: Long,
                  allColumns: Boolean = false): DataFrame = {
    val (fd, windowing) = cache.getFull(modelDir)
    scoreWith(fd, windowing, wide, resolutionSec, allColumns)
  }
}
