package graft.config

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.{DiffAnomaly, InfImputer, Preprocess, Scalers}

/** The pipeline compiler (SURVEY M1/M2/M8; ref: `from_definition`
  * `gordo/serializer/from_definition.py:23-373`, inverse
  * `into_definition.py:12-190`).
  *
  * A model definition is a recursive `{class.path: kwargs}` tree. Unlike
  * the reference (arbitrary Python import + reflection), this compiler
  * resolves against an explicit ALLOWLIST of supported class paths,
  * mapping sklearn/keras names onto the engine's deterministic Spark
  * implementations (SURVEY §7.3: reflection is deliberately out).
  *
  * `intoDefinition` re-emits the canonical fully-defaulted tree — the
  * config-freeze round-trip of `gordo/cli/cli.py:140-145`.
  */
object ModelRegistry {

  sealed trait Stage
  case class Scaler(kind: String) extends Stage
  case class Imputer(strategy: String, delta: Double) extends Stage
  case class Multiply(factor: Double) extends Stage
  /** Reconstruction model; `kind` is the factory name (M8/M9 analog). */
  case class Reconstruction(impl: String, kind: String) extends Stage

  /** M7 raw-spec regressor: an explicit Dense layer list (units,
    * activation) compiled from the `{spec, compile}` kind map of
    * `KerasRawModelRegressor` (`gordo/machine/model/models.py:401-460`).
    * `kind` keeps the original map verbatim for the `intoDefinition`
    * round trip. */
  case class RawSpec(layers: List[(Int, String)],
                     kind: Map[String, Any]) extends Stage

  /** Sequence-model wrapper (M6/M10): the inner reconstruction consumes
    * a lookback window materialized as lag feature columns; `lookahead`
    * is how many steps the target row sits after the window's last
    * element — 1 = one-step forecast (window strictly precedes the
    * target row), 0 = autoencoder (window includes it), L ≥ 2 = L-step-
    * ahead forecast (the reference generator's arbitrary-lookahead
    * semantics, `gordo/machine/model/models.py:713-793`). The windowing
    * itself is frame surgery the builder applies
    * (`Windows.withLookback`) — the reconstructor just sees more
    * feature columns. */
  case class Windowed(lookback: Int, lookahead: Int,
                      inner: Reconstruction) extends Stage {
    // CompileException, not require: a bad lookback_window is a CONFIG
    // rejection and must be catchable by the same handlers as every
    // other unsupported shape (an IllegalArgumentException escapes them)
    if (lookback < 1) throw new CompileException(
      s"lookback_window must be >= 1: $lookback")
    if (lookahead < 0) throw new CompileException(
      s"lookahead must be >= 0: $lookahead")
    /** J3 model offset: rows dropped at the frame head. */
    def offset: Int = lookback + lookahead - 1
  }

  /** The windowing spec of a base estimator, if any (the model slot of
    * a Pipeline or the bare base). */
  def windowOf(base: Stage): Option[Windowed] = base match {
    case w: Windowed => Some(w)
    case PipelineOf(steps) => steps.lastOption.flatMap(windowOf)
    case _ => None
  }
  case class PipelineOf(steps: List[Stage]) extends Stage
  case class UnionOf(branches: List[Stage]) extends Stage
  case class Detector(base: Stage, scaler: Scaler, window: Option[Int],
                      smoothingMethod: Option[String], shuffle: Boolean) extends Stage
  case class CvSplit(method: String, nSplits: Int) extends Stage

  class CompileException(msg: String) extends RuntimeException(msg)

  private def kwargs(v: Any): Map[String, Any] = v match {
    case null              => Map.empty
    case m: Map[_, _]      => m.asInstanceOf[Map[String, Any]]
    case other             => throw new CompileException(s"expected kwargs map, got $other")
  }

  /** Compile one definition node: a bare class-path string or a
    * single-entry `{class.path: kwargs}` map. */
  def compile(definition: Any): Stage = definition match {
    case s: String => compileClass(s, Map.empty)
    case m: Map[_, _] =>
      val mm = m.asInstanceOf[Map[String, Any]]
      if (mm.size != 1)
        throw new CompileException(s"definition node must have one class key: ${mm.keys}")
      val (cls, kw) = mm.head
      compileClass(cls, kwargs(kw))
    case other => throw new CompileException(s"bad definition node: $other")
  }

  private def num(v: Any): Double = v match {
    // a null kwarg reaching here would be an anonymous NPE
    // (ConfigFuzzProps draws it); garbage text stays NumberFormatException
    // — both land inside the contract's accepted reject types
    case null => throw new CompileException("expected a number, got null")
    case _ => v.toString.toDouble
  }

  /** kwarg lookup treating an EXPLICIT YAML null (`kind:`) as absent —
    * the default applies, exactly as if the key were omitted; `.toString`
    * on the present-but-null value was an anonymous NPE. */
  private def kwOr(kw: Map[String, Any], key: String, dflt: Any): Any =
    kw.get(key).filter(_ != null).getOrElse(dflt)

  private def compileClass(cls: String, kw: Map[String, Any]): Stage = cls match {
    case "sklearn.pipeline.Pipeline" =>
      val steps = kw.getOrElse("steps",
        throw new CompileException("Pipeline needs steps")) match {
        case l: List[_] => l.map(compile)
        case other => throw new CompileException(s"steps must be a list: $other")
      }
      PipelineOf(steps.toList)
    case "sklearn.pipeline.FeatureUnion" =>
      val branches = kw.getOrElse("transformer_list", kw.getOrElse("steps",
        throw new CompileException("FeatureUnion needs transformer_list"))) match {
        case l: List[_] => l.map(compile)
        case other => throw new CompileException(s"transformer_list must be a list: $other")
      }
      UnionOf(branches.toList)
    case "sklearn.preprocessing.MinMaxScaler" => Scaler("minmax")
    case "sklearn.preprocessing.RobustScaler" => Scaler("robust")
    case "sklearn.preprocessing.FunctionTransformer" =>
      kw.get("func").flatMap(Option(_)).map(_.toString) match {
        case Some(f) if f.endsWith("multiply_by") =>
          Multiply(num(kwargs(kw.getOrElse("kw_args", Map.empty))
            .getOrElse("factor", 1.0)))
        case f => throw new CompileException(s"unsupported FunctionTransformer func: $f")
      }
    case "gordo.machine.model.transformers.imputer.InfImputer" =>
      Imputer(kwOr(kw, "strategy", "minmax").toString,
        num(kwOr(kw, "delta", 2.0)))
    case "gordo.machine.model.models.KerasAutoEncoder" =>
      // every feedforward factory — INCLUDING hourglass, the reference
      // default (`factories/feedforward_autoencoder.py:148-251`) — trains
      // the in-house seeded MLP autoencoder with the exact hourglass dim
      // math (§7.3(b)). Oracle-gated builds that need DuckDB-replayable
      // fits opt into the closed-form ridge via
      // [[substituteClosedForm]], and the builder records that
      // substitution in the model metadata — never silent.
      val kind = kwOr(kw, "kind", "feedforward_hourglass").toString
      val impl = if (kind.startsWith("feedforward_")) "mlp" else "ridge"
      Reconstruction(impl, kind)
    case "gordo.machine.model.models.KerasLSTMAutoEncoder" =>
      // lookahead 0: the window INCLUDES the current row (y = current).
      // Trains the in-house seeded recurrent cell ([[graft.ml.Lstm]]) —
      // real gates over the time-ordered window, shared weights across
      // steps (`models.py:463-710`)
      Windowed(num(kwOr(kw, "lookback_window", 1)).toInt, 0,
        Reconstruction("lstm", kwOr(kw, "kind", "lstm_hourglass").toString))
    case "gordo.machine.model.models.KerasLSTMForecast" =>
      // lookahead L ≥ 1: forecast the row L steps after the window. The
      // reference subclass pins L=1 (`models.py:703-704`) but its
      // generator accepts any L (`models.py:713-793`, tested at L=2);
      // exposed here as an optional `lookahead` kwarg.
      val la = num(kwOr(kw, "lookahead", 1)).toInt
      if (la < 1) throw new CompileException(
        s"KerasLSTMForecast lookahead must be >= 1: $la")
      Windowed(num(kwOr(kw, "lookback_window", 1)).toInt, la,
        Reconstruction("lstm", kwOr(kw, "kind", "lstm_hourglass").toString))
    case "sklearn.linear_model.LinearRegression" =>
      Reconstruction("ridge", "linear")
    case "gordo.machine.model.models.KerasRawModelRegressor" =>
      // `models.py:440-447`: the kind map must carry BOTH expected keys
      val kind = kwargs(kw.getOrElse("kind",
        throw new CompileException("KerasRawModelRegressor needs a kind map")))
      for (k <- Seq("spec", "compile") if !kind.contains(k))
        throw new CompileException(
          s"raw-spec kind must have keys (spec, compile); missing: $k")
      // compile kwargs: this engine trains mse + (full-batch) adam only —
      // reject silently-ignored alternatives
      val comp = kwargs(kind("compile"))
      for ((key, want) <- Seq("loss" -> "mse", "optimizer" -> "adam");
           v <- comp.get(key).filter(_ != null) if v.toString != want)
        throw new CompileException(
          s"raw-spec compile.$key='$v' unsupported (only '$want')")
      val spec = kwargs(kind("spec"))
      val seqKw = spec.get("tensorflow.keras.models.Sequential") match {
        case Some(v) => kwargs(v)
        case None => throw new CompileException(
          s"raw spec must be a tensorflow.keras.models.Sequential: ${spec.keys}")
      }
      val layers = seqKw.getOrElse("layers",
        throw new CompileException("Sequential needs layers")) match {
        case l: List[_] => l.map {
          case m: Map[_, _] =>
            val mm = m.asInstanceOf[Map[String, Any]]
            mm.toList match {
              case List(("tensorflow.keras.layers.Dense", dkw)) =>
                val d = kwargs(dkw)
                val units = num(d.getOrElse("units",
                  throw new CompileException("Dense needs units"))).toInt
                // keras Dense default activation is None → linear
                val act = d.get("activation").filter(_ != null)
                  .map(_.toString).getOrElse("linear")
                try graft.ml.Mlp.actCode(act)
                catch { case e: IllegalArgumentException =>
                  throw new CompileException(e.getMessage) }
                (units, act)
              case other => throw new CompileException(
                s"unsupported raw-spec layer: ${other.map(_._1)}")
            }
          case other =>
            throw new CompileException(s"bad raw-spec layer node: $other")
        }
        case other => throw new CompileException(s"layers must be a list: $other")
      }
      if (layers.isEmpty)
        throw new CompileException("raw spec needs at least one Dense layer")
      RawSpec(layers, kind)
    case "sklearn.decomposition.PCA" =>
      // sklearn accepts a positive int (rank), a float in (0,1) (variance
      // fraction), or None (keep all) — validate HERE so a bad value is a
      // clear config error, not a NumberFormatException mid-build
      val spec = kw.getOrElse("n_components", 1) match {
        case null => "all"
        case v =>
          val s = v.toString
          scala.util.Try(s.toDouble).toOption match {
            case Some(d) if d >= 1.0 && d == math.floor(d) => d.toInt.toString
            // canonicalize fractions: intoDefinition/reconstructorOf
            // dispatch on contains('.'), and YAML 1.1 hands "5e-1" over
            // as a dot-less STRING that would take the int branch and
            // NumberFormatException mid-build
            case Some(d) if d > 0.0 && d < 1.0 => d.toString
            case _ => throw new CompileException(
              s"PCA n_components must be a positive integer, a variance " +
                s"fraction in (0, 1), or null: $s")
          }
      }
      Reconstruction("pca", spec)
    case "sklearn.model_selection.TimeSeriesSplit" =>
      CvSplit("timeseries", kwOr(kw, "n_splits", 3).toString.toInt)
    case "sklearn.model_selection.KFold" =>
      CvSplit("kfold", kwOr(kw, "n_splits", 5).toString.toInt)
    case "gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector" =>
      val base = kw.get("base_estimator").map(compile)
        .getOrElse(Reconstruction("mlp", "feedforward_hourglass"))
      val scaler = kw.get("scaler").map(compile) match {
        case Some(s: Scaler) => s
        case None => Scaler("minmax")
        case Some(other) => throw new CompileException(s"scaler must be a Scaler: $other")
      }
      Detector(base, scaler,
        kw.get("window").filter(_ != null).map(_.toString.toInt),
        kw.get("smoothing_method").filter(_ != null).map(_.toString),
        kw.get("shuffle").filter(_ != null).exists(_.toString.toBoolean))
    case other => throw new CompileException(s"unsupported class path: $other")
  }

  /** Rewrite every iteratively-trained MLP node to its closed-form ridge
    * stand-in (DuckDB-replayable fits — what the correctness oracles
    * need, SURVEY §7.3(c)). Callers that use this MUST surface the
    * substitution; [[graft.build.ModelBuilder]] records it in the model
    * metadata (`impl` vs `impl_requested`) so a saved model never
    * silently claims an estimator family that didn't train. */
  def substituteClosedForm(stage: Stage): Stage = stage match {
    case Reconstruction("mlp", kind) => Reconstruction("ridge", kind)
    case Reconstruction("lstm", kind) => Reconstruction("ridge", kind)
    case RawSpec(_, _) => Reconstruction("ridge", "raw_spec")
    case PipelineOf(steps)  => PipelineOf(steps.map(substituteClosedForm))
    case UnionOf(branches)  => UnionOf(branches.map(substituteClosedForm))
    case Windowed(lb, la, inner) =>
      Windowed(lb, la,
        substituteClosedForm(inner).asInstanceOf[Reconstruction])
    case d: Detector => d.copy(base = substituteClosedForm(d.base))
    case other => other
  }

  /** M2: inverse compile with defaults materialized. */
  def intoDefinition(stage: Stage): Any = stage match {
    case PipelineOf(steps) =>
      Map("sklearn.pipeline.Pipeline" -> Map("steps" -> steps.map(intoDefinition)))
    case UnionOf(branches) =>
      Map("sklearn.pipeline.FeatureUnion" ->
        Map("transformer_list" -> branches.map(intoDefinition)))
    case Scaler("minmax") => "sklearn.preprocessing.MinMaxScaler"
    case Scaler(kind) => "sklearn.preprocessing.RobustScaler"
    case Imputer(strategy, delta) =>
      Map("gordo.machine.model.transformers.imputer.InfImputer" ->
        Map("strategy" -> strategy, "delta" -> delta))
    case Multiply(factor) =>
      Map("sklearn.preprocessing.FunctionTransformer" -> Map(
        "func" -> "gordo.machine.model.transformer_funcs.general.multiply_by",
        "kw_args" -> Map("factor" -> factor)))
    case Reconstruction("pca", k) =>
      val n: Any =
        if (k == "all") null
        else if (k.contains('.')) k.toDouble
        else k.toInt
      Map("sklearn.decomposition.PCA" -> Map("n_components" -> n))
    case Reconstruction(_, kind) =>
      Map("gordo.machine.model.models.KerasAutoEncoder" -> Map("kind" -> kind))
    case RawSpec(_, kind) =>
      Map("gordo.machine.model.models.KerasRawModelRegressor" ->
        Map("kind" -> kind))
    case Windowed(lb, la, Reconstruction(_, kind)) =>
      Map((if (la == 0) "gordo.machine.model.models.KerasLSTMAutoEncoder"
           else "gordo.machine.model.models.KerasLSTMForecast") ->
        (Map[String, Any]("kind" -> kind, "lookback_window" -> lb) ++
          (if (la >= 2) Map("lookahead" -> la) else Map.empty)))
    case CvSplit("timeseries", n) =>
      Map("sklearn.model_selection.TimeSeriesSplit" -> Map("n_splits" -> n))
    case CvSplit(_, n) =>
      Map("sklearn.model_selection.KFold" -> Map("n_splits" -> n))
    case Detector(base, scaler, window, smoothing, shuffle) =>
      Map("gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector" -> (Map(
        "base_estimator" -> intoDefinition(base),
        "scaler" -> intoDefinition(scaler),
        "shuffle" -> shuffle) ++
        window.map("window" -> _).toMap ++
        smoothing.map("smoothing_method" -> _).toMap))
  }

  /** Fit+transform the PREPROCESSING stages of a pipeline over a wide
    * frame (P6/P7/A3 composition; FeatureUnion §2.8 = branch outputs
    * selected over the same rows). Returns the transformed frame. The
    * final Reconstruction/Detector stage is handled by the builder. */
  def fitTransform(df: DataFrame, tags: Seq[String], stage: Stage): DataFrame =
    fitTransformCols(df, tags, stage)._1

  /** [[fitTransform]] threading the ACTIVE feature columns through the
    * chain: a stage after a FeatureUnion must transform the union's
    * branch outputs, not the original raw tags — sklearn Pipeline
    * semantics, where each step consumes the previous step's output
    * matrix. Returns (frame, columns the next stage operates on). */
  private def fitTransformCols(df: DataFrame, cols: Seq[String],
                               stage: Stage): (DataFrame, Seq[String]) =
    stage match {
      case PipelineOf(steps) =>
        steps.foldLeft((df, cols)) { case ((d, cs), s) =>
          fitTransformCols(d, cs, s) }
      case Scaler(kind) =>
        val s = if (kind == "minmax") Scalers.fitMinMax(df, cols)
                else Scalers.fitRobust(df, cols)
        (s.transform(df, cols), cols)
      case Imputer(strategy, delta) =>
        (InfImputer.fit(df, cols, strategy, delta).transform(df, cols), cols)
      case Multiply(factor) =>
        (cols.foldLeft(df)((d, t) =>
          d.withColumn(t, graft.Cols.q(t) * lit(factor))), cols)
      case UnionOf(branches) =>
        // column-wise composition over the SAME rows (no join): branch i
        // gets its own copy of the active columns (suffix __b{i}) and
        // its chain transforms those in place; the union's OUTPUT is
        // the concatenation of the branches' outputs
        val (out, unionCols) = branches.zipWithIndex
          .foldLeft((df, Seq.empty[String])) { case ((acc, ucols), (b, i)) =>
            val branchCols = cols.map(t => s"${t}__b$i")
            val withCopies = cols.zip(branchCols).foldLeft(acc) {
              case (a, (t, bc)) => a.withColumn(bc, graft.Cols.q(t))
            }
            val (d2, bOut) = fitTransformCols(withCopies, branchCols, b)
            (d2, ucols ++ bOut)
          }
        (out, unionCols)
      // estimator-stage nodes (incl. the raw-spec and windowed wrappers)
      // are the builder's job, not preprocessing — pass the frame through
      case _: Reconstruction | _: Detector | _: CvSplit | _: RawSpec |
           _: Windowed => (df, cols)
    }

  /** Extract the anomaly-detector spec from a compiled tree (the final
    * estimator of a Pipeline, or the node itself). */
  def detectorOf(stage: Stage): Option[Detector] = stage match {
    case d: Detector => Some(d)
    case PipelineOf(steps) => steps.reverseIterator.flatMap(detectorOf).nextOption()
    case _ => None
  }

  /** Build the engine Reconstructor for a compiled Reconstruction node. */
  def reconstructorOf(stage: Stage, orderCol: String, epoch0: Long): DiffAnomaly.Reconstructor =
    stage match {
      case Reconstruction("ridge", _) => new DiffAnomaly.RidgeReconstructor()
      case Reconstruction("mlp", _) => graft.ml.Mlp.MlpReconstructor.hourglass()
      case Reconstruction("lstm", _) => new graft.ml.Lstm.LstmReconstructor()
      case RawSpec(layers, _) => graft.ml.Mlp.MlpReconstructor.rawSpec(layers)
      case Reconstruction("pca", k) =>
        if (k == "all") new DiffAnomaly.PcaReconstructor(Int.MaxValue)
        else if (k.contains('.'))
          new DiffAnomaly.PcaReconstructor(1, Some(k.toDouble))
        else new DiffAnomaly.PcaReconstructor(k.toInt)
      case Reconstruction(impl, _) => new DiffAnomaly.TrendReconstructor(orderCol, epoch0)
      // the AE window shape includes each target's own current value as
      // a feature (t__lag0). For the MLP impl the hourglass bottleneck
      // already prevents a trivial identity fit, so the real net trains
      // over the flattened window; for closed-form impls a full-rank fit
      // WOULD learn the identity and emit zero thresholds, so they get
      // the bottlenecked window autoencoder. The forecast shape (lags
      // strictly precede the target) keeps the inner reconstruction.
      case Windowed(_, 0, Reconstruction("mlp", _)) =>
        graft.ml.Mlp.MlpReconstructor.hourglass()
      // the recurrent AE sees the current row as the last sequence step;
      // the gated bottleneck (finite epochs, shared step weights) keeps
      // the fit from collapsing to the identity, like the MLP case
      case Windowed(_, 0, Reconstruction("lstm", _)) =>
        new graft.ml.Lstm.LstmReconstructor()
      case Windowed(_, 0, _) => new DiffAnomaly.WindowAutoencoder()
      case Windowed(_, _, inner) => reconstructorOf(inner, orderCol, epoch0)
      case PipelineOf(Nil) =>
        throw new CompileException("empty base-estimator Pipeline")
      case PipelineOf(steps) => reconstructorOf(steps.last, orderCol, epoch0)
      case other => throw new CompileException(s"no reconstructor in $other")
    }

  /** The load side of [[reconstructorOf]]: a persisted
    * [[DiffAnomaly.Reconstructor.impl]] name → its family's
    * `fittedFromParams`, the same constructor the fit decoders call. A
    * new family is one reconstructor with an `impl` name plus one entry
    * here. */
  def fittedFromParams(impl: String, p: Map[String, Double],
                       tags: Seq[String], orderCol: String, epoch0: Long,
                       feature: String => Column): DiffAnomaly.Fitted =
    impl match {
      case "trend" =>
        DiffAnomaly.TrendReconstructor.fittedFromParams(p, orderCol, epoch0)
      case "ridge" => DiffAnomaly.RidgeReconstructor.fittedFromParams(p, tags, feature)
      case "pca" => DiffAnomaly.PcaReconstructor.fittedFromParams(p, tags, feature)
      case "window_ae" =>
        DiffAnomaly.WindowAutoencoder.fittedFromParams(p, tags, feature)
      case "mlp" => graft.ml.Mlp.fittedFromParams(p, tags, feature)
      case "lstm" => graft.ml.Lstm.fittedFromParams(p, tags, feature)
      case other => throw new IllegalStateException(s"unknown model impl: $other")
    }

  /** Preprocessing prefix of a base estimator: the stages before the
    * final Reconstruction of a `Pipeline[transforms..., model]` (the
    * reference's DEFAULT model shape — `Pipeline[MinMaxScaler,
    * KerasAutoEncoder]`). Unsupported shapes are an explicit
    * CompileException, never silently dropped. */
  def basePreprocess(base: Stage): List[Stage] = base match {
    case PipelineOf(steps) =>
      if (steps.isEmpty) throw new CompileException("empty base-estimator Pipeline")
      val prefix = steps.init.flatMap {
        case PipelineOf(inner) => inner
        case s => List(s)
      }
      prefix.foreach {
        case _: Scaler | _: Imputer | _: Multiply => ()
        case other => throw new CompileException(
          s"unsupported base-estimator preprocessing stage: $other")
      }
      // a nested Pipeline in the LAST slot contributes its own prefix
      // (reconstructorOf recurses into it for the model, so its transform
      // stages must not be silently dropped)
      prefix ++ basePreprocess(steps.last)
    case _ => Nil
  }

  /** Convert a compiled preprocessing prefix to the unfitted stage specs
    * [[Preprocess.Reconstructor]] refits per CV fold. */
  def preprocessSpecs(stages: List[Stage]): List[Preprocess.StageSpec] =
    stages.map {
      case Scaler(kind)             => Preprocess.ScalerSpec(kind)
      case Imputer(strategy, delta) => Preprocess.ImputerSpec(strategy, delta)
      case Multiply(factor)         => Preprocess.MultiplySpec(factor)
      case other => throw new CompileException(s"not a preprocessing stage: $other")
    }

  /** Fit the preprocessing prefix sequentially over the wide frame
    * (sklearn `Pipeline.fit`: each stage fits on the previous stage's
    * output). Each fit is one distributed agg pass; no materialized
    * intermediate — the chain stays pure column expressions. */
  def fitPreprocess(df: DataFrame, tags: Seq[String],
                    stages: List[Stage]): Preprocess.Fitted =
    Preprocess.fitStages(df, tags, preprocessSpecs(stages),
      t => graft.Cols.q(t).cast("double"))
}
