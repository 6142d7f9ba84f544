package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{DiffAnomaly, Mlp}

class MlpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 80-row 2-tag frame on a noisy line — an autoencoder with a width-2
    * bottleneck can reconstruct it well. */
  private def wide = (0 until 80).map { i =>
    (i * 600L, 10.0 + i * 0.5 + math.sin(i * 0.7),
      25.0 + i * 1.0 + math.cos(i * 0.9))
  }.toDF("bucket_ts", "tx", "ty")

  test("MLP fit is bit-deterministic for a fixed seed") {
    val r = Mlp.MlpReconstructor.mirrored(Seq(2), seed = 0L, epochs = 50)
    val a = r.fit(wide, Seq("tx", "ty")).params
    val b = r.fit(wide, Seq("tx", "ty")).params
    assert(a == b)
    val c = Mlp.MlpReconstructor.mirrored(Seq(2), seed = 1L, epochs = 50)
      .fit(wide, Seq("tx", "ty")).params
    assert(a != c)
  }

  test("backprop gradients match finite differences of an independent forward pass") {
    // Adam's first step is -lr * grad/(|grad| + eps) — pure sign(grad) —
    // so (params after 1 epoch) - (epochs=0 init) must oppose the
    // finite-difference gradient of an INDEPENDENTLY reimplemented
    // forward/loss at the init point (the LstmSpec check, for the MLP).
    val xTags = Seq("tx", "ty")
    def fitEpochs(e: Int) = Mlp.MlpReconstructor.mirrored(Seq(3), seed = 0L,
      epochs = e).fit(wide, xTags)
    val p0 = fitEpochs(0).params
    val p1 = fitEpochs(1).params

    val rows = wide.select(xTags.map(t => col(t).cast("double")): _*).collect()
    val n = rows.length
    val (nin, nout) = (2, 2)
    val nhidden = p0("nhidden").toInt
    val sizes = nin +: (0 until nhidden).map(l => p0(s"dim_$l").toInt) :+ nout
    val acts = (0 until sizes.length - 1).map(l => p0(s"act_$l").toInt)
    val xs = Array.tabulate(n, nin)((r, i) =>
      (rows(r).getDouble(i) - p0(s"xmu_$i")) / p0(s"xsd_$i"))
    val ys = Array.tabulate(n, nout) { (r, j) =>
      val t = xTags(j)
      (rows(r).getDouble(j) - p0(s"ymu_$t")) / p0(s"ysd_$t")
    }
    def applyAct(code: Int, s: Double): Double = code match {
      case 0 => math.tanh(s)
      case 1 => if (s > 0) s else 0.0
      case 2 => s
      case 3 => 1.0 / (1.0 + math.exp(-s))
    }
    def loss(p: Map[String, Double]): Double = {
      var acc = 0.0
      for (r <- 0 until n) {
        var a = Array.tabulate(nin)(xs(r))
        for (l <- 0 until sizes.length - 1) {
          a = Array.tabulate(sizes(l + 1)) { j =>
            var s = p(s"bias_${l}_$j")
            for (i <- 0 until sizes(l)) s += a(i) * p(s"w_${l}_${i}_$j")
            applyAct(acts(l), s)
          }
        }
        for (j <- 0 until nout) { val e = a(j) - ys(r)(j); acc += e * e }
      }
      acc / (n.toDouble * nout)
    }
    val weightKeys = p0.keys.filter(k =>
      k.startsWith("w_") || k.startsWith("bias_")).toSeq.sorted
    val h = 1e-5
    var checked = 0
    for (k <- weightKeys) {
      val fd = (loss(p0.updated(k, p0(k) + h)) -
        loss(p0.updated(k, p0(k) - h))) / (2 * h)
      val step = p1(k) - p0(k)
      if (math.abs(fd) > 1e-6) {
        checked += 1
        assert(math.signum(step) == -math.signum(fd),
          s"$k: first Adam step $step must oppose FD gradient $fd")
      }
    }
    assert(checked > weightKeys.size / 2,
      s"gradient check must cover most weights, got $checked/${weightKeys.size}")
  }

  test("seeded MLP fits pin their params bit for bit") {
    // a digest of every param's raw bits: any change to the training
    // arithmetic (init, standardization, summation order, Adam) moves it
    val tags = Seq("tx", "ty")
    val hourglass = Mlp.MlpReconstructor.hourglass(seed = 0L, epochs = 60)
    val rawSpec = Mlp.MlpReconstructor.rawSpec(
      Seq((3, "tanh"), (2, "linear")), seed = 0L, epochs = 60)
    assert(MlpSpec.paramDigest(hourglass.fit(wide, tags).params) ==
      "5b2a03f26f50d9a6a9f20762e9495a4b51976e2f7e3945aa809f36cf51bc1fb9")
    assert(MlpSpec.paramDigest(rawSpec.fit(wide, tags).params) ==
      "02bda054f0186b87bb437202b30906bbe70bcbe44cfd948f1e51c088b230833b")
  }

  test("MLP learns: training reduces reconstruction error vs the init") {
    def mse(epochs: Int): Double = {
      val m = Mlp.MlpReconstructor.mirrored(Seq(2), seed = 0L, epochs = epochs)
        .fit(wide, Seq("tx", "ty"))
      wide.select(avg(
        pow(m.predictCol("tx") - $"tx", 2) +
          pow(m.predictCol("ty") - $"ty", 2))).head().getDouble(0)
    }
    val trained = mse(400)
    assert(trained < mse(1) / 10.0,
      s"training barely improved: ${mse(1)} -> $trained")
    // a 2-wide tanh AE on a noisy line should reconstruct well in raw
    // units: per-tag variance is ~130/~530, so mse < 10 means the
    // reconstruction explains > 98% of it
    assert(trained < 10.0, s"absolute reconstruction error too high: $trained")
  }

  test("MLP tolerates nulls: fit drops null rows, predict yields null") {
    val withNull = (0 until 40).map { i =>
      (i * 600L,
        if (i == 5) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(10.0 + i * 0.5),
        java.lang.Double.valueOf(25.0 + i * 1.0))
    }.toDF("bucket_ts", "tx", "ty")
    val m = Mlp.MlpReconstructor.mirrored(Seq(2), seed = 0L, epochs = 50)
      .fit(withNull, Seq("tx", "ty"))
    // row 5 has a null input → null prediction (not a task crash)
    val preds = withNull.select($"bucket_ts", m.predictCol("tx").as("p"))
      .orderBy($"bucket_ts").collect()
    assert(preds.count(_.isNullAt(1)) == 1)
    assert(preds(5).isNullAt(1))
  }

  test("MLP round-trips through model persistence bit-for-bit") {
    val tmp = Scratch.dir("graft-mlp")
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      Mlp.MlpReconstructor.mirrored(Seq(2), seed = 0L, epochs = 100), nSplits = 3)
    graft.build.Persistence.save(tmp,
      graft.build.Persistence.stateOf(fitted, 0L))
    val loaded = graft.build.Persistence.load(tmp)
    val a = DiffAnomaly.anomaly(fitted, wide, 600L)
      .agg(sum($"`model-output.tx`"), sum($"`total-anomaly-unscaled`")).head()
    val b = DiffAnomaly.anomaly(loaded, wide, 600L)
      .agg(sum($"`model-output.tx`"), sum($"`total-anomaly-unscaled`")).head()
    assert(a == b)
  }

  test("config-driven LSTM forecast windows features through build AND serve") {
    val long = wide.selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val tmp = Scratch.dir("graft-lstm")
    val res = graft.build.ModelBuilder.build(
      graft.config.Config.parseYaml(
        """
          |name: lstm-machine
          |dataset:
          |  tag_list: [tx, ty]
          |  resolution: 10T
          |model:
          |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
          |    base_estimator:
          |      gordo.machine.model.models.KerasLSTMForecast:
          |        kind: lstm_symmetric
          |        lookback_window: 2
          |""".stripMargin),
      globals = graft.config.Config.defaultGlobals,
      long = long, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = s"$tmp/model", projectName = Some("lstm-project"))
    // X = the lag feature columns; y = the raw tags; offset = lookback
    assert(res.fitted.tags.toSet ==
      Set("tx__lag1", "tx__lag2", "ty__lag1", "ty__lag2"))
    assert(res.fitted.targets == Seq("tx", "ty"))
    assert(res.metadata("model").asInstanceOf[Map[String, Any]](
      "model_offset") == 2)
    // serve path: score() re-applies the windowing to the RAW frame
    val rawWide = graft.data.TimeSeries.getData(long, "tag", "ts", "value",
      graft.config.Config.datasetConfig(res.spec))
    val frame = graft.build.ModelBuilder.score(s"$tmp/model", rawWide, 600L)
    assert(frame.count() == 80 - 2) // J3 offset rows dropped
    assert(frame.columns.contains("model-input.tx__lag1"))
    assert(frame.columns.contains("model-output.tx"))
    assert(frame.filter($"`model-output.tx`".isNull).count() == 0)
    // the definition round-trips with the LSTM class and lookback intact
    val defn = res.metadata("model").asInstanceOf[Map[String, Any]](
      "definition").toString
    assert(defn.contains("KerasLSTMForecast") && defn.contains("lookback_window"))
    // autoencoder variant: window includes the current row, offset 1.
    // NOISY series — the critical property is that the detector is NOT
    // degenerate: the window includes each target's own current value
    // (t__lag0), so a full-rank fit would learn the identity and emit
    // zero thresholds; the bottlenecked window autoencoder must leave
    // strictly positive residuals
    val noisyLong = (0 until 80).map { i =>
      (i * 600L, 10.0 + i * 0.5 + math.sin(i * 1.7) * 4.0,
        25.0 + i * 1.0 + math.cos(i * 2.3) * 5.0)
    }.toDF("bucket_ts", "tx", "ty").selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val resAe = graft.build.ModelBuilder.build(
      graft.config.Config.parseYaml(
        """
          |name: lstm-ae-machine
          |dataset:
          |  tag_list: [tx, ty]
          |  resolution: 10T
          |model:
          |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
          |    base_estimator:
          |      gordo.machine.model.models.KerasLSTMAutoEncoder:
          |        kind: lstm_hourglass
          |        lookback_window: 2
          |""".stripMargin),
      globals = graft.config.Config.defaultGlobals,
      long = noisyLong, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = s"$tmp/model-ae", projectName = Some("lstm-project"))
    assert(resAe.fitted.tags.toSet ==
      Set("tx__lag0", "tx__lag1", "ty__lag0", "ty__lag1"))
    assert(resAe.metadata("model").asInstanceOf[Map[String, Any]](
      "model_offset") == 1)
    assert(resAe.fitted.thresholds.aggregateThreshold > 1e-6,
      s"degenerate AE: threshold ${resAe.fitted.thresholds.aggregateThreshold}")
    // and the AE serves from disk over the raw frame
    val rawAe = graft.data.TimeSeries.getData(noisyLong, "tag", "ts", "value",
      graft.config.Config.datasetConfig(resAe.spec))
    val fAe = graft.build.ModelBuilder.score(s"$tmp/model-ae", rawAe, 600L)
    assert(fAe.count() == 80 - 1)
    assert(fAe.filter($"`total-anomaly-confidence`".isNull).count() == 0)
  }

  test("windowed model with a scaler prefix fits stats per RAW tag and serves") {
    val long = wide.selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val tmp = Scratch.dir("graft-lstm-sc")
    val res = graft.build.ModelBuilder.build(
      graft.config.Config.parseYaml(
        """
          |name: lstm-scaled-machine
          |dataset:
          |  tag_list: [tx, ty]
          |  resolution: 10T
          |model:
          |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
          |    base_estimator:
          |      sklearn.pipeline.Pipeline:
          |        steps:
          |          - sklearn.preprocessing.MinMaxScaler
          |          - gordo.machine.model.models.KerasLSTMForecast:
          |              kind: lstm_symmetric
          |              lookback_window: 2
          |""".stripMargin),
      globals = graft.config.Config.defaultGlobals,
      long = long, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = s"$tmp/model", projectName = Some("lstm-project"))
    // preprocessing stats are keyed by RAW tag (one (min,max) per tag,
    // shared by its lags), not per lag column
    val prep = res.fitted.model match {
      case pf: graft.ml.Preprocess.PreprocessedFitted => pf.prep
      case other => fail(s"expected preprocessed model, got $other")
    }
    val scalerStage = prep.stages.collectFirst {
      case s: graft.ml.Preprocess.ScalerStage => s
    }.get
    assert(scalerStage.stats.keySet == Set("tx", "ty"))
    // load-then-score round trip through the windowed + scaled path
    val rawWide = graft.data.TimeSeries.getData(long, "tag", "ts", "value",
      graft.config.Config.datasetConfig(res.spec))
    val a = graft.ml.DiffAnomaly.anomaly(res.fitted,
      graft.ml.Windows.withLookback(rawWide, Seq("tx", "ty"), "bucket_ts", 2, 1)._1, 600L)
      .agg(sum($"`model-output.tx`")).head().getDouble(0)
    val b = graft.build.ModelBuilder.score(s"$tmp/model", rawWide, 600L)
      .agg(sum($"`model-output.tx`")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-9)
  }

  test("default hourglass kind trains the MLP; closed-form substitution is recorded") {
    // the reference's DEFAULT model kind (`factories/feedforward_
    // autoencoder.py:148-251`) must train the real in-house net — not a
    // silently substituted ridge
    val long = wide.selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val yaml =
      """
        |name: hourglass-machine
        |dataset:
        |  tag_list: [tx, ty]
        |  resolution: 10T
        |model:
        |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    base_estimator:
        |      gordo.machine.model.models.KerasAutoEncoder:
        |        kind: feedforward_hourglass
        |""".stripMargin
    def buildOnce(out: String, closedForm: Boolean) =
      graft.build.ModelBuilder.build(
        graft.config.Config.parseYaml(yaml),
        globals = graft.config.Config.defaultGlobals,
        long = long, keyCol = "tag", tsCol = "ts", valueCol = "value",
        outputDir = out, projectName = Some("hg-project"),
        closedForm = closedForm)
    val tmp = Scratch.dir("graft-hg")
    val a = buildOnce(s"$tmp/a", closedForm = false)
    def modelMeta(r: graft.build.ModelBuilder.BuildResult) =
      r.metadata("model").asInstanceOf[Map[String, Any]]
    // the MLP trained, and metadata says so truthfully
    assert(modelMeta(a)("impl") == "mlp")
    assert(!modelMeta(a).contains("impl_substitution"))
    val p = a.fitted.model.params
    // hourglass layer dims from the ACTUAL feature count: 2 features,
    // compression 0.5, 2 encoding layers → encoder (2, 1), mirrored
    // decoder (1, 2) — hourglassDims semantics of the reference's
    // factory (`feedforward_autoencoder.py:148-251`)
    val expectedDims = graft.ml.Windows.hourglassDims(0.5, 2, 2)
    assert(expectedDims == Seq(2, 1))
    val hidden = expectedDims ++ expectedDims.reverse
    assert(p("nhidden").toInt == hidden.size)
    hidden.zipWithIndex.foreach { case (d, l) =>
      assert(p(s"dim_$l").toInt == d, s"layer $l") }
    // bit-deterministic: a second build trains identical weights
    val b = buildOnce(s"$tmp/b", closedForm = false)
    assert(b.fitted.model.params == p)
    // A10: the metadata carries the keras-History analog — per-epoch
    // loss, strictly fewer than the init loss by the end
    val hist = modelMeta(a)("history").asInstanceOf[Map[String, Any]]
    val losses = hist("loss").asInstanceOf[List[Double]]
    assert(losses.size == 300)
    assert(losses.last < losses.head,
      s"training did not descend: ${losses.head} -> ${losses.last}")
    assert(hist("params").asInstanceOf[Map[String, Any]]("metrics")
      == List("loss"))
    // the explicit closed-form path trains ridge AND records it
    val c = buildOnce(s"$tmp/c", closedForm = true)
    assert(modelMeta(c)("impl") == "ridge")
    // closed-form fits have no epochs — no history key (A10 contract)
    assert(!modelMeta(c).contains("history"))
    assert(modelMeta(c)("impl_requested") == "mlp")
    assert(modelMeta(c)("impl_substitution").toString.contains("closed-form"))
    // the definition still round-trips the configured class path in both
    assert(modelMeta(a)("definition").toString.contains("KerasAutoEncoder"))
    assert(modelMeta(c)("definition").toString.contains("KerasAutoEncoder"))
    // a closed-form build never aliases the full build in the registry
    assert(graft.build.Persistence.cacheKey(a.spec) !=
      graft.build.Persistence.cacheKey(a.spec, closedForm = true))
  }

  test("raw-spec regressor (M7) compiles, trains, and serves from a Dense spec") {
    import graft.config.{Config, ModelRegistry}
    // the reference's doctest shape (`models.py:408-435`): compile kwargs
    // + an explicit Sequential/Dense stack; last Dense = output layer
    val yaml =
      """
        |name: raw-spec-machine
        |dataset:
        |  tag_list: [tx, ty]
        |  resolution: 10T
        |model:
        |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    base_estimator:
        |      gordo.machine.model.models.KerasRawModelRegressor:
        |        kind:
        |          compile:
        |            loss: mse
        |            optimizer: adam
        |          spec:
        |            tensorflow.keras.models.Sequential:
        |              layers:
        |                - tensorflow.keras.layers.Dense:
        |                    units: 3
        |                    activation: tanh
        |                - tensorflow.keras.layers.Dense:
        |                    units: 4
        |                    activation: relu
        |                - tensorflow.keras.layers.Dense:
        |                    units: 2
        |""".stripMargin
    val compiled = ModelRegistry.compile(
      Config.machineFromConfig(Config.parseYaml(yaml), Some("p")).model)
    val raw = ModelRegistry.detectorOf(compiled).get.base
      .asInstanceOf[ModelRegistry.RawSpec]
    assert(raw.layers == List((3, "tanh"), (4, "relu"), (2, "linear")))
    // into_definition round-trips the raw kind map to a compile fixpoint
    assert(ModelRegistry.compile(ModelRegistry.intoDefinition(compiled))
      == compiled)
    // end-to-end: build, persist, reload, score — deterministically
    val long = wide.selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val tmp = Scratch.dir("graft-raw")
    def build(out: String) = graft.build.ModelBuilder.build(
      Config.parseYaml(yaml), globals = Config.defaultGlobals,
      long = long, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = out, projectName = Some("raw-project"))
    val res = build(s"$tmp/a")
    val p = res.fitted.model.params
    // architecture persisted: hidden (3, 4), activations tanh/relu/linear
    assert(p("nhidden").toInt == 2)
    assert((p("dim_0").toInt, p("dim_1").toInt) == ((3, 4)))
    assert((p("act_0").toInt, p("act_1").toInt, p("act_2").toInt) ==
      ((graft.ml.Mlp.ActTanh, graft.ml.Mlp.ActRelu, graft.ml.Mlp.ActLinear)))
    assert(res.metadata("model").asInstanceOf[Map[String, Any]]("impl") == "mlp")
    assert(build(s"$tmp/b").fitted.model.params == p) // bit-deterministic
    val frame = graft.build.ModelBuilder.score(s"$tmp/a",
      graft.data.TimeSeries.getData(long, "tag", "ts", "value",
        Config.datasetConfig(res.spec)), 600L)
    assert(frame.count() == 80)
    assert(frame.filter($"`model-output.tx`".isNull).count() == 0)
    // config errors are compile-time and specific
    def compileOf(y: String) = ModelRegistry.compile(Config.parseYaml(y))
    intercept[ModelRegistry.CompileException](compileOf(
      """gordo.machine.model.models.KerasRawModelRegressor:
        |  kind:
        |    spec:
        |      tensorflow.keras.models.Sequential:
        |        layers:
        |          - tensorflow.keras.layers.Dense: {units: 2}""".stripMargin))
    intercept[ModelRegistry.CompileException](compileOf(
      """gordo.machine.model.models.KerasRawModelRegressor:
        |  kind:
        |    compile: {loss: mae, optimizer: adam}
        |    spec:
        |      tensorflow.keras.models.Sequential:
        |        layers:
        |          - tensorflow.keras.layers.Dense: {units: 2}""".stripMargin))
    intercept[ModelRegistry.CompileException](compileOf(
      """gordo.machine.model.models.KerasRawModelRegressor:
        |  kind:
        |    compile: {loss: mse, optimizer: adam}
        |    spec:
        |      tensorflow.keras.models.Sequential:
        |        layers:
        |          - tensorflow.keras.layers.Dense:
        |              units: 2
        |              activation: swish""".stripMargin))
    // last-layer units must match the target count — a clear fit error
    val bad = yaml.replace("units: 2", "units: 5")
    val e = intercept[IllegalArgumentException] {
      graft.build.ModelBuilder.build(
        Config.parseYaml(bad), globals = Config.defaultGlobals,
        long = long, keyCol = "tag", tsCol = "ts", valueCol = "value",
        outputDir = s"$tmp/bad", projectName = Some("raw-project"))
    }
    assert(e.getMessage.contains("target"), e.getMessage)
  }

  test("config-driven build with a non-hourglass feedforward kind trains the MLP") {
    val long = wide.selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val tmp = Scratch.dir("graft-mlpb")
    val res = graft.build.ModelBuilder.build(
      graft.config.Config.parseYaml(
        """
          |name: mlp-machine
          |dataset:
          |  tag_list: [tx, ty]
          |  resolution: 10T
          |model:
          |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
          |    base_estimator:
          |      gordo.machine.model.models.KerasAutoEncoder:
          |        kind: feedforward_symmetric
          |""".stripMargin),
      globals = graft.config.Config.defaultGlobals,
      long = long, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = s"$tmp/model", projectName = Some("mlp-project"))
    assert(res.fitted.model.params.contains("nin"))
    // serve path: load and score
    val frame = graft.build.ModelBuilder.score(s"$tmp/model",
      graft.data.TimeSeries.getData(long, "tag", "ts", "value",
        graft.config.Config.datasetConfig(res.spec)), 600L)
    assert(frame.count() == 80)
    assert(frame.filter($"`model-output.tx`".isNull).count() == 0)
  }
}

object MlpSpec {
  /** SHA-256 over a fit's params in key order: each key's UTF-8 bytes,
    * a 0 separator, then the value's raw IEEE-754 bits. */
  def paramDigest(p: Map[String, Double]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    p.toSeq.sortBy(_._1).foreach { case (k, v) =>
      md.update(k.getBytes("UTF-8"))
      md.update(0.toByte)
      md.update(java.nio.ByteBuffer.allocate(8)
        .putLong(java.lang.Double.doubleToRawLongBits(v)).array())
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
