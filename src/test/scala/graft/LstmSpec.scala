package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{DiffAnomaly, Lstm}

/** The in-house recurrent cell (M6/M10): sequence reassembly from lag
  * columns, seeded determinism, descending training loss, persistence
  * round-trip, and the config path training `impl = lstm` end-to-end.
  */
class LstmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // an AR-flavored 2-tag series a recurrent cell can actually learn
  private lazy val wide = {
    var (a, b) = (5.0, 12.0)
    (0 until 90).map { i =>
      a = 0.8 * a + 0.3 * math.sin(i * 0.7) + 2.0
      b = 0.6 * b + 0.4 * a + math.cos(i * 1.1)
      (i * 600L, a, b)
    }.toDF("bucket_ts", "tx", "ty")
  }

  test("sequence index reassembles lag columns oldest-first in tag order") {
    // forecast shape: lags 1..2 per tag, tag-major column order
    val idx = Lstm.sequenceIndex(
      Seq("tx__lag1", "tx__lag2", "ty__lag1", "ty__lag2"))
    // step 0 = oldest (lag2): indices of tx__lag2, ty__lag2
    assert(idx.map(_.toSeq).toSeq == Seq(Seq(1, 3), Seq(0, 2)))
    // AE shape: lags 0..1, current row is the LAST step
    val ae = Lstm.sequenceIndex(
      Seq("tx__lag0", "tx__lag1", "ty__lag0", "ty__lag1"))
    assert(ae.map(_.toSeq).toSeq == Seq(Seq(1, 3), Seq(0, 2)))
    // non-windowed inputs degrade to one step
    assert(Lstm.sequenceIndex(Seq("a", "b")).map(_.toSeq).toSeq ==
      Seq(Seq(0, 1)))
    // mismatched lag sets are a hard error
    intercept[IllegalArgumentException] {
      Lstm.sequenceIndex(Seq("tx__lag1", "ty__lag2"))
    }
  }

  test("lookahead=2 windowing matches the reference generator semantics") {
    // the reference generator test
    // (`tests/gordo/machine/model/test_model.py:296`, semantics
    // `models.py:713-793`): X = y = [[0,1],[2,3],[4,5],[6,7],[8,9]],
    // lookback=2, lookahead=2 → exactly two samples,
    //   x=[[0,1],[2,3]] y=[6,7]  and  x=[[2,3],[4,5]] y=[8,9]
    // (target = 2 steps after the window's last element).
    val tiny = Seq(
      (0L, 0.0, 1.0), (1L, 2.0, 3.0), (2L, 4.0, 5.0),
      (3L, 6.0, 7.0), (4L, 8.0, 9.0)).toDF("bucket_ts", "tx", "ty")
    val (lagged, names) = graft.ml.Windows.withLookback(
      tiny, Seq("tx", "ty"), "bucket_ts", lookback = 2, lookahead = 2)
    assert(names == Seq("tx__lag2", "tx__lag3", "ty__lag2", "ty__lag3"))
    val rows = lagged.orderBy($"bucket_ts")
      .select($"tx__lag3", $"ty__lag3", $"tx__lag2", $"ty__lag2", $"tx", $"ty")
      .collect().map(r => (0 until 6).map(r.getDouble))
    // offset = lookback + lookahead − 1 = 3: rows 0..2 drop, 2 survive
    assert(rows.length == 2)
    assert(rows(0) == Seq(0.0, 1.0, 2.0, 3.0, 6.0, 7.0))
    assert(rows(1) == Seq(2.0, 3.0, 4.0, 5.0, 8.0, 9.0))
    // the sequence index orders the lag-2/3 window oldest-first
    val idx = Lstm.sequenceIndex(names)
    assert(idx.map(_.toSeq).toSeq == Seq(Seq(1, 3), Seq(0, 2)))
  }

  test("KerasLSTMForecast routes an explicit lookahead through the registry") {
    import graft.config.ModelRegistry
    val w = ModelRegistry.compile(Map(
      "gordo.machine.model.models.KerasLSTMForecast" -> Map(
        "kind" -> "lstm_hourglass", "lookback_window" -> 2, "lookahead" -> 2)))
      .asInstanceOf[ModelRegistry.Windowed]
    assert(w.lookback == 2 && w.lookahead == 2 && w.offset == 3)
    // M2 fixpoint: the definition round-trips the non-default lookahead
    assert(ModelRegistry.compile(ModelRegistry.intoDefinition(w)) == w)
    // the default stays the reference subclass's pinned L=1 (and its
    // frozen definition keeps the pre-existing two-key shape)
    val w1 = ModelRegistry.compile(Map(
      "gordo.machine.model.models.KerasLSTMForecast" -> Map(
        "kind" -> "lstm_hourglass", "lookback_window" -> 2)))
      .asInstanceOf[ModelRegistry.Windowed]
    assert(w1.lookahead == 1 && w1.offset == 2)
    assert(ModelRegistry.intoDefinition(w1).asInstanceOf[Map[String, Any]]
      .values.head.asInstanceOf[Map[String, Any]].keySet ==
      Set("kind", "lookback_window"))
    intercept[ModelRegistry.CompileException] {
      ModelRegistry.compile(Map(
        "gordo.machine.model.models.KerasLSTMForecast" ->
          Map("lookahead" -> 0)))
    }
  }

  test("fit is seed-deterministic and the training loss descends") {
    val lagged = graft.ml.Windows.withLookback(
      wide, Seq("tx", "ty"), "bucket_ts", 2, 1)._1
    val xTags = Seq("tx__lag1", "tx__lag2", "ty__lag1", "ty__lag2")
    def fitOnce() = new Lstm.LstmReconstructor(seed = 0L, epochs = 120)
      .fit(lagged, xTags, Seq("tx", "ty"), graft.Cols.q)
    val f1 = fitOnce(); val f2 = fitOnce()
    assert(f1.params == f2.params, "same seed must give identical weights")
    val loss = f1.history("loss").asInstanceOf[List[Double]]
    assert(loss.size == 120)
    assert(loss.last < loss.head * 0.5,
      s"loss must descend: ${loss.head} -> ${loss.last}")
    assert(loss.forall(v => !v.isNaN && !v.isInfinite))
    // a different seed trains different weights (the seed is live)
    val f3 = new Lstm.LstmReconstructor(seed = 7L, epochs = 120)
      .fit(lagged, xTags, Seq("tx", "ty"), graft.Cols.q)
    assert(f3.params != f1.params)
  }

  test("seeded LSTM fits pin their params bit for bit") {
    // forecast over lag columns (two steps) and the single-step cell
    val lagged = graft.ml.Windows.withLookback(
      wide, Seq("tx", "ty"), "bucket_ts", 2, 1)._1
    val xTags = Seq("tx__lag1", "tx__lag2", "ty__lag1", "ty__lag2")
    val yTags = Seq("tx", "ty")
    val r = new Lstm.LstmReconstructor(seed = 0L, epochs = 40)
    assert(MlpSpec.paramDigest(
      r.fit(lagged, xTags, yTags, graft.Cols.q).params) ==
      "07e5dedb8dfcdd3bca5d1c87dc1d20e637b85412e57b48f4edea95dde5f13c0e")
    assert(MlpSpec.paramDigest(r.fit(wide, yTags).params) ==
      "6e79fb6ee80652f99fe88e3f0c62570253889e678bf4ae15de2e8bca00387944")
  }

  test("BPTT gradients match finite differences of an independent forward pass") {
    // Adam's FIRST step is -lr * grad/(|grad| + eps) — pure sign(grad) —
    // so (params after 1 epoch) - (init params) must move OPPOSITE the
    // finite-difference gradient of the loss at the init point, for an
    // INDEPENDENTLY reimplemented forward/loss. Catches any systematic
    // BPTT error (wrong gate derivative, dropped carry term, index slip).
    val lagged = graft.ml.Windows.withLookback(
      wide, Seq("tx", "ty"), "bucket_ts", 2, 1)._1
    val xTags = Seq("tx__lag1", "tx__lag2", "ty__lag1", "ty__lag2")
    val yTags = Seq("tx", "ty")
    def fitEpochs(e: Int) = new Lstm.LstmReconstructor(seed = 0L, epochs = e)
      .fit(lagged, xTags, yTags, graft.Cols.q)
    val p0 = fitEpochs(0).params // the seeded init (epochs=0: no steps)
    val p1 = fitEpochs(1).params

    // independent forward + mean-squared loss over the standardized data
    val rows = lagged.select(
      (xTags ++ yTags).map(t => graft.Cols.q(t).cast("double")): _*)
      .na.drop("any").collect()
    val n = rows.length
    val (nin, nout) = (xTags.size, yTags.size)
    val units = p0("units").toInt
    val nsteps = p0("nsteps").toInt
    val nfeat = p0("nfeat").toInt
    val seqIdx = Array.tabulate(nsteps, nfeat)((s, f) => p0(s"seqidx_${s}_$f").toInt)
    val xs = Array.tabulate(n, nin)((r, i) =>
      (rows(r).getDouble(i) - p0(s"xmu_$i")) / p0(s"xsd_$i"))
    val ys = Array.tabulate(n, nout) { (r, j) =>
      val t = yTags(j)
      (rows(r).getDouble(nin + j) - p0(s"ymu_$t")) / p0(s"ysd_$t")
    }
    def sigm(x: Double) = 1.0 / (1.0 + math.exp(-x))
    def loss(p: Map[String, Double]): Double = {
      var acc = 0.0
      for (r <- 0 until n) {
        val h = new Array[Double](units)
        val c = new Array[Double](units)
        for (s <- 0 until nsteps) {
          val hN = new Array[Double](units)
          val cN = new Array[Double](units)
          for (u <- 0 until units) {
            def gate(g: Int): Double = {
              var a = p(s"lb_${g}_$u")
              for (f <- 0 until nfeat) a += xs(r)(seqIdx(s)(f)) * p(s"lw_${g}_${f}_$u")
              for (u0 <- 0 until units) a += h(u0) * p(s"lu_${g}_${u0}_$u")
              a
            }
            val (ig, fg, gg, og) =
              (sigm(gate(0)), sigm(gate(1)), math.tanh(gate(2)), sigm(gate(3)))
            cN(u) = fg * c(u) + ig * gg
            hN(u) = og * math.tanh(cN(u))
          }
          System.arraycopy(hN, 0, h, 0, units)
          System.arraycopy(cN, 0, c, 0, units)
        }
        for (j <- 0 until nout) {
          var yhat = p(s"lby_$j")
          for (u <- 0 until units) yhat += h(u) * p(s"lwy_${u}_$j")
          val e = yhat - ys(r)(j)
          acc += e * e
        }
      }
      acc / (n.toDouble * nout)
    }
    val weightKeys = p0.keys.filter(k => k.startsWith("lw_") ||
      k.startsWith("lu_") || k.startsWith("lb_") ||
      k.startsWith("lwy_") || k.startsWith("lby_")).toSeq.sorted
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

  test("LSTM round-trips through model persistence bit-for-bit") {
    val lagged = graft.ml.Windows.withLookback(
      wide, Seq("tx", "ty"), "bucket_ts", 2, 1)._1
    val fitted = DiffAnomaly.fit(lagged,
      Seq("tx__lag1", "tx__lag2", "ty__lag1", "ty__lag2"), "bucket_ts",
      new Lstm.LstmReconstructor(seed = 0L, epochs = 80), nSplits = 3,
      targetTags = Seq("tx", "ty"))
    val tmp = Scratch.dir("graft-lstm-rt")
    graft.build.Persistence.save(tmp,
      graft.build.Persistence.stateOf(fitted, 0L))
    val loaded = graft.build.Persistence.load(tmp)
    val a = DiffAnomaly.anomaly(fitted, lagged, 600L)
      .agg(sum($"`model-output.tx`"), sum($"`total-anomaly-unscaled`")).head()
    val b = DiffAnomaly.anomaly(loaded, lagged, 600L)
      .agg(sum($"`model-output.tx`"), sum($"`total-anomaly-unscaled`")).head()
    assert(a == b)
  }

  test("config path trains the recurrent cell with impl recorded") {
    val long = wide.selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val tmp = Scratch.dir("graft-lstm-impl")
    val res = graft.build.ModelBuilder.build(
      graft.config.Config.parseYaml(
        """
          |name: lstm-impl-machine
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
    val model = res.metadata("model").asInstanceOf[Map[String, Any]]
    // the REAL recurrent cell trained — no substitution recorded
    assert(model("impl") == "lstm")
    assert(!model.contains("impl_requested"))
    // A10: the keras-History analog rode through the build
    val hist = model("history").asInstanceOf[Map[String, Any]]
    val loss = hist("loss").asInstanceOf[List[Double]]
    assert(loss.nonEmpty && loss.last < loss.head)
    // recurrent weight params persisted (gate tensors present)
    assert(res.fitted.model.params.keys.exists(_.startsWith("lu_")))
    // closed-form substitution still routes lstm -> ridge and RECORDS it
    val sub = graft.build.ModelBuilder.build(
      graft.config.Config.parseYaml(
        """
          |name: lstm-sub-machine
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
      outputDir = s"$tmp/model-sub", projectName = Some("lstm-project"),
      closedForm = true)
    val subModel = sub.metadata("model").asInstanceOf[Map[String, Any]]
    assert(subModel("impl") == "ridge" && subModel("impl_requested") == "lstm")
  }

  test("lookahead=2 build trains the cell, persists, and serves with offset 3") {
    val long = wide.selectExpr(
      "stack(2, 'tx', tx, 'ty', ty) as (tag, value)",
      "timestamp_seconds(bucket_ts) as ts")
      .select($"tag", $"ts", $"value")
    val tmp = Scratch.dir("graft-lstm-la2")
    val res = graft.build.ModelBuilder.build(
      graft.config.Config.parseYaml(
        """
          |name: lstm-la2-machine
          |dataset:
          |  tag_list: [tx, ty]
          |  resolution: 10T
          |model:
          |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
          |    base_estimator:
          |      gordo.machine.model.models.KerasLSTMForecast:
          |        kind: lstm_symmetric
          |        lookback_window: 2
          |        lookahead: 2
          |""".stripMargin),
      globals = graft.config.Config.defaultGlobals,
      long = long, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = s"$tmp/model", projectName = Some("lstm-project"))
    val model = res.metadata("model").asInstanceOf[Map[String, Any]]
    assert(model("impl") == "lstm")
    // J3 offset generalizes: lookback + lookahead − 1
    assert(model("model_offset") == 3)
    // the cell consumed the L-shifted lag set (oldest = lag3)
    assert(res.fitted.model.params.keys.exists(_.startsWith("lu_")))
    // save/load/score round-trip: the serve path re-applies the SAME
    // L=2 window surgery from persisted state and drops 3 head rows
    val wideRows = wide.count()
    val frame = graft.build.ModelBuilder.score(s"$tmp/model", wide, 600L)
    assert(frame.count() == wideRows - 3)
    val cols = frame.columns.toSet
    assert(cols.contains("model-output.tx") && cols.contains("start"))
  }
}
