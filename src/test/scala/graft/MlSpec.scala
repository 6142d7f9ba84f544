package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{CrossValidate, Ewma, InfImputer, Metrics, Scalers, Windows}

class MlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("TimeSeriesSplit matches sklearn expanding-window boundaries") {
    val folds = CrossValidate.timeSeriesSplit(10, 3)
    assert(folds.map(f => (f.trainEnd, f.testStart, f.testEnd))
      == Seq((4L, 4L, 6L), (6L, 6L, 8L), (8L, 8L, 10L)))
    // non-divisible n: sklearn floors test_size, first fold absorbs the rest
    val f11 = CrossValidate.timeSeriesSplit(11, 3)
    assert(f11.map(f => (f.trainEnd, f.testEnd)) == Seq((5L, 7L), (7L, 9L), (9L, 11L)))
  }

  test("aggregateScores mirrors the reference fold-stat dict") {
    val s = CrossValidate.aggregateScores(Seq(1.0, 2.0, 3.0))
    assert(s("fold-mean") == 2.0)
    assert(math.abs(s("fold-std") - math.sqrt(2.0 / 3.0)) < 1e-12)
    assert(s("fold-max") == 3.0 && s("fold-min") == 1.0 && s("fold-2") == 2.0)
  }

  test("r2/explained-variance follow sklearn's constant-y convention") {
    // flatlined sensor over a fold: denominator 0 → 0.0 (imperfect) or
    // 1.0 (perfect), never a null/exception poisoning the fold stats
    def run(y: Seq[Double], p: Seq[Double]): (Double, Double) = {
      val df = y.zip(p).toDF("y", "p")
      val r = df.agg(Metrics.r2($"y", $"p").as("r2"),
        Metrics.explainedVariance($"y", $"p").as("ev")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    assert(run(Seq(5.0, 5.0, 5.0), Seq(4.0, 5.0, 6.0)) == ((0.0, 0.0)))
    assert(run(Seq(5.0, 5.0, 5.0), Seq(5.0, 5.0, 5.0)) == ((1.0, 1.0)))
    // non-degenerate values unchanged (sklearn formulas)
    val (r2v, evv) = run(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 2.0))
    assert(math.abs(r2v - 0.5) < 1e-12)
    assert(math.abs(evv - (1.0 - (2.0 / 9) / (2.0 / 3))) < 1e-12)
  }

  test("scaler fit fails loudly for an all-null column") {
    val df = Seq((1.0, Option.empty[Double]), (2.0, None))
      .toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Scalers.fitMinMax(df, Seq("a", "b"))
    }
    assert(e.getMessage.contains("b"))
    intercept[IllegalArgumentException] {
      Scalers.fitRobust(df, Seq("a", "b"))
    }
  }

  test("kfcv thresholds go NaN (not 0) when the series is shorter than the window") {
    import graft.ml.DiffAnomaly
    // 40 rows << window=144: every smooth value is in the null prefix;
    // a 0.0 threshold would make EVERY row infinitely anomalous
    val wide = (0 until 40).map(i => (i * 600L, 1.0 + i, 2.0 + i))
      .toDF("bucket_ts", "ta", "tb")
    val fd = DiffAnomaly.fitKfcv(wide, Seq("ta", "tb"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 5,
      window = 144)
    assert(fd.thresholds.aggregateThreshold.isNaN)
    assert(fd.thresholds.featureThresholds.values.forall(_.isNaN))
  }

  test("a tag literally named 'mse' does not clobber the aggregate threshold") {
    import graft.ml.DiffAnomaly
    // invariant: thresholds cannot depend on what a tag is CALLED —
    // pre-fix, tag "mse"'s rolling alias overwrote the aggregate's
    def fit(tags: Seq[String]) = {
      val wide = (0 until 60).map(i =>
        (i * 600L, 1.0 + i + (i % 5) * 3.0, 50.0 - i * 0.5 + (i % 7)))
        .toDF(("bucket_ts" +: tags): _*)
      DiffAnomaly.fit(wide, tags, "bucket_ts",
        new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3)
    }
    val withMse = fit(Seq("mse", "b"))
    val renamed = fit(Seq("m2", "b"))
    assert(withMse.thresholds.aggregateThreshold
      == renamed.thresholds.aggregateThreshold)
    assert(withMse.thresholds.featureThresholds("mse")
      == renamed.thresholds.featureThresholds("m2"))
  }

  test("sliding windows drop rows whose frame lost a value to a null") {
    import graft.ml.Windows
    val df = Seq(("a", 0L, Some(1.0)), ("a", 1L, Some(2.0)),
      ("a", 2L, Option.empty[Double]), ("a", 3L, Some(4.0)),
      ("a", 4L, Some(5.0)), ("a", 5L, Some(6.0)))
      .toDF("k", "t", "v")
    val got = Windows.slidingWindows(df, Seq("k"), Seq(col("t")), "v",
      lookback = 2, lookahead = 0)
      .select($"t", $"window").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toMap
    // rows at t=2 (null value) and its frame-mates t=3 lost a value —
    // collect_list skips nulls, so those frames are SHORT and must drop
    assert(got == Map(1L -> Seq(1.0, 2.0), 4L -> Seq(4.0, 5.0),
      5L -> Seq(5.0, 6.0)))
  }

  test("EWMA matches pandas ewm(span=3, adjust=True) hand-computed values") {
    val df = Seq(("a", 0L, 0.0), ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0))
      .toDF("k", "t", "v")
    val got = Ewma.ewma(df, Seq("k"), "t", "v", span = 3.0)
      .orderBy($"t").select($"ewma").as[Double].collect()
    val exp = Seq(0.0, 1.0 / 1.5, 2.5 / 1.75, 4.25 / 1.875)
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("EWMA resets per series and handles nulls with absolute-position weights") {
    val df = Seq(("a", 0L, Some(2.0)), ("a", 1L, None), ("a", 2L, Some(4.0)),
      ("b", 0L, Some(10.0)))
      .toDF("k", "t", "v")
    val got = Ewma.ewma(df, Seq("k"), "t", "v", span = 3.0)
      .orderBy($"k", $"t").select($"ewma").as[Double].collect()
    // t2 for series a: weights (1-α)^2=0.25 on x0, 1 on x2 (gap decays)
    assert(math.abs(got(1) - 2.0) < 1e-12)            // null row keeps prior mean
    assert(math.abs(got(2) - (2.0 * 0.25 + 4.0) / 1.25) < 1e-12)
    assert(got(3) == 10.0)                            // new series resets state
  }

  test("MinMax and Robust scalers reproduce sklearn formulas") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("v")
    val mm = Scalers.fitMinMax(df, Seq("v"))
    assert(mm.transform(df, Seq("v")).agg(min($"v"), max($"v"))
      .as[(Double, Double)].head() == ((0.0, 1.0)))
    val rb = Scalers.fitRobust(df, Seq("v"))
    assert(rb.stats("v") == ((3.0, 2.0))) // median 3, IQR = 4 − 2
    // zero-range column scales by 1 (sklearn _handle_zeros_in_scale)
    val const = Seq(7.0, 7.0).toDF("v")
    val c = Scalers.fitMinMax(const, Seq("v"))
    assert(c.transform(const, Seq("v")).select($"v").as[Double].head() == 0.0)
  }

  test("scaler inverse round-trips") {
    val df = Seq(3.0, 9.0, 27.0).toDF("v")
    val s = Scalers.fitMinMax(df, Seq("v"))
    val back = s.inverse(s.transform(df, Seq("v")), Seq("v"))
      .select($"v").as[Double].collect().sorted
    assert(back.zip(Seq(3.0, 9.0, 27.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("InfImputer fills +inf with max+delta and -inf with min-delta") {
    val df = Seq(1.0, 5.0, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("v")
    val imp = InfImputer.fit(df, Seq("v"), delta = 2.0)
    assert(imp.fills("v") == ((7.0, -1.0)))
    val out = imp.transform(df, Seq("v")).select($"v").as[Double].collect().sorted
    assert(out.toSeq == Seq(-1.0, 1.0, 5.0, 7.0))
  }

  test("metrics match sklearn formulas on a known fixture") {
    val df = Seq((3.0, 2.5), (-0.5, 0.0), (2.0, 2.0), (7.0, 8.0)).toDF("y", "yhat")
    val row = df.agg(
      Metrics.r2($"y", $"yhat").as("r2"),
      Metrics.mse($"y", $"yhat").as("mse"),
      Metrics.mae($"y", $"yhat").as("mae"),
      Metrics.explainedVariance($"y", $"yhat").as("ev")).head()
    assert(math.abs(row.getAs[Double]("r2") - 0.9486081370449679) < 1e-12)
    assert(math.abs(row.getAs[Double]("mse") - 0.375) < 1e-12)
    assert(math.abs(row.getAs[Double]("mae") - 0.5) < 1e-12)
    assert(math.abs(row.getAs[Double]("ev") - 0.9571734475374732) < 1e-12)
  }

  test("every ML query key has a matching oracle") {
    import graft.operators.MlQueries
    assert(MlQueries.oracleSql.keySet == MlQueries.queries.keySet)
  }

  test("slidingWindows: lookahead target is the series value at t+lookahead even across dropped null rows") {
    // v(2) = null ⇒ rows t=2,3 drop (short windows), but t=1's forecast
    // target is STILL v(2) = null — lead() over the filtered frame
    // would silently hand it v(4), a target 3 steps ahead instead of 1
    val df = Seq(("a", 0L, Some(1.0)), ("a", 1L, Some(2.0)),
      ("a", 2L, Option.empty[Double]), ("a", 3L, Some(4.0)),
      ("a", 4L, Some(5.0)), ("a", 5L, Some(6.0)))
      .toDF("k", "t", "v")
    val got = Windows.slidingWindows(df, Seq("k"), Seq(col("t")), "v",
      lookback = 2, lookahead = 1)
      .select($"t", $"y").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(1L -> None, 4L -> Some(6.0), 5L -> None))
  }

  test("metrics: r2 and explained variance score over the PAIRED population when predictions have nulls") {
    // pairs present: (0,0), (10,12); the (20, null) row is out of BOTH
    // numerator and denominator — sklearn drops the sample, it does not
    // keep y=20 in the variance
    val df = Seq((0.0, Some(0.0)), (10.0, Some(12.0)),
      (20.0, Option.empty[Double])).toDF("y", "p")
    val row = df.agg(
      Metrics.r2($"y", $"p").as("r2"),
      Metrics.explainedVariance($"y", $"p").as("ev")).head()
    // paired: ȳ=5, var_pop=25, n=2 ⇒ r2 = 1 − 4/50; residual var_pop=1
    // over paired var 25 ⇒ ev = 1 − 1/25
    assert(math.abs(row.getDouble(0) - 0.92) < 1e-12)
    assert(math.abs(row.getDouble(1) - 0.96) < 1e-12)
  }

  test("chunkedTrailing: a frame containing a null observation scores null (pandas min_periods = window)") {
    val vs = Seq(Some(1.0), Some(2.0), None, Some(4.0), Some(5.0),
      Some(6.0), Some(7.0))
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("__row", "v")
    for (chunkSize <- Seq(4, 4096)) { // carry path and bounded path
      val got = Windows.chunkedTrailing(df, "__row", 0L, width = 3,
        Seq(("v", "o", "min")), chunkSize = chunkSize,
        totalRows = if (chunkSize == 4096) vs.size.toLong else -1L)
        .orderBy($"__row").select($"o").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      // windows covering index 2 (rows 2, 3, 4) are partial ⇒ null,
      // like the width−1 prefix; full frames aggregate normally
      assert(got.toSeq == Seq(None, None, None, None, None,
        Some(4.0), Some(5.0)), s"chunkSize=$chunkSize")
    }
  }

  test("ewma: NaN input is a missing observation, not a permanent poison") {
    val df = Seq(("a", 0L, 2.0), ("a", 1L, Double.NaN), ("a", 2L, 4.0))
      .toDF("k", "t", "v")
    val got = Ewma.ewma(df, Seq("k"), "t", "v", span = 3.0)
      .orderBy($"t").select($"ewma").as[Double].collect()
    // pandas ewm(span=3, adjust=True): weights (1−α)^age with α=0.5,
    // the NaN row repeats the prior mean and t=2 uses absolute-position
    // weights (0.25, 1) — num poisoned by NaN would make ALL of these NaN
    val exp = Seq(2.0, 2.0, (0.25 * 2.0 + 4.0) / 1.25)
    got.zip(exp).foreach { case (g, e) =>
      assert(!g.isNaN && math.abs(g - e) < 1e-12, s"got=${got.toSeq}") }
  }

  test("kFold folds compose with trainFold: train = complement of the test span") {
    val indexed = spark.range(10).select($"id".as("__row"), ($"id" * 2).as("v"))
    val folds = CrossValidate.kFold(10, nSplits = 5)
    folds.foreach { f =>
      val train = CrossValidate.trainFold(indexed, f)
        .select($"__row").as[Long].collect().toSet
      val test = indexed
        .filter(CrossValidate.spanId(folds.map(g => (g.testStart, g.testEnd))) === f.index)
        .select($"__row").as[Long].collect().toSet
      assert(test == (f.testStart until f.testEnd).toSet)
      assert(train == (0L until 10L).toSet -- test,
        s"fold ${f.index}: train must be the complement, not empty")
    }
  }
}
