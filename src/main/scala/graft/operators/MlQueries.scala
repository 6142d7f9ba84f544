package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.data.TimeSeries
import graft.ml.{CrossValidate, Ewma, InfImputer, Metrics, Scalers}

/** Oracle-checked coverage for the ML-support operators (SURVEY A2/A3/A8/
  * A9, F3, J4, P6, W4): scalers, InfImputer, regression metrics, CV fold
  * logic and the EWMA kernel — each wired into a query DuckDB recomputes.
  */
object MlQueries {

  import Parity.r4

  private val tags = Seq("click", "error", "purchase", "signup", "view")

  /** Daily-resampled wide frame (one column per event_type series). */
  private def dailyWide(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 86400L)
    TimeSeries.pivotWide(r, "event_type", tags)
  }

  /** A9/M14: the reference's four regression metrics per target series in
    * ONE aggregation pass, scored against a least-squares linear
    * reconstruction (regr_slope/regr_intercept — deterministic, unlike a
    * NN). Ref: `gordo/builder/build_model.py:377-446`. */
  def metricsLinear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .withColumn("x", (unix_timestamp($"ts") - lit(1704067200L)).cast("double"))
    val fit = ev.groupBy($"event_type")
      .agg(regr_slope($"value", $"x").as("b"),
        regr_intercept($"value", $"x").as("a"))
    val yhat = $"a" + $"b" * $"x"
    ev.join(broadcast(fit), "event_type")
      .groupBy($"event_type")
      .agg(
        r4(Metrics.explainedVariance($"value", yhat)).as("ev"),
        r4(Metrics.r2($"value", yhat)).as("r2"),
        r4(Metrics.mse($"value", yhat)).as("mse"),
        r4(Metrics.mae($"value", yhat)).as("mae"))
      .orderBy($"event_type")
  }

  /** J4/A8: sklearn TimeSeriesSplit(3) expanding-window folds over the
    * 1h-resampled click series, scoring each fold's test span against the
    * train-mean predictor (ref: split defaults
    * `gordo/builder/build_model.py:257-261`, fold metadata `:347-375`). */
  def cvFolds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events").filter($"event_type" === "click")
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 3600L)
    // the DiffAnomaly.fit segmented-CV shape in miniature: the row count
    // rides the indexing's bounds agg, the fold train means derive from
    // ONE segmented sum/count pass (fold i's train span = segments 0..i
    // — prefix sums merged on the driver), and every fold's test MSE
    // comes from ONE grouped agg. Merging segment sums re-associates
    // float addition — the same class of difference as changing the
    // partition count, and the oracle's r4 rounding is the documented
    // tolerance for it.
    val (indexed0, nOpt) =
      CrossValidate.withRowIndexCounted(r, Seq($"bucket_ts"))
    val indexedLease = graft.SessionCache.acquire(indexed0)
    val indexed = indexedLease.df
    try {
      val n = nOpt.getOrElse(indexed.count())
      val folds = CrossValidate.timeSeriesSplit(n, 3)
      val segEnds = folds.map(_.testStart) :+ n
      val segRows = indexed
        .groupBy(CrossValidate.spanId((0L +: segEnds.init).zip(segEnds)).as("__seg"))
        .agg(sum($"value").as("__sum"), count(lit(1)).as("__cnt"))
        .collect().map(r => r.getAs[Int]("__seg") ->
          (r.getAs[Double]("__sum"), r.getAs[Long]("__cnt"))).toMap
      val trainMeans = folds.map { f =>
        val (s, c) = (0 to f.index).map(segRows(_))
          .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        f.index -> s / c
      }.toMap
      val trainMeanOf = CrossValidate.onFold(
        folds.map(f => f.index -> lit(trainMeans(f.index))))
      val testRows = indexed.filter($"__row" >= folds.head.testStart)
        .withColumn("__fold",
          CrossValidate.spanId(folds.map(f => (f.testStart, f.testEnd))))
        .groupBy($"__fold")
        .agg(r4(avg(pow($"value" - trainMeanOf, 2))).as("mse"),
          count(lit(1)).as("n_test"))
        .collect().map(r => r.getAs[Int]("__fold") ->
          (r.getAs[Long]("n_test"), r.getAs[Double]("mse"))).toMap
      val rows = folds.map { f =>
        val (nTest, mse) = testRows(f.index)
        (f.index.toLong, f.nTrain, nTest, mse)
      }
      spark.createDataFrame(rows).toDF("fold", "n_train", "n_test", "mse")
        .orderBy($"fold")
    } finally indexedLease.close()
  }

  /** A3/F3 (MinMax): fit on the full wide frame in one agg pass, then
    * scale — sklearn MinMaxScaler semantics
    * (`gordo/machine/model/anomaly/diff.py:350-358` usage). */
  def minmaxScale(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wide = dailyWide(spark, dir)
    val scaler = Scalers.fitMinMax(wide, tags)
    scaler.transform(wide, tags)
      .select(($"bucket_ts" +: tags.map(t => r4(col(t)).as(t))): _*)
      .orderBy($"bucket_ts")
  }

  /** A3 (Robust): sklearn RobustScaler — (x − median)/(q3 − q1) with
    * exact linear-interpolated quantiles. */
  def robustScale(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wide = dailyWide(spark, dir)
    val scaler = Scalers.fitRobust(wide, tags)
    scaler.transform(wide, tags)
      .select(($"bucket_ts" +: tags.map(t => r4(col(t)).as(t))): _*)
      .orderBy($"bucket_ts")
  }

  /** P6/A2: InfImputer minmax strategy — ±inf injected deterministically,
    * then filled with the per-column finite max+2 / min−2
    * (ref: `gordo/machine/model/transformers/imputer.py:57-127`). */
  def infImpute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("click", "view")
    val wide = dailyWide(spark, dir).select("bucket_ts", cols: _*)
    val withInf = cols.foldLeft(wide)((d, c) => d.withColumn(c,
      when(col(c) > 55.0, lit(Double.PositiveInfinity))
        .when(col(c) < 45.0, lit(Double.NegativeInfinity))
        .otherwise(col(c))))
    val imputer = InfImputer.fit(withInf, cols, strategy = "minmax", delta = 2.0)
    imputer.transform(withInf, cols)
      .select(($"bucket_ts" +: cols.map(c => r4(col(c)).as(c))): _*)
      .orderBy($"bucket_ts")
  }

  /** W4: EWMA with pandas ewm(span=30).mean() adjust=True semantics over
    * the 1h-resampled click series — the custom streaming kernel
    * (ref: `gordo/machine/model/anomaly/diff.py:307-308`). */
  def ewmaSeries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events").filter($"event_type" === "click")
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 3600L)
    Ewma.ewma(r, Seq("event_type"), "bucket_ts", "value", span = 30.0)
      .select($"bucket_ts", r4($"ewma").as("ewma"))
      .orderBy($"bucket_ts")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_metrics_linear" -> (metricsLinear _),
    "q24_cv_folds" -> (cvFolds _),
    "q25_minmax_scale" -> (minmaxScale _),
    "q26_robust_scale" -> (robustScale _),
    "q27_inf_imputer" -> (infImpute _),
    "q28_ewma" -> (ewmaSeries _),
  )

  private val dailyWideSql =
    """SELECT bucket_ts,
      | max(CASE WHEN event_type = 'click' THEN value END) AS click,
      | max(CASE WHEN event_type = 'error' THEN value END) AS error,
      | max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
      | max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
      | max(CASE WHEN event_type = 'view' THEN value END) AS view
      |FROM (SELECT event_type, (epoch_us(ts)//1000000//86400)*86400 AS bucket_ts,
      |             avg(value) AS value
      |      FROM events GROUP BY 1, 2)
      |GROUP BY bucket_ts""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q23_metrics_linear" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |         CAST(epoch_us(ts)//1000000 - 1704067200 AS DOUBLE) AS x
        |  FROM events),
        |f AS (SELECT event_type, regr_slope(value, x) AS b,
        |             regr_intercept(value, x) AS a
        |      FROM e GROUP BY 1)
        |SELECT e.event_type,
        | floor((1.0 - var_pop(value - (a + b*x)) / var_pop(value))*10000 + 0.5)/10000 AS ev,
        | floor((1.0 - sum(pow(value - (a + b*x), 2)) / (var_pop(value) * count(*)))*10000 + 0.5)/10000 AS r2,
        | floor((avg(pow(value - (a + b*x), 2)))*10000 + 0.5)/10000 AS mse,
        | floor((avg(abs(value - (a + b*x))))*10000 + 0.5)/10000 AS mae
        |FROM e JOIN f USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q24_cv_folds" ->
      """WITH r AS (
        |  SELECT (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts, avg(value) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |idx AS (SELECT value, row_number() OVER (ORDER BY bucket_ts) - 1 AS rn FROM r),
        |nn AS (SELECT count(*) AS n FROM idx),
        |folds AS (SELECT t.i AS fold,
        |            n - (3 - t.i)*(n//4) AS test_start,
        |            n - (2 - t.i)*(n//4) AS test_end
        |          FROM nn CROSS JOIN (VALUES (0), (1), (2)) AS t(i)),
        |tm AS (SELECT f.fold, avg(i.value) AS train_mean
        |       FROM folds f JOIN idx i ON i.rn < f.test_start GROUP BY 1)
        |SELECT f.fold, f.test_start AS n_train, count(*) AS n_test,
        |       floor((avg(pow(i.value - tm.train_mean, 2)))*10000 + 0.5)/10000 AS mse
        |FROM folds f JOIN tm USING (fold)
        |JOIN idx i ON i.rn >= f.test_start AND i.rn < f.test_end
        |GROUP BY f.fold, f.test_start
        |ORDER BY f.fold""".stripMargin,
    "q25_minmax_scale" ->
      s"""WITH w AS ($dailyWideSql),
        |s AS (SELECT min(click) AS mn1, max(click) AS mx1,
        |             min(error) AS mn2, max(error) AS mx2,
        |             min(purchase) AS mn3, max(purchase) AS mx3,
        |             min(signup) AS mn4, max(signup) AS mx4,
        |             min(view) AS mn5, max(view) AS mx5 FROM w)
        |SELECT bucket_ts,
        | floor(((click - mn1)/(mx1 - mn1))*10000 + 0.5)/10000 AS click,
        | floor(((error - mn2)/(mx2 - mn2))*10000 + 0.5)/10000 AS error,
        | floor(((purchase - mn3)/(mx3 - mn3))*10000 + 0.5)/10000 AS purchase,
        | floor(((signup - mn4)/(mx4 - mn4))*10000 + 0.5)/10000 AS signup,
        | floor(((view - mn5)/(mx5 - mn5))*10000 + 0.5)/10000 AS view
        |FROM w CROSS JOIN s
        |ORDER BY bucket_ts""".stripMargin,
    "q26_robust_scale" ->
      s"""WITH w AS ($dailyWideSql),
        |s AS (SELECT
        |  quantile_cont(click, 0.5) AS md1, quantile_cont(click, 0.75) - quantile_cont(click, 0.25) AS iq1,
        |  quantile_cont(error, 0.5) AS md2, quantile_cont(error, 0.75) - quantile_cont(error, 0.25) AS iq2,
        |  quantile_cont(purchase, 0.5) AS md3, quantile_cont(purchase, 0.75) - quantile_cont(purchase, 0.25) AS iq3,
        |  quantile_cont(signup, 0.5) AS md4, quantile_cont(signup, 0.75) - quantile_cont(signup, 0.25) AS iq4,
        |  quantile_cont(view, 0.5) AS md5, quantile_cont(view, 0.75) - quantile_cont(view, 0.25) AS iq5
        | FROM w)
        |SELECT bucket_ts,
        | floor(((click - md1)/iq1)*10000 + 0.5)/10000 AS click,
        | floor(((error - md2)/iq2)*10000 + 0.5)/10000 AS error,
        | floor(((purchase - md3)/iq3)*10000 + 0.5)/10000 AS purchase,
        | floor(((signup - md4)/iq4)*10000 + 0.5)/10000 AS signup,
        | floor(((view - md5)/iq5)*10000 + 0.5)/10000 AS view
        |FROM w CROSS JOIN s
        |ORDER BY bucket_ts""".stripMargin,
    "q27_inf_imputer" ->
      s"""WITH w AS ($dailyWideSql),
        |inj AS (SELECT bucket_ts,
        |  CASE WHEN click > 55.0 THEN 'infinity'::DOUBLE
        |       WHEN click < 45.0 THEN '-infinity'::DOUBLE ELSE click END AS click,
        |  CASE WHEN view > 55.0 THEN 'infinity'::DOUBLE
        |       WHEN view < 45.0 THEN '-infinity'::DOUBLE ELSE view END AS view
        | FROM w),
        |s AS (SELECT
        |  max(CASE WHEN isfinite(click) THEN click END) + 2.0 AS pos1,
        |  min(CASE WHEN isfinite(click) THEN click END) - 2.0 AS neg1,
        |  max(CASE WHEN isfinite(view) THEN view END) + 2.0 AS pos2,
        |  min(CASE WHEN isfinite(view) THEN view END) - 2.0 AS neg2
        | FROM inj)
        |SELECT bucket_ts,
        | floor((CASE WHEN click = 'infinity'::DOUBLE THEN pos1
        |             WHEN click = '-infinity'::DOUBLE THEN neg1
        |             ELSE click END)*10000 + 0.5)/10000 AS click,
        | floor((CASE WHEN view = 'infinity'::DOUBLE THEN pos2
        |             WHEN view = '-infinity'::DOUBLE THEN neg2
        |             ELSE view END)*10000 + 0.5)/10000 AS view
        |FROM inj CROSS JOIN s
        |ORDER BY bucket_ts""".stripMargin,
    "q28_ewma" ->
      """WITH r AS (
        |  SELECT (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts, avg(value) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |idx AS (SELECT bucket_ts, value,
        |               row_number() OVER (ORDER BY bucket_ts) AS i FROM r)
        |SELECT a.bucket_ts,
        |  floor((sum(b.value * pow(1.0 - 2.0/31.0, a.i - b.i))
        |         / sum(pow(1.0 - 2.0/31.0, a.i - b.i)))*10000 + 0.5)/10000 AS ewma
        |FROM idx a JOIN idx b ON b.i <= a.i
        |GROUP BY a.bucket_ts, a.i
        |ORDER BY a.bucket_ts""".stripMargin,
  )
}
