package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.data.{AsOfJoin, TimeSeries}
import graft.data.TimeSeries.DatasetConfig

/** Oracle-checked coverage for the time-series dataset engine
  * (SURVEY §2 S1/J1/A1/P2–P5): every public `TimeSeries` function wired
  * into a query whose answer DuckDB recomputes independently.
  *
  * All queries run over the `events` table (30 days, 5 event_type series,
  * ~2k irregular points each at sf0.01) treating `event_type` as the
  * sensor-tag key — the same long→wide shape gordo's dataset assembly
  * works on. Oracle parity conventions follow RelationalQueries.scala:
  * epoch-second BIGINT buckets, round(x,4) on aggregated doubles, total
  * ORDER BY.
  */
object TimeSeriesQueries {

  private val H = 3600L

  // bit-identical 4-decimal rounding for oracle parity — the full
  // Spark-vs-DuckDB half-rounding rationale lives on the ONE shared
  // definition in [[Parity.r4]]
  import Parity.r4

  /** A1: resample to 1h buckets, mean per (tag, bucket) — pandas
    * `resample("1H").mean()` left-closed/left-labeled semantics
    * (ref: default aggregation `tests/gordo/workflow/test_config_elements.py:139`). */
  def resampleMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    TimeSeries.resample(ev, Seq("event_type"), "ts", "value", H, "mean")
      .select($"event_type", $"bucket_ts", r4($"value").as("value"))
      .orderBy($"event_type", $"bucket_ts")
  }

  /** J1 densify + ffill-with-limit: 10-min grid over the `click` series,
    * forward-fill only across gaps ≤ 30 min (interpolation_limit as a
    * TIME bound, SURVEY §7.4 hard part). */
  def gridFfill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events").filter($"event_type" === "click")
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 600L)
    val g = TimeSeries.fullGrid(r, Seq("event_type"), 600L)
    TimeSeries.ffill(g, Seq("event_type"), limitSec = 1800L)
      .select($"bucket_ts", r4($"value").as("value"))
      .orderBy($"bucket_ts")
  }

  /** J1 linear interpolation with time-bounded anchor distance (the gordo
    * default `interpolation_method=linear_interpolation`, limit 1h). */
  def gridInterpolate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events").filter($"event_type" === "purchase")
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 600L)
    val g = TimeSeries.fullGrid(r, Seq("event_type"), 600L)
    TimeSeries.interpolateLinear(g, Seq("event_type"), limitSec = 3600L)
      .select($"bucket_ts", r4($"value").as("value"))
      .orderBy($"bucket_ts")
  }

  /** P2+P3: row_filter predicate plus buffer — drop failing rows AND the 2
    * neighbors on each side within the series (ref surface:
    * `tests/gordo/workflow/test_config_elements.py:155-156`). */
  def rowFilterBuffer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    TimeSeries.rowFilterWithBuffer(ev, Seq("event_type"), Seq("ts", "event_id"),
      predicate = $"value" < 150.0, buffer = 2)
      .select($"event_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** P4: known_filter_periods — explicit closed intervals dropped via an
    * OR-chain literal predicate (pushes to the scan). */
  def knownPeriods(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    TimeSeries.dropKnownPeriods(ev, "ts", Seq(
      ("2024-01-05 00:00:00", "2024-01-08 00:00:00"),
      ("2024-01-20 12:00:00", "2024-01-22 06:30:00")))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), r4(avg($"value")).as("avg_value"))
      .orderBy($"event_type")
  }

  /** P5 (iqr): per-series quantile fences [q1−1.5·IQR, q3+1.5·IQR], exact
    * linear-interpolated percentiles (ref config:
    * `tests/gordo/workflow/test_config_elements.py:104-109`). */
  def filterIqr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    TimeSeries.filterPeriodsIqr(ev, Seq("event_type"), "value", nIqr = 1.5)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), r4(avg($"value")).as("avg_value"))
      .orderBy($"event_type")
  }

  /** P5 (median): residual vs centered rolling(72) median, fenced at
    * 2·IQR of the residuals per series. Runs on the 10-min RESAMPLED
    * series — per-series rows bounded by calendar span (months ×
    * 144/day), the partitioning that stays flat as event volume grows;
    * the reference's filter_periods likewise operates on the resampled
    * grid, not raw events. */
  def filterMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 600L)
    TimeSeries.filterPeriodsMedian(r, Seq("event_type"), Seq("bucket_ts"),
      "value", window = 72, nIqr = 2.0)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), r4(avg($"value")).as("avg_value"))
      .orderBy($"event_type")
  }

  /** J1 pivot: daily resample pivoted wide — one column per tag, the
    * alignment join expressed as a single shuffle+pivot. */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 86400L)
    TimeSeries.pivotWide(r, "event_type",
      Seq("click", "error", "purchase", "signup", "view"))
      .select($"bucket_ts",
        r4($"click").as("click"), r4($"error").as("error"),
        r4($"purchase").as("purchase"), r4($"signup").as("signup"),
        r4($"view").as("view"))
      .orderBy($"bucket_ts")
  }

  /** S1 composed getData: the full fetch→resample→densify→interpolate→
    * pivot→inner-join pipeline over two tags at 1h resolution, linear
    * interpolation limited to 6h — the operation every gordo build starts
    * with (`gordo/builder/build_model.py:208-215`). */
  def getDataComposed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    TimeSeries.getData(ev, "event_type", "ts", "value", DatasetConfig(
      tags = Seq("click", "view"),
      resolution = "1H",
      interpolationLimit = "6H",
      trainStart = Some("2024-01-02 00:00:00"),
      trainEnd = Some("2024-01-28 00:00:00")))
      .select($"bucket_ts",
        r4($"click").as("click"), r4($"view").as("view"))
      .orderBy($"bucket_ts")
  }

  /** A1 list form: `aggregation_methods: [mean, min, max, count, last]`
    * — one column per method per bucket in ONE aggregation pass. */
  def resampleMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    TimeSeries.resampleMulti(ev, Seq("event_type"), "ts", "value", H,
      Seq("mean", "min", "max", "count", "last"))
      .select($"event_type", $"bucket_ts",
        r4($"value__mean").as("value__mean"),
        $"value__min", $"value__max", $"value__count", $"value__last")
      .orderBy($"event_type", $"bucket_ts")
  }

  /** Backward as-of join (J1's nearest-previous-value alignment as a
    * two-table operator): each purchase gets the user's most recent
    * click value within 1 day. Microsecond epochs; chunkSpan = 6h, far
    * below the ~2-day median click gap per user, so MOST matches cross
    * chunk boundaries — the carry path is what this gate exercises.
    * Oracle: DuckDB `ASOF LEFT JOIN` + tolerance CASE. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "events")
      .withColumn("ets", unix_micros($"ts"))
    val l = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ets", $"value")
    // dedupe right ties on (user, ts) — AsOfJoin leaves tie winners
    // unspecified, the oracle must see a deterministic right side
    val r = e.filter($"event_type" === "click")
      .groupBy($"user_id", $"ets".as("cts"))
      .agg(max($"value").as("click_value"))
    AsOfJoin.backward(l, r, Seq("user_id"), "ets", "cts", Seq("click_value"),
      matchedTsName = "click_ts",
      tolerance = 86400L * 1000000L, chunkSpan = 21600L * 1000000L)
      .orderBy($"event_id")
  }

  /** S3 lake layout end-to-end: events materialized ONCE per sf-dir as a
    * Hive-partitioned directory-per-table layout (`event_date=` day
    * partitions, `Tables.writePartitionedEvents`), then a date-bounded
    * getData reads it through `Providers.partitionedParquet` — the train
    * window becomes a partition predicate, so the scan prunes to the 11
    * touched days (PartitionedSourceSpec asserts PartitionFilters +
    * files-read < files-on-disk on this exact path). The oracle
    * recomputes from the original single-file table: identical results
    * from either layout is the point. */
  def partitionedSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // keyed by the source file's identity (path + length + mtime): a
    // regenerated events table rebuilds the lake instead of silently
    // serving the stale layout. Built through ensureBuilt (stage +
    // atomic rename; nested marker — the slot's contents are the
    // events/ tree) so racing JVMs cannot interleave partition dirs.
    val lake = graft.Scratch.ensureBuilt(
      graft.Scratch.cachedDir("graft-lake", graft.Tables.witness(dir, "events")),
      marker = "events/_SUCCESS") { stage =>
      Tables.writePartitionedEvents(spark, dir, s"$stage/events")
    } + "/events"
    val (start, end) = ("2024-01-10 00:00:00", "2024-01-20 00:00:00")
    val long = graft.data.Providers.partitionedParquet(
      spark, lake, "event_type", "ts", "value", start, end)
    TimeSeries.getData(long, "tag", "ts", "value", DatasetConfig(
      tags = Seq("click", "view"),
      resolution = "1H",
      interpolationLimit = "6H",
      trainStart = Some(start),
      trainEnd = Some(end)))
      .select($"bucket_ts",
        r4($"click").as("click"), r4($"view").as("view"))
      .orderBy($"bucket_ts")
  }

  /** S3 remote-source end-to-end: the train window's click/view rows
    * seeded ONCE per sf-dir into an embedded-Derby table (a real Spark
    * JDBC write — the portable stand-in for the reference's Influx
    * instance), then read back through `Providers.jdbc` as an
    * 8-partition parallel range scan feeding the SAME date-bounded
    * getData as q68. The oracle recomputes from the original parquet
    * table: identical results through the JDBC round-trip is the point
    * (JdbcSourceSpec asserts the scan really splits into numPartitions
    * range slices). */
  def jdbcSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (start, end) = ("2024-01-05 00:00:00", "2024-01-12 00:00:00")
    val (startUs, endUs) = (1704412800000000L, 1705017600000000L)
    // keyed by the source file's identity (q68's cachedDir discipline):
    // regenerated events re-seed the database instead of serving stale
    // rows. Seeded through ensureBuilt (private stage + atomic rename,
    // standard _SUCCESS marker): two JVMs racing the seed would
    // otherwise both boot embedded Derby on the SAME shared slot — the second dies
    // with Derby's single-booter XSDB6, and a crash between save() and
    // the marker would leave a half-seeded db in the live slot. The
    // staged engine is shut down before the rename so no open page
    // cache or lock file moves with the directory.
    val dbHome = graft.Scratch.ensureBuilt(
      graft.Scratch.cachedDir("graft-q73-derby",
        graft.Tables.witness(dir, "events"))) { stage =>
      Tables(spark, dir, "events")
        .filter($"event_type".isin("click", "view") &&
          $"ts" >= lit(start).cast("timestamp") &&
          $"ts" < lit(end).cast("timestamp"))
        .select($"event_type".as("tag"), unix_micros($"ts").as("ts_us"),
          $"value")
        .write.mode("overwrite")
        .format("jdbc").option("url", s"jdbc:derby:$stage/db;create=true")
        // Derby's default StringType mapping is CLOB, which rejects the
        // pushed-down tag predicate (CLOB vs CHAR comparisons); pin a
        // comparable VARCHAR
        .option("createTableColumnTypes",
          "tag VARCHAR(63), ts_us BIGINT, value DOUBLE")
        .option("dbtable", "events_src").save()
      // clean shutdown BEFORE the stage moves: success is signaled by
      // SQLState 08006 (the Derby idiom), anything else propagates
      try java.sql.DriverManager
        .getConnection(s"jdbc:derby:$stage/db;shutdown=true")
      catch {
        case e: java.sql.SQLException if e.getSQLState == "08006" => ()
      }
      new java.io.File(s"$stage/_SUCCESS").createNewFile(): Unit
    }
    val url = s"jdbc:derby:$dbHome/db"
    val long = graft.data.Providers.jdbc(spark, url, "events_src",
      "tag", "ts_us", "value", startUs, endUs, numPartitions = 8)
    TimeSeries.getData(long, "tag", "ts", "value", DatasetConfig(
      tags = Seq("click", "view"),
      resolution = "1H",
      interpolationLimit = "6H",
      trainStart = Some(start),
      trainEnd = Some(end)))
      .select($"bucket_ts",
        r4($"click").as("click"), r4($"view").as("view"))
      .orderBy($"bucket_ts")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q68_partitioned_source" -> (partitionedSource _),
    "q73_jdbc_source" -> (jdbcSource _),
    "q57_asof_join" -> (asofJoin _),
    "q44_resample_multi" -> (resampleMulti _),
    "q13_resample_mean" -> (resampleMean _),
    "q14_grid_ffill" -> (gridFfill _),
    "q15_grid_interpolate" -> (gridInterpolate _),
    "q16_rowfilter_buffer" -> (rowFilterBuffer _),
    "q17_known_periods" -> (knownPeriods _),
    "q18_filter_iqr" -> (filterIqr _),
    "q19_filter_median" -> (filterMedian _),
    "q20_pivot_daily" -> (pivotDaily _),
    "q21_getdata_composed" -> (getDataComposed _),
  )

  val oracleSql: Map[String, String] = Map(
    "q57_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ets, event_type, value
        |  FROM events),
        |l AS (SELECT event_id, user_id, ets, value FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ets AS cts, max(value) AS click_value
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (SELECT l.*, r.cts, r.click_value
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ets >= r.cts)
        |SELECT event_id, user_id, ets, value,
        |  CASE WHEN ets - cts <= 86400000000 THEN cts END AS click_ts,
        |  CASE WHEN ets - cts <= 86400000000 THEN click_value END AS click_value
        |FROM j ORDER BY event_id""".stripMargin,
    "q44_resample_multi" ->
      """SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        | floor((avg(value))*10000 + 0.5)/10000 AS value__mean,
        | min(value) AS value__min,
        | max(value) AS value__max,
        | CAST(count(value) AS DOUBLE) AS value__count,
        | (max(CASE WHEN value IS NOT NULL
        |    THEN struct_pack(ts := ts, value := value) END)).value AS value__last
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket_ts""".stripMargin,
    "q13_resample_mean" ->
      """SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        | floor((avg(value))*10000 + 0.5)/10000 AS value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket_ts""".stripMargin,
    "q14_grid_ffill" ->
      """WITH r AS (
        |  SELECT (epoch_us(ts)//1000000//600)*600 AS bucket_ts, avg(value) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |bounds AS (SELECT min(bucket_ts) AS b0, max(bucket_ts) AS b1 FROM r),
        |grid AS (SELECT unnest(generate_series(b0, b1, 600)) AS bucket_ts FROM bounds),
        |g AS (SELECT grid.bucket_ts, r.value FROM grid LEFT JOIN r USING (bucket_ts)),
        |f AS (SELECT bucket_ts, value,
        |   last_value(value IGNORE NULLS) OVER wb AS lastv,
        |   last_value(CASE WHEN value IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER wb AS lastb
        | FROM g
        | WINDOW wb AS (ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT bucket_ts,
        | floor((CASE WHEN value IS NOT NULL THEN value
        |            WHEN bucket_ts - lastb <= 1800 THEN lastv END)*10000 + 0.5)/10000 AS value
        |FROM f ORDER BY bucket_ts""".stripMargin,
    "q15_grid_interpolate" ->
      """WITH r AS (
        |  SELECT (epoch_us(ts)//1000000//600)*600 AS bucket_ts, avg(value) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |bounds AS (SELECT min(bucket_ts) AS b0, max(bucket_ts) AS b1 FROM r),
        |grid AS (SELECT unnest(generate_series(b0, b1, 600)) AS bucket_ts FROM bounds),
        |g AS (SELECT grid.bucket_ts, r.value FROM grid LEFT JOIN r USING (bucket_ts)),
        |f AS (SELECT bucket_ts, value,
        |   last_value(value IGNORE NULLS) OVER wb AS prevv,
        |   last_value(CASE WHEN value IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER wb AS prevb,
        |   first_value(value IGNORE NULLS) OVER wa AS nextv,
        |   first_value(CASE WHEN value IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER wa AS nextb
        | FROM g
        | WINDOW wb AS (ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        wa AS (ORDER BY bucket_ts ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT bucket_ts,
        | floor((CASE WHEN value IS NOT NULL THEN value
        |            WHEN prevb IS NOT NULL AND nextb IS NOT NULL
        |                 AND nextb - prevb <= 3600
        |            THEN prevv + (nextv - prevv)
        |                 * (CAST(bucket_ts - prevb AS DOUBLE) / CAST(nextb - prevb AS DOUBLE))
        |            END)*10000 + 0.5)/10000 AS value
        |FROM f ORDER BY bucket_ts""".stripMargin,
    "q16_rowfilter_buffer" ->
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value,
        |    max(CASE WHEN value < 150.0 THEN 0 ELSE 1 END) OVER (
        |      PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS bad
        |  FROM events)
        |WHERE bad = 0
        |ORDER BY event_id""".stripMargin,
    "q17_known_periods" ->
      """SELECT event_type, count(*) AS n, floor((avg(value))*10000 + 0.5)/10000 AS avg_value
        |FROM events
        |WHERE NOT ((ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts <= TIMESTAMP '2024-01-08 00:00:00')
        |        OR (ts >= TIMESTAMP '2024-01-20 12:00:00' AND ts <= TIMESTAMP '2024-01-22 06:30:00'))
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q18_filter_iqr" ->
      """WITH f AS (
        |  SELECT event_type, quantile_cont(value, 0.25) AS q1,
        |         quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n, floor((avg(e.value))*10000 + 0.5)/10000 AS avg_value
        |FROM events e JOIN f USING (event_type)
        |WHERE e.value >= q1 - (q3 - q1) * 1.5 AND e.value <= q3 + (q3 - q1) * 1.5
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q19_filter_median" ->
      """WITH rs AS (
        |  SELECT event_type, (epoch_us(ts)//1000000//600)*600 AS bucket_ts,
        |         avg(value) AS value
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, value,
        |    median(value) OVER (PARTITION BY event_type ORDER BY bucket_ts
        |      ROWS BETWEEN 36 PRECEDING AND 35 FOLLOWING) AS med
        |  FROM rs),
        |r AS (SELECT event_type, value, value - med AS resid FROM m),
        |f AS (SELECT event_type,
        |        quantile_cont(resid, 0.75) - quantile_cont(resid, 0.25) AS riqr
        |      FROM r GROUP BY 1)
        |SELECT r.event_type, count(*) AS n, floor((avg(r.value))*10000 + 0.5)/10000 AS avg_value
        |FROM r JOIN f USING (event_type)
        |WHERE abs(resid) <= riqr * 2.0
        |GROUP BY r.event_type
        |ORDER BY r.event_type""".stripMargin,
    "q20_pivot_daily" ->
      """WITH r AS (
        |  SELECT event_type, (epoch_us(ts)//1000000//86400)*86400 AS bucket_ts,
        |         avg(value) AS value
        |  FROM events GROUP BY 1, 2)
        |SELECT bucket_ts,
        | floor((max(CASE WHEN event_type = 'click' THEN value END))*10000 + 0.5)/10000 AS click,
        | floor((max(CASE WHEN event_type = 'error' THEN value END))*10000 + 0.5)/10000 AS error,
        | floor((max(CASE WHEN event_type = 'purchase' THEN value END))*10000 + 0.5)/10000 AS purchase,
        | floor((max(CASE WHEN event_type = 'signup' THEN value END))*10000 + 0.5)/10000 AS signup,
        | floor((max(CASE WHEN event_type = 'view' THEN value END))*10000 + 0.5)/10000 AS view
        |FROM r GROUP BY bucket_ts
        |ORDER BY bucket_ts""".stripMargin,
    "q21_getdata_composed" ->
      ("WITH " + OracleSql.assemblyCtes("click", "view",
        "2024-01-02 00:00:00", "2024-01-28 00:00:00") +
        "\n" + OracleSql.widePivotTail("click", "view")),
    // identical derivation to q21 over the 2024-01-10..20 train window —
    // the Spark side reads the PARTITIONED layout, the oracle the
    // original single file; layout must not change the answer
    "q68_partitioned_source" ->
      ("WITH " + OracleSql.assemblyCtes("click", "view",
        "2024-01-10 00:00:00", "2024-01-20 00:00:00") +
        "\n" + OracleSql.widePivotTail("click", "view")),
    // q73 replays q68's getData arithmetic on its own train window —
    // the JDBC round-trip on the Spark side must be value-invisible.
    "q73_jdbc_source" ->
      ("WITH " + OracleSql.assemblyCtes("click", "view",
        "2024-01-05 00:00:00", "2024-01-12 00:00:00") +
        "\n" + OracleSql.widePivotTail("click", "view")),
  )
}
