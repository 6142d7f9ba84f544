package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The time-series dataset engine (SURVEY.md §2.4 J1, §2.5 A1, §2.3 P2-P5).
  *
  * Re-expresses the reference's fetch→resample→align→filter pipeline
  * (gordo-core `TimeSeriesDataset`; config surface at
  * `tests/gordo/workflow/test_config_elements.py:137-162`) as declarative
  * Spark over a long-format frame `(seriesKey..., ts, value)`.
  *
  * Semantics decisions (each mirrors pandas/gordo behavior; SURVEY §7.4):
  *   - resample buckets are left-labeled, left-closed (pandas default):
  *     bucket = floor(epoch_seconds / width) * width;
  *   - `interpolation_limit` is a TIME bound ("48H"), not a row count: a
  *     gap is filled only if the bridged distance is within the limit
  *     (ffill: distance to the previous observation; linear: distance
  *     between the two anchors);
  *   - `row_filter_buffer_size` drops the N rows on EACH side of a
  *     filtered-out row within the same series (inferred from
  *     `tests/gordo/workflow/test_config_elements.py:156`).
  *
  * Scale notes: every operator partitions by the series key(s) and sorts
  * only within partitions (windows over `partitionBy(keys).orderBy(bucket)`)
  * — no global sorts. Per-series state is bounded (months × 144 rows/day at
  * the default 10-minute resolution), so a 1000-executor cluster processing
  * millions of series parallelizes on the key hash with no skew hot-spot;
  * grid densification joins shuffle on (key, bucket), the same partitioning
  * the windows need, so Exchange reuse keeps it to one shuffle.
  */
object TimeSeries {

  /** pandas frequency string → seconds (e.g. "10T"→600, "48H"→172800;
    * ref: `gordo/machine/validators.py:59-77` validates these). */
  def parseResolutionSeconds(freq: String): Long = {
    val m = raw"^\s*(\d*)\s*([A-Za-z]+)\s*$$".r
      .findFirstMatchIn(freq)
      .getOrElse(throw new IllegalArgumentException(s"bad frequency: $freq"))
    val n = if (m.group(1).isEmpty) 1L else m.group(1).toLong
    val unit = m.group(2) match {
      case "S" | "s" | "sec"                    => 1L
      case "T" | "min" | "Min"                  => 60L
      case "H" | "h" | "hour"                   => 3600L
      case "D" | "d" | "day"                    => 86400L
      case "W" | "w"                            =>
        // pandas multi-week bins ("2W") anchor on the END of the data —
        // a data-dependent phase no pure bucket function can reproduce;
        // n = 1 is exact (see resolutionAnchorSec), larger n would be
        // silently misaligned, so refuse it
        require(n == 1, s"only 1W weekly resample is supported " +
          s"(pandas anchors ${n}W bins on the end of the data): $freq")
        604800L
      case u => throw new IllegalArgumentException(s"unsupported frequency unit: $u")
    }
    n * unit
  }

  /** Bucket anchor for a frequency: epoch-second shift added to the
    * epoch-floor lattice. 0 for the intraday units (their lattice is
    * epoch-aligned, the pandas default), 259 200 for "W": pandas `W` is
    * `W-SUN` — right-closed, right-labeled weeks ending Sunday — so a
    * timestamp buckets to the next Sunday DATE (Monday-00:00
    * boundaries), while a plain epoch floor would produce
    * Thursday-anchored left labels. The weekly lattice is still a fixed
    * 604 800-second grid, so the shared-grid/interpolation pipeline is
    * unchanged; only the bucket label moves. */
  def resolutionAnchorSec(freq: String): Long =
    if (raw"^\s*\d*\s*[Ww]\s*$$".r.findFirstMatchIn(freq).isDefined) 259200L
    else 0L

  /** Left-closed, left-labeled resample bucket as epoch seconds (pandas
    * default labeling); `anchorSec` shifts the lattice for units whose
    * pandas bins are not epoch-aligned (see [[resolutionAnchorSec]]). */
  def bucketCol(ts: Column, widthSec: Long, anchorSec: Long = 0L): Column =
    (floor((unix_timestamp(ts) + anchorSec) / widthSec) * widthSec
      + anchorSec).cast("long")

  /** Resample: per (keys, bucket) aggregate of `value` (SURVEY A1;
    * default "mean", ref `test_config_elements.py:139`). Output columns:
    * keys..., `bucket_ts` (epoch secs), `value`. */
  def resample(df: DataFrame, keys: Seq[String], tsCol: String,
               valueCol: String, widthSec: Long,
               method: String = "mean",
               anchorSec: Long = 0L): DataFrame = {
    val b = bucketCol(col(tsCol), widthSec, anchorSec).as("bucket_ts")
    df.groupBy((keys.map(col) :+ b): _*)
      .agg(aggFor(method, valueCol, tsCol).as(valueCol))
  }

  /** A1 with `aggregation_methods` as a LIST (SURVEY §1.3 [inferred]:
    * list → extra column level): one output column per method, named
    * `<valueCol>__<method>` — the flat-name form of pandas' extra
    * MultiIndex level. One aggregation pass for all methods. */
  def resampleMulti(df: DataFrame, keys: Seq[String], tsCol: String,
                    valueCol: String, widthSec: Long,
                    methods: Seq[String],
                    anchorSec: Long = 0L): DataFrame = {
    require(methods.nonEmpty, "need at least one aggregation method")
    val b = bucketCol(col(tsCol), widthSec, anchorSec).as("bucket_ts")
    val aggs = methods.map(m => aggFor(m, valueCol, tsCol).as(s"${valueCol}__$m"))
    df.groupBy((keys.map(col) :+ b): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  private def aggFor(method: String, valueCol: String, tsCol: String): Column =
    method match {
      case "mean"   => avg(col(valueCol))
      case "sum"    => sum(col(valueCol))
      case "min"    => min(col(valueCol))
      case "max"    => max(col(valueCol))
      case "median" => percentile(col(valueCol), lit(0.5))
      case "count"  => count(col(valueCol)).cast("double")
      // first/last with a DETERMINISTIC tie-break: bare min_by/max_by
      // pick an arbitrary row when several share the extreme timestamp
      // (partitioning-dependent, so the same data could hash differently
      // across runs). Lexicographic (ts, value) struct ordering breaks
      // ties by value — identically expressible in external SQL engines
      // — and null values are excluded like the other aggregates
      // (a null is a missing observation, not a winning candidate).
      case "first"  =>
        min(when(col(valueCol).isNotNull,
          struct(col(tsCol), col(valueCol)))).getField(valueCol)
      case "last"   =>
        max(when(col(valueCol).isNotNull,
          struct(col(tsCol), col(valueCol)))).getField(valueCol)
      case m => throw new IllegalArgumentException(s"unsupported aggregation: $m")
    }

  /** Buckets per generated array chunk in [[fullGrid]]: bounds the size of
    * any single `sequence` array so a multi-year 1-minute series (~1.6M
    * buckets) never materializes as one giant array row. */
  val GridChunk = 4096L

  /** Densify: expand each series to its full regular grid, leaving nulls
    * at missing buckets. Grid bounds are per-series [min, max] bucket by
    * default, or the supplied shared [b0, b1] (getData uses the global
    * range so all tags align on one grid).
    *
    * Generation is a two-level sequence+explode: the outer sequence emits
    * chunk starts (≤ total/4096 elements), the inner one ≤ 4096 buckets
    * per chunk — distributed fan-out with bounded array sizes, no driver
    * loop, no single-row OOM. */
  def fullGrid(resampled: DataFrame, keys: Seq[String],
               widthSec: Long, valueCol: String = "value",
               bounds: Option[(Long, Long)] = None): DataFrame = {
    val chunkW = widthSec * GridChunk
    val boundsDf = bounds match {
      case Some((b0, b1)) =>
        resampled.select(keys.map(col): _*).distinct()
          .withColumn("b0", lit(b0)).withColumn("b1", lit(b1))
      case None =>
        resampled.groupBy(keys.map(col): _*)
          .agg(min($"bucket_ts").as("b0"), max($"bucket_ts").as("b1"))
    }
    val grid = boundsDf
      .select((keys.map(col) :+ $"b1" :+
        explode(sequence($"b0", $"b1", lit(chunkW))).as("c0")): _*)
      .select((keys.map(col) :+
        explode(sequence($"c0", least($"c0" + (chunkW - widthSec), $"b1"),
          lit(widthSec))).as("bucket_ts")): _*)
    grid.join(resampled, keys :+ "bucket_ts", "left")
  }

  /** Forward-fill nulls, but only across gaps ≤ `limitSec` from the last
    * observation (interpolation_method="ffill" + interpolation_limit). */
  def ffill(df: DataFrame, keys: Seq[String], limitSec: Long,
            valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy($"bucket_ts")
      .rowsBetween(Window.unboundedPreceding, 0)
    val lastV = last(col(valueCol), ignoreNulls = true).over(w)
    val lastB = last(when(col(valueCol).isNotNull, $"bucket_ts"),
      ignoreNulls = true).over(w)
    df.withColumn(valueCol,
      when(col(valueCol).isNotNull, col(valueCol))
        .when($"bucket_ts" - lastB <= limitSec, lastV))
  }

  /** Linear interpolation between the nearest non-null anchors, filled
    * only when the bridged anchor distance ≤ `limitSec`
    * (interpolation_method="linear_interpolation", the gordo default). */
  def interpolateLinear(df: DataFrame, keys: Seq[String], limitSec: Long,
                        valueCol: String = "value"): DataFrame = {
    // Both anchor scans use RUNNING frames (unbounded preceding → O(n)
    // incremental evaluation); the "next anchor" runs over descending
    // bucket order. A `rowsBetween(1, unboundedFollowing)` frame would be
    // semantically identical but Spark's UnboundedFollowingWindowFunctionFrame
    // re-aggregates the whole tail per row — O(n²) per series (measured 5×
    // slower on a 30-day 10-min grid). The extra sort is per-partition only:
    // both windows share the series-key partitioning, so there is still
    // exactly one Exchange.
    val before = Window.partitionBy(keys.map(col): _*).orderBy($"bucket_ts")
      .rowsBetween(Window.unboundedPreceding, -1)
    val afterRev = Window.partitionBy(keys.map(col): _*).orderBy($"bucket_ts".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val v = col(valueCol)
    val prevV = last(v, ignoreNulls = true).over(before)
    val prevB = last(when(v.isNotNull, $"bucket_ts"), ignoreNulls = true).over(before)
    val nextV = last(v, ignoreNulls = true).over(afterRev)
    val nextB = last(when(v.isNotNull, $"bucket_ts"), ignoreNulls = true).over(afterRev)
    val frac = ($"bucket_ts" - prevB).cast("double") / (nextB - prevB).cast("double")
    df.withColumn(valueCol,
      when(v.isNotNull, v)
        .when(prevB.isNotNull && nextB.isNotNull && (nextB - prevB) <= limitSec,
          prevV + (nextV - prevV) * frac))
  }

  /** Pivot a long resampled frame to wide (one column per series key) —
    * the J1 alignment join expressed as a single shuffle+pivot. Inner-join
    * semantics (only buckets where every tag has data) are obtained by
    * dropping rows with any null afterwards; callers wanting gap-fill run
    * ffill/interpolate per series first.
    *
    * The output is deliberately UNORDERED: every downstream consumer
    * either establishes its own order explicitly (withRowIndex, window
    * specs, a final presentation orderBy) or doesn't need one — a baked-in
    * global sort here was one wasted range-shuffle per pivot. */
  def pivotWide(resampled: DataFrame, keyCol: String, tags: Seq[String],
                valueCol: String = "value"): DataFrame =
    resampled.groupBy($"bucket_ts")
      .pivot(keyCol, tags)
      .agg(first(col(valueCol)))

  /** Translate a pandas-query-style row_filter ("`tag` > 1 & ~(`x` == 2)")
    * to a Spark SQL predicate (ref: row_filter key,
    * `gordo/reporters/mlflow.py:222-224`). Backticked identifiers and
    * quoted string literals pass through untouched — gordo tag names are
    * free-form (`GRA-YE  -23-0751X.PV`) and literals may contain `&|~=`,
    * so substitution happens only in the code regions between them. */
  def translateRowFilter(pandasPredicate: String): String = {
    val out = new StringBuilder
    val s = pandasPredicate
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case q @ ('\'' | '"' | '`') =>
          // scan to the CLOSING quote, skipping backslash-escaped chars
          // inside '/" literals (an escaped quote must not end the
          // literal — the remainder would be rewritten as code);
          // backticked identifiers have no escape form
          var j = i + 1
          var closed = false
          while (j < s.length && !closed) {
            val ch = s.charAt(j)
            if (q != '`' && ch == '\\' && j + 1 < s.length) j += 2
            else if (ch == q) closed = true
            else j += 1
          }
          val stop = if (closed) j else s.length - 1
          out.append(s.substring(i, stop + 1))
          i = stop + 1
        case '&' =>
          out.append(" AND ")
          i += (if (i + 1 < s.length && s.charAt(i + 1) == '&') 2 else 1)
        case '|' =>
          out.append(" OR ")
          i += (if (i + 1 < s.length && s.charAt(i + 1) == '|') 2 else 1)
        case '~' => out.append(" NOT "); i += 1
        case '=' if i + 1 < s.length && s.charAt(i + 1) == '=' =>
          out.append(" = "); i += 2
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }

  /** row_filter + row_filter_buffer_size (SURVEY P2/P3): drop rows failing
    * the predicate AND the `buffer` rows on each side within a series.
    *
    * With keys the window partitions per series (bounded like every other
    * per-key window here). WITHOUT keys — getData's wide frame, one
    * global series — a plain empty `partitionBy()` would funnel the
    * entire frame through ONE task for the sort, the exact shape the
    * file's scale contract forbids; instead the rows are value-chunked
    * (`CrossValidate.withRowIndex`, no global sort) and each chunk
    * receives its neighbors' `buffer` boundary rows as carry, so the
    * ±buffer frame is exact inside an ordinary hash-partitioned window
    * and the single-task sort never exists. */
  def rowFilterWithBuffer(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                          predicate: Column, buffer: Int): DataFrame = {
    if (buffer <= 0) df.filter(predicate)
    else if (keys.nonEmpty) {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(-buffer, buffer)
      df.withColumn("__bad", when(predicate, 0).otherwise(1))
        .withColumn("__drop", max($"__bad").over(w))
        .filter($"__drop" === 0)
        .drop("__bad", "__drop")
    } else {
      val c = math.max(4096, 2 * (buffer + 1))
      val idx = graft.ml.CrossValidate.withRowIndex(df, orderCols.map(col))
      // single-scan fan-out (see Windows.chunkFanOut): the last `buffer`
      // rows of chunk k also serve chunk k+1's left edge, the first
      // `buffer` rows serve chunk k-1's right edge — as exploded copies,
      // not a 3-branch self-union that re-executed the assembled-frame
      // lineage once per branch
      val w = Window.partitionBy(col("__wck")).orderBy(col("__row"))
        .rowsBetween(-buffer, buffer)
      graft.ml.Windows.chunkFanOut(idx, col("__row"), c,
          carryPrev = buffer, carryNext = buffer)
        .withColumn("__bad", when(predicate, 0).otherwise(1))
        .withColumn("__drop", max($"__bad").over(w))
        .filter(!col("__wcarry") && col("__drop") === 0)
        .drop("__bad", "__drop", "__wck", "__wcarry", "__row")
    }
  }

  /** Timestamp bound with an EAGER castability check: an unparseable
    * string either becomes a NULL bound (ANSI off) that silently filters
    * out every row, or a SparkDateTimeException thrown mid-job from
    * whichever task first evaluates it (ANSI on, the Spark 4 default) —
    * late and without naming the config field. The check evaluates the
    * exact Spark cast (same session timezone and ANSI mode) DRIVER-SIDE
    * via Catalyst expression eval — zero Spark jobs; the earlier
    * one-row-plan probe launched one job per bound, two+ per getData
    * call, pure scheduler latency on every build/serve path (guide §1.2:
    * per-task work includes work that shouldn't be a task at all). An
    * uncastable value yields null (ANSI off) or throws (ANSI on) exactly
    * like the in-plan cast; both become the loud contract reject. */
  private def tsBound(df: DataFrame, s: String, what: String): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.TimestampType
    val conf = df.sparkSession.sessionState.conf
    val castable = scala.util.Try(
      Cast(Literal(s), TimestampType,
        Some(conf.sessionLocalTimeZone)).eval(null) != null)
      .getOrElse(false)
    require(castable, s"$what '$s' is not a Spark-castable timestamp — " +
      "an invalid bound would drop every row (or kill the job mid-scan)")
    lit(s).cast("timestamp")
  }

  /** known_filter_periods (SURVEY P4): drop rows inside any [start, end]
    * closed interval. Compiles to an OR-chain literal predicate that
    * pushes down to the scan. Bounds are eagerly validated ([[tsBound]]):
    * an uncastable period would otherwise null the whole predicate and
    * silently drop every row. */
  def dropKnownPeriods(df: DataFrame, tsCol: String,
                       periods: Seq[(String, String)]): DataFrame =
    if (periods.isEmpty) df
    else {
      val inAny = periods.map { case (s, e) =>
        col(tsCol) >= tsBound(df, s, "filter period start") &&
          col(tsCol) <= tsBound(df, e, "filter period end")
      }.reduce(_ || _)
      df.filter(!inAny)
    }

  /** filter_periods method="iqr" (SURVEY P5, [inferred] semantics): per
    * series compute [q1 − n·IQR, q3 + n·IQR] fences with exact linear-
    * interpolated quantiles, drop rows outside. Two-phase agg+broadcast
    * join: the fence table has one row per series, so the join is a
    * broadcast at any scale. */
  /** Scale note: the exact `percentile` aggregate buffers a
    * distinct-value map PER GROUP, so per-task state is bounded only by
    * the group's distinct-value count — fine for the reference shape
    * (per-series resampled frames: bounded rows per machine), a
    * scale trap when fed RAW events keyed by a low-cardinality column
    * (one group swallows a table-sized population). Feed resampled
    * series, or pre-bucket values, when the input is lake-scale. */
  def filterPeriodsIqr(df: DataFrame, keys: Seq[String], valueCol: String,
                       nIqr: Double): DataFrame = {
    val v = col(valueCol)
    val fences = df.groupBy(keys.map(col): _*)
      .agg(percentile(v, lit(0.25)).as("__q1"),
        percentile(v, lit(0.75)).as("__q3"))
      .withColumn("__lo", $"__q1" - ($"__q3" - $"__q1") * nIqr)
      .withColumn("__hi", $"__q3" + ($"__q3" - $"__q1") * nIqr)
      .select((keys.map(col) :+ $"__lo" :+ $"__hi"): _*)
    df.join(broadcast(fences), keys)
      .filter(v >= $"__lo" && v <= $"__hi")
      .drop("__lo", "__hi")
  }

  /** filter_periods method="median" (SURVEY P5, [inferred] semantics):
    * residual vs a centered rolling median; drop rows whose |residual|
    * exceeds n · IQR(residuals) for the series. */
  def filterPeriodsMedian(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                          valueCol: String, window: Int, nIqr: Double): DataFrame = {
    // keys = Nil would build Window.partitionBy() — the single-task
    // global-sort shape this module's chunked kernels exist to avoid;
    // the operation is per-series by definition, so demand the series
    // key instead of silently funneling the frame through one task
    require(keys.nonEmpty,
      "filterPeriodsMedian needs at least one series key column — an " +
        "unkeyed frame would run the rolling median in ONE task; add " +
        "the tag/series column (a constant column works for a genuinely " +
        "single, bounded series)")
    // Exactly `window` rows, centered like pandas rolling(window,
    // center=True): for even windows pandas puts the extra row BEFORE the
    // label, i.e. frame = [-(window/2), window - window/2 - 1].
    val half = window / 2
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-half, window - half - 1)
    // The per-series IQR fence runs as a whole-partition window rather than
    // a groupBy+join: a join would recompute `withResid` (and its rolling
    // median — the expensive part) on both sides, doubling the work and
    // adding a shuffle. The windows share one Exchange+Sort on the series
    // key; per-series buffering is bounded (calendar span × 144 rows/day).
    // (A sorted-array rolling median — collect_list + array_sort +
    // interpolated element_at — measured ~3× SLOWER than the percentile
    // window at width 72: the aggregate's buffer reuse beats per-row
    // array allocation.)
    val wk = Window.partitionBy(keys.map(col): _*)
    val withResid = df
      .withColumn("__med", percentile(col(valueCol), lit(0.5)).over(w))
      .withColumn("__resid", col(valueCol) - $"__med")
    withResid
      .withColumn("__riqr",
        percentile($"__resid", lit(0.75)).over(wk) -
          percentile($"__resid", lit(0.25)).over(wk))
      .filter(abs($"__resid") <= $"__riqr" * nIqr)
      .drop("__med", "__resid", "__riqr")
  }

  /** Dataset-block config (SURVEY §1.3; complete surface asserted at
    * `tests/gordo/workflow/test_config_elements.py:137-162`). Tags here
    * are values of `keyCol` in the long input frame. */
  case class DatasetConfig(
      tags: Seq[String],
      /** `target_tag_list` — the y columns; empty means y = X. The wide
        * frame assembles the UNION of both so every model input and
        * target aligns on the same grid. */
      targetTags: Seq[String] = Nil,
      resolution: String = "10T",
      aggregationMethod: String = "mean",
      trainStart: Option[String] = None,
      trainEnd: Option[String] = None,
      rowFilter: String = "",
      rowFilterBufferSize: Int = 0,
      knownFilterPeriods: Seq[(String, String)] = Nil,
      interpolationMethod: String = "linear_interpolation",
      interpolationLimit: String = "48H",
      nSamplesThreshold: Long = 0) {
    /** The y columns actually used (targetTags, defaulting to tags). */
    def effectiveTargets: Seq[String] =
      if (targetTags.isEmpty) tags else targetTags
  }

  /** S1/J1 composed: long `(key, ts, value)` frame → aligned wide frame
    * `(bucket_ts, tag1, ..., tagN)` — the operation every gordo query
    * starts with (`gordo/builder/build_model.py:208-215` call site;
    * external gordo-core impl, semantics [inferred] from the config
    * surface). Pipeline: time-range filter → known_filter_periods →
    * resample per tag → shared-grid densify → interpolate (time-bounded
    * limit) → pivot wide → inner-join semantics (drop any-null rows) →
    * row_filter (+buffer) → n_samples_threshold.
    *
    * Scale: one shuffle on (key, bucket) for resample; grid + window
    * interpolation reuse that partitioning; the pivot shuffles on bucket
    * alone — fine because tag count (columns) is bounded while bucket
    * count (rows) is what grows with data.
    *
    * Ownership: with `cfg.nSamplesThreshold > 0` the returned frame is
    * persisted under one [[graft.SessionCache]] reference (the threshold
    * count materializes the frame anyway, so the caller's first action
    * reads cache); call [[releaseAssembled]] on the result when done
    * with it, or the cache stays pinned for the session. Builds take
    * the [[dataLease]] instead. */
  def getData(long: DataFrame, keyCol: String, tsCol: String,
              valueCol: String, cfg: DatasetConfig): DataFrame =
    align(resampleStage(long, keyCol, tsCol, valueCol, cfg), keyCol,
      valueCol, cfg)(requireMinSamples(_, cfg.nSamplesThreshold))

  /** [[getData]]'s frame under a lease the caller closes: the threshold
    * count's own reference when `n_samples_threshold > 0`, a fresh one
    * otherwise — the build's cache over its CV passes either way. */
  private[graft] def dataLease(
      long: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, cfg: DatasetConfig): graft.SessionCache.Lease =
    assemble(resampleStage(long, keyCol, tsCol, valueCol, cfg),
      keyCol, valueCol, cfg)

  /** The PRE-grid stage of [[getData]] — tag/time filters,
    * known_filter_periods, per-(tag, bucket) resample — split out so a
    * machine GROUP whose dataset configs differ only by tag list
    * (Project.buildAll's shape) can run it ONCE over the union of tags
    * and share the result: per-(tag, bucket) resampling commutes exactly
    * with tag filtering (the groups are keyed by tag, so a tag filter
    * removes whole groups and never changes any surviving group's rows).
    * At 100 TB this is the dominant lake scan, paid once per group
    * instead of once per machine. */
  private[graft] def resampleStage(
      long: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, cfg: DatasetConfig): DataFrame = {
    val widthSec = parseResolutionSeconds(cfg.resolution)
    // X tags plus any extra target tags align on the same grid
    val allTags = (cfg.tags ++ cfg.targetTags).distinct
    var df = long.filter(col(keyCol).isin(allTags: _*))
    cfg.trainStart.foreach(s =>
      df = df.filter(col(tsCol) >= tsBound(df, s, "train_start_date")))
    cfg.trainEnd.foreach(e =>
      df = df.filter(col(tsCol) < tsBound(df, e, "train_end_date")))
    df = dropKnownPeriods(df, tsCol, cfg.knownFilterPeriods)
    resample(df, Seq(keyCol), tsCol, valueCol, widthSec,
      cfg.aggregationMethod, resolutionAnchorSec(cfg.resolution))
  }

  /** The POST-resample stage of [[getData]] under a lease: shared-grid
    * densify → interpolate → pivot → inner-join semantics → row_filter
    * → n_samples_threshold. `resampled` must be [[resampleStage]] output
    * (or a tag-filtered view of a group's shared one) covering exactly
    * `cfg`'s tags. */
  private[graft] def assemble(
      resampled: DataFrame, keyCol: String,
      valueCol: String, cfg: DatasetConfig): graft.SessionCache.Lease =
    align(resampled, keyCol, valueCol, cfg)(
      leaseMinSamples(_, cfg.nSamplesThreshold))

  /** Builds the aligned wide frame and runs its threshold check `hold`
    * while the scoped resample cache is still held. `hold` decides what
    * the caller keeps: a lease (builds) or the plain frame ([[getData]],
    * which takes no reference at threshold 0). */
  private def align[A](
      resampled: DataFrame, keyCol: String,
      valueCol: String, cfg: DatasetConfig)(hold: DataFrame => A): A = {
    val widthSec = parseResolutionSeconds(cfg.resolution)
    val limitSec = parseResolutionSeconds(cfg.interpolationLimit)
    val allTags = (cfg.tags ++ cfg.targetTags).distinct
    // Scope a cache over the EAGER plan-construction jobs: the bounds
    // agg below, the buffer path's two row-indexing jobs, and the
    // threshold path's materializing count each re-execute the
    // filter→resample lineage — the dominant scan at lake scale, paid
    // 3-4× without it. Persisted only when a later eager job exists to
    // amortize the write, and ALWAYS released in the finally: by then
    // the threshold path's count has materialized the wide frame's own
    // cache, so nothing downstream reads this one. A lease, not a bare
    // persist/unpersist pair: two parallel builds of the same dataset
    // share ONE CacheManager entry, and the first build's finally would
    // otherwise drop it mid-assembly under the second.
    val scoped =
      if (cfg.nSamplesThreshold > 0 ||
          (cfg.rowFilter.nonEmpty && cfg.rowFilterBufferSize > 0))
        Some(graft.SessionCache.acquire(resampled))
      else None
    try {
    // Shared grid: global [min, max] bucket so every tag lands on the
    // same row set, PLUS the set of tags actually present — one tiny agg
    // collected to the driver (two longs + a tag-bounded set).
    val boundsRow = resampled
      .agg(min($"bucket_ts"), max($"bucket_ts"),
        collect_set(col(keyCol).cast("string"))).head()
    if (boundsRow.isNullAt(0))
      // empty input still honors n_samples_threshold (exit-code-80
      // contract): zero rows < any positive threshold
      return hold(spark_emptyWide(resampled, cfg))
    // a configured tag with NO rows in the window pivots to an all-null
    // column, and the any-null inner-join filter then drops EVERY bucket
    // — a silently empty frame that looks like bad data rather than the
    // config typo it is; name the absent tags instead (the reference's
    // missing-tag error)
    val present = boundsRow.getSeq[String](2).toSet
    val absent = allTags.filterNot(present)
    require(absent.isEmpty,
      s"tags with no data in the train window: ${absent.mkString(", ")}")
    val Array(b0, b1) = Array(boundsRow.getLong(0), boundsRow.getLong(1))
    val gridded = fullGrid(resampled, Seq(keyCol), widthSec, valueCol,
      bounds = Some((b0, b1)))
    val interp = cfg.interpolationMethod match {
      case "ffill"                           => ffill(gridded, Seq(keyCol), limitSec, valueCol)
      case "linear_interpolation" | "linear" => interpolateLinear(gridded, Seq(keyCol), limitSec, valueCol)
      case m => throw new IllegalArgumentException(s"unsupported interpolation: $m")
    }
    // NOT `na.drop(cols)`: DataFrameNaFunctions resolves dotted tag names
    // as nested-field paths and fails — filter through quoted refs,
    // keeping na.drop's FULL semantics (null AND NaN rows drop, like
    // pandas dropna on a float frame)
    var wide = pivotWide(interp, keyCol, allTags, valueCol)
      .filter(allTags.map(t =>
        graft.Cols.q(t).isNotNull && !isnan(graft.Cols.q(t).cast("double")))
        .reduce(_ && _))
    if (cfg.rowFilter.nonEmpty)
      wide = rowFilterWithBuffer(wide, keys = Nil, orderCols = Seq("bucket_ts"),
        predicate = expr(translateRowFilter(cfg.rowFilter)),
        buffer = cfg.rowFilterBufferSize)
    hold(wide)
    } finally scoped.foreach(_.close())
  }

  private def spark_emptyWide(resampled: DataFrame, cfg: DatasetConfig): DataFrame = {
    val base = resampled.sparkSession.emptyDataFrame
      .withColumn("bucket_ts", lit(0L))
    (cfg.tags ++ cfg.targetTags).distinct
      .foldLeft(base)((d, t) => d.withColumn(t, lit(null).cast("double")))
      .limit(0)
  }

  /** n_samples_threshold (ref: `gordo/cli/cli.py:26-39`, exit code 80). */
  class InsufficientDataError(msg: String) extends RuntimeException(msg)

  /** Return the [[graft.SessionCache]] reference a threshold path
    * ([[getData]], [[requireMinSamples]]) took on `df`; the last one
    * unpersists. No-op for frames the cache never registered. */
  def releaseAssembled(df: DataFrame): Unit = graft.SessionCache.release(df)

  /** Fails with [[InsufficientDataError]] below `n` rows. For `n > 0`
    * the returned frame holds one [[graft.SessionCache]] reference
    * (return it with [[releaseAssembled]]). */
  def requireMinSamples(df: DataFrame, n: Long): DataFrame =
    if (n <= 0) df else leaseMinSamples(df, n).df

  /** A lease on `df`, checked against `n` rows: the count must execute
    * the whole assembly anyway, so it runs under the lease and the
    * holder's first action reads the materialized frame instead of
    * re-running resample→grid→interpolate→pivot end to end. Every
    * failure path (short count, a count job that dies) closes the lease
    * before rethrowing, or the cache would stay pinned for the session. */
  private[graft] def leaseMinSamples(df: DataFrame, n: Long): graft.SessionCache.Lease = {
    val lease = graft.SessionCache.acquire(df)
    if (n > 0) {
      val c =
        try df.limit(math.min(n + 1, Int.MaxValue.toLong).toInt).count()
        catch { case e: Throwable => lease.close(); throw e }
      if (c < n) {
        lease.close()
        throw new InsufficientDataError(s"got $c rows < threshold $n")
      }
    }
    lease
  }

  /** Minimal `$"col"` interpolator so library code (which has no
    * SparkSession for spark.implicits) stays readable. */
  private implicit class ColInterp(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
