package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-validation fold logic (SURVEY J4/A8; ref: default
  * `TimeSeriesSplit(n_splits=3)` at `gordo/builder/build_model.py:257-261`,
  * fold metadata at `:347-375`).
  *
  * Folds are expressed as row-number boundaries over the time-ordered
  * frame: [0, testStart) is train, [testStart, testEnd) is test — half-
  * open, 0-based, exactly sklearn's expanding-window split. The
  * boundaries are pure arithmetic on the row count (one `count()` job);
  * fold membership is then a filter ([[trainFold]]) or a span id
  * ([[spanId]]) on a row_number column, so each fold is a DataFrame
  * view, not a materialized copy.
  */
object CrossValidate {

  /** Half-open row ranges, 0-based. `complementTrain` marks a KFold-style
    * fold whose train set is EVERYTHING OUTSIDE the test span — a
    * non-contiguous set no (trainStart, trainEnd) range can express;
    * [[trainFold]] dispatches on it, so composing the public fold
    * constructors with trainFold is always correct (a range-filter on
    * the placeholder (0, 0) range would silently train on zero rows). */
  case class Fold(index: Int, trainStart: Long, trainEnd: Long,
                  testStart: Long, testEnd: Long,
                  complementTrain: Boolean = false) {
    def nTrain: Long = trainEnd - trainStart
    def nTest: Long = testEnd - testStart
  }

  /** sklearn `TimeSeriesSplit(n_splits)`: test_size = n // (n_splits+1);
    * fold i tests [n − (n_splits−i)·test_size, n − (n_splits−i−1)·test_size)
    * and trains on everything before it. */
  def timeSeriesSplit(n: Long, nSplits: Int = 3): Seq[Fold] = {
    require(nSplits >= 2, s"nSplits must be >= 2, got $nSplits")
    val testSize = n / (nSplits + 1)
    require(testSize > 0, s"not enough rows ($n) for $nSplits splits")
    (0 until nSplits).map { i =>
      val testStart = n - (nSplits - i) * testSize
      Fold(i, 0, testStart, testStart, testStart + testSize)
    }
  }

  /** sklearn `KFold(shuffle=False)`: the first n % n_splits folds get one
    * extra row; test folds tile the range in order. */
  def kFold(n: Long, nSplits: Int = 5): Seq[Fold] = {
    require(nSplits >= 2, s"nSplits must be >= 2, got $nSplits")
    val base = n / nSplits
    val extra = n % nSplits
    var start = 0L
    (0 until nSplits).map { i =>
      val size = base + (if (i < extra) 1 else 0)
      val f = Fold(i, 0, 0, start, start + size, complementTrain = true)
      start += size
      f
    }
  }

  /** Attach a 0-based `__row` ordered by `orderCols` (deterministic total
    * order — callers must include a unique tiebreak column).
    *
    * Scale-safe: when the leading order column is numeric (the time
    * bucket, in every caller), rows are chunked by VALUE RANGE — chunk
    * boundaries derive from a collected min/max, not a sampled
    * partitioner, so the two jobs (per-chunk counts, then numbering)
    * see identical chunks — and `__row` = exclusive prefix sum of chunk
    * counts + row_number within the chunk. No single-partition
    * WindowExec; each window partition holds ~n/chunks rows however long
    * the series grows. Non-numeric leading columns fall back to the
    * global window (no current caller). */
  def withRowIndex(df: DataFrame, orderCols: Seq[Column],
                   boundedThreshold: Long = 4096L): DataFrame =
    withRowIndexCounted(df, orderCols, boundedThreshold)._1

  /** [[withRowIndex]] plus the row count its bounds aggregation already
    * computed (`Some(n)` on the numeric value-chunked paths, `None` on
    * the fallbacks that never count) — the CV fit paths need exactly
    * this count next and used to pay a SECOND full pass for it (guide
    * §1.2: don't compute the same thing twice). */
  private[graft] def withRowIndexCounted(
      df: DataFrame, orderCols: Seq[Column],
      boundedThreshold: Long = 4096L): (DataFrame, Option[Long]) = {
    import org.apache.spark.sql.types.NumericType
    val headIsNumeric = orderCols.headOption.exists(c =>
      df.select(c).schema.head.dataType.isInstanceOf[NumericType])
    if (!headIsNumeric)
      return (df.withColumn("__row",
        row_number().over(Window.orderBy(orderCols: _*)).cast("long") - lit(1L)),
        None)
    val head = orderCols.head
    val b = df.agg(min(head).cast("double").as("mn"),
      max(head).cast("double").as("mx"), count(lit(1)).as("n"),
      count(head).as("nh")).head()
    if (b.getLong(2) == 0L)
      return (df.withColumn("__row", lit(0L)), Some(0L))
    // null order values would corrupt both value-chunked paths (null
    // chunk keys / a second pmod partition restarting at 0) — fall back
    // to the global window, which orders nulls deterministically
    if (b.getLong(3) != b.getLong(2))
      return (df.withColumn("__row",
        row_number().over(Window.orderBy(orderCols: _*)).cast("long") - lit(1L)),
        Some(b.getLong(2)))
    val (mn, mx, n) = (b.getDouble(0), b.getDouble(1), b.getLong(2))
    // bounded frame: a single constant-key partition is already bounded —
    // skip the chunk-count job and offset join
    if (n <= boundedThreshold)
      return (df.withColumn("__row",
        row_number().over(Window
          .partitionBy(pmod(head.cast("bigint"), lit(1L)))
          .orderBy(orderCols: _*))
          .cast("long") - lit(1L)),
        Some(n))
    val targetChunks = math.max(32,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val span = math.max((mx - mn + 1.0) / targetChunks, 1e-9)
    val chunkOf = floor((head.cast("double") - lit(mn)) / lit(span)).cast("long")
    val counts = df.groupBy(chunkOf.as("__ck"))
      .agg(count(lit(1)).as("__cn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (ck, cn) => val o = (ck, acc); acc += cn; o }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__ck", "__off")
    val w = Window.partitionBy(col("__ck")).orderBy(orderCols: _*)
    (df.withColumn("__ck", chunkOf)
      .join(broadcast(offDf), "__ck")
      .withColumn("__row",
        col("__off") + row_number().over(w).cast("long") - lit(1L))
      .drop("__ck", "__off"),
      Some(n))
  }

  /** The id of the half-open `__row` span holding each row: `i` for
    * `spans(i)._1 ≤ __row < spans(i)._2`, null for a row in no span.
    * Every segment and fold-membership column is this one form:
    * windowed folds leave lag-context gap rows between one fold's test
    * end and the next's test start, which a boundary-only `__row < end`
    * chain would misassign. */
  def spanId(spans: Seq[(Long, Long)]): Column = {
    def in(span: (Long, Long)): Column =
      col("__row") >= span._1 && col("__row") < span._2
    spans.zipWithIndex.tail.foldLeft(when(in(spans.head), lit(0))) {
      case (acc, (span, i)) => acc.when(in(span), lit(i))
    }
  }

  /** A per-fold expression: `cases`' column for the fold id in
    * `__fold`, null for any other row. */
  def onFold(cases: Seq[(Int, Column)]): Column =
    cases.tail.foldLeft(when(col("__fold") === lit(cases.head._1), cases.head._2)) {
      case (acc, (i, c)) => acc.when(col("__fold") === lit(i), c)
    }

  def trainFold(indexed: DataFrame, fold: Fold): DataFrame =
    if (fold.complementTrain)
      indexed.filter(col("__row") < fold.testStart ||
        col("__row") >= fold.testEnd)
    else
      indexed.filter(col("__row") >= fold.trainStart &&
        col("__row") < fold.trainEnd)

  /** A8: per-metric fold aggregation exactly as
    * `gordo/builder/build_model.py:274-289` — mean/std/max/min across
    * folds plus the raw per-fold values. std is population (numpy
    * default ddof=0). */
  def aggregateScores(perFold: Seq[Double]): Map[String, Double] = {
    val n = perFold.size.toDouble
    val mean = perFold.sum / n
    val varp = perFold.map(v => (v - mean) * (v - mean)).sum / n
    Map("fold-mean" -> mean, "fold-std" -> math.sqrt(varp),
      "fold-max" -> perFold.max, "fold-min" -> perFold.min) ++
      perFold.zipWithIndex.map { case (v, i) => s"fold-${i + 1}" -> v }
  }
}
