package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Cols.{q => qc}

/** Column scalers with sklearn semantics (SURVEY A3/F3; ref: scaler use in
  * `gordo/machine/model/anomaly/diff.py:173,350-358`).
  *
  * Fit is ONE distributed aggregation pass collecting a single tiny row of
  * per-column stats to the driver; transform/inverse are pure column
  * arithmetic (no shuffle, stays inside whole-stage codegen). The fitted
  * stats are plain data — serializable into model metadata (K1).
  */
object Scalers {

  /** sklearn's `_handle_zeros_in_scale`: a zero scale divides by 1. */
  def nonZeroScale(s: Double): Double = if (s == 0.0) 1.0 else s

  /** Per-column (center, scale): minmax → (min, max−min),
    * robust → (median, q3−q1). Zero ranges fall back to scale 1 exactly
    * like sklearn ([[nonZeroScale]]). */
  case class FittedScaler(kind: String, stats: Map[String, (Double, Double)]) {
    private def scaleOf(c: String): Double = nonZeroScale(stats(c)._2)
    def transformCol(c: String): Column =
      (qc(c) - lit(stats(c)._1)) / lit(scaleOf(c))
    def inverseCol(c: String): Column =
      qc(c) * lit(scaleOf(c)) + lit(stats(c)._1)

    /** Replace each of `cols` with its scaled value. */
    def transform(df: DataFrame, cols: Seq[String]): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, transformCol(c)))
    def inverse(df: DataFrame, cols: Seq[String]): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, inverseCol(c)))
  }

  /** Single-pass protocol: (aggregate columns, result-row decoder) so a
    * caller can fuse the scaler fit into ITS aggregation pass over the
    * same frame (the per-fold CV fit source fits model + scaler in one
    * job). Agg aliases are name-spaced per scaler, so plans compose. */
  def aggPlan(kind: String, cols: Seq[String])
      : (Seq[org.apache.spark.sql.Column], org.apache.spark.sql.Row => FittedScaler) =
    kind match {
      case "minmax" =>
        (cols.flatMap(c =>
          Seq(min(qc(c)).as(s"__min_$c"), max(qc(c)).as(s"__max_$c"))),
          row => FittedScaler("minmax", cols.map { c =>
            // boxed reads via aggCell: min/max over an all-null column
            // return null, which a bare getAs[Double] would silently
            // unbox to 0.0 — fitting bogus (0, 0) stats for an offline
            // tag; fail loudly with the column's name instead
            val lo = DiffAnomaly.aggCell(row, s"__min_$c")
            val hi = DiffAnomaly.aggCell(row, s"__max_$c")
            c -> (lo, hi - lo)
          }.toMap))
      case "robust" =>
        (cols.flatMap(c => Seq(
          percentile(qc(c), lit(0.5)).as(s"__med_$c"),
          percentile(qc(c), lit(0.25)).as(s"__q1_$c"),
          percentile(qc(c), lit(0.75)).as(s"__q3_$c"))),
          row => FittedScaler("robust", cols.map { c =>
            val med = DiffAnomaly.aggCell(row, s"__med_$c")
            val iqr = DiffAnomaly.aggCell(row, s"__q3_$c") -
              DiffAnomaly.aggCell(row, s"__q1_$c")
            c -> (med, iqr)
          }.toMap))
      case k => throw new IllegalArgumentException(s"unknown scaler: $k")
    }

  /** Segmented-fit protocol (see [[DiffAnomaly.SegPlan]]): per-segment
    * min/max buffers merge exactly (order-free), so every CV fold's
    * scaler fit can come from one segmented pass. Robust scaling has no
    * mergeable sufficient statistic (exact percentiles don't compose) —
    * callers fall back to per-fold fits. */
  def segPlan(kind: String, cols: Seq[String])
      : Option[DiffAnomaly.SegPlan[DiffAnomaly.Stats, FittedScaler]] = kind match {
    case "minmax" =>
      val (aggs, _) = aggPlan("minmax", cols)
      Some(DiffAnomaly.SegPlan[DiffAnomaly.Stats, FittedScaler](
        aggs,
        row => cols.flatMap(c => Seq(
          s"min_$c" -> DiffAnomaly.aggCell(row, s"__min_$c"),
          s"max_$c" -> DiffAnomaly.aggCell(row, s"__max_$c"))).toMap,
        (a, b) => cols.flatMap(c => Seq(
          s"min_$c" -> math.min(a(s"min_$c"), b(s"min_$c")),
          s"max_$c" -> math.max(a(s"max_$c"), b(s"max_$c")))).toMap,
        buf => FittedScaler("minmax", cols.map { c =>
          val lo = buf(s"min_$c")
          c -> (lo, buf(s"max_$c") - lo)
        }.toMap)))
    case _ => None
  }

  private def fitVia(kind: String, df: DataFrame, cols: Seq[String]): FittedScaler = {
    val (aggs, dec) = aggPlan(kind, cols)
    dec(df.agg(aggs.head, aggs.tail: _*).head())
  }

  /** sklearn MinMaxScaler (default feature_range (0,1)):
    * scaled = (x − min) / (max − min). */
  def fitMinMax(df: DataFrame, cols: Seq[String]): FittedScaler =
    fitVia("minmax", df, cols)

  /** sklearn RobustScaler (defaults: with_centering, with_scaling,
    * quantile_range (25, 75)): scaled = (x − median) / (q3 − q1), exact
    * linear-interpolated quantiles. */
  def fitRobust(df: DataFrame, cols: Seq[String]): FittedScaler =
    fitVia("robust", df, cols)
}
