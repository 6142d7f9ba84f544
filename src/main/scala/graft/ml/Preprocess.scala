package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Cols.{q => qc}

/** Fitted preprocessing stages of a base-estimator pipeline (SURVEY
  * M1/P6/P7/A3 composition; ref: the reference's default model is
  * `Pipeline[MinMaxScaler, KerasAutoEncoder]` inside the detector —
  * `gordo/machine/machine.py` model defaults — so the transform prefix
  * must run before the reconstruction model, not be dropped).
  *
  * Semantics mirror sklearn `Pipeline.fit(X, y)`: transforms apply to the
  * FEATURES only; targets stay raw. Every supported stage is a per-tag
  * affine map (scaler, multiply) or an idempotent non-finite fill
  * (InfImputer), so the whole chain is `pre(x) = affine(clip(x))` with an
  * exact affine inverse `post`. Reconstructors fit in the transformed
  * space and predictions are mapped back through `post` — for linear
  * models this is algebraically the reference's "transformed X → raw y"
  * shape; for PCA it is the standard whiten-reconstruct-unwhiten.
  *
  * All state is plain per-tag doubles — serializable into model.json (K1)
  * and rebuilt on load (S5), so a persisted model scores identically.
  */
object Preprocess {

  sealed trait Stage {
    /** Forward transform of one tag's value expression. */
    def pre(tag: String, c: Column): Column
    /** Inverse transform (identity for the imputer — fills are not
      * invertible and never need to be: they only replace ±inf). */
    def post(tag: String, c: Column): Column
    /** Serializable spec for model persistence. */
    def spec: Map[String, Any]
    /** Whether this stage holds per-tag stats under exactly `tag`. */
    def hasKey(tag: String): Boolean = true
  }

  /** Fitted scaler stage wrapping [[Scalers.FittedScaler]] stats
    * ((center, scale) per tag; zero scale → 1 like sklearn). */
  case class ScalerStage(kind: String, stats: Map[String, (Double, Double)])
      extends Stage {
    override def hasKey(tag: String): Boolean = stats.contains(tag)
    private def cs(tag: String): (Double, Double) = {
      val (ctr, s) = stats(tag)
      (ctr, Scalers.nonZeroScale(s))
    }
    def pre(tag: String, c: Column): Column = {
      val (ctr, s) = cs(tag); (c - lit(ctr)) / lit(s)
    }
    def post(tag: String, c: Column): Column = {
      val (ctr, s) = cs(tag); c * lit(s) + lit(ctr)
    }
    def spec: Map[String, Any] = Map("stage" -> "scaler", "kind" -> kind,
      "stats" -> stats.map { case (t, (a, b)) => t -> List(a, b) })
  }

  /** Fitted InfImputer stage ((posFill, negFill) per tag). */
  case class ImputerStage(fills: Map[String, (Double, Double)]) extends Stage {
    override def hasKey(tag: String): Boolean = fills.contains(tag)
    def pre(tag: String, c: Column): Column = {
      val (pos, neg) = fills(tag)
      when(c === lit(Double.PositiveInfinity), lit(pos))
        .when(c === lit(Double.NegativeInfinity), lit(neg))
        .otherwise(c)
    }
    def post(tag: String, c: Column): Column = c
    def spec: Map[String, Any] = Map("stage" -> "imputer",
      "fills" -> fills.map { case (t, (p, n)) => t -> List(p, n) })
  }

  /** `FunctionTransformer(multiply_by)` stage. */
  case class MultiplyStage(factor: Double) extends Stage {
    def pre(tag: String, c: Column): Column = c * lit(factor)
    def post(tag: String, c: Column): Column =
      if (factor == 0.0) c else c / lit(factor)
    def spec: Map[String, Any] = Map("stage" -> "multiply", "factor" -> factor)
  }

  /** The fitted chain. `pre` applies stages in order from the raw column;
    * `post` inverts the affine stages in reverse order. */
  case class Fitted(stages: List[Stage]) {
    def isEmpty: Boolean = stages.isEmpty
    def pre(tag: String): Column = preFrom(tag, qc(tag).cast("double"))
    def preFrom(tag: String, c: Column): Column =
      stages.foldLeft(c)((acc, s) => s.pre(tag, acc))
    def post(tag: String, c: Column): Column =
      stages.foldRight(c)((s, acc) => s.post(tag, acc))
    def specs: List[Map[String, Any]] = stages.map(_.spec)
    /** Stat key resolution for a feature column: the EXACT name when the
      * chain holds stats for it (covers free-form raw tags that happen
      * to end in `__lagN`), else the [[statKey]]-stripped base tag (lag
      * features of windowed models share their base tag's stats). */
    def keyFor(col: String): String =
      if (stages.forall(_.hasKey(col))) col else statKey(col)
  }

  val empty: Fitted = Fitted(Nil)

  /** Rebuild a fitted chain from persisted specs (the load path). */
  def fromSpecs(specs: List[Map[String, Any]]): Fitted = Fitted(specs.map { m =>
    def pairs(key: String): Map[String, (Double, Double)] =
      m(key).asInstanceOf[Map[String, Any]].map {
        case (t, l: List[_]) =>
          t -> (l.head.toString.toDouble, l(1).toString.toDouble)
        case (t, v) =>
          throw new IllegalStateException(s"bad preprocess stats $t: $v")
      }
    m("stage").toString match {
      case "scaler"   => ScalerStage(m("kind").toString, pairs("stats"))
      case "imputer"  => ImputerStage(pairs("fills"))
      case "multiply" => MultiplyStage(m("factor").toString.toDouble)
      case other => throw new IllegalStateException(s"unknown preprocess stage: $other")
    }
  })

  // ---- unfitted stage specs (what a compiled config provides) ----

  sealed trait StageSpec
  case class ScalerSpec(kind: String) extends StageSpec
  case class ImputerSpec(strategy: String, delta: Double) extends StageSpec
  case class MultiplySpec(factor: Double) extends StageSpec

  /** Fit the stage chain sequentially over `df` (sklearn `Pipeline.fit`:
    * each stage fits on the PREVIOUS stage's output — expressed as
    * nested column expressions, one aggregation job per fitted stage, no
    * materialized intermediates). */
  def fitStages(df: org.apache.spark.sql.DataFrame, tags: Seq[String],
                specs: List[StageSpec],
                feature: String => Column): Fitted = {
    var chain = List.empty[Stage]
    // a tag that is entirely null (or all non-finite under the finite
    // mask) yields NULL aggregates; getAs[Double] would unbox those to
    // 0.0 and silently fit bogus stats — fail with the tag named instead
    def stat(row: org.apache.spark.sql.Row, name: String, tag: String): Double = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) throw new IllegalStateException(
        s"preprocess fit: aggregate '$name' is null — tag '$tag' has no " +
          "(finite) values in the training span")
      row.getDouble(i)
    }
    specs.foreach { spec =>
      def cur(t: String): Column = Fitted(chain).preFrom(t, feature(t))
      val stage: Stage = spec match {
        case MultiplySpec(f) => MultiplyStage(f)
        case ScalerSpec("minmax") =>
          val aggs = tags.flatMap(t =>
            Seq(min(cur(t)).as(s"__pmin_$t"), max(cur(t)).as(s"__pmax_$t")))
          val row = df.agg(aggs.head, aggs.tail: _*).head()
          ScalerStage("minmax", tags.map { t =>
            val lo = stat(row, s"__pmin_$t", t)
            t -> (lo, stat(row, s"__pmax_$t", t) - lo)
          }.toMap)
        case ScalerSpec("robust") =>
          val aggs = tags.flatMap(t => Seq(
            percentile(cur(t), lit(0.5)).as(s"__pmed_$t"),
            percentile(cur(t), lit(0.25)).as(s"__pq1_$t"),
            percentile(cur(t), lit(0.75)).as(s"__pq3_$t")))
          val row = df.agg(aggs.head, aggs.tail: _*).head()
          ScalerStage("robust", tags.map { t =>
            val med = stat(row, s"__pmed_$t", t)
            val iqr = stat(row, s"__pq3_$t", t) - stat(row, s"__pq1_$t", t)
            t -> (med, iqr)
          }.toMap)
        case ScalerSpec(k) =>
          throw new IllegalArgumentException(s"unknown scaler: $k")
        case ImputerSpec("extremes", _) =>
          ImputerStage(tags.map(t =>
            t -> (Double.MaxValue, Double.MinValue)).toMap)
        case ImputerSpec("minmax", delta) =>
          // finite min/max (non-finite masked, like numpy masked_invalid)
          def finite(c: Column): Column =
            when(!isnan(c) && c =!= lit(Double.PositiveInfinity) &&
              c =!= lit(Double.NegativeInfinity), c)
          val aggs = tags.flatMap(t => Seq(
            max(finite(cur(t))).as(s"__pimax_$t"),
            min(finite(cur(t))).as(s"__pimin_$t")))
          val row = df.agg(aggs.head, aggs.tail: _*).head()
          ImputerStage(tags.map { t =>
            val hi = stat(row, s"__pimax_$t", t)
            val lo = stat(row, s"__pimin_$t", t)
            val pos = if (Double.MaxValue - delta > hi) hi + delta else Double.MaxValue
            val neg = if (Double.MinValue + delta < lo) lo - delta else Double.MinValue
            t -> (pos, neg)
          }.toMap)
        case ImputerSpec(s, _) =>
          throw new IllegalArgumentException(s"unknown imputer strategy: $s")
      }
      chain = chain :+ stage
    }
    Fitted(chain)
  }

  /** A fitted-model wrapper exposing the fitted preprocessing chain (for
    * model persistence). */
  case class PreprocessedFitted(inner: DiffAnomaly.Fitted, prep: Fitted)
      extends DiffAnomaly.Fitted {
    def predictCol(tag: String): Column = prep.post(tag, inner.predictCol(tag))
    def params: Map[String, Double] = inner.params
    def impl: String = inner.impl
    override def history: Map[String, Any] = inner.history
  }

  /** Stat key for a (possibly lag-derived) column: `tx__lag2` → `tx`.
    * Sequence models (M6) window tags into lag feature columns, but the
    * reference fits its preprocessing ONCE PER RAW TAG — every lag of a
    * tag shares that tag's transform statistics. */
  def statKey(col: String): String = col.replaceAll("__lag\\d+$", "")

  /** Wrap a reconstructor so every `fit` call FIRST fits the
    * preprocessing chain on that call's train frame (sklearn
    * `cross_validate` clones and refits the whole pipeline per fold — a
    * chain fitted once on the full series would leak each fold's test
    * span into its transform statistics), then fits the model on the
    * transformed features with raw-space predictions via the affine
    * inverse. `aggPlan` stays None: stage fitting is sequential (stage k
    * fits on stage k−1's output), so it cannot fuse into one pass.
    *
    * `statTags`, when set, names the columns the chain fits its stats
    * on (the RAW tag columns for windowed sequence models — lag features
    * then share their base tag's stats via [[Fitted.keyFor]]); None fits
    * per model feature as before.
    *
    * Documented divergence for windowed models: stats fit over the
    * WINDOWED frame, whose first `lookback` raw rows were dropped, while
    * the reference scales the full un-windowed span — a difference of at
    * most `lookback` head rows, material only when a tag's extremum sits
    * in them. No oracle gates this path; exact parity would require
    * threading the raw frame through every per-fold refit. */
  class Reconstructor(inner: DiffAnomaly.Reconstructor,
                      specs: List[StageSpec],
                      statTags: Option[Seq[String]] = None)
      extends DiffAnomaly.Reconstructor {
    def impl: String = inner.impl
    def fit(train: org.apache.spark.sql.DataFrame, xTags: Seq[String],
            yTags: Seq[String], feature: String => Column): DiffAnomaly.Fitted = {
      // the chain fits per-tag stats over X ∪ y: X feeds the model in
      // transformed space; a y-only target needs its own affine stats so
      // its transformed-space prediction inverts back to raw units
      val st = statTags.getOrElse((xTags ++ yTags).distinct)
      val prep = fitStages(train, st,
        specs, t => graft.Cols.q(t).cast("double"))
      PreprocessedFitted(
        inner.fit(train, xTags, yTags,
          t => prep.preFrom(prep.keyFor(t), feature(t))), prep)
    }
  }
}
