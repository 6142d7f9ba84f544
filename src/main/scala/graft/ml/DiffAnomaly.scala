package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Cols.{q => qc}
import graft.ml.Scalers.FittedScaler

/** `DiffBasedAnomalyDetector` re-expressed Spark-first (SURVEY M11, the
  * reference centerpiece; ref: `gordo/machine/model/anomaly/diff.py:21-458`).
  *
  * The detector wraps any [[Reconstructor]] (the autoencoder stand-in),
  * fits a scaler on the target purely for error calculation, computes
  * per-fold anomaly thresholds from TimeSeriesSplit cross-validation
  * (rolling(6).min().max() of validation errors, final = last fold,
  * `diff.py:226-264`), and produces the full anomaly frame
  * (`diff.py:310-458`): model-input/output, tag/total anomaly scaled and
  * unscaled, smooth variants, confidences.
  *
  * MultiIndex columns flatten to `"group.tag"` names (SURVEY §1.5).
  *
  * All per-row derivations are ONE `select` over the same row (the
  * reference's index joins J2 collapse to column arithmetic — no physical
  * join). Rolling windows order by the time bucket, unpartitioned by
  * design: a detector instance operates on ONE machine's series of
  * bounded length (months × 144/day); a 1000-machine build parallelizes
  * across machines.
  */
object DiffAnomaly {

  /** The base-estimator surface: fit on a wide train frame, return
    * per-tag prediction expressions evaluable on any frame with the same
    * columns. Implementations must be deterministic (SURVEY §7.4: no NN
    * nondeterminism in correctness gates). */
  trait Reconstructor {
    /** Family name persisted as model.json `impl`;
      * [[graft.config.ModelRegistry.fittedFromParams]] maps it back to
      * the family's param→column constructor on load. */
    def impl: String
    /** Fit predicting `yTags` from the `xTags` features (the reference's
      * `tag_list` → `target_tag_list` split; `y = X` for autoencoders),
      * with an explicit feature-expression builder: `feature(tag)` is
      * the model-input expression for `tag` (identity `qc` normally; the
      * fitted preprocessing chain when the base estimator is a
      * `Pipeline[transforms..., model]` — see [[Preprocess.Reconstructor]]). */
    def fit(train: DataFrame, xTags: Seq[String], yTags: Seq[String],
            feature: String => Column): Fitted
    final def fit(train: DataFrame, tags: Seq[String]): Fitted =
      fit(train, tags, tags, t => qc(t).cast("double"))
    final def fit(train: DataFrame, tags: Seq[String],
                  feature: String => Column): Fitted =
      fit(train, tags, tags, feature)
    /** Single-pass protocol: when defined, (aggregate columns, result-row
      * decoder) let a caller FUSE this fit into a wider aggregation over
      * the same frame (the per-fold CV fit source runs model +
      * error-scaler fit as ONE distributed pass per fold instead of two). Aliases are
      * name-spaced per model so plans compose. */
    def aggPlan(xTags: Seq[String], yTags: Seq[String],
                feature: String => Column)
        : Option[(Seq[Column], org.apache.spark.sql.Row => Fitted)] = None
    /** Segmented-fit protocol: when defined, the CV driver computes ONE
      * segmented stats pass over the whole frame and derives EVERY fold's
      * fit by merging segment buffers on the driver (fold train sets are
      * unions of row segments: prefixes for TimeSeriesSplit, complements
      * for KFold). Turns CV from O(n_folds) full-data train passes into
      * O(1). Merging closed-form statistics re-associates floating-point
      * reductions, so values can differ from a flat fit in the last bits
      * — same class of difference as changing the partition count. A
      * [[RowReconstructor]]'s row buffer merges exactly: its decode
      * trains on the same rows, in the same order, as a per-fold fit. */
    def segPlan(xTags: Seq[String], yTags: Seq[String],
                feature: String => Column): Option[SegPlan[_, Fitted]] = None
  }

  /** Mergeable per-segment buffers of type `B`: `aggs` compute one
    * segment's buffer (one row of a `groupBy(segment)` aggregation over
    * the CV's `__row`-indexed frame), `fromRow` extracts it,
    * `merge` combines two segments' buffers (must be associative),
    * `decode` turns a merged buffer into the fitted result.
    *
    * Closed-form families (trend, ridge, PCA, the window autoencoder and
    * the minmax scaler) buffer named sufficient statistics ([[Stats]]).
    * The collect-based families (MLP, LSTM) buffer the segment's rows
    * themselves as a dense [[RowBuffer]]; its decode orders the merged
    * rows by `__row` before training. */
  case class SegPlan[B, A](
      aggs: Seq[Column],
      fromRow: org.apache.spark.sql.Row => B,
      merge: (B, B) => B,
      decode: B => A)

  /** A closed-form segment buffer: sufficient statistics by name. */
  type Stats = Map[String, Double]

  /** A segment's training rows: `rows(i)` is the `__row` index of the
    * cells `cells(i)` = (x…, y…), null cells read as NaN. Segments
    * arrive in any order and `collect_list` keeps no order, so the
    * buffer is unordered until [[RowReconstructor]]'s decode sorts it. */
  final case class RowBuffer(rows: Array[Long], cells: Array[Array[Double]])

  /** A collect-based family (MLP, LSTM): it trains in-process on the
    * per-machine matrix of (x…, y…) rows in time order (SURVEY §3.1:
    * "fit collects the per-machine matrix"). Rows with any null or NaN
    * cell are dropped (`na.drop("any")`, row-wise deletion — the
    * standard NN treatment; `ModelBuilder` already drops gap rows, this
    * covers direct callers).
    *
    * `fit` collects the train frame's matrix, in `__row` order when the
    * frame carries that index. `segPlan` is the row
    * buffer: each segment collects its rows as `collect_list(struct(
    * __row, array(x…, y…)))`, segments merge by concatenation, and
    * decode sorts the merged rows by `__row`, drops the same rows and
    * trains. A CV fold's fit therefore sees the same rows in time order
    * whatever the partitioning, and one pass serves every fold. */
  trait RowReconstructor extends Reconstructor {
    /** Train on the matrix of (x…, y…) rows, in row order. */
    private[ml] def fitRows(rows: Array[Array[Double]], xTags: Seq[String],
                            yTags: Seq[String], feature: String => Column): Fitted

    private def cellCols(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column): Seq[Column] =
      (xTags ++ yTags).map(t => feature(t).cast("double"))

    /** A frame carrying the CV's `__row` is collected with it and sorted
      * by it, the same rule as the row buffer's decode: past 4096 rows
      * the index is value-chunked and a plain collect arrives in
      * partition order. */
    final def fit(train: DataFrame, xTags: Seq[String], yTags: Seq[String],
                  feature: String => Column): Fitted = {
      val key = if (train.columns.contains("__row")) Seq(col("__row")) else Nil
      val cells = cellCols(xTags, yTags, feature)
      val rows = train.select(key ++ cells: _*).na.drop("any").collect()
      val ordered = if (key.isEmpty) rows else rows.sortBy(_.getLong(0))
      fitRows(ordered.map(r => Array.tabulate(cells.size)(i => r.getDouble(key.size + i))),
        xTags, yTags, feature)
    }

    override def segPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column)
        : Option[SegPlan[RowBuffer, Fitted]] = Some(SegPlan[RowBuffer, Fitted](
      Seq(collect_list(struct(col("__row"),
        array(cellCols(xTags, yTags, feature): _*))).as("__rowbuf")),
      row => {
        val items = row.getList[org.apache.spark.sql.Row](row.fieldIndex("__rowbuf"))
        RowBuffer(Array.tabulate(items.size)(i => items.get(i).getLong(0)),
          Array.tabulate(items.size) { i =>
            val cells = items.get(i).getList[java.lang.Double](1)
            Array.tabulate(cells.size) { j =>
              val v = cells.get(j)
              if (v == null) Double.NaN else v.doubleValue
            }
          })
      },
      (a, b) => RowBuffer(a.rows ++ b.rows, a.cells ++ b.cells),
      buf => fitRows(buf.rows.indices.sortBy(buf.rows(_)).iterator
        .map(buf.cells).filterNot(_.exists(_.isNaN)).toArray, xTags, yTags, feature)))
  }

  trait Fitted {
    /** Column expression reconstructing `tag` from the current row. */
    def predictCol(tag: String): Column
    /** Serializable parameters for model persistence (K1). */
    def params: Map[String, Double]
    /** The [[Reconstructor.impl]] family these params belong to. */
    def impl: String
    /** A10 training history (the keras `History` analog,
      * `gordo/machine/model/models.py:339-357`): per-epoch metric lists +
      * a `params` block. Empty for closed-form fits — they have no
      * epochs, matching the reference models without a history. */
    def history: Map[String, Any] = Map.empty
  }

  /** Boxed aggregate read: SQL aggregates over a column with NO non-null
    * rows return null, and `getAs[Double]` silently unboxes that to
    * 0.0 — a fit would then emit bogus zero coefficients/stats for an
    * offline tag and every downstream threshold would be garbage. Fail
    * loudly with the aggregate's alias instead. */
  private[ml] def aggCell(row: org.apache.spark.sql.Row, name: String): Double = {
    val v = row.getAs[java.lang.Double](name)
    require(v != null, s"fit aggregate '$name' is null — the column has " +
      "no non-null values in the fit span")
    v.doubleValue
  }

  /** Per-tag least-squares linear trend on time: ŷ = a + b·(t − epoch0).
    * Deterministic, one aggregation pass, SQL-expressible — the
    * correctness-gate reconstruction model (SURVEY §7.3(c)). */
  class TrendReconstructor(orderCol: String, epoch0: Long) extends Reconstructor {
    def impl: String = "trend"
    private def x: Column = (col(orderCol) - lit(epoch0)).cast("double")
    private def fitted(p: Map[String, Double]): Fitted =
      TrendReconstructor.fittedFromParams(p, orderCol, epoch0)
    /** Per-segment buffer: n, mean(x), central co-moments Cxx and Cxy per
      * target — regr_slope = Cxy/Cxx and regr_intercept = ȳ − slope·x̄
      * are exactly the ratios Spark's REGR_* aggregates compute, and the
      * co-moments merge with the standard pairwise (Chan et al.) update,
      * the same formula Spark uses to combine partition buffers. */
    override def segPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column): Option[SegPlan[Stats, Fitted]] =
      Some(SegPlan[Stats, Fitted](
        count(lit(1)).cast("double").as("tr_n") +:
          avg(x).as("tr_mx") +: var_pop(x).as("tr_vx") +:
          yTags.flatMap(t => Seq(
            avg(feature(t)).as(s"tr_my_$t"),
            covar_pop(feature(t), x).as(s"tr_cxy_$t"))),
        row => {
          val n = aggCell(row, "tr_n")
          Map("n" -> n, "mx" -> aggCell(row, "tr_mx"),
            "cxx" -> aggCell(row, "tr_vx") * n) ++
            yTags.flatMap(t => Seq(
              s"my_$t" -> aggCell(row, s"tr_my_$t"),
              s"cxy_$t" -> aggCell(row, s"tr_cxy_$t") * n))
        },
        (a, b) => {
          val (n1, n2) = (a("n"), b("n"))
          val n = n1 + n2
          val k = n1 * n2 / n
          val dx = b("mx") - a("mx")
          Map("n" -> n, "mx" -> (a("mx") + dx * n2 / n),
            "cxx" -> (a("cxx") + b("cxx") + dx * dx * k)) ++
            yTags.flatMap { t =>
              val dy = b(s"my_$t") - a(s"my_$t")
              Seq(s"my_$t" -> (a(s"my_$t") + dy * n2 / n),
                s"cxy_$t" -> (a(s"cxy_$t") + b(s"cxy_$t") + dx * dy * k))
            }
        },
        buf => fitted(yTags.flatMap { t =>
          val slope = buf(s"cxy_$t") / buf("cxx")
          Seq(s"a_$t" -> (buf(s"my_$t") - slope * buf("mx")), s"b_$t" -> slope)
        }.toMap)))
    override def aggPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column)
        : Option[(Seq[Column], org.apache.spark.sql.Row => Fitted)] = Some((
      yTags.flatMap(t => Seq(
        regr_slope(feature(t), x).as(s"b_$t"),
        regr_intercept(feature(t), x).as(s"a_$t"))),
      row => fitted(yTags.flatMap(t =>
        Seq(s"a_$t" -> aggCell(row, s"a_$t"), s"b_$t" -> aggCell(row, s"b_$t"))).toMap)))
    def fit(train: DataFrame, xTags: Seq[String], yTags: Seq[String],
            feature: String => Column): Fitted = {
      val (aggs, dec) = aggPlan(xTags, yTags, feature).get
      dec(train.agg(aggs.head, aggs.tail: _*).head())
    }
  }

  object TrendReconstructor {
    /** ŷ_tag = a_tag + b_tag·(orderCol − epoch0) from params
      * `a_<tag>`/`b_<tag>` — the one param→column mapping the fit
      * decoders and the model load share. */
    def fittedFromParams(p: Map[String, Double], orderCol: String,
                         epoch0: Long): Fitted = new Fitted {
      private val x: Column = (col(orderCol) - lit(epoch0)).cast("double")
      def predictCol(tag: String): Column =
        lit(p(s"a_$tag")) + lit(p(s"b_$tag")) * x
      def params: Map[String, Double] = p
      def impl: String = "trend"
    }
  }

  /** Multivariate ridge reconstruction: each tag predicted from the OTHER
    * tags (self excluded, so reconstruction is non-trivial — the linear
    * analog of a bottlenecked autoencoder). Normal equations
    * (XᵀX + λI)w = XᵀY over the (m+1)×(m+1) Gram matrix (intercept +
    * tags) computed in ONE distributed aggregation pass (m = tag count,
    * bounded) and solved per target on the driver by Gaussian elimination
    * — the Spark shape for "fit collects the modest per-machine matrix"
    * (SURVEY §3.1). */
  class RidgeReconstructor(lambda: Double = 1e-8) extends Reconstructor {
    def impl: String = "ridge"
    /** Shared Gram construction: (aggregates, their alias names) —
      * single source of truth for aggPlan AND segPlan, so the alias set
      * can never desync between the two. */
    private def gramPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column)
        : (Seq[Column], Seq[String]) = {
      val m = xTags.size
      // column vector = (1, xTags..., y-only targets...): the Gram over
      // all pairs carries both XᵀX and the XᵀY cross terms
      val extraY = yTags.filterNot(xTags.contains)
      val allCols = (lit(1.0) +: xTags.map(t => feature(t).cast("double"))) ++
        extraY.map(t => feature(t).cast("double"))
      val nAll = allCols.size - 1
      // pairs with BOTH indices in the y-only block are never read by the
      // decoder (features stop at index m) — skip those aggregates
      val pairs = for { i <- 0 to m; j <- i to nAll } yield (i, j)
      (pairs.map { case (i, j) => sum(allCols(i) * allCols(j)).as(s"g_${i}_$j") },
        pairs.map { case (i, j) => s"g_${i}_$j" })
    }
    override def aggPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column)
        : Option[(Seq[Column], org.apache.spark.sql.Row => Fitted)] = {
      val (aggs, _) = gramPlan(xTags, yTags, feature)
      Some((aggs,
        row => decodeGram((i, j) =>
          aggCell(row, s"g_${math.min(i, j)}_${math.max(i, j)}"),
          xTags, yTags, feature)))
    }
    /** Segmented fit: Gram-product sums merge by plain addition. */
    override def segPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column): Option[SegPlan[Stats, Fitted]] = {
      val (aggs, names) = gramPlan(xTags, yTags, feature)
      Some(SegPlan[Stats, Fitted](
        aggs,
        row => names.map(n => n -> aggCell(row, n)).toMap,
        (a, b) => names.map(n => n -> (a(n) + b(n))).toMap,
        buf => decodeGram((i, j) =>
          buf(s"g_${math.min(i, j)}_${math.max(i, j)}"),
          xTags, yTags, feature)))
    }
    /** Normal-equation solve from any Gram lookup; weights per target
      * over features (1, xTags != target) — a target present among the
      * inputs is excluded from its own features. */
    private def decodeGram(gram: (Int, Int) => Double, xTags: Seq[String],
                           yTags: Seq[String], feature: String => Column): Fitted = {
      val m = xTags.size
      val extraY = yTags.filterNot(xTags.contains)
      def yIdx(t: String): Int = {
        val xi = xTags.indexOf(t)
        if (xi >= 0) xi + 1 else m + 1 + extraY.indexOf(t)
      }
      val weights = yTags.flatMap { t =>
        val ti = yIdx(t)
        val fIdx = (0 to m).filterNot(_ == ti)
        val a = Array.tabulate(fIdx.size, fIdx.size) { (i, j) =>
          gram(fIdx(i), fIdx(j)) + (if (i == j) lambda else 0.0)
        }
        val b = fIdx.map(gram(_, ti)).toArray
        fIdx.zip(solve(a, b)).map { case (fi, v) => s"w_${t}_$fi" -> v }
      }.toMap
      RidgeReconstructor.fittedFromParams(weights, xTags, feature)
    }
    def fit(train: DataFrame, xTags: Seq[String], yTags: Seq[String],
            feature: String => Column): Fitted = {
      val (aggs, dec) = aggPlan(xTags, yTags, feature).get
      dec(train.agg(aggs.head, aggs.tail: _*).head())
    }
    /** In-place Gaussian elimination with partial pivoting. */
    private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
      val n = b.length
      for (p <- 0 until n) {
        var maxR = p
        for (r <- p + 1 until n) if (math.abs(a(r)(p)) > math.abs(a(maxR)(p))) maxR = r
        val tmp = a(p); a(p) = a(maxR); a(maxR) = tmp
        val tb = b(p); b(p) = b(maxR); b(maxR) = tb
        for (r <- p + 1 until n) {
          val f = a(r)(p) / a(p)(p)
          for (c <- p until n) a(r)(c) -= f * a(p)(c)
          b(r) -= f * b(p)
        }
      }
      val x = new Array[Double](n)
      for (r <- n - 1 to 0 by -1) {
        var s = b(r)
        for (c <- r + 1 until n) s -= a(r)(c) * x(c)
        x(r) = s / a(r)(r)
      }
      x
    }
  }

  object RidgeReconstructor {
    /** ŷ_tag = Σ_fi w_<tag>_<fi> · f_fi over the feature vector
      * f = (1, xTags…) from params `w_<tag>_<fi>` (a target's own index
      * is absent — self excluded) — the one param→column mapping the fit
      * decoders and the model load share. */
    def fittedFromParams(p: Map[String, Double], xTags: Seq[String],
                         feature: String => Column): Fitted = new Fitted {
      private val feats: Seq[Column] =
        lit(1.0) +: xTags.map(t => feature(t).cast("double"))
      def predictCol(tag: String): Column =
        feats.indices
          .flatMap(fi => p.get(s"w_${tag}_$fi").map(w => feats(fi) * lit(w)))
          .reduce(_ + _)
      def params: Map[String, Double] = p
      def impl: String = "ridge"
    }
  }

  /** PCA reconstruction (the exact linear autoencoder): fit computes the
    * tag covariance matrix in ONE distributed pass, eigen-decomposes it
    * on the driver (cyclic Jacobi — m is the bounded tag count), keeps
    * the top `nComponents` eigenvectors, and reconstructs each tag by
    * projecting the centered row onto the retained subspace and back.
    * Deterministic (eigenvector sign fixed by largest-magnitude entry),
    * the authentic stand-in for the reference's feedforward autoencoder
    * (SURVEY §7.3c: "default to linear/PCA reconstruction models"). */
  class PcaReconstructor(nComponents: Int,
                         varianceFraction: Option[Double] = None)
      extends Reconstructor {
    def impl: String = "pca"
    require(varianceFraction.isDefined || nComponents >= 1,
      "n_components must be >= 1")
    varianceFraction.foreach(f => require(f > 0.0 && f < 1.0,
      s"variance fraction must be in (0, 1): $f"))
    override def aggPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column)
        : Option[(Seq[Column], org.apache.spark.sql.Row => Fitted)] = {
      require(xTags == yTags,
        "PCA reconstruction is an autoencoder: target_tag_list must equal tag_list")
      val tags = xTags
      val m = tags.size
      val means = tags.map(t => avg(feature(t)).as(s"mu_$t"))
      val covs = for { i <- 0 until m; j <- i until m }
        yield covar_pop(feature(tags(i)), feature(tags(j))).as(s"c_${i}_$j")
      Some(((means ++ covs), row => decode(row, tags, feature)))
    }
    def fit(train: DataFrame, xTags: Seq[String], yTags: Seq[String],
            feature: String => Column): Fitted = {
      val (aggs, dec) = aggPlan(xTags, yTags, feature).get
      dec(train.agg(aggs.head, aggs.tail: _*).head())
    }
    /** Segmented fit: buffer = (n, means, central co-moments C = cov·n);
      * means and co-moments merge with the pairwise (Chan et al.) update
      * — the same combine Spark's covar_pop uses across partitions. */
    override def segPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column): Option[SegPlan[Stats, Fitted]] = {
      require(xTags == yTags,
        "PCA reconstruction is an autoencoder: target_tag_list must equal tag_list")
      val tags = xTags
      val m = tags.size
      val pairs = for { i <- 0 until m; j <- i until m } yield (i, j)
      val (aggs, _) = aggPlan(xTags, yTags, feature).get
      Some(SegPlan[Stats, Fitted](
        count(lit(1)).cast("double").as("pc_n") +: aggs,
        row => {
          val n = row.getAs[Double]("pc_n")
          // aggCell, not getAs[Double]: an all-null tag in this segment
          // yields null avg/covar aggregates, and a bare read would
          // unbox them to 0.0 — silent zero-stat components
          (Seq("n" -> n) ++
            tags.zipWithIndex.map { case (t, i) =>
              s"mu_$i" -> aggCell(row, s"mu_$t") } ++
            pairs.map { case (i, j) =>
              s"C_${i}_$j" -> aggCell(row, s"c_${i}_$j") * n }).toMap
        },
        (a, b) => {
          val (n1, n2) = (a("n"), b("n"))
          val n = n1 + n2
          val k = n1 * n2 / n
          val d = Array.tabulate(m)(i => b(s"mu_$i") - a(s"mu_$i"))
          (Seq("n" -> n) ++
            (0 until m).map(i =>
              s"mu_$i" -> (a(s"mu_$i") + d(i) * n2 / n)) ++
            pairs.map { case (i, j) =>
              s"C_${i}_$j" -> (a(s"C_${i}_$j") + b(s"C_${i}_$j") + d(i) * d(j) * k)
            }).toMap
        },
        buf => {
          val n = buf("n")
          val mu = Array.tabulate(m)(i => buf(s"mu_$i"))
          val cov = Array.tabulate(m, m) { (i, j) =>
            val (a, b) = if (i <= j) (i, j) else (j, i)
            buf(s"C_${a}_$b") / n
          }
          decodeStats(mu, cov, tags, feature)
        }))
    }
    private def decode(row: org.apache.spark.sql.Row, tags: Seq[String],
                       feature: String => Column): Fitted = {
      val m = tags.size
      // aggCell, not getAs[Double]: a tag with no non-null fit rows must
      // fail loudly, not unbox null stats to a zero mean/covariance
      val mu = tags.map(t => aggCell(row, s"mu_$t")).toArray
      val cov = Array.tabulate(m, m) { (i, j) =>
        val (a, b) = if (i <= j) (i, j) else (j, i)
        aggCell(row, s"c_${a}_$b")
      }
      decodeStats(mu, cov, tags, feature)
    }
    private def decodeStats(mu: Array[Double], cov: Array[Array[Double]],
                            tags: Seq[String],
                            feature: String => Column): Fitted = {
      val m = tags.size
      val (vals, vecs) = jacobiEigen(cov)
      val sorted = vals.sorted(Ordering[Double].reverse)
      // sklearn float n_components: smallest k whose cumulative explained
      // variance EXCEEDS the fraction (searchsorted side='right' + 1)
      val k = varianceFraction match {
        case Some(f) =>
          val total = sorted.sum
          val cum = sorted.scanLeft(0.0)(_ + _).drop(1)
          if (total <= 0.0) 1
          else math.min(m, cum.indexWhere(_ / total > f) match {
            case -1 => m
            case i  => i + 1
          })
        case None => math.min(nComponents, m)
      }
      // top-k by eigenvalue, sign-fixed for determinism
      val order = vals.zipWithIndex.sortBy(-_._1).map(_._2).take(k)
      val comps: Array[Array[Double]] = order.map { ci =>
        val v = Array.tabulate(m)(r => vecs(r)(ci))
        val lead = v.indices.maxBy(i => math.abs(v(i)))
        if (v(lead) < 0) v.map(x => -x) else v
      }.toArray
      PcaReconstructor.fittedFromParams(
        tags.zipWithIndex.map { case (t, i) => s"mu_$t" -> mu(i) }.toMap ++
          comps.zipWithIndex.flatMap { case (c, ci) =>
            c.zipWithIndex.map { case (w, d) => s"pc_${ci}_$d" -> w }.toSeq
          }.toMap,
        tags, feature)
    }

    /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
      * (eigenvalues, eigenvector columns). */
    private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
      val n = a0.length
      val a = a0.map(_.clone())
      val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
      var sweep = 0
      while (sweep < 100 && offDiag(a) > 1e-14) {
        for (p <- 0 until n - 1; q <- p + 1 until n if math.abs(a(p)(q)) > 1e-300) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until n) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (j <- 0 until n) {
            val apj = a(p)(j); val aqj = a(q)(j)
            a(p)(j) = c * apj - s * aqj
            a(q)(j) = s * apj + c * aqj
          }
          for (i <- 0 until n) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
        sweep += 1
      }
      (Array.tabulate(n)(i => a(i)(i)), v)
    }
    private def offDiag(a: Array[Array[Double]]): Double = {
      var s = 0.0
      for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
      math.sqrt(s)
    }
  }

  object PcaReconstructor {
    /** x̂_tag = mu_tag + Σ_c pc_c[tag] · ((x − mu) · pc_c) from params
      * `mu_<tag>` and component entries `pc_<c>_<d>` — the one
      * param→column mapping the fit decoders and the model load share. */
    def fittedFromParams(p: Map[String, Double], tags: Seq[String],
                         feature: String => Column): Fitted = new Fitted {
      private val mu = tags.map(t => p(s"mu_$t")).toArray
      private val nComp = p.keys.collect {
        case k if k.startsWith("pc_") => k.split("_")(1).toInt
      }.foldLeft(-1)(math.max) + 1
      private val comps =
        Array.tabulate(nComp, tags.size)((ci, d) => p(s"pc_${ci}_$d"))
      def predictCol(tag: String): Column = {
        val ti = tags.indexOf(tag)
        val centered = tags.zipWithIndex.map { case (t, i) =>
          feature(t).cast("double") - lit(mu(i))
        }
        comps.foldLeft(lit(mu(ti)): Column) { (acc, comp) =>
          val proj = centered.zip(comp)
            .map { case (c, w) => c * lit(w) }.reduce(_ + _)
          acc + lit(comp(ti)) * proj
        }
      }
      def params: Map[String, Double] = p
      def impl: String = "pca"
    }
  }

  /** Window autoencoder for the M6 lookahead-0 shape: a rank-limited
    * PCA over the LAG feature columns reconstructs the whole window
    * through the bottleneck; target t's prediction is the reconstruction
    * of its current-row feature `t__lag0` (value-identical to t). The
    * bottleneck — `rankOf(featureCount)` < feature count — is what
    * keeps the detector non-degenerate: any full-rank row-local fit
    * over features that include the target's own current value would
    * learn the identity and emit zero thresholds (infinite confidences).
    * This mirrors what the reference's lossy LSTM autoencoder actually
    * provides: reconstruction error of the current window through a
    * compressed representation. */
  class WindowAutoencoder(rankOf: Int => Int = n => math.max(1, n / 2))
      extends Reconstructor {
    import WindowAutoencoder.currentRow
    def impl: String = "window_ae"
    private def adapt(xTags: Seq[String], feature: String => Column)
        : Fitted => Fitted =
      f => WindowAutoencoder.fittedFromParams(f.params, xTags, feature)
    private def validate(xTags: Seq[String], yTags: Seq[String]): Unit = {
      // a single window feature leaves no room for a bottleneck — PCA(1)
      // over 1 feature IS the identity, the exact degeneracy this class
      // exists to prevent
      require(xTags.size >= 2,
        s"window autoencoder needs >= 2 window features, got $xTags — " +
          "raise lookback_window or add tags")
      yTags.foreach(t => require(xTags.contains(currentRow(t)),
        s"target '$t' has no window feature '${currentRow(t)}' among $xTags — " +
          "target_tag_list must be a subset of tag_list for autoencoders"))
    }
    private def inner(xTags: Seq[String]): PcaReconstructor =
      new PcaReconstructor(math.min(rankOf(xTags.size), xTags.size - 1))
    def fit(train: DataFrame, xTags: Seq[String], yTags: Seq[String],
            feature: String => Column): Fitted = {
      validate(xTags, yTags)
      adapt(xTags, feature)(inner(xTags).fit(train, xTags, xTags, feature))
    }
    override def aggPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column)
        : Option[(Seq[Column], org.apache.spark.sql.Row => Fitted)] = {
      validate(xTags, yTags)
      inner(xTags).aggPlan(xTags, xTags, feature)
        .map { case (aggs, dec) => (aggs, dec.andThen(adapt(xTags, feature))) }
    }
    override def segPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => Column): Option[SegPlan[Stats, Fitted]] = {
      validate(xTags, yTags)
      inner(xTags).segPlan(xTags, xTags, feature)
        .map(sp => sp.copy(decode = sp.decode.andThen(adapt(xTags, feature))))
    }
  }

  object WindowAutoencoder {
    /** A target's current-row window feature (`Windows.withLookback`'s
      * lag-0 column). */
    def currentRow(tag: String): String = s"${tag}__lag0"
    /** PCA over the window features (params as
      * [[PcaReconstructor.fittedFromParams]]), each target read back from
      * its [[currentRow]] feature — the one param→column mapping the fit
      * decoders and the model load share. */
    def fittedFromParams(p: Map[String, Double], xTags: Seq[String],
                         feature: String => Column): Fitted = {
      val pca = PcaReconstructor.fittedFromParams(p, xTags, feature)
      new Fitted {
        def predictCol(tag: String): Column = pca.predictCol(currentRow(tag))
        def params: Map[String, Double] = p
        def impl: String = "window_ae"
      }
    }
  }

  /** CV-derived thresholds (`diff.py:226-264`): final values are the LAST
    * fold's; per-fold values kept for metadata (A8-style). */
  case class Thresholds(
      featureThresholds: Map[String, Double],
      aggregateThreshold: Double,
      smoothFeatureThresholds: Option[Map[String, Double]],
      smoothAggregateThreshold: Option[Double],
      perFoldAggregate: Map[String, Double])

  case class FittedDetector(
      model: Fitted,
      scaler: FittedScaler,
      thresholds: Thresholds,
      tags: Seq[String],
      /** y columns (`target_tag_list`); == tags for autoencoders. Error,
        * threshold, and confidence columns are per TARGET tag; the
        * model-input columns are per X tag. */
      targets: Seq[String],
      orderCol: String,
      window: Option[Int],
      smoothingMethod: String,
      /** Per-metric raw fold values when `foldMetrics` were requested at
        * fit time (A8 input) — computed in the SAME test pass as the
        * thresholds, so no second CV pass refits the base models. */
      foldScores: Map[String, Seq[Double]] = Map.empty,
      /** CV fold row spans, for split metadata
        * (`build_model.py:build_split_dict` — K5 reporter input). */
      folds: Seq[CrossValidate.Fold] = Nil)

  /** A CV fit: the base model and the error scaler trained on one span. */
  private type Fit = (Fitted, FittedScaler)

  /** Fit + cross_validate (`diff.py:166-264`): per expanding-window fold,
    * fit the base model and scaler on train, score the test span, take
    * rolling(6).min().max() of the scaled MSE (aggregate) and per-tag
    * absolute error (feature) — with pandas NaN-prefix semantics (first 5
    * rolling values are NaN; max skips them → only full frames count).
    * Then refit model+scaler on the full series.
    *
    * This and [[fitKfcv]] are one CV engine: [[foldFits]] supplies every
    * fold's fit and the final fit, and ONE test pass scores every fold's
    * span with its own fold's fit ([[scoreTestSpans]]). Here that pass
    * rolls grouped by fold (frames reset per fold) and aggregates every
    * fold's thresholds and metrics in one grouped aggregation. The fits
    * come from one of two sources:
    *  - segmented, when the base model and the error scaler expose
    *    [[SegPlan]]s: ONE stats pass, fold k's train set being the
    *    prefix of row segments 0..k, merged in-process. Every built-in
    *    family has one: the closed forms (trend, ridge, PCA, window
    *    autoencoder) merge statistics, the MLP and LSTM families merge
    *    their training rows ([[RowReconstructor]]) and train in-process
    *    once per fold;
    *  - per-fold otherwise: a train pass per fold (two for a model
    *    without an `aggPlan`), then the final fit's. Preprocessing
    *    pipelines (`Pipeline[MinMaxScaler, …]`: chained stage fits do
    *    not merge), the robust error scaler and frames with a null cell
    *    train fold by fold.
    *
    * @param scoringScalerKind DEFERRED scoring scaler: the fold-metric
    *   scaler of this kind over the full frame, fit INSIDE the CV instead
    *   of the caller paying a separate full-frame aggregation job first.
    *   With a matching error-scaler kind it is the final error scaler,
    *   from either source — min/max is exact, so the stats equal a flat
    *   fit; a kind mismatch runs one eager aggregation. Mutually
    *   exclusive with `scoringScaler` (an already-fitted scaler, e.g.
    *   fit on a pre-windowing frame the CV never sees). */
  def fit(wide: DataFrame, tags: Seq[String], orderCol: String,
          base: Reconstructor, scalerKind: String = "minmax",
          nSplits: Int = 3, window: Option[Int] = None,
          smoothingMethod: String = "smm",
          foldMetrics: Seq[(String, (Column, Column) => Column)] = Nil,
          scoringScaler: Option[FittedScaler] = None,
          targetTags: Seq[String] = Nil,
          foldOffset: Int = 0,
          scoringScalerKind: Option[String] = None): FittedDetector = {
    require(scoringScaler.isEmpty || scoringScalerKind.isEmpty,
      "pass either a fitted scoringScaler or a deferred scoringScalerKind, not both")
    // y columns (`target_tag_list`, diff.py fit(X, y)); empty -> y = X
    val y = if (targetTags.isEmpty) tags else targetTags
    // lease the assembled frame FIRST: withRowIndex runs two small jobs
    // (chunk bounds + counts) before the CV passes, which would otherwise
    // recompute the upstream resample/align per job. A frame the caller
    // already holds (ModelBuilder's lease) or cached itself is shared,
    // never yanked: closing this lease only returns our reference.
    val lease = graft.SessionCache.acquire(wide)
    // the row count rides the indexing's own bounds aggregation: a
    // separate count() would be a second full pass for a number the
    // indexing has already computed
    val (indexed0, nOpt) =
      CrossValidate.withRowIndexCounted(wide, Seq(col(orderCol)))
    val indexedLease = graft.SessionCache.acquire(indexed0)
    val indexed = indexedLease.df
    try {
      val n = nOpt.getOrElse(indexed.count())
      // sequence models (M6): the frame holds n raw rows MINUS the
      // `foldOffset` head rows dropped by the windowing, but the
      // reference computes fold boundaries on the RAW count and its
      // estimator re-windows per fold — each fold's first `foldOffset`
      // test rows are dropped (their windows cross into train) and the
      // boundaries shift accordingly. Map raw folds onto windowed row
      // indices (raw row r ↔ windowed r − offset): train [0, ts) →
      // [0, ts−d), test [ts, te) minus its head → [ts, te−d).
      val folds =
        if (foldOffset == 0) CrossValidate.timeSeriesSplit(n, nSplits)
        else CrossValidate.timeSeriesSplit(n + foldOffset, nSplits).map { f =>
          require(f.testEnd - foldOffset > f.testStart,
            s"fold ${f.index} vanishes: test size <= lookback offset $foldOffset")
          CrossValidate.Fold(f.index, 0, f.testStart - foldOffset,
            f.testStart, f.testEnd - foldOffset)
        }
      // segments end at the fold TRAIN ends (for plain folds trainEnd ==
      // testStart; windowed folds leave a gap of lag-context rows between
      // them) and fold k trains on segments 0..k; a segment with no rows
      // takes the per-fold source
      val (fits, (finalModel, finalScaler)) = foldFits(indexed, tags, y,
        orderCol, base, scalerKind, folds, folds.map(_.trainEnd) :+ n,
        present =>
          if (present.size < folds.size + 1) None
          else Some(folds.map(f => f -> (0 to f.index))))
      val scoring = scoringScaler.orElse(scoringScalerKind.map { k =>
        if (k == scalerKind) finalScaler
        else {
          val (aggs, dec) = Scalers.aggPlan(k, y)
          dec(indexed.agg(aggs.head, aggs.tail: _*).head())
        }
      })
      def scaled(c: Column, t: String): Column = scoring match {
        case Some(s) =>
          val (ctr, s0) = s.stats(t)
          (c - lit(ctr)) / lit(Scalers.nonZeroScale(s0))
        case None => c
      }
      val widths = (6 +: window.toSeq).distinct
      // the AGGREGATE rolling column's alias lives in a namespace no
      // tag-derived alias can reach (`__rminagg__<w>` — tag aliases are
      // `__rmin<w>__<tag>` and w starts with a digit): a tag literally
      // named "mse" must not silently overwrite the aggregate threshold
      val rollSpecs = widths.flatMap(w =>
        ("__mse", s"__rminagg__$w", "min", w) +:
          y.map(t => (s"__mae_$t", s"__rmin${w}__$t", "min", w)))
      // A8/M13/M14 fold metric scores ride the same test pass — metric
      // over scoring-scaler-transformed y/ŷ, averaged over tags
      // (`build_model.py:274-289,377-446`)
      val metricAggs = for { (name, fn) <- foldMetrics; t <- y }
        yield fn(scaled(qc(s"__y_$t"), t), scaled(qc(s"__p_$t"), t))
          .as(s"${name}__$t")
      val testAggs = widths.flatMap(w =>
        max(col(s"__rminagg__$w")).as(s"__agg__$w") +:
          y.map(t => max(qc(s"__rmin${w}__$t")).as(s"__f${w}__$t"))) ++
        metricAggs
      val scored = scoreTestSpans(indexed, folds, fits, y,
        withPredictions = foldMetrics.nonEmpty)
      val relOf = CrossValidate.onFold(
        folds.map(f => f.index -> (col("__row") - lit(f.testStart))))
      val rows = Windows.chunkedTrailingMultiGrouped(scored, "__row",
        col("__fold"), relOf, rollSpecs, boundedRows = folds.map(_.nTest).max)
        .groupBy(col("__fold"))
        .agg(testAggs.head, testAggs.tail: _*)
        .collect().map(r => r.getAs[Int]("__fold") -> r).toMap
      // a fold shorter than a rolling width has no full frame: pandas
      // rolling().min() is all-NaN and .max() of that is NaN — mirror it
      def getterOf(row: org.apache.spark.sql.Row): String => Double =
        name => if (row.isNullAt(row.fieldIndex(name))) Double.NaN
                else row.getAs[Double](name)
      val results = folds.map(f => f -> getterOf(rows(f.index)))

      var lastFeat: Map[String, Double] = Map.empty
      var lastAgg = Double.NaN
      var lastSmoothFeat: Option[Map[String, Double]] = None
      var lastSmoothAgg: Option[Double] = None
      val perFoldAgg = scala.collection.mutable.LinkedHashMap[String, Double]()
      val perFoldScores = scala.collection.mutable.LinkedHashMap[String,
        scala.collection.mutable.ListBuffer[Double]]()
      results.foreach { case (f, get) =>
        val agg = get("__agg__6")
        perFoldAgg(s"fold-${f.index}") = agg
        lastFeat = y.map(t => t -> get(s"__f6__$t")).toMap
        lastAgg = agg
        window.foreach { w =>
          lastSmoothFeat = Some(y.map(t => t -> get(s"__f${w}__$t")).toMap)
          lastSmoothAgg = Some(get(s"__agg__$w"))
        }
        foldMetrics.foreach { case (name, _) =>
          val avgOverTags = y.map(t => get(s"${name}__$t")).sum / y.size
          perFoldScores.getOrElseUpdate(name,
            scala.collection.mutable.ListBuffer()) += avgOverTags
        }
      }
      FittedDetector(finalModel, finalScaler,
        Thresholds(lastFeat, lastAgg, lastSmoothFeat, lastSmoothAgg,
          perFoldAgg.toMap),
        tags, y, orderCol, window, smoothingMethod,
        perFoldScores.map { case (k, v) => k -> v.toSeq }.toMap,
        folds)
    } finally { indexedLease.close(); lease.close() }
  }


  /** M12 `DiffBasedKFCVAnomalyDetector` (`diff.py:461-635`): KFold CV,
    * per-fold predictions scattered back onto the full time index, the
    * validation metrics smoothed (default smm window 144), thresholds =
    * `threshold_percentile` quantile of the smoothed series (NaN-prefix
    * rows excluded, as pandas quantile skips NaN).
    *
    * The CV engine of [[fit]] with KFold folds: [[foldFits]] supplies
    * each fold's fit on its complement, from the segmented source (the
    * segments are the folds themselves, a complement is the merge of the
    * other folds' buffers) or the per-fold source, and the one test pass
    * scores every row by the model that did NOT see it.
    *
    * Divergence note: the reference defaults to shuffle=True KFold;
    * replicating numpy's permutation bit-for-bit is not portable, so
    * folds here are contiguous (shuffle=False) — documented determinism
    * over shuffle parity. */
  def fitKfcv(wide: DataFrame, tags: Seq[String], orderCol: String,
              base: Reconstructor, scalerKind: String = "minmax",
              nSplits: Int = 5, window: Int = 144,
              smoothingMethod: String = "smm",
              thresholdPercentile: Double = 0.99,
              targetTags: Seq[String] = Nil): FittedDetector = {
    val y = if (targetTags.isEmpty) tags else targetTags
    val lease = graft.SessionCache.acquire(wide)
    val (indexed0, nOpt) =
      CrossValidate.withRowIndexCounted(wide, Seq(col(orderCol)))
    val indexedLease = graft.SessionCache.acquire(indexed0)
    val indexed = indexedLease.df
    try {
      val n = nOpt.getOrElse(indexed.count())
      val folds = CrossValidate.kFold(n, nSplits)
      // n < nSplits leaves trailing folds empty (sklearn still yields
      // them): empty segments have no stats row, so complements skip
      // them and they score no rows. With a single non-empty fold its
      // complement is empty — nothing to train on; the per-fold source
      // surfaces that degenerate case
      val (fits, (finalModel, finalScaler)) = foldFits(indexed, tags, y,
        orderCol, base, scalerKind, folds, folds.map(_.testEnd),
        present =>
          if (present.size < 2) None
          else Some(folds.filter(f => present.contains(f.index))
            .map(f => f -> present.filterNot(_ == f.index))))
      val scattered = scoreTestSpans(indexed, folds, fits, y,
        withPredictions = false)
      // aggregate alias `__smagg`: disjoint from every `__sm_<tag>` (a
      // tag named "mse" must not overwrite the aggregate's smooth column)
      val smoothed = smoothingMethod match {
        case "ewma" =>
          // pandas ewm(span=window): no NaN prefix, full-history weights
          Ewma.ewmaMulti(scattered, keys = Nil, orderCol = "__row",
            cols = (("__mse" -> "__smagg") +:
              y.map(t => s"__mae_$t" -> s"__sm_$t")).toMap,
            span = window.toDouble)
            .select((col("__smagg") +: y.map(t => qc(s"__sm_$t"))): _*)
        case method =>
          require(method == "smm" || method == "sma",
            s"unsupported smoothing: $method")
          // chunked trailing window over the dense __row index — no
          // single-partition WindowExec however long the series
          Windows.chunkedTrailing(scattered, "__row", 0L, window,
            ("__mse", "__smagg", method) +:
              y.map(t => (s"__mae_$t", s"__sm_$t", method)),
            totalRows = n)
            .select((col("__smagg") +: y.map(t => qc(s"__sm_$t"))): _*)
      }
      val row = smoothed.agg(
        percentile(col("__smagg"), lit(thresholdPercentile)).as("__agg"),
        y.map(t => percentile(qc(s"__sm_$t"), lit(thresholdPercentile))
          .as(s"__f_$t")): _*).head()
      // null percentile (series shorter than the smoothing window → all
      // smooth values null) must become NaN like fit()'s getterOf — a
      // bare getAs[Double] would unbox it to 0.0 and every row would
      // score infinitely anomalous
      def thOf(name: String): Double =
        if (row.isNullAt(row.fieldIndex(name))) Double.NaN
        else row.getAs[Double](name)
      val featureTh = y.map(t => t -> thOf(s"__f_$t")).toMap
      val aggTh = thOf("__agg")
      FittedDetector(finalModel, finalScaler,
        Thresholds(featureTh, aggTh, None, None, Map.empty),
        tags, y, orderCol, Some(window), smoothingMethod,
        folds = folds)
    } finally { indexedLease.close(); lease.close() }
  }


  /** The CV fit source [[fit]] and [[fitKfcv]] share: each scored fold's
    * (model, error scaler) and the final full-frame fit.
    *
    * `segEnds` cut the indexed frame into the half-open `__row` segments
    * [0, e₀), [e₀, e₁), …; given the sorted ids of the non-empty ones,
    * `trainSegs` lists each scored fold's train segments, or None when
    * they cannot serve the folds. The segmented source runs when the
    * base and the error scaler both have a [[SegPlan]]: ONE grouped
    * stats pass buffers every segment, a fold's fit decodes the left
    * fold of its segments' buffers in the listed order, and the final
    * fit that of every segment. Null-integrity counts ride the same
    * pass: the mergeable statistics weight segments by row count, which
    * only equals the aggregates' (null-skipping) population on
    * null-free data. A missing plan, any null or a `trainSegs` of None
    * takes the per-fold source instead: [[fitModelAndScaler]] on every
    * fold's `trainFold`, then on the whole frame, whose pairwise-deletion
    * semantics match a flat fit exactly. */
  private def foldFits(indexed: DataFrame, tags: Seq[String], y: Seq[String],
                       orderCol: String, base: Reconstructor, scalerKind: String,
                       folds: Seq[CrossValidate.Fold], segEnds: Seq[Long],
                       trainSegs: Seq[Int] => Option[Seq[(CrossValidate.Fold, Seq[Int])]])
      : (Seq[(CrossValidate.Fold, Fit)], Fit) = {
    val feat: String => Column = t => qc(t).cast("double")
    def segmented[B](plan: SegPlan[B, Fit]): Option[(Seq[(CrossValidate.Fold, Fit)], Fit)] = {
      val checkCols = (tags ++ y).distinct
      val aggs = (count(lit(1)).as("__n_all") +:
        count(col(orderCol)).as("__n_ord") +:
        checkCols.zipWithIndex.map { case (t, i) => count(feat(t)).as(s"__n_$i") }) ++
        plan.aggs
      val segRows = indexed
        .groupBy(CrossValidate.spanId((0L +: segEnds.init).zip(segEnds)).as("__seg"))
        .agg(aggs.head, aggs.tail: _*).collect()
      val clean = segRows.forall { r =>
        val na = r.getAs[Long]("__n_all")
        r.getAs[Long]("__n_ord") == na &&
          checkCols.indices.forall(i => r.getAs[Long](s"__n_$i") == na)
      }
      if (!clean) None
      else {
        val bufs = segRows.map(r => r.getAs[Int]("__seg") -> plan.fromRow(r)).toMap
        val present = bufs.keys.toSeq.sorted
        def fitOf(segs: Seq[Int]): Fit = plan.decode(segs.map(bufs).reduce(plan.merge))
        trainSegs(present).map(ts =>
          (ts.map { case (f, segs) => f -> fitOf(segs) }, fitOf(present)))
      }
    }
    val plan = for {
      mp <- base.segPlan(tags, y, feat)
      sp <- Scalers.segPlan(scalerKind, y)
    } yield pairPlan(mp, sp)
    plan.flatMap(segmented(_)).getOrElse((
      folds.map(f => f -> fitModelAndScaler(CrossValidate.trainFold(indexed, f),
        tags, y, base, scalerKind)),
      fitModelAndScaler(indexed, tags, y, base, scalerKind)))
  }

  /** A model plan and an error-scaler plan as one plan over both buffers. */
  private def pairPlan[MB, SB](mp: SegPlan[MB, Fitted], sp: SegPlan[SB, FittedScaler])
      : SegPlan[(MB, SB), Fit] = SegPlan[(MB, SB), Fit](
    mp.aggs ++ sp.aggs,
    row => (mp.fromRow(row), sp.fromRow(row)),
    (a, b) => (mp.merge(a._1, b._1), sp.merge(a._2, b._2)),
    buf => (mp.decode(buf._1), sp.decode(buf._2)))

  /** The CV test pass [[fit]] and [[fitKfcv]] share: every row of a
    * fold's test span with its fold id `__fold`, scored by that fold's
    * fit — the scaled `__mse`, the per-target `__mae_<t>` and, with
    * `withPredictions`, the `__y_<t>`/`__p_<t>` fold-metric inputs.
    * Each target's fold prediction is projected once as `__p_<t>` and
    * every score reads that column: repeating a fold's reconstruction
    * in each scored column outgrows the generated code's method size. */
  private def scoreTestSpans(indexed: DataFrame, folds: Seq[CrossValidate.Fold],
                             fits: Seq[(CrossValidate.Fold, Fit)], y: Seq[String],
                             withPredictions: Boolean): DataFrame = {
    def byFold(e: Fit => Column): Column =
      CrossValidate.onFold(fits.map { case (f, fit) => f.index -> e(fit) })
    val pred: String => Column = t => qc(s"__p_$t")
    val predictions =
      if (!withPredictions) Nil
      else y.flatMap(t => Seq(qc(t).as(s"__y_$t"), pred(t)))
    indexed
      .withColumn("__fold",
        CrossValidate.spanId(folds.map(f => (f.testStart, f.testEnd))))
      .filter(col("__fold").isNotNull)
      .select((col("__row") +: col("__fold") +: (y.map(qc) ++
        y.map(t => byFold(_._1.predictCol(t)).as(s"__p_$t")))): _*)
      .select((col("__row") +: col("__fold") +:
        scaledMseCol(pred,
          t => byFold { case (_, sc) => lit(Scalers.nonZeroScale(sc.stats(t)._2)) },
          y).as("__mse") +:
        (y.map(t => abs(qc(t) - pred(t)).as(s"__mae_$t")) ++ predictions)): _*)
  }

  private def fitScaler(kind: String, df: DataFrame, tags: Seq[String]): FittedScaler =
    kind match {
      case "minmax" => Scalers.fitMinMax(df, tags)
      case "robust" => Scalers.fitRobust(df, tags)
      case k => throw new IllegalArgumentException(s"unknown scaler: $k")
    }

  /** Model fit + error-scaler fit in ONE distributed aggregation pass
    * over `df` when the reconstructor exposes its agg plan (all built-in
    * ones do); falls back to two passes otherwise. Identical values —
    * each aggregate has its own buffer, fused or not. */
  private def fitModelAndScaler(df: DataFrame, xTags: Seq[String],
                                yTags: Seq[String], base: Reconstructor,
                                scalerKind: String): (Fitted, FittedScaler) =
    base.aggPlan(xTags, yTags, t => qc(t).cast("double")) match {
      case Some((mAggs, mDec)) =>
        // the error scaler fits on y (`diff.py:173` scaler.fit(y))
        val (sAggs, sDec) = Scalers.aggPlan(scalerKind, yTags)
        val all = mAggs ++ sAggs
        val row = df.agg(all.head, all.tail: _*).head()
        (mDec(row), sDec(row))
      case None =>
        (base.fit(df, xTags, yTags, t => qc(t).cast("double")),
          fitScaler(scalerKind, df, yTags))
    }

  /** Scaled MSE per timestep (`diff.py:268-293`): mean over tags of
    * (scaled ŷ − scaled y)². */
  private def scaledMseCol(pred: String => Column, scale: String => Column,
                           tags: Seq[String]): Column =
    tags.map { t =>
      val d = (pred(t) - qc(t)) / scale(t)
      d * d
    }.reduce(_ + _) / lit(tags.size.toDouble)

  /** The `/prediction` frame (`gordo/server/blueprints/base.py:30-113`):
    * start/end + model-input/model-output only — no y, no residual
    * derivations. */
  def predictFrame(fd: FittedDetector, wide: DataFrame,
                   resolutionSec: Long): DataFrame =
    wide.select(
      (col(fd.orderCol).as("start") +:
        (col(fd.orderCol) + lit(resolutionSec)).as("end") +:
        fd.tags.map(t => qc(t).as(s"model-input.$t"))) ++
        fd.targets.map(t => fd.model.predictCol(t).as(s"model-output.$t")): _*)

  /** The anomaly frame (`diff.py:310-458` + `model/utils.py:102-133`):
    * start/end interval stamps plus the full derived column set, all in
    * one row-local select. `resolutionSec` gives the `end` offset (F4). */
  def anomaly(fd: FittedDetector, wide: DataFrame,
              resolutionSec: Long): DataFrame = {
    val tags = fd.targets
    val m = fd.model
    val sc = fd.scaler
    def scaled(c: Column, t: String): Column = {
      val (ctr, s) = sc.stats(t)
      (c - lit(ctr)) / lit(Scalers.nonZeroScale(s))
    }
    val extraTargets = tags.filterNot(fd.tags.contains)
    // smm/sma smoothing needs a dense row index; attach it to the RAW
    // wide frame, before the prediction columns exist — withRowIndex's
    // multi-scan protocol over the scored frame would re-run the model
    // forward pass once per indexing job (and lean on the predictions
    // recomputing deterministically), while over `wide` it scans only
    // the assembled inputs
    val preIndexed = fd.window.isDefined && fd.smoothingMethod != "ewma"
    val src =
      if (preIndexed) CrossValidate.withRowIndex(wide, Seq(col(fd.orderCol)))
      else wide
    val base = src.select(
      (if (preIndexed) Seq(col("__row")) else Nil) ++
        Seq(col(fd.orderCol).as("start"),
          (col(fd.orderCol) + lit(resolutionSec)).as("end")) ++
        fd.tags.map(t => qc(t).as(s"model-input.$t")) ++
        tags.map(t => m.predictCol(t).as(s"model-output.$t")) ++
        extraTargets.map(t => qc(t).as(s"__target.$t")): _*)
    // error columns compare model-output against the TARGET tag values;
    // when a target is not among the X inputs its raw value rides along
    // under an internal alias
    def in(t: String) =
      if (fd.tags.contains(t)) qc(s"model-input.$t") else qc(s"__target.$t")
    def out(t: String) = qc(s"model-output.$t")
    val withScores = base
      .withColumns(tags.map(t =>
        s"tag-anomaly-scaled.$t" -> abs(scaled(out(t), t) - scaled(in(t), t))).toMap)
      .withColumns(tags.map(t =>
        s"tag-anomaly-unscaled.$t" -> abs(out(t) - in(t))).toMap)
    val totalOf: (String => Column) => Column = f =>
      tags.map(t => f(t) * f(t)).reduce(_ + _) / lit(tags.size.toDouble)
    val withTotals = withScores
      .withColumn("total-anomaly-scaled",
        totalOf(t => qc(s"tag-anomaly-scaled.$t")))
      .withColumn("total-anomaly-unscaled",
        totalOf(t => qc(s"tag-anomaly-unscaled.$t")))
    val smoothed = fd.window match {
      case None => withTotals
      case Some(width) => addSmooth(withTotals, fd, width)
    }
    // numpy division semantics for zero thresholds (x/0 → inf, 0/0 → nan):
    // ANSI-mode Divide would error, so a zero threshold becomes ×inf.
    val th = fd.thresholds
    def overThreshold(c: Column, t: Double): Column =
      if (t == 0.0) c * lit(Double.PositiveInfinity) else c / lit(t)
    smoothed
      .withColumns(tags.map(t => s"anomaly-confidence.$t" ->
        overThreshold(qc(s"tag-anomaly-unscaled.$t"),
          th.featureThresholds(t))).toMap)
      .withColumn("total-anomaly-confidence",
        overThreshold(col("`total-anomaly-scaled`"), th.aggregateThreshold))
      .drop(extraTargets.map(t => s"__target.$t"): _*)
  }

  /** The (input → smooth output) column-name pairs for smoothing (shared
    * with the streaming anomaly job). */
  private[graft] def smoothPairs(tags: Seq[String]): Seq[(String, String)] =
    tags.flatMap(t => Seq(
      s"tag-anomaly-scaled.$t" -> s"smooth-tag-anomaly-scaled.$t",
      s"tag-anomaly-unscaled.$t" -> s"smooth-tag-anomaly-unscaled.$t")) ++ Seq(
      "total-anomaly-scaled" -> "smooth-total-anomaly-scaled",
      "total-anomaly-unscaled" -> "smooth-total-anomaly-unscaled")

  /** smooth-* columns (`diff.py:388-417`): rolling smm/sma over the tag
    * and total anomaly columns with pandas NaN-prefix (null until a full
    * window); ewma (pandas `ewm(span=window)`, no NaN prefix) runs
    * through the W4 streaming kernel over the same frame. */
  private def addSmooth(df: DataFrame, fd: FittedDetector, width: Int): DataFrame =
    fd.smoothingMethod match {
      case "ewma" =>
        Ewma.ewmaMulti(df, keys = Nil, orderCol = "start",
          cols = smoothPairs(fd.targets).toMap, span = width.toDouble)
      case method =>
        require(method == "smm" || method == "sma",
          s"unsupported smoothing: $method")
        // run the trailing smm/sma chunk-partitioned over the dense
        // index; anomaly() pre-attached `__row` to the raw input frame
        // so the indexing jobs never re-ran the model forward pass — an
        // externally built frame without one is indexed here
        val indexed =
          if (df.columns.contains("__row")) df
          else CrossValidate.withRowIndex(df, Seq(col("start")))
        Windows.chunkedTrailing(indexed,
          "__row", 0L, width,
          smoothPairs(fd.targets).map { case (in, out) => (in, out, method) })
          .drop("__row")
    }
}
