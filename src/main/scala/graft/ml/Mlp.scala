package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ml.DiffAnomaly.{Fitted, RowReconstructor}

/** The in-house feedforward autoencoder (SURVEY M4/M5/M9, §7.3(b); ref:
  * `gordo/machine/model/factories/feedforward_autoencoder.py:16-251`,
  * `gordo/machine/model/models.py:36-398`).
  *
  * Architecture mirrors the reference's `feedforward_model`: tanh hidden
  * stack `encodingDims ++ decodingDims`, linear output layer — the
  * symmetric/hourglass factories are the same model with derived dims
  * (hourglass dim math in [[Windows.hourglassDims]], ported exactly).
  *
  * Training follows the reference's reality, not its framework: a keras
  * fit runs single-node on one machine's modest matrix (SURVEY §3.1 —
  * "fit collects the per-machine matrix"), so `fit` collects the train
  * frame to the driver (per-machine rows are bounded: months × 144/day)
  * and runs full-batch Adam on standardized inputs/targets with a FIXED
  * seed — bit-deterministic across runs (SURVEY §7.4: seed everything;
  * the reference defaults to seed 0, `build_model.py:200-201`).
  *
  * Scoring is distributed: the fitted weights travel in the task closure
  * (a few KB) and the forward pass runs as one JVM function per row over
  * `array(features)` — predictions per target are `element_at` of the
  * shared forward array, so whole-stage codegen's subexpression
  * elimination evaluates the network once per row however many targets
  * are selected.
  *
  * No aggPlan: an iterative fit has no mergeable sufficient statistics.
  * It is a [[DiffAnomaly.RowReconstructor]]: the CV's one segmented
  * pass collects every segment's rows, and each fold (then the final
  * fit) trains from scratch on the merged rows in time order —
  * sklearn's clone-and-refit semantics per fold, exactly like the
  * reference's cross_validate, without a collect per fold.
  */
object Mlp {

  /** Activation codes persisted per layer (`act_<l>`): the hidden-stack
    * default is tanh with a linear output layer (the reference's
    * feedforward factories); the M7 raw-spec path persists whatever the
    * spec declared. */
  val ActTanh = 0; val ActRelu = 1; val ActLinear = 2; val ActSigmoid = 3

  def actCode(name: String): Int = name match {
    case "tanh" => ActTanh
    case "relu" => ActRelu
    case "linear" => ActLinear
    case "sigmoid" => ActSigmoid
    case other => throw new IllegalArgumentException(
      s"unsupported activation: $other (tanh|relu|linear|sigmoid)")
  }

  @inline private def applyAct(code: Int, s: Double): Double = code match {
    case ActTanh => math.tanh(s)
    case ActRelu => if (s > 0) s else 0.0
    case ActSigmoid => 1.0 / (1.0 + math.exp(-s))
    case _ => s
  }

  /** Derivative from the activation OUTPUT (all four have output-form
    * derivatives — the reason this family was chosen). */
  @inline private def actDeriv(code: Int, a: Double): Double = code match {
    case ActTanh => 1.0 - a * a
    case ActRelu => if (a > 0) 1.0 else 0.0
    case ActSigmoid => a * (1.0 - a)
    case _ => 1.0
  }

  /** Flat param encoding (model.json K1 round-trip): architecture under
    * `dim_*`/`nin`/`nout`/`nhidden`, weights `w_<layer>_<in>_<out>`,
    * biases `bias_<layer>_<out>`, per-layer activations `act_<l>`
    * (absent → tanh hidden stack, linear output — models saved before
    * the raw-spec path), standardization `xmu_<i>`/`xsd_<i>` and
    * `ymu_<tag>`/`ysd_<tag>`/`yidx_<tag>`. Everything is a Double —
    * the shape every other impl persists through. */
  def fittedFromParams(p: Map[String, Double], xTags: Seq[String],
                       feature: String => Column,
                       trainHistory: Map[String, Any] = Map.empty): Fitted = {
    val nin = p("nin").toInt
    val nhidden = p("nhidden").toInt
    require(xTags.size == nin,
      s"MLP expects $nin inputs, got ${xTags.size}")
    val sizes = nin +: (0 until nhidden).map(l => p(s"dim_$l").toInt) :+
      p("nout").toInt
    val weights: Array[Array[Array[Double]]] = Array.tabulate(sizes.size - 1) {
      l => Array.tabulate(sizes(l), sizes(l + 1))((i, j) => p(s"w_${l}_${i}_$j"))
    }
    val biases: Array[Array[Double]] = Array.tabulate(sizes.size - 1) {
      l => Array.tabulate(sizes(l + 1))(j => p(s"bias_${l}_$j"))
    }
    val acts: Array[Int] = Array.tabulate(sizes.size - 1) { l =>
      p.get(s"act_$l").map(_.toInt).getOrElse(
        if (l < sizes.size - 2) ActTanh else ActLinear)
    }
    val xmu = Array.tabulate(nin)(i => p(s"xmu_$i"))
    val xsd = Array.tabulate(nin)(i => p(s"xsd_$i"))
    val yKeys = p.keys.collect { case k if k.startsWith("yidx_") => k.drop(5) }
    val yIdx = yKeys.map(t => t -> p(s"yidx_$t").toInt).toMap
    val ymu = p.filter(_._1.startsWith("ymu_")).map { case (k, v) => k.drop(4) -> v }
    val ysd = p.filter(_._1.startsWith("ysd_")).map { case (k, v) => k.drop(4) -> v }
    // boxed inputs: a null model-input value yields a null prediction
    // for the row (exactly like the ridge/pca/trend column expressions),
    // instead of crashing the task on deserialization
    val forwardUdf = udf((xs: Seq[java.lang.Double]) => {
      if (xs == null || xs.exists(_ == null)) null
      else {
        var act = Array.tabulate(nin)(i => (xs(i) - xmu(i)) / xsd(i))
        var l = 0
        while (l < weights.length) {
          val w = weights(l); val b = biases(l)
          val next = new Array[Double](b.length)
          var j = 0
          while (j < b.length) {
            var s = b(j)
            var i = 0
            while (i < act.length) { s += act(i) * w(i)(j); i += 1 }
            next(j) = applyAct(acts(l), s)
            j += 1
          }
          act = next
          l += 1
        }
        act.toSeq
      }
    })
    new Fitted {
      private def forwardCol: Column =
        forwardUdf(array(xTags.map(t => feature(t).cast("double")): _*))
      def predictCol(tag: String): Column = {
        val j = yIdx.getOrElse(tag,
          throw new IllegalArgumentException(s"MLP has no target: $tag"))
        // un-standardize back to raw units
        element_at(forwardCol, j + 1) * lit(ysd(tag)) + lit(ymu(tag))
      }
      def params: Map[String, Double] = p
      def impl: String = "mlp"
      override def history: Map[String, Any] = trainHistory
    }
  }

  /** Deterministic feedforward autoencoder reconstructor.
    *
    * @param encodingDims encoder layer sizes; decoder mirrors them
    *                     reversed (the reference's `feedforward_symmetric`)
    * @param seed         weight-init seed (reference default 0)
    * @param epochs       full-batch Adam steps
    * @param lr           Adam step size
    */
  class MlpReconstructor(encodingDims: Seq[Int], seed: Long = 0L,
                         epochs: Int = 300, lr: Double = 0.01)
      extends RowReconstructor {
    def impl: String = "mlp"
    require(encodingDims.nonEmpty && encodingDims.forall(_ >= 1),
      s"encoding dims must be positive: $encodingDims")

    /** Net layout for a given output dim: (hidden layer sizes, activation
      * code per non-input layer — hidden…, output). Default: mirrored
      * encoder/decoder tanh stack with a linear output (the reference's
      * `feedforward_model`); the M7 raw-spec path overrides this with the
      * spec's explicit Dense layers. */
    protected def layout(nout: Int): (Seq[Int], Array[Int]) = {
      val hidden = encodingDims ++ encodingDims.reverse
      (hidden, (hidden.map(_ => ActTanh) :+ ActLinear).toArray)
    }

    private[ml] def fitRows(rows: Array[Array[Double]], xTags: Seq[String],
                            yTags: Seq[String], feature: String => Column): Fitted = {
      require(rows.nonEmpty, "MLP fit on an empty (or all-null) frame")
      val n = rows.length
      val nin = xTags.size
      val nout = yTags.size
      val x = Array.tabulate(n, nin)((r, i) => rows(r)(i))
      val yv = Array.tabulate(n, nout)((r, j) => rows(r)(nin + j))

      def stats(m: Array[Array[Double]], d: Int): (Array[Double], Array[Double]) = {
        val mu = Array.tabulate(d)(i => m.map(_(i)).sum / n)
        val sd = Array.tabulate(d) { i =>
          val s = math.sqrt(m.map(r => { val v = r(i) - mu(i); v * v }).sum / n)
          if (s == 0.0) 1.0 else s
        }
        (mu, sd)
      }
      val (xmu, xsd) = stats(x, nin)
      val (ymu, ysd) = stats(yv, nout)
      val xs = Array.tabulate(n, nin)((r, i) => (x(r)(i) - xmu(i)) / xsd(i))
      val ys = Array.tabulate(n, nout)((r, j) => (yv(r)(j) - ymu(j)) / ysd(j))

      // default layout: hidden stack = encoder ++ mirrored decoder
      // (feedforward_model with decoding_dim = encoding_dim reversed, so
      // the bottleneck width appears twice — e.g. dims (256,128,64)
      // builds the reference's 256,128,64,64,128,256 stack), linear out
      val (hidden, actCodes) = layout(nout)
      val sizes = (nin +: hidden :+ nout).toArray
      val rnd = new java.util.Random(seed)
      val w = Array.tabulate(sizes.length - 1) { l =>
        // Xavier/Glorot uniform, seeded — deterministic init
        val limit = math.sqrt(6.0 / (sizes(l) + sizes(l + 1)))
        Array.fill(sizes(l), sizes(l + 1))((rnd.nextDouble() * 2 - 1) * limit)
      }
      val b = Array.tabulate(sizes.length - 1)(l => new Array[Double](sizes(l + 1)))

      // full-batch Adam (the reference's default optimizer), fixed steps
      val (b1, b2, eps) = (0.9, 0.999, 1e-8)
      val mW = w.map(_.map(_.map(_ => 0.0)))
      val vW = w.map(_.map(_.map(_ => 0.0)))
      val mB = b.map(_.map(_ => 0.0))
      val vB = b.map(_.map(_ => 0.0))
      val L = sizes.length - 1
      val acts = new Array[Array[Array[Double]]](L + 1) // acts(l): n × sizes(l)
      acts(0) = xs
      // A10: per-epoch loss on the standardized targets (keras History
      // analog — the mean mse the delta below descends)
      val lossHistory = new Array[Double](epochs)
      for (step <- 1 to epochs) {
        // forward
        var l = 0
        while (l < L) {
          val a = acts(l); val wl = w(l); val bl = b(l)
          val out = Array.ofDim[Double](n, sizes(l + 1))
          var r = 0
          while (r < n) {
            var j = 0
            while (j < sizes(l + 1)) {
              var s = bl(j)
              var i = 0
              while (i < sizes(l)) { s += a(r)(i) * wl(i)(j); i += 1 }
              out(r)(j) = applyAct(actCodes(l), s)
              j += 1
            }
            r += 1
          }
          acts(l + 1) = out
          l += 1
        }
        // backward: delta at output = 2(ŷ − y)/(n·nout) for mean MSE,
        // times the output activation's derivative (1.0 for the default
        // linear output — an exact no-op multiply)
        var epochLoss = 0.0
        var lr2 = 0
        while (lr2 < n) {
          var lj = 0
          while (lj < nout) {
            val e = acts(L)(lr2)(lj) - ys(lr2)(lj)
            epochLoss += e * e
            lj += 1
          }
          lr2 += 1
        }
        lossHistory(step - 1) = epochLoss / (n.toDouble * nout)
        var delta = Array.tabulate(n, nout)((r, j) =>
          2.0 * (acts(L)(r)(j) - ys(r)(j)) / (n.toDouble * nout) *
            actDeriv(actCodes(L - 1), acts(L)(r)(j)))
        l = L - 1
        while (l >= 0) {
          val a = acts(l)
          // gradients
          val gW = Array.ofDim[Double](sizes(l), sizes(l + 1))
          val gB = new Array[Double](sizes(l + 1))
          var r = 0
          while (r < n) {
            var j = 0
            while (j < sizes(l + 1)) {
              val d = delta(r)(j)
              gB(j) += d
              var i = 0
              while (i < sizes(l)) { gW(i)(j) += a(r)(i) * d; i += 1 }
              j += 1
            }
            r += 1
          }
          // propagate before updating weights
          if (l > 0) {
            val next = Array.ofDim[Double](n, sizes(l))
            r = 0
            while (r < n) {
              var i = 0
              while (i < sizes(l)) {
                var s = 0.0
                var j = 0
                while (j < sizes(l + 1)) { s += delta(r)(j) * w(l)(i)(j); j += 1 }
                // derivative of the activation that PRODUCED acts(l),
                // i.e. layer l−1's (output-form derivative)
                next(r)(i) = s * actDeriv(actCodes(l - 1), acts(l)(r)(i))
                i += 1
              }
              r += 1
            }
            delta = next
          }
          // Adam update
          val corr1 = 1.0 - math.pow(b1, step)
          val corr2 = 1.0 - math.pow(b2, step)
          var j = 0
          while (j < sizes(l + 1)) {
            mB(l)(j) = b1 * mB(l)(j) + (1 - b1) * gB(j)
            vB(l)(j) = b2 * vB(l)(j) + (1 - b2) * gB(j) * gB(j)
            b(l)(j) -= lr * (mB(l)(j) / corr1) /
              (math.sqrt(vB(l)(j) / corr2) + eps)
            var i = 0
            while (i < sizes(l)) {
              mW(l)(i)(j) = b1 * mW(l)(i)(j) + (1 - b1) * gW(i)(j)
              vW(l)(i)(j) = b2 * vW(l)(i)(j) + (1 - b2) * gW(i)(j) * gW(i)(j)
              w(l)(i)(j) -= lr * (mW(l)(i)(j) / corr1) /
                (math.sqrt(vW(l)(i)(j) / corr2) + eps)
              i += 1
            }
            j += 1
          }
          l -= 1
        }
      }

      val params = Map.newBuilder[String, Double]
      params += "nin" -> nin.toDouble
      params += "nout" -> nout.toDouble
      params += "nhidden" -> hidden.size.toDouble
      hidden.zipWithIndex.foreach { case (d, l) => params += s"dim_$l" -> d.toDouble }
      for (l <- 0 until L) params += s"act_$l" -> actCodes(l).toDouble
      for (l <- 0 until L; i <- 0 until sizes(l); j <- 0 until sizes(l + 1))
        params += s"w_${l}_${i}_$j" -> w(l)(i)(j)
      for (l <- 0 until L; j <- 0 until sizes(l + 1))
        params += s"bias_${l}_$j" -> b(l)(j)
      for (i <- 0 until nin) {
        params += s"xmu_$i" -> xmu(i); params += s"xsd_$i" -> xsd(i)
      }
      yTags.zipWithIndex.foreach { case (t, j) =>
        params += s"yidx_$t" -> j.toDouble
        params += s"ymu_$t" -> ymu(j)
        params += s"ysd_$t" -> ysd(j)
      }
      // the keras History shape (`models.py:339-357`): per-metric epoch
      // lists + a params block naming the metrics
      val trainHistory = Map[String, Any](
        "loss" -> lossHistory.toList,
        "params" -> Map("epochs" -> epochs, "metrics" -> List("loss")))
      fittedFromParams(params.result(), xTags, feature, trainHistory)
    }
  }

  /** M7: the raw-spec regressor — an explicit `Sequential`/`Dense` layer
    * list (units + activation per layer, the engine surface of
    * `gordo/machine/model/models.py:401-460`'s
    * `KerasRawModelRegressor`). The LAST layer is the output layer; its
    * units must equal the target count (the reference's keras fit fails
    * on the same mismatch, just later and more cryptically). Training is
    * the same seeded full-batch Adam on standardized data; `compile`
    * kwargs beyond loss=mse/optimizer=adam are out of scope and rejected
    * at registry compile time. */
  class RawSpecReconstructor(layers: Seq[(Int, String)], seed: Long = 0L,
                             epochs: Int = 300, lr: Double = 0.01)
      extends MlpReconstructor(Seq(1), seed, epochs, lr) {
    require(layers.nonEmpty, "raw spec needs at least one Dense layer")
    require(layers.forall(_._1 >= 1),
      s"Dense units must be positive: ${layers.map(_._1)}")
    // validate activation names eagerly — a config typo should fail at
    // compile, not mid-fit
    private val codes = layers.map(l => actCode(l._2)).toArray

    override protected def layout(nout: Int): (Seq[Int], Array[Int]) = {
      require(layers.last._1 == nout,
        s"raw spec's last Dense has ${layers.last._1} units but the " +
          s"model has $nout target tags")
      (layers.init.map(_._1), codes)
    }
  }

  /** Dim-at-fit-time reconstructor for the config path: hourglass dims
    * derived from the ACTUAL feature count (the reference's fixed
    * 256/128/64 defaults assume hundreds of sensors; a per-machine tag
    * list is small, and a fixed-width net would dwarf it). */
  class AutoReconstructor(seed: Long = 0L, epochs: Int = 300,
                          lr: Double = 0.01,
                          compressionFactor: Double = 0.5,
                          encodingLayers: Int = 2) extends RowReconstructor {
    def impl: String = "mlp"
    private[ml] def fitRows(rows: Array[Array[Double]], xTags: Seq[String],
                            yTags: Seq[String], feature: String => Column): Fitted =
      new MlpReconstructor(
        Windows.hourglassDims(compressionFactor, encodingLayers,
          math.max(2, xTags.size)), seed, epochs, lr)
        .fitRows(rows, xTags, yTags, feature)
  }
}
