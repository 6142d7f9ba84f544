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
  * (hourglass dim math in [[Windows.hourglassDims]], ported exactly);
  * the raw-spec regressor declares its layers explicitly. One
  * [[MlpReconstructor]] trains them all from a layout function.
  *
  * Training follows the reference's reality, not its framework: a keras
  * fit runs single-node on one machine's modest matrix (SURVEY §3.1 —
  * "fit collects the per-machine matrix"), so `fit` collects the train
  * frame to the driver (per-machine rows are bounded: months × 144/day)
  * and runs full-batch Adam on standardized inputs/targets with a FIXED
  * seed ([[Net]]) — bit-deterministic across runs (SURVEY §7.4: seed
  * everything; the reference defaults to seed 0, `build_model.py:200-201`).
  *
  * Scoring is distributed ([[Net.fitted]]): the fitted weights travel in
  * the task closure (a few KB) and the training's own per-row forward
  * pass runs as one JVM function per row.
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

  /** One row's forward pass: `a(0)` holds the standardized inputs and
    * layer l writes `a(l + 1)`, weights `w(l)` row-major (input, output).
    * Each output sums its bias, then its inputs in ascending order.
    * Training and scoring both run it. */
  private def forward(w: Array[Array[Double]], b: Array[Array[Double]],
                      acts: Array[Int], a: Array[Array[Double]]): Unit = {
    var l = 0
    while (l < w.length) {
      val in = a(l); val out = a(l + 1); val wl = w(l); val bl = b(l)
      val no = out.length
      var j = 0
      while (j < no) {
        var s = bl(j)
        var i = 0
        while (i < in.length) { s += in(i) * wl(i * no + j); i += 1 }
        out(j) = applyAct(acts(l), s)
        j += 1
      }
      l += 1
    }
  }

  /** Flat param encoding (model.json K1 round-trip): architecture under
    * `dim_*`/`nin`/`nout`/`nhidden`, weights `w_<layer>_<in>_<out>`,
    * biases `bias_<layer>_<out>`, per-layer activations `act_<l>`
    * (absent → tanh hidden stack, linear output — models saved before
    * the raw-spec path) and the [[Net.Scaling]] keys. Everything is a
    * Double — the shape every other impl persists through. */
  def fittedFromParams(p: Map[String, Double], xTags: Seq[String],
                       feature: String => Column,
                       trainHistory: Map[String, Any] = Map.empty): Fitted = {
    val nhidden = p("nhidden").toInt
    val sizes = (p("nin").toInt +: (0 until nhidden).map(l => p(s"dim_$l").toInt) :+
      p("nout").toInt).toArray
    val nl = sizes.length - 1
    val w = Array.tabulate(nl)(l => Net.keys(s"w_$l", sizes(l), sizes(l + 1)).map(p).toArray)
    val b = Array.tabulate(nl)(l => Net.keys(s"bias_$l", sizes(l + 1)).map(p).toArray)
    val acts = Array.tabulate(nl) { l =>
      p.get(s"act_$l").map(_.toInt).getOrElse(if (l < nl - 1) ActTanh else ActLinear)
    }
    Net.fitted("mlp", p, xTags, feature, trainHistory) { x =>
      val a = x +: Array.tabulate(nl)(l => new Array[Double](sizes(l + 1)))
      forward(w, b, acts, a)
      a(nl)
    }
  }

  private val LearningRate = 0.01

  /** Deterministic feedforward reconstructor.
    *
    * @param layout (input count, target count) => (hidden layer sizes,
    *               activation code per non-input layer — hidden…, output);
    *               the companion builds the reference's layouts
    * @param seed   weight-init seed (reference default 0)
    * @param epochs full-batch Adam steps
    */
  final class MlpReconstructor(layout: (Int, Int) => (Seq[Int], Array[Int]),
                               seed: Long = 0L, epochs: Int = 300)
      extends RowReconstructor {
    def impl: String = "mlp"

    private[ml] def fitRows(rows: Array[Array[Double]], xTags: Seq[String],
                            yTags: Seq[String], feature: String => Column): Fitted = {
      require(rows.nonEmpty, "MLP fit on an empty (or all-null) frame")
      val n = rows.length
      val nin = xTags.size
      val nout = yTags.size
      val (scaling, xs, ys) = Net.Scaling.fit(rows, nin, yTags)
      val (hidden, actCodes) = layout(nin, nout)
      val sizes = (nin +: hidden :+ nout).toArray
      val nl = sizes.length - 1
      val rnd = new java.util.Random(seed)
      val w = Array.tabulate(nl)(l =>
        Array.fill(sizes(l) * sizes(l + 1))(Net.xavier(rnd, sizes(l), sizes(l + 1))))
      val b = Array.tabulate(nl)(l => new Array[Double](sizes(l + 1)))
      val adam = new Net.Adam(LearningRate, w ++ b)
      // acts(r)(l): row r's layer-l activations (acts(r)(0) = its inputs);
      // delta(l)(r): the loss gradient w.r.t. the sums that produced them
      val acts = Array.tabulate(n)(r =>
        xs(r) +: Array.tabulate(nl)(l => new Array[Double](sizes(l + 1))))
      val delta = Array.tabulate(nl + 1)(l => Array.ofDim[Double](n, sizes(l)))
      val loss = new Array[Double](epochs)
      for (step <- 0 until epochs) {
        var r = 0
        while (r < n) { forward(w, b, actCodes, acts(r)); r += 1 }
        // backward: delta at output = 2(ŷ − y)/(n·nout) for mean MSE,
        // times the output activation's derivative (1.0 for the default
        // linear output — an exact no-op multiply)
        var sse = 0.0
        r = 0
        while (r < n) {
          val out = acts(r)(nl)
          var j = 0
          while (j < nout) {
            val e = out(j) - ys(r)(j)
            sse += e * e
            delta(nl)(r)(j) = 2.0 * e / (n.toDouble * nout) *
              actDeriv(actCodes(nl - 1), out(j))
            j += 1
          }
          r += 1
        }
        loss(step) = sse / (n.toDouble * nout)
        var l = nl - 1
        while (l >= 0) {
          val (ni, no) = (sizes(l), sizes(l + 1))
          val gW = adam.grads(l); val gB = adam.grads(nl + l); val d = delta(l + 1)
          r = 0
          while (r < n) {
            val a = acts(r)(l); val dr = d(r)
            var j = 0
            while (j < no) {
              val dj = dr(j)
              gB(j) += dj
              var i = 0
              while (i < ni) { gW(i * no + j) += a(i) * dj; i += 1 }
              j += 1
            }
            r += 1
          }
          // propagate through the pre-update weights; the derivative is
          // that of the activation that PRODUCED acts(l), layer l−1's
          if (l > 0) {
            val wl = w(l)
            r = 0
            while (r < n) {
              val a = acts(r)(l); val dr = d(r); val next = delta(l)(r)
              var i = 0
              while (i < ni) {
                var s = 0.0
                var j = 0
                while (j < no) { s += dr(j) * wl(i * no + j); j += 1 }
                next(i) = s * actDeriv(actCodes(l - 1), a(i))
                i += 1
              }
              r += 1
            }
          }
          l -= 1
        }
        adam.step()
      }

      val params = Map.newBuilder[String, Double]
      params += "nin" -> nin.toDouble
      params += "nout" -> nout.toDouble
      params += "nhidden" -> hidden.size.toDouble
      hidden.zipWithIndex.foreach { case (d, l) => params += s"dim_$l" -> d.toDouble }
      for (l <- 0 until nl) {
        params += s"act_$l" -> actCodes(l).toDouble
        params ++= Net.keys(s"w_$l", sizes(l), sizes(l + 1)).zip(w(l))
        params ++= Net.keys(s"bias_$l", sizes(l + 1)).zip(b(l))
      }
      params ++= scaling.params
      fittedFromParams(params.result(), xTags, feature, Net.history(loss))
    }
  }

  object MlpReconstructor {
    /** The reference's `feedforward_model`: a tanh hidden stack of the
      * encoder dims then the same dims reversed (so the bottleneck width
      * appears twice — dims (256,128,64) build 256,128,64,64,128,256)
      * and a linear output layer. */
    def mirrored(encodingDims: Seq[Int], seed: Long = 0L,
                 epochs: Int = 300): MlpReconstructor = {
      require(encodingDims.nonEmpty && encodingDims.forall(_ >= 1),
        s"encoding dims must be positive: $encodingDims")
      new MlpReconstructor((_, _) => mirroredLayout(encodingDims), seed, epochs)
    }

    private def mirroredLayout(dims: Seq[Int]): (Seq[Int], Array[Int]) = {
      val hidden = dims ++ dims.reverse
      (hidden, (hidden.map(_ => ActTanh) :+ ActLinear).toArray)
    }

    /** The config path's default: the mirrored layout with hourglass dims
      * derived from the ACTUAL feature count at fit time (compression 0.5,
      * two encoding layers — the reference's fixed 256/128/64 defaults
      * assume hundreds of sensors; a per-machine tag list is small, and a
      * fixed-width net would dwarf it). */
    def hourglass(seed: Long = 0L, epochs: Int = 300): MlpReconstructor =
      new MlpReconstructor((nin, _) =>
        mirroredLayout(Windows.hourglassDims(0.5, 2, math.max(2, nin))), seed, epochs)

    /** M7: the raw-spec regressor — an explicit `Sequential`/`Dense` layer
      * list (units + activation per layer, the engine surface of
      * `gordo/machine/model/models.py:401-460`'s
      * `KerasRawModelRegressor`). The LAST layer is the output layer; its
      * units must equal the target count (the reference's keras fit fails
      * on the same mismatch, just later and more cryptically). `compile`
      * kwargs beyond loss=mse/optimizer=adam are out of scope and rejected
      * at registry compile time. */
    def rawSpec(layers: Seq[(Int, String)], seed: Long = 0L,
                epochs: Int = 300): MlpReconstructor = {
      require(layers.nonEmpty, "raw spec needs at least one Dense layer")
      require(layers.forall(_._1 >= 1),
        s"Dense units must be positive: ${layers.map(_._1)}")
      // validate activation names eagerly — a config typo should fail at
      // compile, not mid-fit
      val codes = layers.map(l => actCode(l._2)).toArray
      new MlpReconstructor((_, nout) => {
        require(layers.last._1 == nout,
          s"raw spec's last Dense has ${layers.last._1} units but the " +
            s"model has $nout target tags")
        (layers.init.map(_._1), codes)
      }, seed, epochs)
    }
  }
}
