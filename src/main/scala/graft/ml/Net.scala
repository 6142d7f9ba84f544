package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ml.DiffAnomaly.Fitted

/** The training recipe the two in-process trained nets ([[Mlp]], [[Lstm]])
  * share (SURVEY §3.1, §7.3(b)): inputs and targets standardize, then
  * seeded full-batch Adam runs a fixed number of epochs. Each net owns
  * its init, its per-row forward pass and its backward pass; this module
  * owns the standardization and its params keys, the optimizer, and the
  * scoring [[Fitted]] that serves a net's forward pass.
  */
private[ml] object Net {

  /** Per-column mean and population sd of the inputs (`xmu`/`xsd`, in
    * input order) and the targets (`ymu`/`ysd`, in `yTags` order); a zero
    * sd scales by 1 ([[Scalers.nonZeroScale]]). Persisted as
    * `xmu_<i>`/`xsd_<i>` and `ymu_<tag>`/`ysd_<tag>`/`yidx_<tag>`. */
  final case class Scaling(xmu: Array[Double], xsd: Array[Double],
                           yTags: Seq[String], ymu: Array[Double],
                           ysd: Array[Double]) {
    def params: Seq[(String, Double)] =
      xmu.indices.flatMap(i => Seq(s"xmu_$i" -> xmu(i), s"xsd_$i" -> xsd(i))) ++
        yTags.zipWithIndex.flatMap { case (t, j) =>
          Seq(s"yidx_$t" -> j.toDouble, s"ymu_$t" -> ymu(j), s"ysd_$t" -> ysd(j))
        }
  }

  object Scaling {
    /** Fit on rows of (x…, y…) cells; returns the scaling with the
      * standardized input and target matrices. */
    def fit(rows: Array[Array[Double]], nin: Int, yTags: Seq[String])
        : (Scaling, Array[Array[Double]], Array[Array[Double]]) = {
      val n = rows.length
      def stats(off: Int, d: Int): (Array[Double], Array[Double]) = {
        val mu = Array.tabulate(d)(i => rows.map(_(off + i)).sum / n)
        val sd = Array.tabulate(d) { i =>
          Scalers.nonZeroScale(math.sqrt(
            rows.map(r => { val v = r(off + i) - mu(i); v * v }).sum / n))
        }
        (mu, sd)
      }
      val (xmu, xsd) = stats(0, nin)
      val (ymu, ysd) = stats(nin, yTags.size)
      val xs = Array.tabulate(n, nin)((r, i) => (rows(r)(i) - xmu(i)) / xsd(i))
      val ys = Array.tabulate(n, yTags.size)((r, j) =>
        (rows(r)(nin + j) - ymu(j)) / ysd(j))
      (Scaling(xmu, xsd, yTags, ymu, ysd), xs, ys)
    }

    def fromParams(p: Map[String, Double]): Scaling = {
      val nin = p("nin").toInt
      val yTags = p.toSeq.collect {
        case (k, v) if k.startsWith("yidx_") => (k.drop(5), v.toInt)
      }.sortBy(_._2).map(_._1)
      Scaling(Array.tabulate(nin)(i => p(s"xmu_$i")),
        Array.tabulate(nin)(i => p(s"xsd_$i")), yTags,
        yTags.map(t => p(s"ymu_$t")).toArray,
        yTags.map(t => p(s"ysd_$t")).toArray)
    }
  }

  /** One Xavier/Glorot-uniform draw for a layer of `fanIn` inputs and
    * `fanOut` outputs; a seeded `rnd` makes the init deterministic. */
  def xavier(rnd: java.util.Random, fanIn: Int, fanOut: Int): Double =
    (rnd.nextDouble() * 2 - 1) * math.sqrt(6.0 / (fanIn + fanOut))

  /** The param keys of a flat row-major tensor of shape `dims`:
    * `<name>_<i>_<j>…`, in index order. */
  def keys(name: String, dims: Int*): IndexedSeq[String] =
    dims.foldLeft(IndexedSeq(name))((ks, d) => ks.flatMap(k => (0 until d).map(i => s"${k}_$i")))

  /** The keras `History` shape (`models.py:339-357`, A10): per-metric
    * epoch lists plus a params block naming the metrics. `loss` is the
    * mean squared error on the standardized targets, one per epoch. */
  def history(loss: Array[Double]): Map[String, Any] = Map(
    "loss" -> loss.toList,
    "params" -> Map("epochs" -> loss.length, "metrics" -> List("loss")))

  /** The scoring side of a net persisted as `p`. `forward` maps one row's
    * standardized inputs to its standardized outputs; it runs as one JVM
    * function per row over `array(features)`, and every target's
    * prediction is an `element_at` of that shared array, so codegen's
    * subexpression elimination evaluates the net once per row however
    * many targets are selected. */
  def fitted(family: String, p: Map[String, Double], xTags: Seq[String],
             feature: String => Column, trainHistory: Map[String, Any])
            (forward: Array[Double] => Array[Double]): Fitted = {
    val sc = Scaling.fromParams(p)
    val nin = sc.xmu.length
    val name = family.toUpperCase
    require(xTags.size == nin, s"$name expects $nin inputs, got ${xTags.size}")
    // boxed inputs: a null model-input value yields a null prediction
    // for the row (exactly like the ridge/pca/trend column expressions),
    // instead of crashing the task on deserialization
    val forwardUdf = udf((xs: Seq[java.lang.Double]) =>
      if (xs == null || xs.exists(_ == null)) null
      else forward(Array.tabulate(nin)(i => (xs(i) - sc.xmu(i)) / sc.xsd(i))).toSeq)
    new Fitted {
      private def forwardCol: Column =
        forwardUdf(array(xTags.map(t => feature(t).cast("double")): _*))
      def predictCol(tag: String): Column = {
        val j = sc.yTags.indexOf(tag)
        if (j < 0) throw new IllegalArgumentException(s"$name has no target: $tag")
        // un-standardize back to raw units
        element_at(forwardCol, j + 1) * lit(sc.ysd(j)) + lit(sc.ymu(j))
      }
      def params: Map[String, Double] = p
      def impl: String = family
      override def history: Map[String, Any] = trainHistory
    }
  }

  private final val B1 = 0.9
  private final val B2 = 0.999
  private final val Eps = 1e-8

  /** Full-batch Adam (the reference's default optimizer: β1 0.9,
    * β2 0.999, ε 1e-8) over a net's parameter tensors, each a flat
    * row-major array it updates in place. A net accumulates one epoch's
    * gradients into [[grads]] (same shapes and order), then calls
    * [[step]], which applies them and zeroes them for the next epoch. */
  final class Adam(lr: Double, params: Array[Array[Double]]) {
    val grads: Array[Array[Double]] = params.map(p => new Array[Double](p.length))
    private val m = params.map(p => new Array[Double](p.length))
    private val v = params.map(p => new Array[Double](p.length))
    private var t = 0

    def step(): Unit = {
      t += 1
      val corr1 = 1.0 - math.pow(B1, t)
      val corr2 = 1.0 - math.pow(B2, t)
      var k = 0
      while (k < params.length) {
        val p = params(k); val g = grads(k); val mk = m(k); val vk = v(k)
        var i = 0
        while (i < p.length) {
          mk(i) = B1 * mk(i) + (1 - B1) * g(i)
          vk(i) = B2 * vk(i) + (1 - B2) * g(i) * g(i)
          p(i) -= lr * (mk(i) / corr1) / (math.sqrt(vk(i) / corr2) + Eps)
          g(i) = 0.0
          i += 1
        }
        k += 1
      }
    }
  }
}
