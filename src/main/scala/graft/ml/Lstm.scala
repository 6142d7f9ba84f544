package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ml.DiffAnomaly.{Fitted, RowReconstructor}

/** The in-house recurrent cell (SURVEY M6/M10; ref: `KerasLSTMForecast` /
  * `KerasLSTMAutoEncoder`, `gordo/machine/model/models.py:463-710`,
  * factories `gordo/machine/model/factories/lstm_autoencoder.py:16-263`).
  *
  * A single-layer LSTM encoder over the lookback window plus a linear
  * readout from the last hidden state — trained with the exact
  * [[Mlp]] discipline: the per-machine matrix collects to the driver
  * (SURVEY §3.1), inputs/targets standardize, weights init
  * Xavier-uniform from a FIXED seed, and full-batch Adam runs a fixed
  * number of epochs — bit-deterministic across runs and cluster layouts.
  * `lstm_*` kinds train a real recurrent cell (gates over a time-ordered
  * sequence, shared weights across steps), not a window-flattened MLP.
  *
  * The sequence view reassembles from the builder's lag feature columns
  * (`Windows.withLookback` names, `<tag>__lag<k>`): step order is oldest
  * first (largest lag), features within a step follow the tag order of
  * the column list. Non-windowed callers (no `__lag` names) get a
  * single-step sequence — the cell degrades to a gated dense layer.
  *
  * Scoring is distributed, exactly like [[Mlp]]: the fitted weights
  * travel in the task closure (KBs), the forward pass is one JVM
  * function per row, and per-target predictions share the forward array
  * through codegen subexpression elimination.
  *
  * Cross-validation takes the segmented fit source like [[Mlp]]: as a
  * [[DiffAnomaly.RowReconstructor]], one segmented pass collects the
  * rows and every fold trains on its merged, time-ordered rows.
  */
object Lstm {

  private val LagName = "(.+)__lag(\\d+)".r

  /** (steps × features) index map into the input column list: oldest
    * step first; features in first-seen tag order. Every input must be a
    * `<tag>__lag<k>` column (one shared k-set across tags) — otherwise
    * the whole input list is ONE step. */
  private[graft] def sequenceIndex(xTags: Seq[String]): Array[Array[Int]] = {
    val parsed = xTags.map {
      case LagName(t, k) => Some((t, k.toInt))
      case _ => None
    }
    if (parsed.exists(_.isEmpty)) return Array(xTags.indices.toArray)
    val byTag = parsed.flatten.zipWithIndex
      .groupBy(_._1._1).view.mapValues(_.map { case ((_, k), i) => k -> i })
    val tagOrder = parsed.flatten.map(_._1).distinct
    val ks = byTag(tagOrder.head).map(_._1).sorted
    require(tagOrder.forall(t => byTag(t).map(_._1).sorted == ks),
      s"lag sets differ across tags: $xTags")
    // oldest first: the LARGEST lag is the earliest observation
    ks.sorted(Ordering[Int].reverse).map { k =>
      tagOrder.map(t => byTag(t).toMap.apply(k)).toArray
    }.toArray
  }

  @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** Rebuild the scoring `Fitted` from flat params (model.json K1
    * round-trip). Layout: `nin`/`units`/`nsteps`/`nfeat`/`nout`,
    * `seqidx_<s>_<f>` (input column index per step/feature), gate
    * weights `lw_<g>_<i>_<u>` (input), `lu_<g>_<u'>_<u>` (recurrent),
    * `lb_<g>_<u>` for g in 0..3 = (input, forget, cell, output), readout
    * `lwy_<u>_<j>`/`lby_<j>`, standardization `xmu_<i>`/`xsd_<i>` and
    * `ymu_<tag>`/`ysd_<tag>`/`yidx_<tag>` — all Doubles, the shape every
    * other impl persists through. */
  def fittedFromParams(p: Map[String, Double], xTags: Seq[String],
                       feature: String => Column,
                       trainHistory: Map[String, Any] = Map.empty): Fitted = {
    val nin = p("nin").toInt
    val units = p("units").toInt
    val nsteps = p("nsteps").toInt
    val nfeat = p("nfeat").toInt
    val nout = p("nout").toInt
    require(xTags.size == nin, s"LSTM expects $nin inputs, got ${xTags.size}")
    val seqIdx = Array.tabulate(nsteps, nfeat)((s, f) => p(s"seqidx_${s}_$f").toInt)
    val wx = Array.tabulate(4, nfeat, units)((g, i, u) => p(s"lw_${g}_${i}_$u"))
    val wh = Array.tabulate(4, units, units)((g, u0, u) => p(s"lu_${g}_${u0}_$u"))
    val bg = Array.tabulate(4, units)((g, u) => p(s"lb_${g}_$u"))
    val wy = Array.tabulate(units, nout)((u, j) => p(s"lwy_${u}_$j"))
    val by = Array.tabulate(nout)(j => p(s"lby_$j"))
    val xmu = Array.tabulate(nin)(i => p(s"xmu_$i"))
    val xsd = Array.tabulate(nin)(i => p(s"xsd_$i"))
    val yKeys = p.keys.collect { case k if k.startsWith("yidx_") => k.drop(5) }
    val yIdx = yKeys.map(t => t -> p(s"yidx_$t").toInt).toMap
    val ymu = p.filter(_._1.startsWith("ymu_")).map { case (k, v) => k.drop(4) -> v }
    val ysd = p.filter(_._1.startsWith("ysd_")).map { case (k, v) => k.drop(4) -> v }
    val forwardUdf = udf((xs: Seq[java.lang.Double]) => {
      if (xs == null || xs.exists(_ == null)) null
      else {
        val std = Array.tabulate(nin)(i => (xs(i) - xmu(i)) / xsd(i))
        val h = new Array[Double](units)
        val c = new Array[Double](units)
        var s = 0
        while (s < nsteps) {
          val hNext = new Array[Double](units)
          val cNext = new Array[Double](units)
          var u = 0
          while (u < units) {
            val a = new Array[Double](4)
            var g = 0
            while (g < 4) {
              var acc = bg(g)(u)
              var f = 0
              while (f < nfeat) { acc += std(seqIdx(s)(f)) * wx(g)(f)(u); f += 1 }
              var u0 = 0
              while (u0 < units) { acc += h(u0) * wh(g)(u0)(u); u0 += 1 }
              a(g) = acc
              g += 1
            }
            val ig = sigmoid(a(0)); val fg = sigmoid(a(1))
            val gg = math.tanh(a(2)); val og = sigmoid(a(3))
            cNext(u) = fg * c(u) + ig * gg
            hNext(u) = og * math.tanh(cNext(u))
            u += 1
          }
          System.arraycopy(hNext, 0, h, 0, units)
          System.arraycopy(cNext, 0, c, 0, units)
          s += 1
        }
        Array.tabulate(nout) { j =>
          var acc = by(j)
          var u = 0
          while (u < units) { acc += h(u) * wy(u)(j); u += 1 }
          acc
        }.toSeq
      }
    })
    new Fitted {
      private def forwardCol: Column =
        forwardUdf(array(xTags.map(t => feature(t).cast("double")): _*))
      def predictCol(tag: String): Column = {
        val j = yIdx.getOrElse(tag,
          throw new IllegalArgumentException(s"LSTM has no target: $tag"))
        element_at(forwardCol, j + 1) * lit(ysd(tag)) + lit(ymu(tag))
      }
      def params: Map[String, Double] = p
      def impl: String = "lstm"
      override def history: Map[String, Any] = trainHistory
    }
  }

  /** Seeded deterministic LSTM reconstructor.
    *
    * @param units  hidden width; <= 0 derives `max(4, 2 · features/step)`
    * @param seed   weight-init seed (reference default 0)
    * @param epochs full-batch Adam steps (BPTT through the window)
    * @param lr     Adam step size
    */
  class LstmReconstructor(units: Int = 0, seed: Long = 0L,
                          epochs: Int = 200, lr: Double = 0.02)
      extends RowReconstructor {
    def impl: String = "lstm"

    private[ml] def fitRows(rows: Array[Array[Double]], xTags: Seq[String],
                            yTags: Seq[String], feature: String => Column): Fitted = {
      require(rows.nonEmpty, "LSTM fit on an empty (or all-null) frame")
      val n = rows.length
      val nin = xTags.size
      val nout = yTags.size
      val seqIdx = sequenceIndex(xTags)
      val nsteps = seqIdx.length
      val nfeat = seqIdx.head.length
      val nu = if (units > 0) units else math.max(4, 2 * nfeat)

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

      // Xavier-uniform init, seeded; forget-gate bias 1.0 (the standard
      // keras `unit_forget_bias` init — gradients flow from epoch one)
      val rnd = new java.util.Random(seed)
      def xavier(fanIn: Int, fanOut: Int): Double = {
        val limit = math.sqrt(6.0 / (fanIn + fanOut))
        (rnd.nextDouble() * 2 - 1) * limit
      }
      val wx = Array.fill(4, nfeat, nu)(xavier(nfeat + nu, nu))
      val wh = Array.fill(4, nu, nu)(xavier(nfeat + nu, nu))
      val bg = Array.tabulate(4, nu)((g, _) => if (g == 1) 1.0 else 0.0)
      val wy = Array.fill(nu, nout)(xavier(nu, nout))
      val by = new Array[Double](nout)

      // Adam state, one slot per parameter tensor
      val (b1, b2, eps) = (0.9, 0.999, 1e-8)
      val mWx = Array.ofDim[Double](4, nfeat, nu); val vWx = Array.ofDim[Double](4, nfeat, nu)
      val mWh = Array.ofDim[Double](4, nu, nu); val vWh = Array.ofDim[Double](4, nu, nu)
      val mB = Array.ofDim[Double](4, nu); val vB = Array.ofDim[Double](4, nu)
      val mWy = Array.ofDim[Double](nu, nout); val vWy = Array.ofDim[Double](nu, nout)
      val mBy = new Array[Double](nout); val vBy = new Array[Double](nout)

      // single-row forward caches for BPTT: backward runs immediately
      // after each row's forward, so only one row's states are ever
      // live — O(nsteps·units) driver memory instead of O(n·nsteps·
      // units). Slot 0 of h/c is the zero initial state and is never
      // written; slots 1..nsteps (and every gate slot) are fully
      // rewritten by each row's forward before backward reads them,
      // so no per-row clearing is needed.
      val hAll = Array.ofDim[Double](nsteps + 1, nu) // h(0) = 0
      val cAll = Array.ofDim[Double](nsteps + 1, nu)
      val gate = Array.ofDim[Double](nsteps, 4, nu)  // post-activation
      val lossHistory = new Array[Double](epochs)

      for (step <- 1 to epochs) {
        // gradients accumulate over the full batch
        val gWx = Array.ofDim[Double](4, nfeat, nu)
        val gWh = Array.ofDim[Double](4, nu, nu)
        val gB = Array.ofDim[Double](4, nu)
        val gWy = Array.ofDim[Double](nu, nout)
        val gBy = new Array[Double](nout)
        var epochLoss = 0.0

        var r = 0
        while (r < n) {
          // ---- forward, caching every gate/state ----
          var s = 0
          while (s < nsteps) {
            var u = 0
            while (u < nu) {
              var g = 0
              while (g < 4) {
                var acc = bg(g)(u)
                var f = 0
                while (f < nfeat) { acc += xs(r)(seqIdx(s)(f)) * wx(g)(f)(u); f += 1 }
                var u0 = 0
                while (u0 < nu) { acc += hAll(s)(u0) * wh(g)(u0)(u); u0 += 1 }
                gate(s)(g)(u) =
                  if (g == 2) math.tanh(acc) else sigmoid(acc)
                g += 1
              }
              cAll(s + 1)(u) = gate(s)(1)(u) * cAll(s)(u) +
                gate(s)(0)(u) * gate(s)(2)(u)
              hAll(s + 1)(u) = gate(s)(3)(u) * math.tanh(cAll(s + 1)(u))
              u += 1
            }
            s += 1
          }
          // readout + output delta (mean MSE over n × nout)
          val dy = new Array[Double](nout)
          var j = 0
          while (j < nout) {
            var acc = by(j)
            var u = 0
            while (u < nu) { acc += hAll(nsteps)(u) * wy(u)(j); u += 1 }
            val e = acc - ys(r)(j)
            epochLoss += e * e
            dy(j) = 2.0 * e / (n.toDouble * nout)
            j += 1
          }
          // ---- backward (BPTT) ----
          val dh = new Array[Double](nu)
          val dc = new Array[Double](nu)
          var u = 0
          while (u < nu) {
            var acc = 0.0
            var jj = 0
            while (jj < nout) {
              gWy(u)(jj) += hAll(nsteps)(u) * dy(jj)
              acc += wy(u)(jj) * dy(jj)
              jj += 1
            }
            dh(u) = acc
            u += 1
          }
          j = 0
          while (j < nout) { gBy(j) += dy(j); j += 1 }
          var sb = nsteps - 1
          while (sb >= 0) {
            val da = Array.ofDim[Double](4, nu)
            var u2 = 0
            while (u2 < nu) {
              val ig = gate(sb)(0)(u2); val fg = gate(sb)(1)(u2)
              val gg = gate(sb)(2)(u2); val og = gate(sb)(3)(u2)
              val tc = math.tanh(cAll(sb + 1)(u2))
              val dcTot = dc(u2) + dh(u2) * og * (1.0 - tc * tc)
              da(0)(u2) = dcTot * gg * ig * (1.0 - ig)
              da(1)(u2) = dcTot * cAll(sb)(u2) * fg * (1.0 - fg)
              da(2)(u2) = dcTot * ig * (1.0 - gg * gg)
              da(3)(u2) = dh(u2) * tc * og * (1.0 - og)
              dc(u2) = dcTot * fg
              u2 += 1
            }
            // accumulate grads; propagate dh to the previous step
            val dhPrev = new Array[Double](nu)
            var g = 0
            while (g < 4) {
              var u3 = 0
              while (u3 < nu) {
                val d = da(g)(u3)
                gB(g)(u3) += d
                var f = 0
                while (f < nfeat) {
                  gWx(g)(f)(u3) += xs(r)(seqIdx(sb)(f)) * d; f += 1
                }
                var u0 = 0
                while (u0 < nu) {
                  gWh(g)(u0)(u3) += hAll(sb)(u0) * d
                  dhPrev(u0) += wh(g)(u0)(u3) * d
                  u0 += 1
                }
                u3 += 1
              }
              g += 1
            }
            System.arraycopy(dhPrev, 0, dh, 0, nu)
            sb -= 1
          }
          r += 1
        }
        lossHistory(step - 1) = epochLoss / (n.toDouble * nout)

        // ---- Adam update ----
        val corr1 = 1.0 - math.pow(b1, step)
        val corr2 = 1.0 - math.pow(b2, step)
        @inline def upd(p: Double, grad: Double, m: Double, v: Double): (Double, Double, Double) = {
          val m2 = b1 * m + (1 - b1) * grad
          val v2 = b2 * v + (1 - b2) * grad * grad
          (p - lr * (m2 / corr1) / (math.sqrt(v2 / corr2) + eps), m2, v2)
        }
        for (g <- 0 until 4; f <- 0 until nfeat; u <- 0 until nu) {
          val (p2, m2, v2) = upd(wx(g)(f)(u), gWx(g)(f)(u), mWx(g)(f)(u), vWx(g)(f)(u))
          wx(g)(f)(u) = p2; mWx(g)(f)(u) = m2; vWx(g)(f)(u) = v2
        }
        for (g <- 0 until 4; u0 <- 0 until nu; u <- 0 until nu) {
          val (p2, m2, v2) = upd(wh(g)(u0)(u), gWh(g)(u0)(u), mWh(g)(u0)(u), vWh(g)(u0)(u))
          wh(g)(u0)(u) = p2; mWh(g)(u0)(u) = m2; vWh(g)(u0)(u) = v2
        }
        for (g <- 0 until 4; u <- 0 until nu) {
          val (p2, m2, v2) = upd(bg(g)(u), gB(g)(u), mB(g)(u), vB(g)(u))
          bg(g)(u) = p2; mB(g)(u) = m2; vB(g)(u) = v2
        }
        for (u <- 0 until nu; j <- 0 until nout) {
          val (p2, m2, v2) = upd(wy(u)(j), gWy(u)(j), mWy(u)(j), vWy(u)(j))
          wy(u)(j) = p2; mWy(u)(j) = m2; vWy(u)(j) = v2
        }
        for (j <- 0 until nout) {
          val (p2, m2, v2) = upd(by(j), gBy(j), mBy(j), vBy(j))
          by(j) = p2; mBy(j) = m2; vBy(j) = v2
        }
      }

      val params = Map.newBuilder[String, Double]
      params += "nin" -> nin.toDouble
      params += "units" -> nu.toDouble
      params += "nsteps" -> nsteps.toDouble
      params += "nfeat" -> nfeat.toDouble
      params += "nout" -> nout.toDouble
      for (s <- 0 until nsteps; f <- 0 until nfeat)
        params += s"seqidx_${s}_$f" -> seqIdx(s)(f).toDouble
      for (g <- 0 until 4; f <- 0 until nfeat; u <- 0 until nu)
        params += s"lw_${g}_${f}_$u" -> wx(g)(f)(u)
      for (g <- 0 until 4; u0 <- 0 until nu; u <- 0 until nu)
        params += s"lu_${g}_${u0}_$u" -> wh(g)(u0)(u)
      for (g <- 0 until 4; u <- 0 until nu)
        params += s"lb_${g}_$u" -> bg(g)(u)
      for (u <- 0 until nu; j <- 0 until nout)
        params += s"lwy_${u}_$j" -> wy(u)(j)
      for (j <- 0 until nout) params += s"lby_$j" -> by(j)
      for (i <- 0 until nin) {
        params += s"xmu_$i" -> xmu(i); params += s"xsd_$i" -> xsd(i)
      }
      yTags.zipWithIndex.foreach { case (t, j) =>
        params += s"yidx_$t" -> j.toDouble
        params += s"ymu_$t" -> ymu(j)
        params += s"ysd_$t" -> ysd(j)
      }
      val trainHistory = Map[String, Any](
        "loss" -> lossHistory.toList,
        "params" -> Map("epochs" -> epochs, "metrics" -> List("loss")))
      fittedFromParams(params.result(), xTags, feature, trainHistory)
    }
  }
}
