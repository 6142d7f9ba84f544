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
  * Scoring is distributed, exactly like [[Mlp]] ([[Net.fitted]]): the
  * fitted weights travel in the task closure (KBs), and the training's
  * own per-row forward pass is one JVM function per row.
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

  /** The cell's weight tensors, flat row-major, with their param names
    * and shapes: gate weights `wx` (gate, step feature, unit) on the
    * inputs and `wh` (gate, unit, unit) on the previous hidden state,
    * gate biases `bg` (gate, unit) for gates (input, forget, cell,
    * output), readout `wy` (unit, target) and `by`. */
  private def tensorShapes(nfeat: Int, nu: Int, nout: Int): Seq[(String, Seq[Int])] =
    Seq("lw" -> Seq(4, nfeat, nu), "lu" -> Seq(4, nu, nu), "lb" -> Seq(4, nu),
      "lwy" -> Seq(nu, nout), "lby" -> Seq(nout))

  /** An LSTM cell over [[tensorShapes]]' tensors; `seqIdx(s)(f)` is the
    * input column of step s's feature f. */
  private final class Cell(seqIdx: Array[Array[Int]], nu: Int, nout: Int,
                           tensors: Array[Array[Double]]) extends Serializable {
    private val Array(wx, wh, bg, wy, by) = tensors
    private val nsteps = seqIdx.length
    private val nfeat = seqIdx.head.length

    /** One row's forward pass over its window: `x` holds the standardized
      * inputs; step s writes its post-activation gates to `gate(s)`
      * (gate-major) and its states to `h(s + 1)`/`c(s + 1)` (`h(0)` and
      * `c(0)` stay zero); the readout goes to `y`. Each gate sums its
      * bias, then the step's inputs, then the previous step's units,
      * each in ascending order. Training and scoring both run it. */
    def forward(x: Array[Double], gate: Array[Array[Double]],
                h: Array[Array[Double]], c: Array[Array[Double]],
                y: Array[Double]): Unit = {
      var s = 0
      while (s < nsteps) {
        val gs = gate(s); val hs = h(s); val idx = seqIdx(s)
        var u = 0
        while (u < nu) {
          var g = 0
          while (g < 4) {
            var acc = bg(g * nu + u)
            var f = 0
            while (f < nfeat) { acc += x(idx(f)) * wx((g * nfeat + f) * nu + u); f += 1 }
            var u0 = 0
            while (u0 < nu) { acc += hs(u0) * wh((g * nu + u0) * nu + u); u0 += 1 }
            gs(g * nu + u) = if (g == 2) math.tanh(acc) else sigmoid(acc)
            g += 1
          }
          c(s + 1)(u) = gs(nu + u) * c(s)(u) + gs(u) * gs(2 * nu + u)
          h(s + 1)(u) = gs(3 * nu + u) * math.tanh(c(s + 1)(u))
          u += 1
        }
        s += 1
      }
      var j = 0
      while (j < nout) {
        var acc = by(j)
        var u = 0
        while (u < nu) { acc += h(nsteps)(u) * wy(u * nout + j); u += 1 }
        y(j) = acc
        j += 1
      }
    }
  }

  /** Rebuild the scoring `Fitted` from flat params (model.json K1
    * round-trip). Layout: `nin`/`units`/`nsteps`/`nfeat`/`nout`,
    * `seqidx_<s>_<f>` (input column index per step/feature), gate
    * weights `lw_<g>_<i>_<u>` (input), `lu_<g>_<u'>_<u>` (recurrent),
    * `lb_<g>_<u>` for g in 0..3 = (input, forget, cell, output), readout
    * `lwy_<u>_<j>`/`lby_<j>` and the [[Net.Scaling]] keys — all Doubles,
    * the shape every other impl persists through. */
  def fittedFromParams(p: Map[String, Double], xTags: Seq[String],
                       feature: String => Column,
                       trainHistory: Map[String, Any] = Map.empty): Fitted = {
    val nu = p("units").toInt
    val nsteps = p("nsteps").toInt
    val nfeat = p("nfeat").toInt
    val nout = p("nout").toInt
    val cell = new Cell(
      Array.tabulate(nsteps, nfeat)((s, f) => p(s"seqidx_${s}_$f").toInt), nu, nout,
      tensorShapes(nfeat, nu, nout).map { case (k, d) => Net.keys(k, d: _*).map(p).toArray }
        .toArray)
    Net.fitted("lstm", p, xTags, feature, trainHistory) { x =>
      val y = new Array[Double](nout)
      cell.forward(x, Array.ofDim(nsteps, 4 * nu), Array.ofDim(nsteps + 1, nu),
        Array.ofDim(nsteps + 1, nu), y)
      y
    }
  }

  private val LearningRate = 0.02

  /** Seeded deterministic LSTM reconstructor; the hidden width is
    * `max(4, 2 · features/step)`.
    *
    * @param seed   weight-init seed (reference default 0)
    * @param epochs full-batch Adam steps (BPTT through the window)
    */
  class LstmReconstructor(seed: Long = 0L, epochs: Int = 200)
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
      val nu = math.max(4, 2 * nfeat)
      val (scaling, xs, ys) = Net.Scaling.fit(rows, nin, yTags)

      // Xavier-uniform init, seeded; forget-gate bias 1.0 (the standard
      // keras `unit_forget_bias` init — gradients flow from epoch one)
      val rnd = new java.util.Random(seed)
      val wx = Array.fill(4 * nfeat * nu)(Net.xavier(rnd, nfeat + nu, nu))
      val wh = Array.fill(4 * nu * nu)(Net.xavier(rnd, nfeat + nu, nu))
      val bg = Array.tabulate(4 * nu)(k => if (k / nu == 1) 1.0 else 0.0)
      val wy = Array.fill(nu * nout)(Net.xavier(rnd, nu, nout))
      val by = new Array[Double](nout)
      val tensors = Array(wx, wh, bg, wy, by)
      val cell = new Cell(seqIdx, nu, nout, tensors)
      val adam = new Net.Adam(LearningRate, tensors)
      val Array(gWx, gWh, gB, gWy, gBy) = adam.grads

      // single-row forward caches for BPTT: backward runs immediately
      // after each row's forward, so only one row's states are ever
      // live — O(nsteps·units) driver memory instead of O(n·nsteps·
      // units). Slot 0 of h/c is the zero initial state and is never
      // written; every other slot is fully rewritten by each row's
      // forward before backward reads it.
      val hAll = Array.ofDim[Double](nsteps + 1, nu)
      val cAll = Array.ofDim[Double](nsteps + 1, nu)
      val gate = Array.ofDim[Double](nsteps, 4 * nu)
      val y = new Array[Double](nout)
      val dy = new Array[Double](nout)
      val dh = new Array[Double](nu)
      val dc = new Array[Double](nu)
      val dhPrev = new Array[Double](nu)
      val da = new Array[Double](4 * nu)
      val loss = new Array[Double](epochs)

      for (step <- 0 until epochs) {
        // gradients accumulate over the full batch
        var sse = 0.0
        var r = 0
        while (r < n) {
          cell.forward(xs(r), gate, hAll, cAll, y)
          // output delta (mean MSE over n × nout)
          var j = 0
          while (j < nout) {
            val e = y(j) - ys(r)(j)
            sse += e * e
            dy(j) = 2.0 * e / (n.toDouble * nout)
            gBy(j) += dy(j)
            j += 1
          }
          // ---- backward (BPTT) ----
          var u = 0
          while (u < nu) {
            var acc = 0.0
            var jj = 0
            while (jj < nout) {
              gWy(u * nout + jj) += hAll(nsteps)(u) * dy(jj)
              acc += wy(u * nout + jj) * dy(jj)
              jj += 1
            }
            dh(u) = acc
            dc(u) = 0.0
            u += 1
          }
          var sb = nsteps - 1
          while (sb >= 0) {
            val gs = gate(sb)
            var u2 = 0
            while (u2 < nu) {
              val ig = gs(u2); val fg = gs(nu + u2)
              val gg = gs(2 * nu + u2); val og = gs(3 * nu + u2)
              val tc = math.tanh(cAll(sb + 1)(u2))
              val dcTot = dc(u2) + dh(u2) * og * (1.0 - tc * tc)
              da(u2) = dcTot * gg * ig * (1.0 - ig)
              da(nu + u2) = dcTot * cAll(sb)(u2) * fg * (1.0 - fg)
              da(2 * nu + u2) = dcTot * ig * (1.0 - gg * gg)
              da(3 * nu + u2) = dh(u2) * tc * og * (1.0 - og)
              dc(u2) = dcTot * fg
              u2 += 1
            }
            // accumulate grads; propagate dh to the previous step
            java.util.Arrays.fill(dhPrev, 0.0)
            var g = 0
            while (g < 4) {
              var u3 = 0
              while (u3 < nu) {
                val d = da(g * nu + u3)
                gB(g * nu + u3) += d
                var f = 0
                while (f < nfeat) {
                  gWx((g * nfeat + f) * nu + u3) += xs(r)(seqIdx(sb)(f)) * d; f += 1
                }
                var u0 = 0
                while (u0 < nu) {
                  gWh((g * nu + u0) * nu + u3) += hAll(sb)(u0) * d
                  dhPrev(u0) += wh((g * nu + u0) * nu + u3) * d
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
        loss(step) = sse / (n.toDouble * nout)
        adam.step()
      }

      val params = Map.newBuilder[String, Double]
      params += "nin" -> nin.toDouble
      params += "units" -> nu.toDouble
      params += "nsteps" -> nsteps.toDouble
      params += "nfeat" -> nfeat.toDouble
      params += "nout" -> nout.toDouble
      for (s <- 0 until nsteps; f <- 0 until nfeat)
        params += s"seqidx_${s}_$f" -> seqIdx(s)(f).toDouble
      tensorShapes(nfeat, nu, nout).zip(tensors).foreach { case ((k, d), t) =>
        params ++= Net.keys(k, d: _*).zip(t)
      }
      params ++= scaling.params
      fittedFromParams(params.result(), xTags, feature, Net.history(loss))
    }
  }
}
