package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.data.{AsOfJoin, TimeSeries}
import graft.ml.{Ewma, InfImputer, Metrics, Scalers}

/** ScalaCheck theorems for the ML/time-series numeric kernels, each
  * checked EXACTLY (fp-tolerant compare) against a plain-Scala ground
  * truth that shares no code with any Spark path — the LlmInvariantProps
  * discipline applied to the anomaly-pipeline family:
  *
  *  - Ewma: the streaming num/den scan equals the pandas
  *    `ewm(span, adjust=True, ignore_na=False).mean()` recursion per
  *    key, including null gaps (decay without add) and key resets;
  *  - AsOfJoin.backward: equals the two-pointer merge_asof ground truth
  *    on EVERY path — unchunked, chunk-carry (tiny chunkSpan), and
  *    tolerance-gated — with null left timestamps yielding null matches;
  *  - Scalers: inverse ∘ transform = identity for minmax AND robust
  *    (zero-range fallback included), and a minmax transform maps the
  *    fitted frame into [0, 1];
  *  - InfImputer(minmax): ±Inf cells become finite max+δ / min−δ, every
  *    finite cell is untouched, and an all-non-finite column fails
  *    loudly instead of deriving fills from a phantom 0.0 range;
  *  - resampleMulti: every aggregation method equals plain-Scala
  *    bucketing on floor(epoch/width)·width;
  *  - Metrics: the one-pass aggregate matrix equals the sklearn
  *    formulas (r2 population denominator, explained-variance ddof=0).
  */
object MlInvariantProps extends Properties("graft.ml") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(PropDraws(12))

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def approxEq(a: Double, b: Double, tol: Double = 1e-8): Boolean =
    (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def approxOpt(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) => approxEq(x, y)
      case (None, None) => true
      case _ => false
    }

  // ---- Ewma vs the pandas adjust=True recursion ----

  private val ewmaSeriesGen: Gen[List[Option[Double]]] = for {
    n <- Gen.choose(1, 40)
    vs <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.choose(-50.0, 50.0).map(Some(_)),
      1 -> Gen.const(None)))
  } yield vs

  property("ewma equals the plain-Scala adjust=True recursion per key") =
    forAll(Gen.choose(1, 3), ewmaSeriesGen, ewmaSeriesGen, ewmaSeriesGen,
      Gen.choose(1.0, 30.0)) { (nKeys, s1, s2, s3, span) =>
      val series = Seq(s1, s2, s3).take(nKeys)
      val rows = series.zipWithIndex.flatMap { case (vs, k) =>
        vs.zipWithIndex.map { case (v, i) => (s"key$k", i.toLong, v) }
      }
      rows.nonEmpty ==> {
        val alpha = 2.0 / (span + 1.0)
        // ground truth: num/den recursion, decay on EVERY step (absolute
        // position weights = ignore_na=False), add only when present
        val truth: Map[(String, Long), Option[Double]] =
          series.zipWithIndex.flatMap { case (vs, k) =>
            var num = 0.0; var den = 0.0
            vs.zipWithIndex.map { case (v, i) =>
              num *= (1 - alpha); den *= (1 - alpha)
              v.foreach { x => num += x; den += 1.0 }
              (s"key$k", i.toLong) -> (if (den == 0.0) None else Some(num / den))
            }
          }.toMap
        val got = Ewma.ewma(rows.toDF("k", "t", "v"), Seq("k"), "t", "v", span)
          .select($"k", $"t", $"ewma").collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
        Prop(got.keySet == truth.keySet) :| "row set" &&
          Prop(truth.forall { case (k, v) => approxOpt(got(k), v) }) :|
          s"values diverge: span=$span rows=$rows got=$got truth=$truth"
      }
    }

  // ---- AsOfJoin.backward vs the two-pointer merge_asof truth ----

  private val asofLeftGen: Gen[List[(String, Option[Long])]] = for {
    n <- Gen.choose(0, 25)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("k1", "k2"), Gen.frequency(
      9 -> Gen.choose(0L, 200L).map(Some(_)),
      1 -> Gen.const(None))))
  } yield rows

  private val asofRightGen: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(0, 25)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("k1", "k2"), Gen.choose(0L, 200L)))
  } yield rows.distinct // distinct (key, ts): right ties are unspecified

  property("asof backward equals the merge_asof ground truth on every chunk/tolerance path") =
    forAll(asofLeftGen, asofRightGen, Gen.oneOf(-1L, 0L, 5L, 30L),
      Gen.oneOf(0L, 7L, 86400L)) { (lRows, rRows, tolerance, chunkSpan) =>
      lRows.nonEmpty ==> {
        val leftSchema = StructType(Seq(
          StructField("k", StringType), StructField("lts", LongType)))
        val left = spark.createDataFrame(
          spark.sparkContext.parallelize(
            lRows.map { case (k, t) => Row(k, t.map(Long.box).orNull) }, 2),
          leftSchema)
        val right = rRows.map { case (k, t) => (k, t, t * 10.0 + k.hashCode % 7) }
          .toDF("k", "rts", "p")
        val got = AsOfJoin.backward(left, right, Seq("k"), "lts", "rts",
          payload = Seq("p"), tolerance = tolerance, chunkSpan = chunkSpan)
          .collect()
          .map(r => (r.getString(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))
          .sortBy(t => (t._1, t._2, t._3))
        val rByKey = rRows.groupBy(_._1)
        val truth = lRows.map { case (k, lt) =>
          val m = lt.flatMap { t =>
            val cand = rByKey.getOrElse(k, Nil).filter(_._2 <= t)
              .filter { case (_, rt) => tolerance < 0 || t - rt <= tolerance }
            if (cand.isEmpty) None else Some(cand.maxBy(_._2)._2)
          }
          (k, lt, m, m.map(rt => rt * 10.0 + k.hashCode % 7))
        }.sortBy(t => (t._1, t._2, t._3))
        Prop(got.toSeq == truth) :|
          s"tol=$tolerance chunk=$chunkSpan got=${got.toSeq} truth=$truth"
      }
    }

  // ---- Scalers: inverse ∘ transform = id; minmax range containment ----

  private val frameGen: Gen[(List[(Double, Double)], Boolean)] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(-100.0, 100.0),
      Gen.choose(-100.0, 100.0)))
    constB <- Gen.oneOf(true, false) // force the zero-range fallback on b
  } yield (if (constB) rows.map { case (a, _) => (a, 42.0) } else rows, constB)

  property("scaler inverse∘transform is the identity; minmax maps the fit frame into [0,1]") =
    forAll(frameGen, Gen.oneOf("minmax", "robust")) { case ((rows, _), kind) =>
      val df = rows.toDF("a", "b")
      val fitted =
        if (kind == "minmax") Scalers.fitMinMax(df, Seq("a", "b"))
        else Scalers.fitRobust(df, Seq("a", "b"))
      val round = fitted.inverse(fitted.transform(df, Seq("a", "b")),
        Seq("a", "b")).as[(Double, Double)].collect().toList
      val roundTrip = round.sorted.zip(rows.sorted).forall { case (g, e) =>
        approxEq(g._1, e._1) && approxEq(g._2, e._2)
      }
      val inUnit = kind != "minmax" || {
        fitted.transform(df, Seq("a", "b")).as[(Double, Double)].collect()
          .forall(t => t._1 >= -1e-9 && t._1 <= 1 + 1e-9 &&
            t._2 >= -1e-9 && t._2 <= 1 + 1e-9)
      }
      Prop(roundTrip) :| s"round trip ($kind): $round vs $rows" &&
        Prop(inUnit) :| s"minmax transform left [0,1]"
    }

  // ---- InfImputer: fills, untouched finites, loud all-non-finite ----

  property("InfImputer fills ±Inf with max+δ/min−δ and leaves finite cells untouched") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-100.0, 100.0)),
      Gen.choose(1, 3), Gen.choose(1, 3)) { (finite, nPos, nNeg) =>
      val vals = finite ++ List.fill(nPos)(Double.PositiveInfinity) ++
        List.fill(nNeg)(Double.NegativeInfinity)
      val df = vals.map(Tuple1(_)).toDF("x")
      val fitted = InfImputer.fit(df, Seq("x"), strategy = "minmax", delta = 2.0)
      val out = fitted.transform(df, Seq("x")).as[Double].collect().toList
      val expPos = finite.max + 2.0
      val expNeg = finite.min - 2.0
      Prop(out.forall(v => !v.isInfinite)) :| "no infinities survive" &&
        Prop(out.count(v => approxEq(v, expPos)) >= nPos) :| s"+inf fill $expPos" &&
        Prop(out.count(v => approxEq(v, expNeg)) >= nNeg) :| s"-inf fill $expNeg" &&
        Prop(out.sorted.zip((finite ++ List.fill(nPos)(expPos) ++
          List.fill(nNeg)(expNeg)).sorted).forall(t => approxEq(t._1, t._2))) :|
        "finite cells untouched"
    }

  property("InfImputer refuses a column with no finite values (no phantom 0.0 range)") =
    forAll(Gen.choose(1, 4)) { n =>
      val df = List.fill(n)(Double.PositiveInfinity).map(Tuple1(_)).toDF("x")
      val loud = scala.util.Try(InfImputer.fit(df, Seq("x"))).isFailure
      val overridden = InfImputer.fit(df, Seq("x"),
        infFillValue = Some(1.0), negInfFillValue = Some(-1.0))
        .transform(df, Seq("x")).as[Double].collect().forall(_ == 1.0)
      Prop(loud) :| "unfittable column must throw" &&
        Prop(overridden) :| "explicit fills still work"
    }

  // ---- resampleMulti vs plain-Scala bucketing ----

  private val tsSeriesGen: Gen[List[(Long, Double)]] = for {
    n <- Gen.choose(1, 50)
    epochs <- Gen.listOfN(n, Gen.choose(0L, 86400L))
    values <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield epochs.zip(values)

  property("resampleMulti equals plain-Scala bucket aggregation for every method") =
    forAll(tsSeriesGen, Gen.choose(60L, 7200L)) { (rows, width) =>
      val df = rows.toDF("epoch", "value")
        .select(lit("s").as("tag"), timestamp_seconds($"epoch").as("ts"), $"value")
      val got = TimeSeries.resampleMulti(df, Seq("tag"), "ts", "value", width,
        Seq("mean", "sum", "min", "max", "count")).collect()
        .map(r => r.getAs[Long]("bucket_ts") -> (
          r.getAs[Double]("value__mean"), r.getAs[Double]("value__sum"),
          r.getAs[Double]("value__min"), r.getAs[Double]("value__max"),
          r.getAs[Double]("value__count"))).toMap
      val truth = rows.groupBy { case (e, _) => math.floorDiv(e, width) * width }
        .map { case (b, vs) =>
          val xs = vs.map(_._2)
          b -> (xs.sum / xs.size, xs.sum, xs.min, xs.max, xs.size.toDouble)
        }
      Prop(got.keySet == truth.keySet) :| "bucket set" &&
        Prop(truth.forall { case (b, (mn, sm, lo, hi, ct)) =>
          val g = got(b)
          approxEq(g._1, mn) && approxEq(g._2, sm) && g._3 == lo &&
            g._4 == hi && g._5 == ct
        }) :| s"width=$width got=$got truth=$truth"
    }

  // ---- grid / gap-fill alignment vs plain-Scala ground truths ----

  /** Per-key grid series: distinct sorted bucket multiples of `width`
    * with nullable values. */
  private def gridGen(width: Long): Gen[List[(Long, Option[Double])]] = for {
    n <- Gen.choose(1, 30)
    idx <- Gen.listOfN(n, Gen.choose(0L, 50L))
    vs <- Gen.listOfN(n, Gen.frequency(
      2 -> Gen.choose(-50.0, 50.0).map(Some(_)),
      1 -> Gen.const(None)))
  } yield idx.distinct.sorted.map(_ * width).zip(vs)

  property("interpolateLinear equals plain-Scala anchored interpolation with the gap limit") =
    forAll(gridGen(600L), gridGen(600L), Gen.choose(0L, 20L).map(_ * 600L)) {
      (s1, s2, limit) =>
        val series = Map("k0" -> s1, "k1" -> s2)
        val rows = series.toList.flatMap { case (k, vs) =>
          vs.map { case (b, v) => (k, b, v) }
        }
        val truth = series.flatMap { case (k, vs) =>
          vs.zipWithIndex.map { case ((b, v), i) =>
            val filled = v.orElse {
              val prev = vs.take(i).reverse.collectFirst {
                case (pb, Some(pv)) => (pb, pv) }
              val next = vs.drop(i + 1).collectFirst {
                case (nb, Some(nv)) => (nb, nv) }
              (prev, next) match {
                case (Some((pb, pv)), Some((nb, nv))) if nb - pb <= limit =>
                  Some(pv + (nv - pv) * (b - pb).toDouble / (nb - pb))
                case _ => None
              }
            }
            (k, b) -> filled
          }
        }
        val got = TimeSeries.interpolateLinear(
          rows.toDF("k", "bucket_ts", "value"), Seq("k"), limit)
          .collect().map(r => (r.getString(0), r.getLong(1)) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
        Prop(got.keySet == truth.keySet) :| "row set" &&
          Prop(truth.forall { case (k, v) => approxOpt(got(k), v) }) :|
          s"limit=$limit got=$got truth=$truth"
    }

  property("ffill equals plain-Scala forward fill with the gap limit") =
    forAll(gridGen(600L), Gen.choose(0L, 20L).map(_ * 600L)) { (s1, limit) =>
      val truth = s1.zipWithIndex.map { case ((b, v), i) =>
        val filled = v.orElse {
          s1.take(i).reverse.collectFirst { case (pb, Some(pv)) => (pb, pv) }
            .collect { case (pb, pv) if b - pb <= limit => pv }
        }
        b -> filled
      }.toMap
      val rows = s1.map { case (b, v) => ("k0", b, v) }
      val got = TimeSeries.ffill(
        rows.toDF("k", "bucket_ts", "value"), Seq("k"), limit)
        .collect().map(r => r.getLong(1) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      Prop(got == truth) :| s"limit=$limit got=$got truth=$truth"
    }

  property("fullGrid emits exactly the per-key [min,max] grid, preserving observed values") =
    forAll(gridGen(600L), gridGen(600L)) { (s1, s2) =>
      val series = Map("k0" -> s1, "k1" -> s2)
      val rows = series.toList.flatMap { case (k, vs) =>
        vs.map { case (b, v) => (k, b, v) }
      }
      val got = TimeSeries.fullGrid(
        rows.toDF("k", "bucket_ts", "value"), Seq("k"), 600L)
        .collect().map(r => (r.getString(0), r.getAs[Long]("bucket_ts")) ->
          (if (r.isNullAt(r.fieldIndex("value"))) None
           else Some(r.getAs[Double]("value")))).toMap
      val truth = series.flatMap { case (k, vs) =>
        val obs = vs.toMap
        val (lo, hi) = (vs.map(_._1).min, vs.map(_._1).max)
        (lo to hi by 600L).map(b => (k, b) -> obs.getOrElse(b, None))
      }
      Prop(got == truth) :| s"got=$got truth=$truth"
    }

  property("slidingWindows equals plain-Scala sliding over each series") =
    forAll(Gen.choose(1, 25), Gen.choose(1, 6), Gen.choose(0, 3)) {
      (n, lookback, lookahead) =>
        val vs = (0 until n).map(i => i * 10.0 + 1)
        val rows = vs.zipWithIndex.map { case (v, i) => ("k0", i.toLong, v) }
        val got = graft.ml.Windows.slidingWindows(
          rows.toDF("k", "t", "v"), Seq("k"), Seq(col("t")), "v",
          lookback, lookahead)
          .orderBy($"t").collect()
          .map(r => (r.getAs[Long]("t"),
            r.getAs[Seq[Double]]("window").toList,
            Option(r.getAs[Any]("y")).map(_.asInstanceOf[Double])))
        val truth = (lookback - 1 until n).map { i =>
          (i.toLong, vs.slice(i - lookback + 1, i + 1).toList,
            if (lookahead == 0) Some(vs(i))
            else if (i + lookahead < n) Some(vs(i + lookahead)) else None)
        }
        Prop(got.toSeq == truth) :|
          s"lookback=$lookback lookahead=$lookahead got=${got.toSeq} truth=$truth"
    }

  // ---- salted trailing-n = the one-window trailing-n ----

  property("salted trailingAlign equals the plain trailing-n selection") =
    forAll(Gen.choose(1, 30), Gen.choose(1, 30), Gen.choose(1L, 12L),
      Gen.choose(1, 5)) { (n0, n1, n, saltBuckets) =>
      val rows = (0 until n0).map(i => ("k0", i.toLong, i * 1.5)) ++
        (0 until n1).map(i => ("k1", i.toLong, i * -2.5))
      val got = graft.ml.Windows.trailingAlign(
        rows.toDF("k", "t", "v"), Seq("k"), Seq(col("t")), n, saltBuckets)
        .as[(String, Long, Double)].collect().toSet
      val truth = rows.groupBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy(-_._2).take(n.toInt)
      }.toSet
      Prop(got == truth) :|
        s"n=$n salt=$saltBuckets got=$got truth=$truth"
    }

  // ---- SegPlan: merged segment buffers = the flat single-pass fit ----

  private val segFrameGen: Gen[(List[(Long, Double, Double)], List[Int])] =
    for {
      // n >= 8: overdetermined enough that the (lambda-floored) Gram
      // stays well-conditioned — keeps the merged-vs-flat compare's
      // 1e-6 margin far from reassociation-noise amplification
      n <- Gen.choose(8, 40)
      as <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
      bs <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
      nSeg <- Gen.choose(2, 4)
      segs <- Gen.listOfN(n, Gen.choose(0, nSeg - 1))
    } yield ((0 until n).map(i => (i.toLong, as(i), bs(i))).toList, segs)

  property("segmented-stats merge reproduces the flat fit (ridge, trend, minmax scaler, pca)") =
    forAll(segFrameGen) { case (rows, segs) =>
      val df = rows.zip(segs).map { case ((t, a, b), s) => (t, a, b, s) }
        .toDF("t", "a", "b", "__seg")
      val tags = Seq("a", "b")
      val feat: String => org.apache.spark.sql.Column = t => col(t).cast("double")
      def tolOk(x: Map[String, Double], y: Map[String, Double]): Boolean =
        x.keySet == y.keySet &&
          x.forall { case (k, v) => approxEq(v, y(k), 1e-6) }
      def modelProp(name: String,
                    model: graft.ml.DiffAnomaly.Reconstructor): Prop = {
        val Some((aggs, dec)) = model.aggPlan(tags, tags, feat)
        val flat = dec(df.agg(aggs.head, aggs.tail: _*).head()).params
        val merged = mergedFit(model.segPlan(tags, tags, feat).get).params
        Prop(tolOk(flat, merged)) :| s"$name: flat=$flat merged=$merged"
      }
      // a Reconstructor's plan hides its buffer type: bind it here
      def mergedFit[B](sp: graft.ml.DiffAnomaly.SegPlan[B,
          graft.ml.DiffAnomaly.Fitted]): graft.ml.DiffAnomaly.Fitted =
        sp.decode(df.groupBy($"__seg").agg(sp.aggs.head, sp.aggs.tail: _*)
          .collect().toSeq.map(sp.fromRow).reduce(sp.merge))
      val scalerProp = {
        val (aggs, dec) = Scalers.aggPlan("minmax", tags)
        val flat = dec(df.agg(aggs.head, aggs.tail: _*).head()).stats
        val Some(sp) = Scalers.segPlan("minmax", tags)
        val bufs = df.groupBy($"__seg").agg(sp.aggs.head, sp.aggs.tail: _*)
          .collect().map(sp.fromRow)
        val merged = sp.decode(bufs.reduce(sp.merge)).stats
        Prop(flat.keySet == merged.keySet &&
          flat.forall { case (k, (c, s)) =>
            approxEq(c, merged(k)._1) && approxEq(s, merged(k)._2) }) :|
          s"scaler: flat=$flat merged=$merged"
      }
      // PCA: compare RECONSTRUCTIONS, not params — the prediction is
      // basis-invariant, so the check is immune to eigenvector sign
      // conventions while still proving the Chan co-moment merge
      val pcaProp = {
        val model = new graft.ml.DiffAnomaly.PcaReconstructor(1)
        val Some((aggs, dec)) = model.aggPlan(tags, tags, feat)
        val flat = dec(df.agg(aggs.head, aggs.tail: _*).head())
        val Some(sp) = model.segPlan(tags, tags, feat)
        val bufs = df.groupBy($"__seg").agg(sp.aggs.head, sp.aggs.tail: _*)
          .collect().map(sp.fromRow)
        val merged = sp.decode(bufs.reduce(sp.merge))
        val proj = tags.zipWithIndex.flatMap { case (t, i) =>
          Seq(flat.predictCol(t).as(s"f$i"), merged.predictCol(t).as(s"m$i")) }
        val ok = df.select(proj: _*).collect().forall(r =>
          tags.indices.forall(i =>
            approxEq(r.getDouble(2 * i), r.getDouble(2 * i + 1), 1e-6)))
        Prop(ok) :| "pca: merged reconstruction diverged from flat"
      }
      modelProp("ridge", new graft.ml.DiffAnomaly.RidgeReconstructor()) &&
        modelProp("trend", new graft.ml.DiffAnomaly.TrendReconstructor("t", 0L)) &&
        scalerProp && pcaProp
    }

  // ---- grouped multi-width chunked trailing vs plain-Scala rolling ----

  property("grouped chunked trailing resets per group and honors per-column widths") =
    forAll(Gen.choose(1, 30), Gen.choose(1, 30),
      Gen.choose(1, 4), Gen.choose(1, 4)) { (n0, n1, w1, w2) =>
      // interleave two groups into one global index; rel is dense per group
      val groups = Map("g0" -> n0, "g1" -> n1)
      val rows = groups.toList.flatMap { case (g, n) =>
        (0 until n).map(i => (g, i.toLong, (i * 7 % 13) * 1.5 - 4))
      }.sortBy(r => (r._2, r._1)).zipWithIndex
        .map { case ((g, rel, v), idx) => (idx.toLong, g, rel, v) }
      val df = rows.toDF("idx", "g", "rel", "v")
      // chunkSize 2 clamps to 2*maxWidth — still forces multi-chunk carry
      val got = graft.ml.Windows.chunkedTrailingMultiGrouped(
        df, "idx", col("g"), col("rel"),
        Seq(("v", "o_min", "min", w1), ("v", "o_sma", "sma", w2)),
        chunkSize = 2)
        .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("rel")) -> (
          if (r.isNullAt(r.fieldIndex("o_min"))) None
          else Some(r.getAs[Double]("o_min")),
          if (r.isNullAt(r.fieldIndex("o_sma"))) None
          else Some(r.getAs[Double]("o_sma")))).toMap
      val truth = groups.flatMap { case (g, n) =>
        val vs = (0 until n).map(i => (i * 7 % 13) * 1.5 - 4)
        (0 until n).map { i =>
          def roll(w: Int, f: Seq[Double] => Double): Option[Double] =
            if (i < w - 1) None else Some(f(vs.slice(i - w + 1, i + 1)))
          (g, i.toLong) -> (roll(w1, _.min),
            roll(w2, xs => xs.sum / xs.size))
        }
      }
      Prop(got.keySet == truth.keySet) :| "row set" &&
        Prop(truth.forall { case (k, (mn, av)) =>
          val (gmn, gav) = got(k)
          approxOpt(gmn, mn) && approxOpt(gav, av)
        }) :| s"w1=$w1 w2=$w2 got=$got truth=$truth"
    }

  property("chunkFanOut emits exactly one home copy per row plus the edge carries") =
    forAll(Gen.choose(0, 60), Gen.choose(2, 12),
      Gen.choose(0, 5), Gen.choose(0, 5)) { (n, c, prev0, next0) =>
      // carries wider than the chunk would make copies overlap their own
      // chunk — every caller clamps chunkSize >= 2*carry, mirror that
      val carryPrev = math.min(prev0, c - 1)
      val carryNext = math.min(next0, c - 1)
      val df = (0 until n).map(i => (i.toLong, i * 3.0)).toDF("rel", "v")
      val got = graft.ml.Windows
        .chunkFanOut(df, col("rel"), c, carryPrev, carryNext)
        .select(col("rel"), col("__wck"), col("__wcarry"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val truth = (0 until n).flatMap { i =>
        val rel = i.toLong
        val ck = rel / c
        Seq((rel, ck, false)) ++
          (if (rel % c >= c - carryNext && carryNext > 0)
            Seq((rel, ck + 1, true)) else Nil) ++
          (if (rel % c < carryPrev && ck >= 1) Seq((rel, ck - 1, true)) else Nil)
      }.groupBy(identity).view.mapValues(_.length).toMap
      Prop(got == truth) :|
        s"n=$n c=$c prev=$carryPrev next=$carryNext got=$got truth=$truth"
    }

  // ---- Metrics vs the sklearn formulas ----

  private val yPairGen: Gen[List[(Double, Double)]] = for {
    n <- Gen.choose(2, 40)
    ys <- Gen.listOfN(n, Gen.choose(-50.0, 50.0))
    es <- Gen.listOfN(n, Gen.choose(-10.0, 10.0))
  } yield ys.zip(es).map { case (y, e) => (y, y + e) }

  property("metric matrix equals the sklearn formulas in one aggregation pass") =
    forAll(yPairGen) { pairs =>
      (pairs.map(_._1).distinct.size >= 2) ==> {
        val df = pairs.toDF("y", "yhat")
        val aggs = Metrics.all($"y", $"yhat").map { case (n, c) => c.as(n) }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        val n = pairs.size
        val ys = pairs.map(_._1); val yh = pairs.map(_._2)
        val yBar = ys.sum / n
        val res = pairs.map { case (y, p) => y - p }
        val mse = res.map(r => r * r).sum / n
        val mae = res.map(math.abs).sum / n
        val r2 = 1.0 - res.map(r => r * r).sum /
          ys.map(y => (y - yBar) * (y - yBar)).sum
        val resBar = res.sum / n
        val ev = 1.0 - res.map(r => (r - resBar) * (r - resBar)).sum /
          ys.map(y => (y - yBar) * (y - yBar)).sum
        Prop(approxEq(row.getAs[Double]("mean-squared-error"), mse)) :| "mse" &&
          Prop(approxEq(row.getAs[Double]("mean-absolute-error"), mae)) :| "mae" &&
          Prop(approxEq(row.getAs[Double]("r2-score"), r2)) :| "r2" &&
          Prop(approxEq(row.getAs[Double]("explained-variance-score"), ev)) :| "ev"
      }
    }
}
