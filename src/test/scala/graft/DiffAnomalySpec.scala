package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{CrossValidate, DiffAnomaly, Lstm, Mlp, Scalers}
import graft.ml.DiffAnomaly.{RidgeReconstructor, TrendReconstructor}

class DiffAnomalySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 40-bucket 2-tag series: x ramps, y = 2x + noise-free offset. */
  private def wide = (0 until 40)
    .map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i))
    .toDF("bucket_ts", "tx", "ty")

  test("TrendReconstructor recovers an exact linear trend") {
    val m = new TrendReconstructor("bucket_ts", 0L).fit(wide, Seq("tx", "ty"))
    val resid = wide.select(
      max(abs(m.predictCol("tx") - $"tx")).as("rx"),
      max(abs(m.predictCol("ty") - $"ty")).as("ry")).head()
    assert(resid.getDouble(0) < 1e-9 && resid.getDouble(1) < 1e-9)
  }

  test("RidgeReconstructor predicts each tag from the others exactly on linear data") {
    // ty = 2*tx + 5 exactly: cross-tag regression must recover it
    val m = new RidgeReconstructor(lambda = 1e-10).fit(wide, Seq("tx", "ty"))
    val resid = wide.select(
      max(abs(m.predictCol("ty") - $"ty")).as("r")).head().getDouble(0)
    assert(resid < 1e-6)
    // and the weights must not include the target itself
    assert(!m.params.keys.exists(_ == "w_ty_2"))
  }

  test("PCA(1) reconstructs collinear data exactly and round-trips through persistence") {
    // (tx, ty) lie exactly on a line → one principal component captures all
    val m = new DiffAnomaly.PcaReconstructor(1).fit(wide, Seq("tx", "ty"))
    val resid = wide.select(
      max(abs(m.predictCol("tx") - $"tx")).as("rx"),
      max(abs(m.predictCol("ty") - $"ty")).as("ry")).head()
    assert(resid.getDouble(0) < 1e-9 && resid.getDouble(1) < 1e-9)
    // persistence round-trip via ModelBuilder state
    val tmp = Scratch.dir("graft-pca")
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.PcaReconstructor(1), nSplits = 3)
    graft.build.Persistence.save(tmp,
      graft.build.Persistence.stateOf(fitted, 0L))
    val loaded = graft.build.Persistence.load(tmp)
    val a = DiffAnomaly.anomaly(fitted, wide, 600L)
      .agg(sum($"`model-output.tx`")).head().getDouble(0)
    val b = DiffAnomaly.anomaly(loaded, wide, 600L)
      .agg(sum($"`model-output.tx`")).head().getDouble(0)
    assert(a == b)
    // the SERVE path verifies the artifact checksum: a flipped byte in a
    // threshold would otherwise parse fine and score silently wrong —
    // the q80 gate recomputes sha256 but cannot protect a production
    // load it isn't in front of
    val mp = java.nio.file.Paths.get(tmp, "model.json")
    // trailing whitespace parses to the SAME model — only the checksum
    // can notice, which is exactly what this pins (any real bit-flip is
    // a strictly bigger change)
    java.nio.file.Files.writeString(mp,
      java.nio.file.Files.readString(mp) + " ")
    val e = intercept[IllegalArgumentException] {
      graft.build.Persistence.load(tmp)
    }
    assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
  }

  test("PCA with fewer components than needed leaves residuals") {
    // add a third independent dimension; PCA(1) can't reconstruct it all
    val w3 = (0 until 40).map(i =>
      (i * 600L, 10.0 + i, 25.0 + 2.0 * i, math.sin(i * 1.7) * 10.0))
      .toDF("bucket_ts", "tx", "ty", "tz")
    val m = new DiffAnomaly.PcaReconstructor(1).fit(w3, Seq("tx", "ty", "tz"))
    val resid = w3.select(max(abs(m.predictCol("tz") - $"tz"))).head().getDouble(0)
    assert(resid > 0.1)
  }

  test("fit produces last-fold thresholds and a full anomaly frame") {
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new TrendReconstructor("bucket_ts", 0L), nSplits = 3)
    assert(fitted.thresholds.featureThresholds.keySet == Set("tx", "ty"))
    assert(fitted.thresholds.perFoldAggregate.size == 3)
    val frame = DiffAnomaly.anomaly(fitted, wide, resolutionSec = 600L)
    val cols = frame.columns.toSet
    for (g <- Seq("model-input", "model-output", "tag-anomaly-scaled",
        "tag-anomaly-unscaled", "anomaly-confidence"); t <- Seq("tx", "ty"))
      assert(cols.contains(s"$g.$t"), s"missing $g.$t")
    assert(cols.contains("total-anomaly-scaled") &&
      cols.contains("total-anomaly-unscaled") &&
      cols.contains("total-anomaly-confidence"))
    assert(frame.count() == 40)
    // exact linear data → residuals ~0 → anomalies ~0
    val worst = frame.agg(max($"`total-anomaly-unscaled`")).head().getDouble(0)
    assert(worst < 1e-9)
  }

  test("dotted free-form tag names work through fit and anomaly") {
    // the reference's real tag shape: spaces and dots
    val dotted = (0 until 40)
      .map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i))
      .toDF("bucket_ts", "GRA-YE  -23-0751X.PV", "GRA-TE -123-456")
    val tags = Seq("GRA-YE  -23-0751X.PV", "GRA-TE -123-456")
    val fitted = DiffAnomaly.fit(dotted, tags, "bucket_ts",
      new DiffAnomaly.RidgeReconstructor(), nSplits = 3)
    val frame = DiffAnomaly.anomaly(fitted, dotted, 600L)
    assert(frame.count() == 40)
    assert(frame.columns.contains("model-output.GRA-YE  -23-0751X.PV"))
    val pca = new DiffAnomaly.PcaReconstructor(1).fit(dotted, tags)
    assert(pca.params.nonEmpty)
  }

  test("ewma smoothing produces smooth columns through fit and kfcv") {
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      window = Some(6), smoothingMethod = "ewma")
    val frame = DiffAnomaly.anomaly(fitted, wide, 600L)
    // pandas ewm has NO NaN prefix: every row gets a smoothed value
    assert(frame.filter($"`smooth-total-anomaly-scaled`".isNull).count() == 0)
    val kfcv = DiffAnomaly.fitKfcv(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 5,
      window = 6, smoothingMethod = "ewma")
    assert(!kfcv.thresholds.aggregateThreshold.isNaN)
  }

  /** Wrapper hiding segPlan: forces the per-fold fallback loop. */
  private class NoSeg(inner: DiffAnomaly.Reconstructor) extends DiffAnomaly.Reconstructor {
    def impl: String = inner.impl
    def fit(train: org.apache.spark.sql.DataFrame, xTags: Seq[String],
            yTags: Seq[String],
            feature: String => org.apache.spark.sql.Column): DiffAnomaly.Fitted =
      inner.fit(train, xTags, yTags, feature)
    override def aggPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => org.apache.spark.sql.Column) =
      inner.aggPlan(xTags, yTags, feature)
  }

  /** The families that collect their training rows (few epochs: the
    * tests compare paths, not model quality). */
  private def collectBased: Seq[DiffAnomaly.Reconstructor] = Seq(
    Mlp.MlpReconstructor.hourglass(epochs = 30),
    Mlp.MlpReconstructor.rawSpec(Seq((3, "tanh"), (2, "linear")), epochs = 30),
    new Lstm.LstmReconstructor(epochs = 20))

  /** Exact equality of everything a fit produces (NaN equals NaN). */
  private def assertSameDetector(a: DiffAnomaly.FittedDetector,
                                 b: DiffAnomaly.FittedDetector, what: String): Unit = {
    def same(x: Seq[Double], y: Seq[Double]): Boolean =
      x.size == y.size &&
        x.zip(y).forall { case (u, v) => java.lang.Double.compare(u, v) == 0 }
    def sameMap(x: Map[String, Double], y: Map[String, Double]): Boolean =
      x.keySet == y.keySet && x.keys.forall(k => same(Seq(x(k)), Seq(y(k))))
    val (ta, tb) = (a.thresholds, b.thresholds)
    assert(sameMap(a.model.params, b.model.params), s"$what: params")
    assert(a.scaler.kind == b.scaler.kind && a.scaler.stats.keySet == b.scaler.stats.keySet &&
      a.scaler.stats.forall { case (k, (c, sc)) =>
        same(Seq(c, sc), Seq(b.scaler.stats(k)._1, b.scaler.stats(k)._2)) },
      s"$what: error scaler ${a.scaler} vs ${b.scaler}")
    assert(same(Seq(ta.aggregateThreshold), Seq(tb.aggregateThreshold)),
      s"$what: aggregate threshold ${ta.aggregateThreshold} vs ${tb.aggregateThreshold}")
    assert(sameMap(ta.featureThresholds, tb.featureThresholds),
      s"$what: feature thresholds ${ta.featureThresholds} vs ${tb.featureThresholds}")
    assert(same(ta.smoothAggregateThreshold.toSeq, tb.smoothAggregateThreshold.toSeq),
      s"$what: smooth aggregate threshold")
    assert(ta.smoothFeatureThresholds.isDefined == tb.smoothFeatureThresholds.isDefined &&
      ta.smoothFeatureThresholds.forall(sameMap(_, tb.smoothFeatureThresholds.get)),
      s"$what: smooth feature thresholds")
    assert(sameMap(ta.perFoldAggregate, tb.perFoldAggregate),
      s"$what: per-fold aggregates ${ta.perFoldAggregate} vs ${tb.perFoldAggregate}")
    assert(a.foldScores.keySet == b.foldScores.keySet &&
      a.foldScores.forall { case (k, v) => same(v, b.foldScores(k)) },
      s"$what: fold scores ${a.foldScores} vs ${b.foldScores}")
  }

  test("fused segmented CV matches the per-fold loop for every reconstructor") {
    // noisy series so thresholds/metrics are non-trivial
    val noisy = (0 until 60).map { i =>
      (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
        25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0)
    }.toDF("bucket_ts", "tx", "ty")
    val metrics = Seq[(String, (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) => org.apache.spark.sql.Column)](
      "mse" -> ((yt, yp) => avg((yt - yp) * (yt - yp))))
    def close(a: Double, b: Double): Boolean =
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
    for (base <- Seq[DiffAnomaly.Reconstructor](
        new TrendReconstructor("bucket_ts", 0L),
        new RidgeReconstructor(),
        new DiffAnomaly.PcaReconstructor(1))) {
      val fused = DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts", base,
        nSplits = 3, window = Some(12), foldMetrics = metrics)
      val looped = DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts",
        new NoSeg(base), nSplits = 3, window = Some(12), foldMetrics = metrics)
      assert(close(fused.thresholds.aggregateThreshold,
        looped.thresholds.aggregateThreshold), s"agg threshold: $base")
      for (t <- Seq("tx", "ty")) {
        assert(close(fused.thresholds.featureThresholds(t),
          looped.thresholds.featureThresholds(t)), s"feature $t")
        assert(close(fused.thresholds.smoothFeatureThresholds.get(t),
          looped.thresholds.smoothFeatureThresholds.get(t)), s"smooth $t")
      }
      assert(close(fused.thresholds.smoothAggregateThreshold.get,
        looped.thresholds.smoothAggregateThreshold.get))
      fused.thresholds.perFoldAggregate.foreach { case (k, v) =>
        assert(close(v, looped.thresholds.perFoldAggregate(k)), s"perFold $k") }
      fused.foldScores("mse").zip(looped.foldScores("mse")).foreach {
        case (a, b) => assert(close(a, b), "fold mse") }
      fused.model.params.foreach { case (k, v) =>
        assert(close(v, looped.model.params(k)), s"final param $k") }
    }
    // KFCV: same equivalence through the complement-merge path, for
    // every reconstructor (PCA exercises the co-moment merge, ridge the
    // Gram-sum merge)
    for (base <- Seq[DiffAnomaly.Reconstructor](
        new TrendReconstructor("bucket_ts", 0L),
        new RidgeReconstructor(),
        new DiffAnomaly.PcaReconstructor(1))) {
      val fusedK = DiffAnomaly.fitKfcv(noisy, Seq("tx", "ty"), "bucket_ts",
        base, nSplits = 5, window = 12)
      val loopedK = DiffAnomaly.fitKfcv(noisy, Seq("tx", "ty"), "bucket_ts",
        new NoSeg(base), nSplits = 5, window = 12)
      assert(close(fusedK.thresholds.aggregateThreshold,
        loopedK.thresholds.aggregateThreshold), s"kfcv agg: $base")
      for (t <- Seq("tx", "ty"))
        assert(close(fusedK.thresholds.featureThresholds(t),
          loopedK.thresholds.featureThresholds(t)), s"kfcv $t: $base")
    }
    // collect-based families: every fold trains on the same rows in the
    // same order as the loop's per-fold collect, so the results are
    // EXACTLY equal, not just close
    for (base <- collectBased) {
      val fused = DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts", base,
        nSplits = 3, window = Some(12), foldMetrics = metrics)
      val looped = DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts",
        new NoSeg(base), nSplits = 3, window = Some(12), foldMetrics = metrics)
      assertSameDetector(fused, looped, s"fit ${base.getClass.getSimpleName}")
      val fusedK = DiffAnomaly.fitKfcv(noisy, Seq("tx", "ty"), "bucket_ts",
        base, nSplits = 5, window = 12)
      val loopedK = DiffAnomaly.fitKfcv(noisy, Seq("tx", "ty"), "bucket_ts",
        new NoSeg(base), nSplits = 5, window = 12)
      assertSameDetector(fusedK, loopedK, s"kfcv ${base.getClass.getSimpleName}")
    }
    // windowed fold geometry (foldOffset > 0): folds computed on the
    // raw count leave lag-context GAP rows between folds — the fused
    // path's segment boundaries and test membership must match the
    // loop's fold filters exactly
    locally {
      val base = new RidgeReconstructor()
      for (d <- Seq(1, 2)) {
        val fusedW = DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts",
          base, nSplits = 3, window = Some(12), foldMetrics = metrics,
          foldOffset = d)
        val loopedW = DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts",
          new NoSeg(base), nSplits = 3, window = Some(12),
          foldMetrics = metrics, foldOffset = d)
        assert(close(fusedW.thresholds.aggregateThreshold,
          loopedW.thresholds.aggregateThreshold), s"offset $d agg")
        for (t <- Seq("tx", "ty"))
          assert(close(fusedW.thresholds.featureThresholds(t),
            loopedW.thresholds.featureThresholds(t)), s"offset $d $t")
        fusedW.thresholds.perFoldAggregate.foreach { case (k, v) =>
          assert(close(v, loopedW.thresholds.perFoldAggregate(k)),
            s"offset $d perFold $k") }
        fusedW.foldScores("mse").zip(loopedW.foldScores("mse")).foreach {
          case (a, b) => assert(close(a, b), s"offset $d fold mse") }
      }
    }
    // target outside tag_list: ridge's extraY alias block (X=[tx], y=[ty])
    locally {
      val base = new RidgeReconstructor()
      val fusedT = DiffAnomaly.fit(noisy, Seq("tx"), "bucket_ts", base,
        nSplits = 3, targetTags = Seq("ty"))
      val loopedT = DiffAnomaly.fit(noisy, Seq("tx"), "bucket_ts",
        new NoSeg(base), nSplits = 3, targetTags = Seq("ty"))
      assert(close(fusedT.thresholds.aggregateThreshold,
        loopedT.thresholds.aggregateThreshold), "extraY agg")
      assert(close(fusedT.thresholds.featureThresholds("ty"),
        loopedT.thresholds.featureThresholds("ty")), "extraY ty")
      fusedT.model.params.foreach { case (k, v) =>
        assert(close(v, loopedT.model.params(k)), s"extraY param $k") }
    }
  }

  test("fused CV falls back to the loop on frames containing nulls") {
    // count(*)-weighted segment merges would diverge from null-skipping
    // aggregates; the null-integrity check must route to the loop path,
    // making fused and NoSeg results IDENTICAL (not just close)
    val withNull = (0 until 60).map { i =>
      (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
        if (i == 7) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0))
    }.toDF("bucket_ts", "tx", "ty")
    val base = new TrendReconstructor("bucket_ts", 0L)
    val a = DiffAnomaly.fit(withNull, Seq("tx", "ty"), "bucket_ts", base,
      nSplits = 3)
    val b = DiffAnomaly.fit(withNull, Seq("tx", "ty"), "bucket_ts",
      new NoSeg(base), nSplits = 3)
    assert(a.thresholds.aggregateThreshold == b.thresholds.aggregateThreshold)
    assert(a.thresholds.featureThresholds == b.thresholds.featureThresholds)
    assert(a.model.params == b.model.params)
    // the collect-based families' row buffer takes the same fallback
    for (base <- collectBased)
      assertSameDetector(
        DiffAnomaly.fit(withNull, Seq("tx", "ty"), "bucket_ts", base, nSplits = 3),
        DiffAnomaly.fit(withNull, Seq("tx", "ty"), "bucket_ts", new NoSeg(base),
          nSplits = 3),
        s"null ${base.getClass.getSimpleName}")
    val ak = DiffAnomaly.fitKfcv(withNull, Seq("tx", "ty"), "bucket_ts",
      base, nSplits = 5)
    val bk = DiffAnomaly.fitKfcv(withNull, Seq("tx", "ty"), "bucket_ts",
      new NoSeg(base), nSplits = 5)
    // 60 rows < the default 144 smoothing window: both paths correctly
    // yield the NaN threshold (the null-prefix percentile), so compare
    // with NaN-aware equality
    assert(java.lang.Double.compare(ak.thresholds.aggregateThreshold,
      bk.thresholds.aggregateThreshold) == 0)
    assert(ak.thresholds.aggregateThreshold.isNaN,
      "this fixture is SHORTER than the kfcv window; a non-NaN " +
        "threshold means the null-percentile guard regressed")
  }

  test("fused CV of a collect-based family drops the loop's NaN rows") {
    // NaN passes the null check (count() counts it), so the fused path
    // runs; its decode must drop the rows the loop's na.drop drops — a
    // NaN in fold 0's train span and one in fold 1's test span
    val withNaN = (0 until 60).map { i =>
      (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
        if (i == 7 || i == 40) Double.NaN
        else 25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0)
    }.toDF("bucket_ts", "tx", "ty")
    for (base <- collectBased) {
      val fused = DiffAnomaly.fit(withNaN, Seq("tx", "ty"), "bucket_ts", base,
        nSplits = 3)
      val looped = DiffAnomaly.fit(withNaN, Seq("tx", "ty"), "bucket_ts",
        new NoSeg(base), nSplits = 3)
      assert(fused.model.params.values.forall(!_.isNaN),
        s"NaN rows reached training: ${base.getClass.getSimpleName}")
      assertSameDetector(fused, looped, s"NaN ${base.getClass.getSimpleName}")
    }
  }

  test("an MLP fit runs the same number of jobs whatever the fold count") {
    // the fused path runs one segmented pass and one test pass however
    // many folds there are; a per-fold loop adds passes with every fold
    val series = (0 until 120).map { i =>
      (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
        25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0)
    }.toDF("bucket_ts", "tx", "ty")
    def jobsAt(nSplits: Int): Int =
      ExecCounts.during(spark.sparkContext) {
        DiffAnomaly.fit(series, Seq("tx", "ty"), "bucket_ts",
          Mlp.MlpReconstructor.hourglass(epochs = 10), nSplits = nSplits)
      }._2.jobs
    val (at3, at5) = (jobsAt(3), jobsAt(5))
    assert(at3 > 0, "the counter saw no job")
    assert(at5 == at3, s"jobs grew with the fold count: $at3 at 3 folds, $at5 at 5")
  }

  test("the per-fold source scores every fold in one test pass") {
    // NoSeg forces the per-fold source: an extra fold adds its train
    // aggregation and nothing else — all folds share one test pass
    val noisy = (0 until 60).map { i =>
      (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
        25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0)
    }.toDF("bucket_ts", "tx", "ty")
    val tags = Seq("tx", "ty")
    val base = new TrendReconstructor("bucket_ts", 0L)
    def jobsAt(nSplits: Int): Int =
      ExecCounts.during(spark.sparkContext) {
        DiffAnomaly.fit(noisy, tags, "bucket_ts", new NoSeg(base), nSplits = nSplits)
      }._2.jobs
    // one fold's train fit: model and error-scaler aggregates in one pass
    // over a row range of the cached indexed frame
    val (mAggs, _) = base.aggPlan(tags, tags, t => col(t).cast("double")).get
    val trainAggs = mAggs ++ Scalers.aggPlan("minmax", tags)._1
    val indexed = SessionCache.acquire(CrossValidate.withRowIndex(noisy, Seq($"bucket_ts")))
    val trainJobs = try {
      indexed.df.count()
      ExecCounts.during(spark.sparkContext) {
        indexed.df.filter($"__row" < 30L).agg(trainAggs.head, trainAggs.tail: _*).head()
      }._2.jobs
    } finally indexed.close()
    val (at3, at5) = (jobsAt(3), jobsAt(5))
    assert(trainJobs > 0, "the counter saw no job")
    assert(at5 - at3 == 2 * trainJobs,
      s"$at3 jobs at 3 folds, $at5 at 5; one train aggregation runs $trainJobs")
  }

  test("PCA fit on a tag with no finite values fails loudly instead of fitting zero stats") {
    val df = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0))
      .toDF("t", "tx")
      .withColumn("ty", lit(null).cast("double"))
    val e = intercept[IllegalArgumentException] {
      new DiffAnomaly.PcaReconstructor(1).fit(df, Seq("tx", "ty"))
    }
    assert(e.getMessage.contains("null"))
  }

  test("kfcv with more splits than rows tolerates empty folds") {
    val tiny = (0 until 4)
      .map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i))
      .toDF("bucket_ts", "tx", "ty")
    val fitted = DiffAnomaly.fitKfcv(tiny, Seq("tx", "ty"), "bucket_ts",
      new TrendReconstructor("bucket_ts", 0L), nSplits = 5, window = 2)
    assert(fitted.thresholds.featureThresholds.keySet == Set("tx", "ty"))
  }

  test("smooth columns appear with window and are null for the NaN prefix") {
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      window = Some(6), smoothingMethod = "sma")
    val frame = DiffAnomaly.anomaly(fitted, wide, resolutionSec = 600L)
    assert(frame.columns.contains("smooth-total-anomaly-scaled"))
    // pandas rolling(6): first 5 rows NaN
    assert(frame.filter($"`smooth-total-anomaly-scaled`".isNull).count() == 5)
    assert(fitted.thresholds.smoothAggregateThreshold.isDefined)
  }
}
