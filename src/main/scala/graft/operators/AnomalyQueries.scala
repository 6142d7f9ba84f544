package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.data.TimeSeries
import graft.ml.DiffAnomaly

/** End-to-end DiffBasedAnomalyDetector slice (SURVEY M11 + §7.2), oracle-
  * checked: events → aligned 2-tag wide frame → deterministic linear
  * reconstruction → TimeSeriesSplit(3) CV thresholds → full anomaly frame.
  * The DuckDB oracle independently recomputes the whole derivation
  * (`gordo/machine/model/anomaly/diff.py:226-264,341-456` oracle pattern of
  * `tests/gordo/machine/model/anomaly/test_anomaly_detectors.py:95-110`).
  */
object AnomalyQueries {

  import Parity.r4

  private val epoch0 = 1704067200L // 2024-01-01, the events table start

  private def wideClickView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .filter($"event_type".isin("click", "view"))
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 3600L)
    // persist: every consumer (q29/q43/q69/q74 fit + anomaly frame, the
    // q51/q72 projections) runs several eager jobs plus the final frame
    // over this plan, each of which re-executed the events scan +
    // resample + pivot shuffles when uncached (guide §2.4/§5 — recompute
    // vs reuse). A session pin: repeated bench reps and sibling queries
    // share ONE entry (the q34/q51 discipline).
    graft.SessionCache.acquire(
      TimeSeries.pivotWide(r, "event_type", Seq("click", "view")).na.drop()).df
  }

  /** The full §1.2 column set: start/end, model-input/output, tag and
    * total anomaly (scaled + unscaled), per-tag and total confidence. */
  def anomalyFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tags = Seq("click", "view")
    val wide = wideClickView(spark, dir)
    val fitted = DiffAnomaly.fit(wide, tags, "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", epoch0),
      scalerKind = "minmax", nSplits = 3)
    val frame = DiffAnomaly.anomaly(fitted, wide, resolutionSec = 3600L)
    val doubles = frame.columns.filterNot(c => c == "start" || c == "end")
    frame.select(
      (col("start") +: col("end") +:
        doubles.toSeq.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** The third smoothing variant (`diff.py:302-308`) gated in-frame:
    * q29's detector with `window=6, smoothing_method="ewma"` — the
    * smooth-* columns become pandas `ewm(span=6).mean()` (adjust=True
    * full-history weights, NO NaN prefix, unlike smm/sma's null head)
    * over the tag/total anomaly columns, via the W4 streaming kernel.
    * Thresholds are UNCHANGED by the method (the reference smooths
    * thresholds with rolling(w).min().max() regardless —
    * `diff.py:239-255`), which the shared q29 threshold replay
    * cross-checks. */
  def ewmAnomalyFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tags = Seq("click", "view")
    val wide = wideClickView(spark, dir)
    val fitted = DiffAnomaly.fit(wide, tags, "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", epoch0),
      scalerKind = "minmax", nSplits = 3,
      window = Some(6), smoothingMethod = "ewma")
    val frame = DiffAnomaly.anomaly(fitted, wide, resolutionSec = 3600L)
    val doubles = frame.columns.filterNot(c => c == "start" || c == "end")
    frame.select(
      (col("start") +: col("end") +:
        doubles.toSeq.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** §2.11 streaming scoring, oracle-gated: the SAME checkpointed
    * one-query job StreamingSpec drives (file source → watermarked
    * resample+pivot → stateless scoring → stateful smooth →
    * exactly-once parquet forwarder), run to completion over the events
    * table plus one far-future sentinel row that advances the watermark
    * past every real bucket — so the emitted frame is deterministic and
    * a DuckDB oracle can replay it: q29's full derivation plus the six
    * smooth-* columns (width-6 interpolated rolling median, null until a
    * full window).
    *
    * Events are pre-filtered to buckets where BOTH tags exist (the
    * batch path's `na.drop()`), so batch and stream roll over identical
    * row positions — the parity contract StreamingSpec proves across
    * micro-batches, here proven against an independent oracle. */
  def streamingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tags = Seq("click", "view")
    val wide = wideClickView(spark, dir)
    val fitted = DiffAnomaly.fit(wide, tags, "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", epoch0),
      scalerKind = "minmax", nSplits = 3,
      window = Some(6), smoothingMethod = "smm")
    val complete = wide.select($"bucket_ts").as[Long].collect().toSet
    // the stream input (full filtered events + sentinel) is expensive to
    // rewrite per bench rep — cache it keyed by the source's identity;
    // checkpoint/sink dirs stay per-run (deleted at JVM exit). Built
    // through ensureBuilt (stage + atomic rename) so two JVMs racing
    // the build cannot interleave part files in the shared slot. The key
    // carries a DERIVATION VERSION (v1 = click/view tags, complete-bucket
    // filter, +366d sentinel): the witness only tracks the source table,
    // so a changed derivation must bump the version or the cache serves
    // the stale frame and fails the oracle as a phantom bug.
    val in = graft.Scratch.ensureBuilt(graft.Scratch.cachedDir(
      "graft-stream-in", graft.Tables.witness(dir, "events"),
      version = "v1")) { stage =>
      val long = Tables(spark, dir, "events")
        .filter($"event_type".isin(tags: _*))
        .filter((floor(unix_timestamp($"ts") / 3600L) * 3600L)
          .isInCollection(complete))
        .select($"event_type".as("tag"), $"ts", $"value")
      val maxBucket = complete.max
      val sentinel = Seq(("click",
        new java.sql.Timestamp((maxBucket + 366L * 86400L) * 1000L), 0.0))
        .toDF("tag", "ts", "value")
        .select($"tag", $"ts", $"value")
      long.union(sentinel).write.mode("overwrite").parquet(stage)
    }
    val tmp = graft.Scratch.dir("graft-stream")
    val stream = spark.readStream
      .schema("tag STRING, ts TIMESTAMP, value DOUBLE")
      .parquet(in)
    val q = graft.streaming.StreamingScoring.anomalyJob(fitted, "m1",
      stream, "tag", "ts", "value", 3600L, s"$tmp/out", s"$tmp/ckpt",
      watermarkDelay = "600 seconds")
    try {
      q.processAllAvailable()
      // the final no-data micro-batch flushes the last finalized
      // buckets; wait for the sink to hold every complete bucket. The
      // sink may not have committed ANY file yet on the first probe —
      // an unreadable/empty dir counts as 0, not a failure
      def sinkCount(): Long =
        try spark.read.parquet(s"$tmp/out").count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sinkCount() < complete.size && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(200)
      }
    } finally q.stop()
    val got = spark.read.parquet(s"$tmp/out")
    val doubles = got.columns.toSeq
      .filterNot(Set("machine", "start", "end", "batch_id"))
    got.select(
      (col("start") +: col("end") +:
        doubles.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** Closed-form build of `spec` over its assembled frame, which stays
    * pinned for the session (a lease never closed): callers score the
    * frame lazily AFTER returning, and bench reps and sibling queries
    * over a canonical-plan-identical assembly share the one cache. The
    * build gets its own lease on the frame and closes it. */
  private def pinnedBuild(long: DataFrame, spec: graft.config.Config.MachineSpec,
                          tmp: String): (DataFrame, graft.build.ModelBuilder.BuildResult) = {
    val wide = TimeSeries.dataLease(long, "tag", "ts", "value",
      graft.config.Config.datasetConfig(spec)).df
    (wide, graft.build.ModelBuilder.buildSpec(spec,
      long, "tag", "ts", "value", outputDir = s"$tmp/model",
      closedForm = true, preAssembled = Some(graft.SessionCache.acquire(wide))))
  }

  /** Shared config-driven build+score plumbing for q41/q49: parse the
    * machine YAML, build (assembly, compile, CV, persistence), reload
    * from the model dir, score, round for the oracle.
    *
    * `closedForm = true`: the DuckDB oracle replays the whole fit, so the
    * hourglass MLP (the default routing) is explicitly substituted with
    * the closed-form ridge. The builder records the substitution in the
    * model metadata (`impl`/`impl_requested`) — the fidelity contract is
    * "never silent", not "never substituted". */
  private def buildAndScore(spark: SparkSession, dir: String,
                            yaml: String, tmpPrefix: String): DataFrame = {
    import spark.implicits._
    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val tmp = graft.Scratch.dir(tmpPrefix)
    // assemble the wide frame ONCE and cache it across build AND score:
    // the build receives the frame directly (preAssembled — skipping its
    // own getData's eager bounds job and second lake scan), so the CV
    // passes, the serve path's eager probes (duplicate-ts check, row
    // indexing), AND the returned frame's final computation all read one
    // cache instead of re-running resample→grid→interpolate→pivot per
    // eager job — previously the score path alone re-assembled the
    // dataset 3× from the lake scan (guide §2.4: remove redundant
    // passes). The frame is pinned, not bracketed: it is consumed lazily
    // AFTER this function returns (see pinnedBuild). Values unchanged:
    // the cached frame is byte-identical to the recomputation.
    val spec = graft.config.Config.machineFromConfig(
      graft.config.Config.parseYaml(yaml), Some("graft-project"),
      graft.config.Config.defaultGlobals)
    val (wide, _) = pinnedBuild(long, spec, tmp)
    val frame = graft.build.ModelBuilder.score(s"$tmp/model", wide, 3600L)
    val doubles = frame.columns.filterNot(c => c == "start" || c == "end")
    frame.select(
      (col("start") +: col("end") +:
        doubles.toSeq.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** M15/S1/M1/M11 composed — the COMPLETE product path, config-driven:
    * YAML machine config → ModelBuilder (getData assembly, registry
    * compile, CV thresholds, persistence) → score() from the saved model
    * dir. The base estimator is the cross-tag ridge reconstruction,
    * whose 2-tag closed form the oracle recomputes as plain
    * regr_slope/intercept between the tags. */
  private val q41Yaml =
    """
      |name: graft-q41-machine
      |dataset:
      |  tag_list: [click, view]
      |  resolution: 1H
      |  interpolation_limit: 6H
      |  train_start_date: 2024-01-01T00:00:00Z
      |  train_end_date: 2024-02-01T00:00:00Z
      |model:
      |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
      |    base_estimator:
      |      gordo.machine.model.models.KerasAutoEncoder:
      |        kind: feedforward_hourglass
      |evaluation:
      |  cv:
      |    sklearn.model_selection.TimeSeriesSplit:
      |      n_splits: 3
      |""".stripMargin

  def configDrivenBuild(spark: SparkSession, dir: String): DataFrame =
    buildAndScore(spark, dir, q41Yaml, "graft-q41")

  /** One closed-form q41-config build, returning the BuildResult (the
    * persistence-layer gates q80/q81 need the model dir, not the frame). */
  private def buildQ41(spark: SparkSession, dir: String,
                       prefix: String): graft.build.ModelBuilder.BuildResult = {
    import spark.implicits._
    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val tmp = graft.Scratch.dir(prefix)
    // same cached-assembly discipline as buildAndScore — and the q41Yaml
    // assembly is canonical-plan IDENTICAL across q41/q80/q81, so the
    // three gates share one session cache instead of each re-assembling
    // (and re-scanning the lake) per build
    val spec = graft.config.Config.machineFromConfig(
      graft.config.Config.parseYaml(q41Yaml), Some("graft-project"),
      graft.config.Config.defaultGlobals)
    pinnedBuild(long, spec, tmp)._2
  }

  /** Integrity fact for the q80 dump inventory: a tampered artifact
    * whose info.json has NO checksum (or `checksum: null`) is its own
    * named diagnostic row, not an anonymous NoSuchElementException/NPE —
    * the same hole Persistence.loadFull and AnnIndex.load close with a
    * contract reject; here the contract is a report, so the fact
    * reports. A present checksum pins equality against the recomputed
    * sha256 as before. */
  private[graft] def checksumFact(info: Map[String, Any],
                                  sha256: String): String =
    info.get("checksum").filter(_ != null) match {
      case Some(c) => "checksum_matches_" + (c.toString == sha256).toString
      case None    => "checksum_missing"
    }

  /** K1: the model-dump filesystem contract (`gordo/serializer/
    * serializer.py:150-196` dumps a directory the serve path reloads
    * from). One closed-form build dumps, then the gate inventories the
    * artifact: the exact file set, every top-level key of model.json /
    * metadata.json / info.json, the metadata's model-block keys (incl.
    * the recorded closed-form substitution), and integrity facts — the
    * info.json checksum must equal a locally recomputed sha256 of
    * model.json, and the cache key must be 128 hex chars. All facts are
    * SF-independent, so the oracle pins them as literals. */
  def modelDumpLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val res = buildQ41(spark, dir, "graft-q80")
    val p = java.nio.file.Paths.get(res.modelDir)
    val files = {
      val s = java.nio.file.Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toList.sorted
      } finally s.close()
    }
    val modelJson = java.nio.file.Files.readString(p.resolve("model.json"))
    val model = graft.config.Config.parseYaml(modelJson)
    val meta = graft.build.Persistence.loadMetadata(res.modelDir)
    val metaModel = meta("model").asInstanceOf[Map[String, Any]]
    val info = graft.config.Config.parseYaml(
      java.nio.file.Files.readString(p.resolve("info.json")))
    val sha256 = java.security.MessageDigest.getInstance("SHA-256")
      .digest(modelJson.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val rows: Seq[(String, String)] =
      files.map(f => ("file", f)) ++
        model.keys.toSeq.sorted.map(("model_key", _)) ++
        meta.keys.toSeq.sorted.map(("metadata_key", _)) ++
        metaModel.keys.toSeq.sorted.map(("metadata_model_key", _)) ++
        info.keys.toSeq.sorted.map(("info_key", _)) ++
        Seq(
          ("integrity", checksumFact(info, sha256)),
          ("integrity", "cache_key_hex128_" +
            meta("cache_key").toString.matches("[0-9a-f]{128}").toString))
    rows.toDF("section", "name").orderBy($"section", $"name")
  }

  /** M3: serializer round-trip gated externally — dump → load → re-dump
    * must reproduce model.json BIT-identically (every fitted number
    * survives the JSON canonicalization), and each loaded parameter
    * must equal its in-memory original. Rows carry |before − after|
    * deltas the oracle pins to exactly 0.0 per name — any float that
    * fails to survive serialization surfaces as a nonzero delta on its
    * own named row. */
  def serializerRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val res = buildQ41(spark, dir, "graft-q81")
    val p = java.nio.file.Paths.get(res.modelDir)
    val modelJson1 = java.nio.file.Files.readString(p.resolve("model.json"))
    val m1 = graft.config.Config.parseYaml(modelJson1)
    val (fd, windowing) = graft.build.Persistence.loadFull(res.modelDir)
    // re-dump the LOADED state through the same writer
    val dir2 = graft.Scratch.dir("graft-q81-redump") + "/model"
    graft.build.Persistence.save(dir2,
      graft.build.Persistence.stateOf(fd, m1("epoch0").toString.toLong,
        windowing),
      metadata = Map.empty)
    val modelJson2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir2, "model.json"))
    val paramRows = res.fitted.model.params.toSeq.sorted.map {
      case (k, v) => (s"param:$k", math.abs(v - fd.model.params(k)))
    }
    val scalerRows = res.fitted.scaler.stats.toSeq.sortBy(_._1).map {
      case (t, (a, b)) =>
        val (a2, b2) = fd.scaler.stats(t)
        (s"scaler:$t", math.abs(a - a2) + math.abs(b - b2))
    }
    val thrRows = {
      val t1 = res.fitted.thresholds
      val t2 = fd.thresholds
      t1.featureThresholds.toSeq.sortBy(_._1).map { case (t, v) =>
        (s"threshold:$t", math.abs(v - t2.featureThresholds(t)))
      } :+ ("threshold:aggregate",
        math.abs(t1.aggregateThreshold - t2.aggregateThreshold))
    }
    val rows = paramRows ++ scalerRows ++ thrRows :+
      ("model_json_redump_delta",
        if (modelJson1 == modelJson2) 0.0 else 1.0)
    rows.toDF("name", "delta").orderBy($"name")
  }

  /** M4/M5 analog gated end-to-end: the PCA(1) linear autoencoder as the
    * base estimator over the same 2-tag frame — fit (covariance +
    * Jacobi), CV thresholds, anomaly frame. For 2 tags the Jacobi
    * eigendecomposition is a single rotation whose exact float sequence
    * the oracle replays algebraically. */
  def pcaAnomalyFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tags = Seq("click", "view")
    val wide = wideClickView(spark, dir)
    val fitted = DiffAnomaly.fit(wide, tags, "bucket_ts",
      new DiffAnomaly.PcaReconstructor(1), scalerKind = "minmax", nSplits = 3)
    val frame = DiffAnomaly.anomaly(fitted, wide, resolutionSec = 3600L)
    val doubles = frame.columns.filterNot(c => c == "start" || c == "end")
    frame.select(
      (col("start") +: col("end") +:
        doubles.toSeq.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** `target_tag_list` end-to-end: X = [click, view], y = [view] — the
    * reference's tag_list → target_tag_list split (`build_model.py:74`,
    * `diff.py:345`). model-input columns cover X; model-output, anomaly,
    * and confidence columns cover the single target. */
  def configDrivenTargetBuild(spark: SparkSession, dir: String): DataFrame =
    buildAndScore(spark, dir,
      """
        |name: graft-q49-machine
        |dataset:
        |  tag_list: [click, view]
        |  target_tag_list: [view]
        |  resolution: 1H
        |  interpolation_limit: 6H
        |  train_start_date: 2024-01-01T00:00:00Z
        |  train_end_date: 2024-02-01T00:00:00Z
        |model:
        |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    base_estimator:
        |      gordo.machine.model.models.KerasAutoEncoder:
        |        kind: feedforward_hourglass
        |evaluation:
        |  cv:
        |    sklearn.model_selection.TimeSeriesSplit:
        |      n_splits: 3
        |""".stripMargin, "graft-q49")

  /** M7 gated end-to-end: a `KerasRawModelRegressor` base estimator —
    * the explicit `{spec, compile}` kind map
    * (`gordo/machine/model/models.py:401-460`) — compiled by the
    * registry (Sequential/Dense validation, activation allowlist) and
    * driven through the COMPLETE build path: getData assembly, closed-
    * form substitution (recorded as `impl`/`impl_requested` in the
    * saved metadata — never silent), CV thresholds, persistence, and
    * score() from the saved dir. Same ridge replay as q41 on a
    * different tag pair, so the oracle catches any raw-spec-specific
    * routing drift in the build orchestration. */
  def rawSpecBuild(spark: SparkSession, dir: String): DataFrame =
    buildAndScore(spark, dir,
      """
        |name: graft-q77-machine
        |dataset:
        |  tag_list: [purchase, signup]
        |  resolution: 1H
        |  interpolation_limit: 6H
        |  train_start_date: 2024-01-01T00:00:00Z
        |  train_end_date: 2024-02-01T00:00:00Z
        |model:
        |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    base_estimator:
        |      gordo.machine.model.models.KerasRawModelRegressor:
        |        kind:
        |          spec:
        |            tensorflow.keras.models.Sequential:
        |              layers:
        |                - tensorflow.keras.layers.Dense:
        |                    units: 4
        |                    activation: tanh
        |                - tensorflow.keras.layers.Dense:
        |                    units: 2
        |          compile:
        |            loss: mse
        |            optimizer: adam
        |evaluation:
        |  cv:
        |    sklearn.model_selection.TimeSeriesSplit:
        |      n_splits: 3
        |""".stripMargin, "graft-q77")

  /** M6/M10 forecast analog (the KerasLSTMForecast data flow): a
    * lookback window of 2 materialized as lag FEATURE columns (W5's
    * input tensor flattened wide, built scale-safely by
    * `Windows.chunkedLag`), the J3 model offset as an explicit drop of
    * the first `lookback` rows, ridge forecasting click_t from
    * (click_{t−1}, click_{t−2}), TimeSeriesSplit CV thresholds, and the
    * full anomaly frame over the forecast errors. The RNN cell itself
    * stays out of correctness-gate scope (SURVEY §7.4: no NN
    * nondeterminism in gates) — the linear AR(2) stand-in preserves
    * every structural piece: window → forecast → trailing alignment →
    * errors → thresholds (`gordo/machine/model/models.py:463-710`). */
  def lstmForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lagged, fitted) = lagClickFit(spark, dir)
    val frame = DiffAnomaly.anomaly(fitted, lagged, resolutionSec = 3600L)
    val doubles = frame.columns.filterNot(c => c == "start" || c == "end")
    frame.select(
      (col("start") +: col("end") +:
        doubles.toSeq.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** q51's deterministic lag-feature frame + closed-form ridge fit,
    * shared by the batch gate and the q91 streaming serve gate: row
    * indexing + chunked lag materialize click_lag1/click_lag2, the
    * first `lookback` rows drop, the detector fits the lag tags with
    * the raw click as target. The wide frame is persisted — the
    * chunked-lag union (base + carry) and the row indexing would each
    * re-derive the resample+pivot otherwise (q34 precedent).
    * `private[graft]`: the q91 scale probe (test scope) replays this
    * exact fit over synthesized 100× inputs. */
  private[graft] def lagClickFit(spark: SparkSession, dir: String)
      : (DataFrame, DiffAnomaly.FittedDetector) = {
    import spark.implicits._
    val wide = graft.SessionCache.acquire(
      wideClickView(spark, dir).select($"bucket_ts", $"click")).df
    val indexed = graft.ml.CrossValidate.withRowIndex(wide, Seq($"bucket_ts"))
    val lagged = graft.ml.Windows.chunkedLag(indexed, "__row",
      Seq(("click", "click_lag1", 1), ("click", "click_lag2", 2)))
      .filter($"click_lag2".isNotNull) // J3: first lookback rows drop
      .drop("__row")
    val fitted = DiffAnomaly.fit(lagged, Seq("click_lag1", "click_lag2"),
      "bucket_ts", new DiffAnomaly.RidgeReconstructor(), nSplits = 3,
      targetTags = Seq("click"))
    (lagged, fitted)
  }

  /** M6 sequence-model SERVING, oracle-gated: the
    * q51 lag-feature detector served through a real checkpointed
    * streaming job — rows arrive already windowed (the reference's
    * serving contract: clients supply `window` rows of ordered history,
    * `docs/ml/model_output.rst:77-103`), `scoreStream` applies the
    * detector statelessly, and the fenced exactly-once parquet
    * forwarder (q69's sink) lands the frame. StreamingSpec proves the
    * composition is row-identical to batch across micro-batch splits;
    * this gate proves it against the independent DuckDB oracle — the
    * SAME replay as q51, because streaming serve must change nothing. */
  def streamingLagServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lagged, fitted) = lagClickFit(spark, dir)
    // the streamed serve input (the lag frame clients would send) is
    // expensive to rewrite per bench rep — cache it keyed by the source
    // table's identity; sink/checkpoint dirs stay per-run. The key
    // carries a DERIVATION VERSION (v1 = lagClickFit's lookback-2 lag
    // frame): the witness only tracks the source table, so a future
    // change to the lag spec must bump the version or the cache keeps
    // serving the stale frame and fails the oracle as a phantom
    // streaming bug. ensureBuilt stages privately and
    // atomically renames into the slot — two JVMs that both see the
    // marker missing cannot race interleaved part files into one dir.
    val in = graft.Scratch.ensureBuilt(graft.Scratch.cachedDir(
      "graft-q91-in", graft.Tables.witness(dir, "events"), version = "v1")) {
      stage => lagged.coalesce(2).write.mode("overwrite").parquet(stage)
    }
    val tmp = graft.Scratch.dir("graft-q91")
    val stream = spark.readStream
      .schema("bucket_ts BIGINT, click DOUBLE, " +
        "click_lag1 DOUBLE, click_lag2 DOUBLE")
      .parquet(in)
    val scored = graft.streaming.StreamingScoring
      .scoreStream(fitted, stream, resolutionSec = 3600L)
    val q = graft.streaming.Forwarder.toParquet(scored, s"$tmp/out", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$tmp/out").drop("batch_id")
    val doubles = got.columns.toSeq.filterNot(c => c == "start" || c == "end")
    got.select(
      (col("start") +: col("end") +:
        doubles.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** M6/M10 arbitrary-lookahead forecast (the reference generator's
    * lookahead ≥ 2 semantics, `gordo/machine/model/models.py:713-793`,
    * tested at lookahead=2 in
    * `tests/gordo/machine/model/test_model.py:296`): the SAME build-path
    * windowing as ModelBuilder — `Windows.withLookback` with
    * lookback=2, lookahead=2 materializes lag columns click__lag2 /
    * click__lag3 (target = row 2 steps after the window's last element)
    * and drops the first lookback+lookahead−1 = 3 rows by position —
    * then the q51 closed-form ridge forecast + full anomaly frame over
    * the 2-step-ahead errors. Gates the generalized offset arithmetic
    * end-to-end: a wrong k-set or off-by-one offset shifts every value
    * in the frame. */
  def lookaheadForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wide = graft.SessionCache.acquire(
      wideClickView(spark, dir).select($"bucket_ts", $"click")).df
    val (lagged, lagTags) = graft.ml.Windows.withLookback(
      wide, Seq("click"), "bucket_ts", lookback = 2, lookahead = 2)
    val cached = graft.SessionCache.acquire(lagged).df
    val fitted = DiffAnomaly.fit(cached, lagTags,
      "bucket_ts", new DiffAnomaly.RidgeReconstructor(), nSplits = 3,
      targetTags = Seq("click"))
    val frame = DiffAnomaly.anomaly(fitted, cached, resolutionSec = 3600L)
    val doubles = frame.columns.filterNot(c => c == "start" || c == "end")
    frame.select(
      (col("start") +: col("end") +:
        doubles.toSeq.map(c => r4(col(s"`$c`")).as(c))): _*)
      .orderBy($"start")
  }

  /** §3.2 project layer gated: a 3-machine project config (globals
    * PATCH each machine's dataset — the `normalized_config.py`
    * asymmetry), built in PARALLEL driver threads through
    * `Project.buildAll` with registry caching, then one summary row per
    * machine × tag: the assembled frame's row count plus the trained
    * error-scaler state (min / span over the frame — `diff.py:173`
    * scaler.fit(y), refit on the full series). A second buildAll must
    * come entirely from the cache registry and a first entirely fresh —
    * violations throw, failing the gate. The oracle independently
    * replays each machine's dataset assembly (resample → grid →
    * interpolate → complete-rows filter) and the minmax arithmetic. */
  def projectBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val yaml =
      """
        |globals:
        |  dataset:
        |    resolution: 1H
        |    interpolation_limit: 6H
        |    train_start_date: 2024-01-01T00:00:00Z
        |    train_end_date: 2024-02-01T00:00:00Z
        |  model:
        |    gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |      base_estimator:
        |        gordo.machine.model.models.KerasAutoEncoder:
        |          kind: feedforward_hourglass
        |machines:
        |  - name: m-click-view
        |    dataset: {tag_list: [click, view]}
        |  - name: m-purchase-signup
        |    dataset: {tag_list: [purchase, signup]}
        |  - name: m-click-error
        |    dataset: {tag_list: [click, error]}
        |""".stripMargin
    val spec = graft.build.Project.parse(yaml, "graft-q75")
    val tmp = graft.Scratch.dir("graft-q75")
    val results = graft.build.Project.buildAll(spec, long,
      "tag", "ts", "value", outputRoot = s"$tmp/models",
      registryDir = Some(s"$tmp/registry"), parallelism = 3,
      closedForm = true)
    require(results.forall(!_.fromCache), "first project build must be fresh")
    val again = graft.build.Project.buildAll(spec, long,
      "tag", "ts", "value", outputRoot = s"$tmp/models2",
      registryDir = Some(s"$tmp/registry"), parallelism = 3,
      closedForm = true)
    require(again.forall(_.fromCache),
      "second project build must hit the cache registry")
    val rows = results.flatMap { r =>
      // the assembled-frame row count is the last fold's testEnd (the
      // TimeSeriesSplit test spans tile the tail of the FIT frame) plus
      // the build's recorded model_offset — windowed specs drop
      // lookback+lookahead−1 assembled rows before folding, and the
      // offset restores the raw count the oracle replays. A third full
      // resample→grid→interpolate→pivot assembly per machine just to
      // count rows would pay the dominant lake-scan cost again.
      val offset = r.metadata("model").asInstanceOf[Map[String, Any]]("model_offset") match {
        case i: Int => i
        case l: Long => l.toInt
        case other => sys.error(s"unexpected model_offset: $other")
      }
      val n = r.fitted.folds.last.testEnd + offset
      r.fitted.targets.map { t =>
        val (ctr, span) = r.fitted.scaler.stats(t)
        (r.spec.name, t, n, ctr, span)
      }
    }
    rows.toDF("machine", "tag", "n_rows", "sc_min", "sc_span")
      .select($"machine", $"tag", $"n_rows",
        r4($"sc_min").as("sc_min"), r4($"sc_span").as("sc_span"))
      .orderBy($"machine", $"tag")
  }

  /** One q75 machine's oracle block: dataset assembly (the q41/q68
    * resample → grid → interpolate → complete-rows SQL, parameterized by
    * tag pair) then the per-tag minmax scaler state as two rows. */
  private def projectMachineSql(machine: String, tagA: String,
                                tagB: String): String =
    s"""SELECT machine, tag, n_rows,
      |  floor(sc_min*10000 + 0.5)/10000 AS sc_min,
      |  floor(sc_span*10000 + 0.5)/10000 AS sc_span
      |FROM (
      | WITH ${OracleSql.assemblyCtes(tagA, tagB,
          "2024-01-01 00:00:00", "2024-02-01 00:00:00")},
      | ww AS (SELECT a, b FROM (
      |   SELECT bucket_ts,
      |     max(CASE WHEN tag = '$tagA' THEN v END) AS a,
      |     max(CASE WHEN tag = '$tagB' THEN v END) AS b
      |   FROM i GROUP BY bucket_ts)
      |  WHERE a IS NOT NULL AND b IS NOT NULL),
      | st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |   min(a) AS mn_a, max(a) - min(a) AS sp_a,
      |   min(b) AS mn_b, max(b) - min(b) AS sp_b FROM ww)
      | SELECT '$machine' AS machine, '$tagA' AS tag, n AS n_rows,
      |   mn_a AS sc_min, sp_a AS sc_span FROM st
      | UNION ALL
      | SELECT '$machine', '$tagB', n, mn_b, sp_b FROM st
      |)""".stripMargin

  /** P8: the serve-path column contract
    * (`gordo/server/blueprints/anomaly.py:56-62`) — a REAL config build
    * with `window: 6` (so smooth-* groups exist), then
    * `ModelBuilder.score` from the saved model dir in both modes: the
    * default response drops every smooth-* column, `all_columns` keeps
    * them. Emitted as (mode, col) rows; the oracle states the full
    * 21-column §1.2 schema once and replays the drop rule as a
    * `NOT LIKE 'smooth-%'` filter, so an un-dropped, over-dropped, or
    * misnamed column mismatches. */
  def responseColumns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val tmp = graft.Scratch.dir("graft-q64")
    val yaml =
      """
        |name: graft-q64-machine
        |dataset:
        |  tag_list: [click, view]
        |  resolution: 1H
        |  interpolation_limit: 6H
        |  train_start_date: 2024-01-01T00:00:00Z
        |  train_end_date: 2024-01-08T00:00:00Z
        |model:
        |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    window: 6
        |    base_estimator:
        |      gordo.machine.model.models.KerasAutoEncoder:
        |        kind: feedforward_hourglass
        |evaluation:
        |  cv:
        |    sklearn.model_selection.TimeSeriesSplit:
        |      n_splits: 3
        |""".stripMargin
    // one cached assembly across build + BOTH score calls (same
    // discipline as buildAndScore, including preAssembled): each score
    // call's eager probes (duplicate-ts check, row indexing for the smm
    // smoothing) re-ran the full resample→grid→interpolate→pivot when
    // uncached — this query paid them twice, once per response mode
    // (guide §2.4)
    val spec = graft.config.Config.machineFromConfig(
      graft.config.Config.parseYaml(yaml), Some("graft-project"),
      graft.config.Config.defaultGlobals)
    val (wide, _) = pinnedBuild(long, spec, tmp)
    val allCols = graft.build.ModelBuilder
      .score(s"$tmp/model", wide, 3600L, allColumns = true).columns
    val dropped = graft.build.ModelBuilder
      .score(s"$tmp/model", wide, 3600L, allColumns = false).columns
    (allCols.map(("all", _)) ++ dropped.map(("no_smooth", _))).toSeq
      .toDF("mode", "col")
      .orderBy($"mode", $"col")
  }

  /** K5/M13/M14 oracle gate: build a real model, flatten its metadata
    * into the MLflow-shaped metric batch ([[graft.build.Reporters
    * .machineLogItems]]), push it through the JDBC metric sink, and
    * emit the READ-BACK rows — CV fold metrics (per-fold points +
    * summary stats), split metadata, and config params. The DuckDB
    * oracle independently replays the whole derivation: resample →
    * grid → interpolate → per-fold ridge fits → sklearn metric math →
    * fold aggregation (`mlflow.py:194-260`, `build_model.py:274-289`).
    * Dates are quoted in the YAML so param stringification is the
    * literal text on both sides. */
  def metricBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val tmp = graft.Scratch.dir("graft-q70")
    val yaml =
      """
        |name: graft-q70-machine
        |dataset:
        |  tag_list: [click, view]
        |  resolution: 1H
        |  interpolation_limit: 6H
        |  train_start_date: "2024-01-01T00:00:00Z"
        |  train_end_date: "2024-01-08T00:00:00Z"
        |model:
        |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    base_estimator:
        |      gordo.machine.model.models.KerasAutoEncoder:
        |        kind: feedforward_hourglass
        |evaluation:
        |  cv:
        |    sklearn.model_selection.TimeSeriesSplit:
        |      n_splits: 3
        |""".stripMargin
    // cached-assembly build (see buildAndScore): the CV passes and the
    // scoring-scaler fit read one session cache instead of re-assembling
    val spec = graft.config.Config.machineFromConfig(
      graft.config.Config.parseYaml(yaml), Some("graft-project"),
      graft.config.Config.defaultGlobals)
    val (_, res) = pinnedBuild(long, spec, tmp)
    val (metrics, params) =
      graft.build.Reporters.machineLogItems(res.metadata, timestamp = 0L)
    val rep = new graft.build.Reporters.JdbcReporter(
      "jdbc:derby:memory:graftq70;create=true")
    val back =
      try {
        rep.reportMetrics("graft-q70-machine", metrics, params)
        rep.readMetrics("graft-q70-machine")
      } finally rep.close()
    back.map { case (_, kind, key, num, text, step) =>
      (kind, key, step,
        num.map(v => math.floor(v * 10000.0 + 0.5) / 10000.0),
        text)
    }.toDF("kind", "item_key", "step", "num_value", "text_value")
      .orderBy($"kind", $"item_key", $"step")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_anomaly_frame" -> (anomalyFrame _),
    "q41_config_build" -> (configDrivenBuild _),
    "q43_pca_anomaly" -> (pcaAnomalyFrame _),
    "q49_target_tags_build" -> (configDrivenTargetBuild _),
    "q77_raw_spec_build" -> (rawSpecBuild _),
    "q80_model_dump_layout" -> (modelDumpLayout _),
    "q81_serializer_roundtrip" -> (serializerRoundtrip _),
    "q51_lstm_forecast" -> (lstmForecast _),
    "q72_lookahead_forecast" -> (lookaheadForecast _),
    "q74_ewm_anomaly_frame" -> (ewmAnomalyFrame _),
    "q75_project_build" -> (projectBuild _),
    "q64_response_columns" -> (responseColumns _),
    "q69_streaming_anomaly" -> (streamingAnomaly _),
    "q70_metric_batch" -> (metricBatch _),
    "q91_streaming_lag_serve" -> (streamingLagServe _),
  )

  /** SQL replay of the 2×2 cyclic-Jacobi rotation + sign-fixed component
    * pick used by PcaReconstructor, over the rows of CTE `src` (columns
    * click/view): yields mu_c, mu_v, w_c, w_v. */
  private def pcaFitSql(src: String): String =
    s"""SELECT mu_c, mu_v,
      |    CASE WHEN (CASE WHEN abs(wc0) >= abs(wv0) THEN wc0 ELSE wv0 END) < 0
      |         THEN -wc0 ELSE wc0 END AS w_c,
      |    CASE WHEN (CASE WHEN abs(wc0) >= abs(wv0) THEN wc0 ELSE wv0 END) < 0
      |         THEN -wv0 ELSE wv0 END AS w_v
      |  FROM (SELECT mu_c, mu_v,
      |      CASE WHEN lp >= lq THEN c ELSE s END AS wc0,
      |      CASE WHEN lp >= lq THEN -s ELSE c END AS wv0
      |    FROM (SELECT mu_c, mu_v, c, s,
      |        c*(c*cxx - s*cxy) - s*(c*cxy - s*cyy) AS lp,
      |        s*(s*cxx + c*cxy) + c*(s*cxy + c*cyy) AS lq
      |      FROM (SELECT mu_c, mu_v, cxx, cxy, cyy,
      |          1.0/sqrt(tt*tt + 1.0) AS c,
      |          tt * (1.0/sqrt(tt*tt + 1.0)) AS s
      |        FROM (SELECT mu_c, mu_v, cxx, cxy, cyy,
      |            sign(th)/(abs(th) + sqrt(th*th + 1.0)) AS tt
      |          FROM (SELECT avg(click) AS mu_c, avg(view) AS mu_v,
      |              covar_pop(click, click) AS cxx,
      |              covar_pop(click, view) AS cxy,
      |              covar_pop(view, view) AS cyy,
      |              (covar_pop(view, view) - covar_pop(click, click))
      |                / (2.0 * covar_pop(click, view)) AS th
      |            FROM $src)))))""".stripMargin

  /** q41's full oracle replay parameterized by the 2-tag pair: dataset
    * assembly (resample → grid → interpolate → complete rows), cross-tag
    * ridge fit on the last TimeSeriesSplit(3) fold, rolling(6).min.max
    * thresholds, full-series refit, and the anomaly frame. The tag
    * names appear only as the source filter, pivot keys, intermediate
    * column names, and output aliases, interpolated per-site (never
    * whole-text substitution, which would corrupt the shared CTEs if a
    * tag pair ever collided with a template substring). Tag names must
    * be identifier-safe — enforced below, since an unquoted identifier
    * colliding with a template name (tag, v, rn, n, a CTE) or a
    * reserved word would produce invalid or subtly wrong SQL. */
  private[graft] def ridgeBuildFrameSql(a: String, b: String): String = {
    // every identifier the template itself binds (CTE names, column
    // aliases) — a tag sharing one would shadow it inside the SQL
    val templateNames = Set("i", "ww", "idx", "nn", "lastfold", "tr",
      "fm", "te", "sc", "roll", "th", "fin", "sco", "bucket_ts", "tag",
      "v", "rn", "trn", "n", "test_start", "mse", "mae_c", "mae_v",
      "p_c", "p_v", "a_c", "b_c", "a_v", "b_v", "s_c", "s_v",
      "sx_v", "sxx_v", "sx_c", "sxx_c", "sy_c", "sxy_c", "sy_v",
      "sxy_v", "rmin_mse", "rmin_c", "rmin_v", "agg_th", "th_c", "th_v",
      "f", "frame", "start", "end", "mic", "miv", "moc", "mov",
      "tasc", "tasv", "tauc", "tauv",
      // assemblyCtes bindings (OracleSql.scala)
      "src", "r", "bounds", "grid", "g", "t", "b0", "b1", "value",
      "prevv", "prevb", "nextv", "nextb", "wa", "wb")
    Seq(a, b).foreach { t =>
      require(t.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"tag name '$t' is not identifier-safe for SQL interpolation")
      require(!templateNames.contains(t.toLowerCase),
        s"tag name '$t' collides with a template identifier")
    }
    require(a != b, s"tag pair must be distinct, got '$a' twice")
    "WITH " + OracleSql.assemblyCtes(a, b,
      "2024-01-01 00:00:00", "2024-02-01 00:00:00") + ",\n" +
    s"""ww AS (SELECT bucket_ts, ${a}, ${b} FROM (
        |  SELECT bucket_ts,
        |    max(CASE WHEN tag = '${a}' THEN v END) AS ${a},
        |    max(CASE WHEN tag = '${b}' THEN v END) AS ${b}
        |  FROM i GROUP BY bucket_ts)
        | WHERE ${a} IS NOT NULL AND ${b} IS NOT NULL),
        |idx AS (SELECT bucket_ts, ${a}, ${b},
        |    row_number() OVER (ORDER BY bucket_ts) - 1 AS rn FROM ww),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |fm AS (SELECT
        |    ((n + 1e-8)*sxy_c - sx_v*sy_c) / ((n + 1e-8)*(sxx_v + 1e-8) - sx_v*sx_v) AS b_c,
        |    (sy_c*(sxx_v + 1e-8) - sx_v*sxy_c) / ((n + 1e-8)*(sxx_v + 1e-8) - sx_v*sx_v) AS a_c,
        |    ((n + 1e-8)*sxy_v - sx_c*sy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS b_v,
        |    (sy_v*(sxx_c + 1e-8) - sx_c*sxy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS a_v,
        |    s_c, s_v
        |  FROM (SELECT count(*) AS n,
        |      sum(${b}) AS sx_v, sum(${b}*${b}) AS sxx_v,
        |      sum(${a}) AS sx_c, sum(${a}*${a}) AS sxx_c,
        |      sum(${a}) AS sy_c, sum(${b}*${a}) AS sxy_c,
        |      sum(${b}) AS sy_v, sum(${a}*${b}) AS sxy_v,
        |      CASE WHEN max(${a}) = min(${a}) THEN 1.0 ELSE max(${a}) - min(${a}) END AS s_c, CASE WHEN max(${b}) = min(${b}) THEN 1.0 ELSE max(${b}) - min(${b}) END AS s_v
        |    FROM tr)),
        |te AS (SELECT i.rn, i.${a}, i.${b},
        |    a_c + b_c * i.${b} AS p_c, a_v + b_v * i.${a} AS p_v, s_c, s_v,
        |    row_number() OVER (ORDER BY i.rn) AS trn
        |  FROM idx i, lastfold, fm WHERE i.rn >= test_start),
        |sc AS (SELECT trn,
        |    (pow((p_c - ${a}) / s_c, 2) + pow((p_v - ${b}) / s_v, 2)) / 2.0 AS mse,
        |    abs(${a} - p_c) AS mae_c, abs(${b} - p_v) AS mae_v
        |  FROM te),
        |roll AS (SELECT trn,
        |    min(mse) OVER f AS rmin_mse,
        |    min(mae_c) OVER f AS rmin_c,
        |    min(mae_v) OVER f AS rmin_v
        |  FROM sc
        |  WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_c) AS th_c,
        |       max(rmin_v) AS th_v
        |  FROM roll WHERE trn >= 6),
        |fin AS (SELECT
        |    ((n + 1e-8)*sxy_c - sx_v*sy_c) / ((n + 1e-8)*(sxx_v + 1e-8) - sx_v*sx_v) AS b_c,
        |    (sy_c*(sxx_v + 1e-8) - sx_v*sxy_c) / ((n + 1e-8)*(sxx_v + 1e-8) - sx_v*sx_v) AS a_c,
        |    ((n + 1e-8)*sxy_v - sx_c*sy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS b_v,
        |    (sy_v*(sxx_c + 1e-8) - sx_c*sxy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS a_v,
        |    s_c, s_v
        |  FROM (SELECT count(*) AS n,
        |      sum(${b}) AS sx_v, sum(${b}*${b}) AS sxx_v,
        |      sum(${a}) AS sx_c, sum(${a}*${a}) AS sxx_c,
        |      sum(${a}) AS sy_c, sum(${b}*${a}) AS sxy_c,
        |      sum(${b}) AS sy_v, sum(${a}*${b}) AS sxy_v,
        |      CASE WHEN max(${a}) = min(${a}) THEN 1.0
        |           ELSE max(${a}) - min(${a}) END AS s_c,
        |      CASE WHEN max(${b}) = min(${b}) THEN 1.0
        |           ELSE max(${b}) - min(${b}) END AS s_v
        |    FROM idx)),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.${a} AS mic, i.${b} AS miv,
        |    a_c + b_c * i.${b} AS moc, a_v + b_v * i.${a} AS mov,
        |    abs((a_c + b_c * i.${b} - i.${a}) / s_c) AS tasc,
        |    abs((a_v + b_v * i.${a} - i.${b}) / s_v) AS tasv,
        |    abs(a_c + b_c * i.${b} - i.${a}) AS tauc,
        |    abs(a_v + b_v * i.${a} - i.${b}) AS tauv
        |  FROM idx i, fin)
        |SELECT start, "end",
        |  floor(mic*10000 + 0.5)/10000 AS "model-input.${a}",
        |  floor(miv*10000 + 0.5)/10000 AS "model-input.${b}",
        |  floor(moc*10000 + 0.5)/10000 AS "model-output.${a}",
        |  floor(mov*10000 + 0.5)/10000 AS "model-output.${b}",
        |  floor(tasc*10000 + 0.5)/10000 AS "tag-anomaly-scaled.${a}",
        |  floor(tasv*10000 + 0.5)/10000 AS "tag-anomaly-scaled.${b}",
        |  floor(tauc*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.${a}",
        |  floor(tauv*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.${b}",
        |  floor(((tasc*tasc + tasv*tasv)/2.0)*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor(((tauc*tauc + tauv*tauv)/2.0)*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor((tauc/th_c)*10000 + 0.5)/10000 AS "anomaly-confidence.${a}",
        |  floor((tauv/th_v)*10000 + 0.5)/10000 AS "anomaly-confidence.${b}",
        |  floor((((tasc*tasc + tasv*tasv)/2.0)/agg_th)*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM frame, th
        |ORDER BY start""".stripMargin
  }

  private val oracleSqlBase: Map[String, String] = Map(
    "q75_project_build" ->
      (projectMachineSql("m-click-view", "click", "view") +
        "\nUNION ALL\n" +
        projectMachineSql("m-click-error", "click", "error") +
        "\nUNION ALL\n" +
        projectMachineSql("m-purchase-signup", "purchase", "signup") +
        "\nORDER BY machine, tag"),
    "q29_anomaly_frame" ->
      """WITH w AS (
        |  SELECT bucket_ts,
        |    max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |    max(CASE WHEN event_type = 'view' THEN value END) AS view
        |  FROM (SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        |               avg(value) AS value
        |        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
        |  GROUP BY bucket_ts),
        |idx AS (
        |  SELECT bucket_ts, click, view,
        |         CAST(bucket_ts - 1704067200 AS DOUBLE) AS x,
        |         row_number() OVER (ORDER BY bucket_ts) - 1 AS rn
        |  FROM w WHERE click IS NOT NULL AND view IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |fm AS (SELECT regr_slope(click, x) AS b_c, regr_intercept(click, x) AS a_c,
        |              regr_slope(view, x) AS b_v, regr_intercept(view, x) AS a_v,
        |              CASE WHEN max(click) = min(click) THEN 1.0 ELSE max(click) - min(click) END AS s_c,
        |              CASE WHEN max(view) = min(view) THEN 1.0 ELSE max(view) - min(view) END AS s_v
        |       FROM tr),
        |te AS (SELECT i.rn, i.click, i.view,
        |              a_c + b_c * i.x AS p_c, a_v + b_v * i.x AS p_v, s_c, s_v,
        |              row_number() OVER (ORDER BY i.rn) AS trn
        |       FROM idx i, lastfold, fm WHERE i.rn >= test_start),
        |sc AS (SELECT trn,
        |        (pow((p_c - click) / s_c, 2) + pow((p_v - view) / s_v, 2)) / 2.0 AS mse,
        |        abs(click - p_c) AS mae_c, abs(view - p_v) AS mae_v
        |       FROM te),
        |roll AS (SELECT trn,
        |        min(mse) OVER f AS rmin_mse,
        |        min(mae_c) OVER f AS rmin_c,
        |        min(mae_v) OVER f AS rmin_v
        |       FROM sc
        |       WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_c) AS th_c,
        |              max(rmin_v) AS th_v
        |       FROM roll WHERE trn >= 6),
        |fin AS (SELECT regr_slope(click, x) AS b_c, regr_intercept(click, x) AS a_c,
        |               regr_slope(view, x) AS b_v, regr_intercept(view, x) AS a_v,
        |               min(click) AS mn_c,
        |               CASE WHEN max(click) = min(click) THEN 1.0
        |                    ELSE max(click) - min(click) END AS s_c,
        |               min(view) AS mn_v,
        |               CASE WHEN max(view) = min(view) THEN 1.0
        |                    ELSE max(view) - min(view) END AS s_v
        |        FROM idx),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.click AS mic, i.view AS miv,
        |    a_c + b_c * i.x AS moc, a_v + b_v * i.x AS mov,
        |    abs((a_c + b_c * i.x - i.click) / s_c) AS tasc,
        |    abs((a_v + b_v * i.x - i.view) / s_v) AS tasv,
        |    abs(a_c + b_c * i.x - i.click) AS tauc,
        |    abs(a_v + b_v * i.x - i.view) AS tauv
        |  FROM idx i, fin)
        |SELECT start, "end",
        |  floor(mic*10000 + 0.5)/10000 AS "model-input.click",
        |  floor(miv*10000 + 0.5)/10000 AS "model-input.view",
        |  floor(moc*10000 + 0.5)/10000 AS "model-output.click",
        |  floor(mov*10000 + 0.5)/10000 AS "model-output.view",
        |  floor(tasc*10000 + 0.5)/10000 AS "tag-anomaly-scaled.click",
        |  floor(tasv*10000 + 0.5)/10000 AS "tag-anomaly-scaled.view",
        |  floor(tauc*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.click",
        |  floor(tauv*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.view",
        |  floor(((tasc*tasc + tasv*tasv)/2.0)*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor(((tauc*tauc + tauv*tauv)/2.0)*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor((tauc/th_c)*10000 + 0.5)/10000 AS "anomaly-confidence.click",
        |  floor((tauv/th_v)*10000 + 0.5)/10000 AS "anomaly-confidence.view",
        |  floor((((tasc*tasc + tasv*tasv)/2.0)/agg_th)*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM frame, th
        |ORDER BY start""".stripMargin,
    // q29's replay + the ewma smooth columns: pandas ewm(span=6,
    // adjust=True).mean() = Σ_{j≤i} (5/7)^{i−j} x_j / Σ (5/7)^{i−j}
    // over the anomaly columns in start order — no NaN prefix.
    // Thresholds are method-independent (rolling(6).min().max()).
    "q74_ewm_anomaly_frame" ->
      """WITH w AS (
        |  SELECT bucket_ts,
        |    max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |    max(CASE WHEN event_type = 'view' THEN value END) AS view
        |  FROM (SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        |               avg(value) AS value
        |        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
        |  GROUP BY bucket_ts),
        |idx AS (
        |  SELECT bucket_ts, click, view,
        |         CAST(bucket_ts - 1704067200 AS DOUBLE) AS x,
        |         row_number() OVER (ORDER BY bucket_ts) - 1 AS rn
        |  FROM w WHERE click IS NOT NULL AND view IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |fm AS (SELECT regr_slope(click, x) AS b_c, regr_intercept(click, x) AS a_c,
        |              regr_slope(view, x) AS b_v, regr_intercept(view, x) AS a_v,
        |              CASE WHEN max(click) = min(click) THEN 1.0 ELSE max(click) - min(click) END AS s_c,
        |              CASE WHEN max(view) = min(view) THEN 1.0 ELSE max(view) - min(view) END AS s_v
        |       FROM tr),
        |te AS (SELECT i.rn, i.click, i.view,
        |              a_c + b_c * i.x AS p_c, a_v + b_v * i.x AS p_v, s_c, s_v,
        |              row_number() OVER (ORDER BY i.rn) AS trn
        |       FROM idx i, lastfold, fm WHERE i.rn >= test_start),
        |sc AS (SELECT trn,
        |        (pow((p_c - click) / s_c, 2) + pow((p_v - view) / s_v, 2)) / 2.0 AS mse,
        |        abs(click - p_c) AS mae_c, abs(view - p_v) AS mae_v
        |       FROM te),
        |roll AS (SELECT trn,
        |        min(mse) OVER f AS rmin_mse,
        |        min(mae_c) OVER f AS rmin_c,
        |        min(mae_v) OVER f AS rmin_v
        |       FROM sc
        |       WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_c) AS th_c,
        |              max(rmin_v) AS th_v
        |       FROM roll WHERE trn >= 6),
        |fin AS (SELECT regr_slope(click, x) AS b_c, regr_intercept(click, x) AS a_c,
        |               regr_slope(view, x) AS b_v, regr_intercept(view, x) AS a_v,
        |               min(click) AS mn_c,
        |               CASE WHEN max(click) = min(click) THEN 1.0
        |                    ELSE max(click) - min(click) END AS s_c,
        |               min(view) AS mn_v,
        |               CASE WHEN max(view) = min(view) THEN 1.0
        |                    ELSE max(view) - min(view) END AS s_v
        |        FROM idx),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.rn AS i,
        |    i.click AS mic, i.view AS miv,
        |    a_c + b_c * i.x AS moc, a_v + b_v * i.x AS mov,
        |    abs((a_c + b_c * i.x - i.click) / s_c) AS tasc,
        |    abs((a_v + b_v * i.x - i.view) / s_v) AS tasv,
        |    abs(a_c + b_c * i.x - i.click) AS tauc,
        |    abs(a_v + b_v * i.x - i.view) AS tauv
        |  FROM idx i, fin),
        |sm AS (SELECT a.i,
        |    sum(b.tasc * pow(1.0 - 2.0/7.0, a.i - b.i))
        |      / sum(pow(1.0 - 2.0/7.0, a.i - b.i)) AS sm_tasc,
        |    sum(b.tasv * pow(1.0 - 2.0/7.0, a.i - b.i))
        |      / sum(pow(1.0 - 2.0/7.0, a.i - b.i)) AS sm_tasv,
        |    sum(b.tauc * pow(1.0 - 2.0/7.0, a.i - b.i))
        |      / sum(pow(1.0 - 2.0/7.0, a.i - b.i)) AS sm_tauc,
        |    sum(b.tauv * pow(1.0 - 2.0/7.0, a.i - b.i))
        |      / sum(pow(1.0 - 2.0/7.0, a.i - b.i)) AS sm_tauv,
        |    sum(((b.tasc*b.tasc + b.tasv*b.tasv)/2.0) * pow(1.0 - 2.0/7.0, a.i - b.i))
        |      / sum(pow(1.0 - 2.0/7.0, a.i - b.i)) AS sm_tots,
        |    sum(((b.tauc*b.tauc + b.tauv*b.tauv)/2.0) * pow(1.0 - 2.0/7.0, a.i - b.i))
        |      / sum(pow(1.0 - 2.0/7.0, a.i - b.i)) AS sm_totu
        |  FROM frame a JOIN frame b ON b.i <= a.i
        |  GROUP BY a.i)
        |SELECT start, "end",
        |  floor(mic*10000 + 0.5)/10000 AS "model-input.click",
        |  floor(miv*10000 + 0.5)/10000 AS "model-input.view",
        |  floor(moc*10000 + 0.5)/10000 AS "model-output.click",
        |  floor(mov*10000 + 0.5)/10000 AS "model-output.view",
        |  floor(tasc*10000 + 0.5)/10000 AS "tag-anomaly-scaled.click",
        |  floor(tasv*10000 + 0.5)/10000 AS "tag-anomaly-scaled.view",
        |  floor(tauc*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.click",
        |  floor(tauv*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.view",
        |  floor(((tasc*tasc + tasv*tasv)/2.0)*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor(((tauc*tauc + tauv*tauv)/2.0)*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor(sm_tasc*10000 + 0.5)/10000 AS "smooth-tag-anomaly-scaled.click",
        |  floor(sm_tasv*10000 + 0.5)/10000 AS "smooth-tag-anomaly-scaled.view",
        |  floor(sm_tauc*10000 + 0.5)/10000 AS "smooth-tag-anomaly-unscaled.click",
        |  floor(sm_tauv*10000 + 0.5)/10000 AS "smooth-tag-anomaly-unscaled.view",
        |  floor(sm_tots*10000 + 0.5)/10000 AS "smooth-total-anomaly-scaled",
        |  floor(sm_totu*10000 + 0.5)/10000 AS "smooth-total-anomaly-unscaled",
        |  floor((tauc/th_c)*10000 + 0.5)/10000 AS "anomaly-confidence.click",
        |  floor((tauv/th_v)*10000 + 0.5)/10000 AS "anomaly-confidence.view",
        |  floor((((tasc*tasc + tasv*tasv)/2.0)/agg_th)*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM frame JOIN sm USING (i), th
        |ORDER BY start""".stripMargin,
    // AR(2) ridge forecast replay: 3×3 normal equations (intercept +
    // two lags, λ=1e-8 on the diagonal) solved by Cramer's rule; only
    // the LAST fold matters for thresholds (final = last fold).
    "q51_lstm_forecast" ->
      """WITH w AS (
        |  SELECT bucket_ts,
        |    max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |    max(CASE WHEN event_type = 'view' THEN value END) AS view
        |  FROM (SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        |               avg(value) AS value
        |        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
        |  GROUP BY bucket_ts),
        |cw AS (SELECT bucket_ts, click FROM w
        |       WHERE click IS NOT NULL AND view IS NOT NULL),
        |lg AS (SELECT bucket_ts, click,
        |    lag(click, 1) OVER (ORDER BY bucket_ts) AS l1,
        |    lag(click, 2) OVER (ORDER BY bucket_ts) AS l2
        |  FROM cw),
        |idx AS (SELECT bucket_ts, click, l1, l2,
        |    row_number() OVER (ORDER BY bucket_ts) - 1 AS rn
        |  FROM lg WHERE l2 IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |trs AS (SELECT count(*) + 1e-8 AS a, sum(l1) AS s1, sum(l2) AS s2,
        |    sum(click) AS sy, sum(l1*l1) + 1e-8 AS s11, sum(l1*l2) AS s12,
        |    sum(l2*l2) + 1e-8 AS s22, sum(l1*click) AS s1y,
        |    sum(l2*click) AS s2y, CASE WHEN max(click) = min(click) THEN 1.0 ELSE max(click) - min(click) END AS s_c
        |  FROM tr),
        |fm AS (SELECT s_c,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y)) / det AS w0,
        |    (a*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2)) / det AS w1,
        |    (a*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2)) / det AS w2
        |  FROM (SELECT *,
        |      a*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |        + s2*(s1*s12 - s11*s2) AS det
        |    FROM trs)),
        |te AS (SELECT i.rn, i.click,
        |    w0 + w1*i.l1 + w2*i.l2 AS p, s_c,
        |    row_number() OVER (ORDER BY i.rn) AS trn
        |  FROM idx i, lastfold, fm WHERE i.rn >= test_start),
        |sc AS (SELECT trn, pow((p - click) / s_c, 2) AS mse,
        |    abs(click - p) AS mae FROM te),
        |roll AS (SELECT trn, min(mse) OVER f AS rmin_mse,
        |    min(mae) OVER f AS rmin_c
        |  FROM sc
        |  WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_c) AS th_c
        |  FROM roll WHERE trn >= 6),
        |fns AS (SELECT count(*) + 1e-8 AS a, sum(l1) AS s1, sum(l2) AS s2,
        |    sum(click) AS sy, sum(l1*l1) + 1e-8 AS s11, sum(l1*l2) AS s12,
        |    sum(l2*l2) + 1e-8 AS s22, sum(l1*click) AS s1y,
        |    sum(l2*click) AS s2y,
        |    CASE WHEN max(click) = min(click) THEN 1.0
        |         ELSE max(click) - min(click) END AS s_c
        |  FROM idx),
        |fin AS (SELECT s_c,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y)) / det AS w0,
        |    (a*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2)) / det AS w1,
        |    (a*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2)) / det AS w2
        |  FROM (SELECT *,
        |      a*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |        + s2*(s1*s12 - s11*s2) AS det
        |    FROM fns)),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.l1 AS mi1, i.l2 AS mi2,
        |    w0 + w1*i.l1 + w2*i.l2 AS mo,
        |    abs((w0 + w1*i.l1 + w2*i.l2 - i.click) / s_c) AS tas,
        |    abs(w0 + w1*i.l1 + w2*i.l2 - i.click) AS tau
        |  FROM idx i, fin)
        |SELECT start, "end",
        |  floor(mi1*10000 + 0.5)/10000 AS "model-input.click_lag1",
        |  floor(mi2*10000 + 0.5)/10000 AS "model-input.click_lag2",
        |  floor(mo*10000 + 0.5)/10000 AS "model-output.click",
        |  floor(tas*10000 + 0.5)/10000 AS "tag-anomaly-scaled.click",
        |  floor(tau*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.click",
        |  floor((tas*tas)*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor((tau*tau)*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor((tau/th_c)*10000 + 0.5)/10000 AS "anomaly-confidence.click",
        |  floor(((tas*tas)/agg_th)*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM frame, th
        |ORDER BY start""".stripMargin,
    // q51's AR ridge replay shifted to the lookahead=2 window: features
    // are lag2/lag3 of the target (window ends 2 steps before the
    // target row), first lookback+lookahead−1 = 3 rows drop.
    "q72_lookahead_forecast" ->
      """WITH w AS (
        |  SELECT bucket_ts,
        |    max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |    max(CASE WHEN event_type = 'view' THEN value END) AS view
        |  FROM (SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        |               avg(value) AS value
        |        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
        |  GROUP BY bucket_ts),
        |cw AS (SELECT bucket_ts, click FROM w
        |       WHERE click IS NOT NULL AND view IS NOT NULL),
        |lg AS (SELECT bucket_ts, click,
        |    lag(click, 2) OVER (ORDER BY bucket_ts) AS l1,
        |    lag(click, 3) OVER (ORDER BY bucket_ts) AS l2
        |  FROM cw),
        |idx AS (SELECT bucket_ts, click, l1, l2,
        |    row_number() OVER (ORDER BY bucket_ts) - 1 AS rn
        |  FROM lg WHERE l2 IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |trs AS (SELECT count(*) + 1e-8 AS a, sum(l1) AS s1, sum(l2) AS s2,
        |    sum(click) AS sy, sum(l1*l1) + 1e-8 AS s11, sum(l1*l2) AS s12,
        |    sum(l2*l2) + 1e-8 AS s22, sum(l1*click) AS s1y,
        |    sum(l2*click) AS s2y, CASE WHEN max(click) = min(click) THEN 1.0 ELSE max(click) - min(click) END AS s_c
        |  FROM tr),
        |fm AS (SELECT s_c,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y)) / det AS w0,
        |    (a*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2)) / det AS w1,
        |    (a*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2)) / det AS w2
        |  FROM (SELECT *,
        |      a*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |        + s2*(s1*s12 - s11*s2) AS det
        |    FROM trs)),
        |te AS (SELECT i.rn, i.click,
        |    w0 + w1*i.l1 + w2*i.l2 AS p, s_c,
        |    row_number() OVER (ORDER BY i.rn) AS trn
        |  FROM idx i, lastfold, fm WHERE i.rn >= test_start),
        |sc AS (SELECT trn, pow((p - click) / s_c, 2) AS mse,
        |    abs(click - p) AS mae FROM te),
        |roll AS (SELECT trn, min(mse) OVER f AS rmin_mse,
        |    min(mae) OVER f AS rmin_c
        |  FROM sc
        |  WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_c) AS th_c
        |  FROM roll WHERE trn >= 6),
        |fns AS (SELECT count(*) + 1e-8 AS a, sum(l1) AS s1, sum(l2) AS s2,
        |    sum(click) AS sy, sum(l1*l1) + 1e-8 AS s11, sum(l1*l2) AS s12,
        |    sum(l2*l2) + 1e-8 AS s22, sum(l1*click) AS s1y,
        |    sum(l2*click) AS s2y,
        |    CASE WHEN max(click) = min(click) THEN 1.0
        |         ELSE max(click) - min(click) END AS s_c
        |  FROM idx),
        |fin AS (SELECT s_c,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y)) / det AS w0,
        |    (a*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2)) / det AS w1,
        |    (a*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2)) / det AS w2
        |  FROM (SELECT *,
        |      a*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |        + s2*(s1*s12 - s11*s2) AS det
        |    FROM fns)),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.l1 AS mi1, i.l2 AS mi2,
        |    w0 + w1*i.l1 + w2*i.l2 AS mo,
        |    abs((w0 + w1*i.l1 + w2*i.l2 - i.click) / s_c) AS tas,
        |    abs(w0 + w1*i.l1 + w2*i.l2 - i.click) AS tau
        |  FROM idx i, fin)
        |SELECT start, "end",
        |  floor(mi1*10000 + 0.5)/10000 AS "model-input.click__lag2",
        |  floor(mi2*10000 + 0.5)/10000 AS "model-input.click__lag3",
        |  floor(mo*10000 + 0.5)/10000 AS "model-output.click",
        |  floor(tas*10000 + 0.5)/10000 AS "tag-anomaly-scaled.click",
        |  floor(tau*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.click",
        |  floor((tas*tas)*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor((tau*tau)*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor((tau/th_c)*10000 + 0.5)/10000 AS "anomaly-confidence.click",
        |  floor(((tas*tas)/agg_th)*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM frame, th
        |ORDER BY start""".stripMargin,
    "q41_config_build" -> ridgeBuildFrameSql("click", "view"),
    "q77_raw_spec_build" -> ridgeBuildFrameSql("purchase", "signup"),
    // q80/q81: persistence-contract literals — SF-independent facts of
    // the dump layout and round-trip, validated against save()/stateOf()
    "q80_model_dump_layout" -> {
      val rows: Seq[(String, String)] =
        Seq("info.json", "metadata.json", "model.json").map(("file", _)) ++
          Seq("checksum").map(("info_key", _)) ++
          Seq("cache_key_hex128_true", "checksum_matches_true")
            .map(("integrity", _)) ++
          Seq("cache_key", "dataset", "model", "name", "project_name",
            "user_defined").map(("metadata_key", _)) ++
          Seq("aggregate-threshold", "aggregate-thresholds-per-fold",
            "cross_validation", "definition", "feature-thresholds", "impl",
            "impl_requested", "impl_substitution", "model_offset",
            "model_training_duration_sec").map(("metadata_model_key", _)) ++
          Seq("aggregateThreshold", "epoch0", "featureThresholds", "impl",
            "modelParams", "orderCol", "perFoldAggregate", "preprocess",
            "scalerKind", "scalerStats", "smoothAggregateThreshold",
            "smoothFeatureThresholds", "smoothingMethod", "tags", "targets",
            "window", "windowing").map(("model_key", _))
      val values = rows.map { case (s, n) => s"('$s', '$n')" }
        .mkString(",\n  ")
      s"""SELECT section, name FROM (VALUES
        |  $values) t(section, name)
        |ORDER BY section, name""".stripMargin
    },
    "q81_serializer_roundtrip" -> {
      val names = Seq("model_json_redump_delta",
        "param:w_click_0", "param:w_click_2",
        "param:w_view_0", "param:w_view_1",
        "scaler:click", "scaler:view",
        "threshold:aggregate", "threshold:click", "threshold:view")
      val values = names.map(n => s"('$n', CAST(0.0 AS DOUBLE))")
        .mkString(",\n  ")
      s"""SELECT name, delta FROM (VALUES
        |  $values) t(name, delta)
        |ORDER BY name""".stripMargin
    },
    "q49_target_tags_build" ->
      """WITH src AS (
        |  SELECT event_type AS tag, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts, value
        |  FROM events
        |  WHERE event_type IN ('click', 'view')
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <  TIMESTAMP '2024-02-01 00:00:00'),
        |r AS (SELECT tag, bucket_ts, avg(value) AS value FROM src GROUP BY 1, 2),
        |bounds AS (SELECT min(bucket_ts) AS b0, max(bucket_ts) AS b1 FROM r),
        |grid AS (SELECT tag, unnest(generate_series(b0, b1, 3600)) AS bucket_ts
        |         FROM bounds CROSS JOIN (SELECT DISTINCT tag FROM r) t),
        |g AS (SELECT grid.tag, grid.bucket_ts, r.value
        |      FROM grid LEFT JOIN r USING (tag, bucket_ts)),
        |i AS (SELECT tag, bucket_ts,
        |   CASE WHEN value IS NOT NULL THEN value
        |        WHEN prevb IS NOT NULL AND nextb IS NOT NULL AND nextb - prevb <= 21600
        |        THEN prevv + (nextv - prevv)
        |             * (CAST(bucket_ts - prevb AS DOUBLE) / CAST(nextb - prevb AS DOUBLE))
        |   END AS v
        | FROM (SELECT *,
        |   last_value(value IGNORE NULLS) OVER wb AS prevv,
        |   last_value(CASE WHEN value IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER wb AS prevb,
        |   first_value(value IGNORE NULLS) OVER wa AS nextv,
        |   first_value(CASE WHEN value IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER wa AS nextb
        |  FROM g
        |  WINDOW wb AS (PARTITION BY tag ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         wa AS (PARTITION BY tag ORDER BY bucket_ts ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))),
        |ww AS (SELECT bucket_ts, click, view FROM (
        |  SELECT bucket_ts,
        |    max(CASE WHEN tag = 'click' THEN v END) AS click,
        |    max(CASE WHEN tag = 'view' THEN v END) AS view
        |  FROM i GROUP BY bucket_ts)
        | WHERE click IS NOT NULL AND view IS NOT NULL),
        |idx AS (SELECT bucket_ts, click, view,
        |    row_number() OVER (ORDER BY bucket_ts) - 1 AS rn FROM ww),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |fm AS (SELECT
        |    ((n + 1e-8)*sxy_v - sx_c*sy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS b_v,
        |    (sy_v*(sxx_c + 1e-8) - sx_c*sxy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS a_v,
        |    s_v
        |  FROM (SELECT count(*) AS n,
        |      sum(click) AS sx_c, sum(click*click) AS sxx_c,
        |      sum(view) AS sy_v, sum(click*view) AS sxy_v,
        |      CASE WHEN max(view) = min(view) THEN 1.0 ELSE max(view) - min(view) END AS s_v
        |    FROM tr)),
        |te AS (SELECT i.rn, i.view,
        |    a_v + b_v * i.click AS p_v, s_v,
        |    row_number() OVER (ORDER BY i.rn) AS trn
        |  FROM idx i, lastfold, fm WHERE i.rn >= test_start),
        |sc AS (SELECT trn,
        |    pow((p_v - view) / s_v, 2) / 1.0 AS mse,
        |    abs(view - p_v) AS mae_v
        |  FROM te),
        |roll AS (SELECT trn,
        |    min(mse) OVER f AS rmin_mse,
        |    min(mae_v) OVER f AS rmin_v
        |  FROM sc
        |  WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_v) AS th_v
        |  FROM roll WHERE trn >= 6),
        |fin AS (SELECT
        |    ((n + 1e-8)*sxy_v - sx_c*sy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS b_v,
        |    (sy_v*(sxx_c + 1e-8) - sx_c*sxy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS a_v,
        |    s_v
        |  FROM (SELECT count(*) AS n,
        |      sum(click) AS sx_c, sum(click*click) AS sxx_c,
        |      sum(view) AS sy_v, sum(click*view) AS sxy_v,
        |      CASE WHEN max(view) = min(view) THEN 1.0
        |           ELSE max(view) - min(view) END AS s_v
        |    FROM idx)),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.click AS mic, i.view AS miv,
        |    a_v + b_v * i.click AS mov,
        |    abs((a_v + b_v * i.click - i.view) / s_v) AS tasv,
        |    abs(a_v + b_v * i.click - i.view) AS tauv
        |  FROM idx i, fin)
        |SELECT start, "end",
        |  floor(mic*10000 + 0.5)/10000 AS "model-input.click",
        |  floor(miv*10000 + 0.5)/10000 AS "model-input.view",
        |  floor(mov*10000 + 0.5)/10000 AS "model-output.view",
        |  floor(tasv*10000 + 0.5)/10000 AS "tag-anomaly-scaled.view",
        |  floor(tauv*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.view",
        |  floor((tasv*tasv/1.0)*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor((tauv*tauv/1.0)*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor((tauv/th_v)*10000 + 0.5)/10000 AS "anomaly-confidence.view",
        |  floor(((tasv*tasv/1.0)/agg_th)*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM frame, th
        |ORDER BY start""".stripMargin,
    "q43_pca_anomaly" ->
      s"""WITH w AS (
        |  SELECT bucket_ts,
        |    max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |    max(CASE WHEN event_type = 'view' THEN value END) AS view
        |  FROM (SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        |               avg(value) AS value
        |        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
        |  GROUP BY bucket_ts),
        |idx AS (
        |  SELECT bucket_ts, click, view,
        |         row_number() OVER (ORDER BY bucket_ts) - 1 AS rn
        |  FROM w WHERE click IS NOT NULL AND view IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |fm AS (${pcaFitSql("tr")}),
        |fs AS (SELECT CASE WHEN max(click) = min(click) THEN 1.0 ELSE max(click) - min(click) END AS s_c,
        |              CASE WHEN max(view) = min(view) THEN 1.0 ELSE max(view) - min(view) END AS s_v FROM tr),
        |te AS (SELECT i.rn, i.click, i.view,
        |    fm.mu_c + fm.w_c * ((i.click - fm.mu_c) * fm.w_c + (i.view - fm.mu_v) * fm.w_v) AS p_c,
        |    fm.mu_v + fm.w_v * ((i.click - fm.mu_c) * fm.w_c + (i.view - fm.mu_v) * fm.w_v) AS p_v,
        |    fs.s_c, fs.s_v,
        |    row_number() OVER (ORDER BY i.rn) AS trn
        |  FROM idx i, lastfold, fm, fs WHERE i.rn >= test_start),
        |sc AS (SELECT trn,
        |    (pow((p_c - click) / s_c, 2) + pow((p_v - view) / s_v, 2)) / 2.0 AS mse,
        |    abs(click - p_c) AS mae_c, abs(view - p_v) AS mae_v
        |  FROM te),
        |roll AS (SELECT trn,
        |    min(mse) OVER f AS rmin_mse,
        |    min(mae_c) OVER f AS rmin_c,
        |    min(mae_v) OVER f AS rmin_v
        |  FROM sc
        |  WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_c) AS th_c,
        |       max(rmin_v) AS th_v
        |  FROM roll WHERE trn >= 6),
        |ff AS (${pcaFitSql("idx")}),
        |ffs AS (SELECT
        |    CASE WHEN max(click) = min(click) THEN 1.0
        |         ELSE max(click) - min(click) END AS s_c,
        |    CASE WHEN max(view) = min(view) THEN 1.0
        |         ELSE max(view) - min(view) END AS s_v
        |  FROM idx),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.click AS mic, i.view AS miv,
        |    ff.mu_c + ff.w_c * ((i.click - ff.mu_c) * ff.w_c + (i.view - ff.mu_v) * ff.w_v) AS moc,
        |    ff.mu_v + ff.w_v * ((i.click - ff.mu_c) * ff.w_c + (i.view - ff.mu_v) * ff.w_v) AS mov,
        |    ffs.s_c, ffs.s_v
        |  FROM idx i, ff, ffs)
        |SELECT start, "end",
        |  floor(mic*10000 + 0.5)/10000 AS "model-input.click",
        |  floor(miv*10000 + 0.5)/10000 AS "model-input.view",
        |  floor(moc*10000 + 0.5)/10000 AS "model-output.click",
        |  floor(mov*10000 + 0.5)/10000 AS "model-output.view",
        |  floor(abs((moc - mic) / s_c)*10000 + 0.5)/10000 AS "tag-anomaly-scaled.click",
        |  floor(abs((mov - miv) / s_v)*10000 + 0.5)/10000 AS "tag-anomaly-scaled.view",
        |  floor(abs(moc - mic)*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.click",
        |  floor(abs(mov - miv)*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.view",
        |  floor(((pow(abs((moc - mic)/s_c), 2) + pow(abs((mov - miv)/s_v), 2))/2.0)*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor(((pow(abs(moc - mic), 2) + pow(abs(mov - miv), 2))/2.0)*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor((abs(moc - mic)/th_c)*10000 + 0.5)/10000 AS "anomaly-confidence.click",
        |  floor((abs(mov - miv)/th_v)*10000 + 0.5)/10000 AS "anomaly-confidence.view",
        |  floor((((pow(abs((moc - mic)/s_c), 2) + pow(abs((mov - miv)/s_v), 2))/2.0)/agg_th)*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM frame, th
        |ORDER BY start""".stripMargin,
    "q64_response_columns" ->
      """WITH cols AS (SELECT col FROM (VALUES
        |  ('start'), ('end'),
        |  ('model-input.click'), ('model-input.view'),
        |  ('model-output.click'), ('model-output.view'),
        |  ('tag-anomaly-scaled.click'), ('tag-anomaly-scaled.view'),
        |  ('tag-anomaly-unscaled.click'), ('tag-anomaly-unscaled.view'),
        |  ('total-anomaly-scaled'), ('total-anomaly-unscaled'),
        |  ('smooth-tag-anomaly-scaled.click'), ('smooth-tag-anomaly-scaled.view'),
        |  ('smooth-tag-anomaly-unscaled.click'), ('smooth-tag-anomaly-unscaled.view'),
        |  ('smooth-total-anomaly-scaled'), ('smooth-total-anomaly-unscaled'),
        |  ('anomaly-confidence.click'), ('anomaly-confidence.view'),
        |  ('total-anomaly-confidence')) t(col))
        |SELECT mode, col FROM (
        |  SELECT 'all' AS mode, col FROM cols
        |  UNION ALL
        |  SELECT 'no_smooth', col FROM cols WHERE col NOT LIKE 'smooth-%')
        |ORDER BY mode, col""".stripMargin,
    // q29's full replay + the six smooth-* columns: width-6 trailing
    // interpolated median (DuckDB median == quantile_cont(0.5) on
    // DOUBLE) with the pandas null prefix (rn < 6 → NULL) — the exact
    // numbers the stateful smoothStream operator must produce
    "q69_streaming_anomaly" ->
      """WITH w AS (
        |  SELECT bucket_ts,
        |    max(CASE WHEN event_type = 'click' THEN value END) AS click,
        |    max(CASE WHEN event_type = 'view' THEN value END) AS view
        |  FROM (SELECT event_type, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts,
        |               avg(value) AS value
        |        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2)
        |  GROUP BY bucket_ts),
        |idx AS (
        |  SELECT bucket_ts, click, view,
        |         CAST(bucket_ts - 1704067200 AS DOUBLE) AS x,
        |         row_number() OVER (ORDER BY bucket_ts) - 1 AS rn
        |  FROM w WHERE click IS NOT NULL AND view IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM idx),
        |lastfold AS (SELECT n - (n//4) AS test_start FROM nn),
        |tr AS (SELECT i.* FROM idx i, lastfold WHERE rn < test_start),
        |fm AS (SELECT regr_slope(click, x) AS b_c, regr_intercept(click, x) AS a_c,
        |              regr_slope(view, x) AS b_v, regr_intercept(view, x) AS a_v,
        |              CASE WHEN max(click) = min(click) THEN 1.0 ELSE max(click) - min(click) END AS s_c,
        |              CASE WHEN max(view) = min(view) THEN 1.0 ELSE max(view) - min(view) END AS s_v
        |       FROM tr),
        |te AS (SELECT i.rn, i.click, i.view,
        |              a_c + b_c * i.x AS p_c, a_v + b_v * i.x AS p_v, s_c, s_v,
        |              row_number() OVER (ORDER BY i.rn) AS trn
        |       FROM idx i, lastfold, fm WHERE i.rn >= test_start),
        |sc AS (SELECT trn,
        |        (pow((p_c - click) / s_c, 2) + pow((p_v - view) / s_v, 2)) / 2.0 AS mse,
        |        abs(click - p_c) AS mae_c, abs(view - p_v) AS mae_v
        |       FROM te),
        |roll AS (SELECT trn,
        |        min(mse) OVER f AS rmin_mse,
        |        min(mae_c) OVER f AS rmin_c,
        |        min(mae_v) OVER f AS rmin_v
        |       FROM sc
        |       WINDOW f AS (ORDER BY trn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        |th AS (SELECT max(rmin_mse) AS agg_th, max(rmin_c) AS th_c,
        |              max(rmin_v) AS th_v
        |       FROM roll WHERE trn >= 6),
        |fin AS (SELECT regr_slope(click, x) AS b_c, regr_intercept(click, x) AS a_c,
        |               regr_slope(view, x) AS b_v, regr_intercept(view, x) AS a_v,
        |               min(click) AS mn_c,
        |               CASE WHEN max(click) = min(click) THEN 1.0
        |                    ELSE max(click) - min(click) END AS s_c,
        |               min(view) AS mn_v,
        |               CASE WHEN max(view) = min(view) THEN 1.0
        |                    ELSE max(view) - min(view) END AS s_v
        |        FROM idx),
        |frame AS (SELECT i.bucket_ts AS start, i.bucket_ts + 3600 AS "end",
        |    i.click AS mic, i.view AS miv,
        |    a_c + b_c * i.x AS moc, a_v + b_v * i.x AS mov,
        |    abs((a_c + b_c * i.x - i.click) / s_c) AS tasc,
        |    abs((a_v + b_v * i.x - i.view) / s_v) AS tasv,
        |    abs(a_c + b_c * i.x - i.click) AS tauc,
        |    abs(a_v + b_v * i.x - i.view) AS tauv,
        |    row_number() OVER (ORDER BY i.bucket_ts) AS pos
        |  FROM idx i, fin),
        |tot AS (SELECT frame.*,
        |    (tasc*tasc + tasv*tasv)/2.0 AS tots,
        |    (tauc*tauc + tauv*tauv)/2.0 AS totu
        |  FROM frame),
        |sm AS (SELECT tot.*,
        |    CASE WHEN pos >= 6 THEN median(tasc) OVER w6 END AS smtasc,
        |    CASE WHEN pos >= 6 THEN median(tasv) OVER w6 END AS smtasv,
        |    CASE WHEN pos >= 6 THEN median(tauc) OVER w6 END AS smtauc,
        |    CASE WHEN pos >= 6 THEN median(tauv) OVER w6 END AS smtauv,
        |    CASE WHEN pos >= 6 THEN median(tots) OVER w6 END AS smtots,
        |    CASE WHEN pos >= 6 THEN median(totu) OVER w6 END AS smtotu
        |  FROM tot
        |  WINDOW w6 AS (ORDER BY start ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
        |SELECT start, "end",
        |  floor(mic*10000 + 0.5)/10000 AS "model-input.click",
        |  floor(miv*10000 + 0.5)/10000 AS "model-input.view",
        |  floor(moc*10000 + 0.5)/10000 AS "model-output.click",
        |  floor(mov*10000 + 0.5)/10000 AS "model-output.view",
        |  floor(tasc*10000 + 0.5)/10000 AS "tag-anomaly-scaled.click",
        |  floor(tasv*10000 + 0.5)/10000 AS "tag-anomaly-scaled.view",
        |  floor(tauc*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.click",
        |  floor(tauv*10000 + 0.5)/10000 AS "tag-anomaly-unscaled.view",
        |  floor(tots*10000 + 0.5)/10000 AS "total-anomaly-scaled",
        |  floor(totu*10000 + 0.5)/10000 AS "total-anomaly-unscaled",
        |  floor(smtasc*10000 + 0.5)/10000 AS "smooth-tag-anomaly-scaled.click",
        |  floor(smtasv*10000 + 0.5)/10000 AS "smooth-tag-anomaly-scaled.view",
        |  floor(smtauc*10000 + 0.5)/10000 AS "smooth-tag-anomaly-unscaled.click",
        |  floor(smtauv*10000 + 0.5)/10000 AS "smooth-tag-anomaly-unscaled.view",
        |  floor(smtots*10000 + 0.5)/10000 AS "smooth-total-anomaly-scaled",
        |  floor(smtotu*10000 + 0.5)/10000 AS "smooth-total-anomaly-unscaled",
        |  floor((tauc/th_c)*10000 + 0.5)/10000 AS "anomaly-confidence.click",
        |  floor((tauv/th_v)*10000 + 0.5)/10000 AS "anomaly-confidence.view",
        |  floor(tots/agg_th*10000 + 0.5)/10000 AS "total-anomaly-confidence"
        |FROM sm, th
        |ORDER BY start""".stripMargin,
    // Replays the metric-batch flattening end-to-end: the q41-style
    // resample/grid/interpolate chain on the one-week span, a ridge fit
    // per CV fold (prefix train sets), sklearn metric math per tag
    // averaged over tags, fold summary stats (population std), split
    // metadata from the TimeSeriesSplit formulas, and the config params
    // as the literal strings the build stringifies.
    "q70_metric_batch" ->
      """WITH src AS (
        |  SELECT event_type AS tag, (epoch_us(ts)//1000000//3600)*3600 AS bucket_ts, value
        |  FROM events
        |  WHERE event_type IN ('click', 'view')
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <  TIMESTAMP '2024-01-08 00:00:00'),
        |r AS (SELECT tag, bucket_ts, avg(value) AS value FROM src GROUP BY 1, 2),
        |bounds AS (SELECT min(bucket_ts) AS b0, max(bucket_ts) AS b1 FROM r),
        |grid AS (SELECT tag, unnest(generate_series(b0, b1, 3600)) AS bucket_ts
        |         FROM bounds CROSS JOIN (SELECT DISTINCT tag FROM r) t),
        |g AS (SELECT grid.tag, grid.bucket_ts, r.value
        |      FROM grid LEFT JOIN r USING (tag, bucket_ts)),
        |i AS (SELECT tag, bucket_ts,
        |   CASE WHEN value IS NOT NULL THEN value
        |        WHEN prevb IS NOT NULL AND nextb IS NOT NULL AND nextb - prevb <= 21600
        |        THEN prevv + (nextv - prevv)
        |             * (CAST(bucket_ts - prevb AS DOUBLE) / CAST(nextb - prevb AS DOUBLE))
        |   END AS v
        | FROM (SELECT *,
        |   last_value(value IGNORE NULLS) OVER wb AS prevv,
        |   last_value(CASE WHEN value IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER wb AS prevb,
        |   first_value(value IGNORE NULLS) OVER wa AS nextv,
        |   first_value(CASE WHEN value IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER wa AS nextb
        |  FROM g
        |  WINDOW wb AS (PARTITION BY tag ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         wa AS (PARTITION BY tag ORDER BY bucket_ts ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))),
        |ww AS (SELECT bucket_ts, click, view FROM (
        |  SELECT bucket_ts,
        |    max(CASE WHEN tag = 'click' THEN v END) AS click,
        |    max(CASE WHEN tag = 'view' THEN v END) AS view
        |  FROM i GROUP BY bucket_ts)
        | WHERE click IS NOT NULL AND view IS NOT NULL),
        |idx AS (SELECT bucket_ts, click, view,
        |    row_number() OVER (ORDER BY bucket_ts) - 1 AS rn FROM ww),
        |nn AS (SELECT count(*) AS n FROM idx),
        |folds AS (SELECT t.k AS fold,
        |            n - (4 - t.k) * (n//4) AS test_start,
        |            n - (3 - t.k) * (n//4) AS test_end, n
        |          FROM nn CROSS JOIN (VALUES (1), (2), (3)) AS t(k)),
        |tragg AS (SELECT f.fold, count(*) AS n,
        |      sum(i.view) AS sx_v, sum(i.view*i.view) AS sxx_v,
        |      sum(i.click) AS sx_c, sum(i.click*i.click) AS sxx_c,
        |      sum(i.click) AS sy_c, sum(i.view*i.click) AS sxy_c,
        |      sum(i.view) AS sy_v, sum(i.click*i.view) AS sxy_v
        |    FROM idx i JOIN folds f ON i.rn < f.test_start
        |    GROUP BY f.fold),
        |fm AS (SELECT fold,
        |    ((n + 1e-8)*sxy_c - sx_v*sy_c) / ((n + 1e-8)*(sxx_v + 1e-8) - sx_v*sx_v) AS b_c,
        |    (sy_c*(sxx_v + 1e-8) - sx_v*sxy_c) / ((n + 1e-8)*(sxx_v + 1e-8) - sx_v*sx_v) AS a_c,
        |    ((n + 1e-8)*sxy_v - sx_c*sy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS b_v,
        |    (sy_v*(sxx_c + 1e-8) - sx_c*sxy_v) / ((n + 1e-8)*(sxx_c + 1e-8) - sx_c*sx_c) AS a_v
        |  FROM tragg),
        |mm AS (SELECT min(click) AS mn_c, CASE WHEN max(click) = min(click) THEN 1.0 ELSE max(click) - min(click) END AS s_c,
        |              min(view) AS mn_v, CASE WHEN max(view) = min(view) THEN 1.0 ELSE max(view) - min(view) END AS s_v
        |       FROM idx),
        |te AS (SELECT f.fold,
        |    (i.click - mn_c)/s_c AS click, (i.view - mn_v)/s_v AS view,
        |    (m.a_c + m.b_c * i.view - mn_c)/s_c AS p_c,
        |    (m.a_v + m.b_v * i.click - mn_v)/s_v AS p_v
        |  FROM idx i
        |  JOIN folds f ON i.rn >= f.test_start AND i.rn < f.test_end
        |  JOIN fm m ON m.fold = f.fold
        |  CROSS JOIN mm),
        |met AS (SELECT fold,
        |    ((1 - var_pop(click - p_c)/var_pop(click))
        |     + (1 - var_pop(view - p_v)/var_pop(view))) / 2.0 AS ev,
        |    ((1 - sum(pow(click - p_c, 2))/(var_pop(click)*count(*)))
        |     + (1 - sum(pow(view - p_v, 2))/(var_pop(view)*count(*)))) / 2.0 AS r2,
        |    (avg(pow(click - p_c, 2)) + avg(pow(view - p_v, 2))) / 2.0 AS mse,
        |    (avg(abs(click - p_c)) + avg(abs(view - p_v))) / 2.0 AS mae
        |  FROM te GROUP BY fold),
        |ml AS (
        |  SELECT 'explained-variance-score' AS mkey, fold, ev AS v FROM met
        |  UNION ALL SELECT 'r2-score', fold, r2 FROM met
        |  UNION ALL SELECT 'mean-squared-error', fold, mse FROM met
        |  UNION ALL SELECT 'mean-absolute-error', fold, mae FROM met),
        |stats AS (SELECT mkey, avg(v) AS smean, max(v) AS smax, min(v) AS smin,
        |    stddev_pop(v) AS sstd FROM ml GROUP BY mkey),
        |metricrows AS (
        |  SELECT mkey || '-mean' AS item_key, 0 AS step, smean AS num FROM stats
        |  UNION ALL SELECT mkey || '-max', 0, smax FROM stats
        |  UNION ALL SELECT mkey || '-min', 0, smin FROM stats
        |  UNION ALL SELECT mkey || '-std', 0, sstd FROM stats
        |  UNION ALL SELECT mkey, fold - 1, v FROM ml),
        |splitrows AS (
        |  SELECT 'fold-' || fold || '-train-start' AS item_key,
        |         CAST(0 AS VARCHAR) AS txt FROM folds
        |  UNION ALL SELECT 'fold-' || fold || '-train-end',
        |         CAST(test_start - 1 AS VARCHAR) FROM folds
        |  UNION ALL SELECT 'fold-' || fold || '-test-start',
        |         CAST(test_start AS VARCHAR) FROM folds
        |  UNION ALL SELECT 'fold-' || fold || '-test-end',
        |         CAST(test_end - 1 AS VARCHAR) FROM folds
        |  UNION ALL SELECT 'fold-' || fold || '-n-train',
        |         CAST(test_start AS VARCHAR) FROM folds
        |  UNION ALL SELECT 'fold-' || fold || '-n-test',
        |         CAST(test_end - test_start AS VARCHAR) FROM folds),
        |paramrows AS (
        |  SELECT col0 AS item_key, col1 AS txt FROM (VALUES
        |    ('project_name', 'graft-project'),
        |    ('name', 'graft-q70-machine'),
        |    ('train_start_date', '2024-01-01T00:00:00Z'),
        |    ('train_end_date', '2024-01-08T00:00:00Z'),
        |    ('resolution', '1H'),
        |    ('row_filter', ''),
        |    ('row_filter_buffer_size', '0'),
        |    ('model_offset', '0'))
        |  UNION ALL SELECT item_key, txt FROM splitrows)
        |SELECT kind, item_key, step, num_value, text_value FROM (
        |  SELECT 'metric' AS kind, item_key, step,
        |         floor(num*10000 + 0.5)/10000 AS num_value,
        |         CAST(NULL AS VARCHAR) AS text_value
        |  FROM metricrows
        |  UNION ALL
        |  SELECT 'param', item_key, 0, CAST(NULL AS DOUBLE), txt
        |  FROM paramrows)
        |ORDER BY kind, item_key, step""".stripMargin,
  )

  /** q91 serves the q51 detector through the checkpointed streaming
    * path and must change NOTHING — its oracle is q51's replay, shared
    * by reference so the two gates can never drift apart. */
  val oracleSql: Map[String, String] = oracleSqlBase +
    ("q91_streaming_lag_serve" -> oracleSqlBase("q51_lstm_forecast"))
}
