package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.ModelBuilder
import graft.config.{Config, ModelRegistry}

/** Regression coverage for dotted-tag persistence, base-estimator
  * preprocessing, scoring-scaler dispatch, and PCA n_components
  * validation. */
class AdviceFixesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Long frame whose tag names contain DOTS (the gordo free-form tag
    * case, e.g. `GRA-YE  -23-0751X.PV`). */
  private def dottedLong = {
    val t0 = 1704067200L
    val rows = for {
      tag <- Seq("plant.tag-a.PV", "plant.tag-b.PV"); i <- 0 until 200
    } yield (tag, t0 + i * 600L,
      if (tag.contains("tag-a")) 10.0 + i * 0.1 + (i % 7) * 0.3
      else 30.0 + i * 0.2 - (i % 5) * 0.4)
    rows.toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
  }

  private def yamlFor(model: String, tags: String = "[plant.tag-a.PV, plant.tag-b.PV]") =
    s"""
       |name: advice-fix-machine
       |dataset:
       |  tag_list: $tags
       |  resolution: 10T
       |  train_start_date: 2024-01-01T00:00:00Z
       |  train_end_date: 2024-01-03T00:00:00Z
       |model:
       |$model
       |evaluation:
       |  cv:
       |    sklearn.model_selection.TimeSeriesSplit:
       |      n_splits: 3
       |""".stripMargin

  private val bareRidge =
    """  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
      |    base_estimator:
      |      gordo.machine.model.models.KerasAutoEncoder:
      |        kind: feedforward_hourglass""".stripMargin

  private val pipelineRidge =
    """  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
      |    base_estimator:
      |      sklearn.pipeline.Pipeline:
      |        steps:
      |          - gordo.machine.model.transformers.imputer.InfImputer
      |          - sklearn.preprocessing.MinMaxScaler
      |          - gordo.machine.model.models.KerasAutoEncoder:
      |              kind: feedforward_hourglass""".stripMargin

  test("dotted-tag model save/load/score round-trips (advice: high)") {
    val tmp = Scratch.dir("graft-dotted")
    for ((model, sub) <- Seq(bareRidge -> "ridge",
        """  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
          |    base_estimator:
          |      sklearn.decomposition.PCA:
          |        n_components: 1""".stripMargin -> "pca")) {
      val res = ModelBuilder.build(
        Config.parseYaml(yamlFor(model)), Config.defaultGlobals,
        dottedLong, "tag", "ts", "value", outputDir = s"$tmp/$sub",
        projectName = Some("p"))
      val wide = graft.data.TimeSeries.getData(dottedLong, "tag", "ts",
        "value", Config.datasetConfig(res.spec))
      // the bug: load-then-score threw UNRESOLVED_COLUMN on dotted tags
      val scored = ModelBuilder.score(s"$tmp/$sub", wide, 600L)
      val inMem = graft.ml.DiffAnomaly.anomaly(res.fitted, wide, 600L)
      val a = inMem.orderBy($"start").select($"`total-anomaly-scaled`")
        .as[Double].collect()
      val b = scored.orderBy($"start").select($"`total-anomaly-scaled`")
        .as[Double].collect()
      assert(a.nonEmpty && a.length == b.length)
      a.zip(b).foreach { case (x, y) => assert(x == y, s"$sub mismatch") }
    }
  }

  test("base-estimator Pipeline preprocessing is fitted, applied, persisted (advice: medium)") {
    val tmp = Scratch.dir("graft-prep")
    val res = ModelBuilder.build(
      Config.parseYaml(yamlFor(pipelineRidge)), Config.defaultGlobals,
      dottedLong, "tag", "ts", "value", outputDir = s"$tmp/model",
      projectName = Some("p"))
    // the fitted chain is serialized into model.json
    val modelJson = Files.readString(java.nio.file.Paths.get(s"$tmp/model/model.json"))
    assert(modelJson.contains("\"preprocess\""))
    assert(modelJson.contains("\"imputer\"") && modelJson.contains("\"scaler\""))
    // load-then-score parity through the persisted preprocessing
    val wide = graft.data.TimeSeries.getData(dottedLong, "tag", "ts",
      "value", Config.datasetConfig(res.spec))
    val a = graft.ml.DiffAnomaly.anomaly(res.fitted, wide, 600L)
      .orderBy($"start").select($"`total-anomaly-scaled`").as[Double].collect()
    val b = ModelBuilder.score(s"$tmp/model", wide, 600L)
      .orderBy($"start").select($"`total-anomaly-scaled`").as[Double].collect()
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // ridge is affine-equivariant: the scaled-pipeline predictions agree
    // with the bare build to numerical tolerance (algebraic identity)
    val bare = ModelBuilder.build(
      Config.parseYaml(yamlFor(bareRidge)), Config.defaultGlobals,
      dottedLong, "tag", "ts", "value", outputDir = s"$tmp/bare",
      projectName = Some("p"))
    val pa = graft.ml.DiffAnomaly.predictFrame(res.fitted, wide, 600L)
      .orderBy($"start").select($"`model-output.plant.tag-a.PV`")
      .as[Double].collect()
    val pb = graft.ml.DiffAnomaly.predictFrame(bare.fitted, wide, 600L)
      .orderBy($"start").select($"`model-output.plant.tag-a.PV`")
      .as[Double].collect()
    pa.zip(pb).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y))) }
  }

  test("top-level Pipeline model keeps its preprocessing prefix") {
    val topLevel =
      """  sklearn.pipeline.Pipeline:
        |    steps:
        |      - sklearn.preprocessing.MinMaxScaler
        |      - gordo.machine.model.models.KerasAutoEncoder:
        |          kind: feedforward_hourglass""".stripMargin
    val tmp = Scratch.dir("graft-toplevel")
    ModelBuilder.build(
      Config.parseYaml(yamlFor(topLevel)), Config.defaultGlobals,
      dottedLong, "tag", "ts", "value", outputDir = s"$tmp/model",
      projectName = Some("p"))
    val modelJson = Files.readString(java.nio.file.Paths.get(s"$tmp/model/model.json"))
    assert(modelJson.contains("\"preprocess\"") && modelJson.contains("\"scaler\""))
  }

  test("scaling changes PCA(1) but not ridge (sanity of the semantics)") {
    val wide = graft.data.TimeSeries.getData(dottedLong, "tag", "ts", "value",
      Config.datasetConfig(Config.machineFromConfig(
        Config.parseYaml(yamlFor(bareRidge)), Some("p"), Config.defaultGlobals)))
    val tags = Seq("plant.tag-a.PV", "plant.tag-b.PV")
    val bare = new graft.ml.DiffAnomaly.PcaReconstructor(1).fit(wide, tags)
    val scaled = new graft.ml.Preprocess.Reconstructor(
      new graft.ml.DiffAnomaly.PcaReconstructor(1),
      List(graft.ml.Preprocess.ScalerSpec("minmax"))).fit(wide, tags)
    val out = wide.select(
      bare.predictCol(tags.head).as("b"),
      scaled.predictCol(tags.head).as("s")).agg(
      max(abs($"b" - $"s")).as("d")).as[Double].head()
    // tags have very different ranges → scaling rotates the principal axis
    assert(out > 1e-3, s"expected PCA(1) to differ under scaling, max|Δ|=$out")
  }

  test("Pipeline[Scaler, PCA] base persists as pca and reloads (review fix)") {
    val pipePca =
      """  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    base_estimator:
        |      sklearn.pipeline.Pipeline:
        |        steps:
        |          - sklearn.preprocessing.MinMaxScaler
        |          - sklearn.decomposition.PCA:
        |              n_components: 1""".stripMargin
    val tmp = Scratch.dir("graft-pipepca")
    val res = ModelBuilder.build(
      Config.parseYaml(yamlFor(pipePca)), Config.defaultGlobals,
      dottedLong, "tag", "ts", "value", outputDir = s"$tmp/model",
      projectName = Some("p"))
    val modelJson = Files.readString(java.nio.file.Paths.get(s"$tmp/model/model.json"))
    assert(modelJson.contains("\"impl\":\"pca\""), "impl must resolve through the Pipeline")
    // the bug: impl persisted as "ridge" with pca params → load crashed
    val wide = graft.data.TimeSeries.getData(dottedLong, "tag", "ts", "value",
      Config.datasetConfig(res.spec))
    val a = graft.ml.DiffAnomaly.anomaly(res.fitted, wide, 600L)
      .orderBy($"start").select($"`total-anomaly-scaled`").as[Double].collect()
    val b = ModelBuilder.score(s"$tmp/model", wide, 600L)
      .orderBy($"start").select($"`total-anomaly-scaled`").as[Double].collect()
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("nested Pipeline in the last slot contributes its prefix (review fix)") {
    val nested = ModelRegistry.compile(Config.parseYaml(
      """sklearn.pipeline.Pipeline:
        |  steps:
        |    - gordo.machine.model.transformers.imputer.InfImputer
        |    - sklearn.pipeline.Pipeline:
        |        steps:
        |          - sklearn.preprocessing.MinMaxScaler
        |          - gordo.machine.model.models.KerasAutoEncoder:
        |              kind: feedforward_hourglass""".stripMargin))
    val prefix = ModelRegistry.basePreprocess(nested)
    assert(prefix == List(ModelRegistry.Imputer("minmax", 2.0),
      ModelRegistry.Scaler("minmax")))
  }

  test("preprocessing refits per fit call on that call's frame (review fix)") {
    val wide = graft.data.TimeSeries.getData(dottedLong, "tag", "ts", "value",
      Config.datasetConfig(Config.machineFromConfig(
        Config.parseYaml(yamlFor(bareRidge)), Some("p"), Config.defaultGlobals)))
    val tags = Seq("plant.tag-a.PV", "plant.tag-b.PV")
    val rec = new graft.ml.Preprocess.Reconstructor(
      new graft.ml.DiffAnomaly.RidgeReconstructor(),
      List(graft.ml.Preprocess.ScalerSpec("minmax")))
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      rec.fit(df, tags) match {
        case pf: graft.ml.Preprocess.PreprocessedFitted =>
          pf.prep.stages.head.asInstanceOf[graft.ml.Preprocess.ScalerStage].stats
        case other => fail(s"expected PreprocessedFitted, got $other")
      }
    val full = statsOf(wide)
    val head = statsOf(wide.orderBy($"bucket_ts").limit(50))
    // the leak: a chain fitted once on the full series would make these
    // equal; per-call refit sees only the train span's range
    assert(full != head)
  }

  test("fitKfcv honors target_tag_list (review fix)") {
    val wide = graft.data.TimeSeries.getData(dottedLong, "tag", "ts", "value",
      Config.datasetConfig(Config.machineFromConfig(
        Config.parseYaml(yamlFor(bareRidge)), Some("p"), Config.defaultGlobals)))
    val fd = graft.ml.DiffAnomaly.fitKfcv(wide,
      Seq("plant.tag-a.PV", "plant.tag-b.PV"), "bucket_ts",
      new graft.ml.DiffAnomaly.RidgeReconstructor(), nSplits = 3, window = 6,
      targetTags = Seq("plant.tag-b.PV"))
    assert(fd.targets == Seq("plant.tag-b.PV"))
    assert(fd.thresholds.featureThresholds.keySet == Set("plant.tag-b.PV"))
    val frame = graft.ml.DiffAnomaly.anomaly(fd, wide, 600L)
    assert(frame.columns.contains("model-input.plant.tag-a.PV"))
    assert(frame.columns.contains("model-output.plant.tag-b.PV"))
    assert(!frame.columns.contains("model-output.plant.tag-a.PV"))
    assert(frame.count() > 0)
  }

  test("scoring_scaler dispatches on the configured class (advice: low)") {
    val wide = Seq((1L, 1.0, 10.0), (2L, 2.0, 20.0), (3L, 4.0, 40.0))
      .toDF("bucket_ts", "a", "b")
    for ((cls, kind) <- Seq(
        "sklearn.preprocessing.MinMaxScaler" -> "minmax",
        "sklearn.preprocessing.RobustScaler" -> "robust"))
      ModelRegistry.compile(cls) match {
        case ModelRegistry.Scaler(k) => assert(k == kind)
        case other => fail(s"$other")
      }
    intercept[ModelRegistry.CompileException] {
      ModelRegistry.compile("sklearn.preprocessing.StandardScaler")
    }
  }

  test("PCA n_components validates at compile time (advice: low)") {
    def pca(v: String) = Config.parseYaml(
      s"sklearn.decomposition.PCA:\n  n_components: $v")
    assert(ModelRegistry.compile(pca("2"))
      == ModelRegistry.Reconstruction("pca", "2"))
    assert(ModelRegistry.compile(pca("0.95"))
      == ModelRegistry.Reconstruction("pca", "0.95"))
    assert(ModelRegistry.compile(pca("null"))
      == ModelRegistry.Reconstruction("pca", "all"))
    intercept[ModelRegistry.CompileException] { ModelRegistry.compile(pca("-1")) }
    intercept[ModelRegistry.CompileException] { ModelRegistry.compile(pca("mle")) }
    // fraction spec picks rank by explained variance at fit time
    val df = Seq((0.0, 0.0), (1.0, 0.1), (2.0, 0.2), (3.0, 0.25), (4.0, 0.45))
      .toDF("x", "y")
    val f = ModelRegistry.reconstructorOf(
      ModelRegistry.compile(pca("0.99")), "x", 0L).fit(df, Seq("x", "y"))
    // x dominates variance; 0.99 needs both components for this data? just
    // assert it fits and reconstructs finitely
    val mx = df.select(max(abs(f.predictCol("x")))).as[Double].head()
    assert(!mx.isNaN && !mx.isInfinite)
  }

  test("preprocess fit fails loudly on an all-null tag (advice r3: low)") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("bucket_ts", "a")
      .withColumn("b", lit(null).cast("double"))
    val e = intercept[IllegalStateException] {
      graft.ml.Preprocess.fitStages(df, Seq("a", "b"),
        List(graft.ml.Preprocess.ScalerSpec("minmax")),
        t => col(s"`$t`").cast("double"))
    }
    assert(e.getMessage.contains("'b'"), e.getMessage)
    // all-non-finite under the imputer's finite mask fails the same way
    val inf = df.withColumn("b", lit(Double.PositiveInfinity))
    val e2 = intercept[IllegalStateException] {
      graft.ml.Preprocess.fitStages(inf, Seq("a", "b"),
        List(graft.ml.Preprocess.ImputerSpec("minmax", 2.0)),
        t => col(s"`$t`").cast("double"))
    }
    assert(e2.getMessage.contains("'b'"), e2.getMessage)
  }

  test("ewmaMulti rejects an unkeyed series past the bound (advice r3)") {
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val ex = intercept[Throwable] {
      graft.ml.Ewma.ewmaMulti(df, Nil, "t", Map("v" -> "e"), span = 3.0,
        maxUnkeyedRows = 5L).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("maxUnkeyedRows")), ex.toString)
    // under the bound the guard is inert
    assert(graft.ml.Ewma.ewmaMulti(df, Nil, "t", Map("v" -> "e"),
      span = 3.0).count() == 10)
  }

  test("FunctionTransformer multiply handles dotted tag names (advice: low)") {
    val df = Seq((1.0, 2.0)).toDF("a.x", "b.y")
    val out = ModelRegistry.fitTransform(df, Seq("a.x", "b.y"),
      ModelRegistry.Multiply(3.0))
    val r = out.select(col("`a.x`"), col("`b.y`")).as[(Double, Double)].head()
    assert(r == ((3.0, 6.0)))
  }

  test("cachedDir sweeps aged-out siblings, spares fresh and unrelated dirs (advice r5)") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val sixHoursAgo = System.currentTimeMillis() - 7L * 3600 * 1000
    val witness = java.io.File.createTempFile("advice-witness", ".bin")
    witness.deleteOnExit()
    Files.write(witness.toPath, Array[Byte](1, 2, 3))
    // an aged-out sibling from a long-dead session...
    val stale = new java.io.File(tmp, "advice-sweep-0123456789abcdef")
    assert(stale.mkdir())
    Files.write(new java.io.File(stale, "payload").toPath, Array[Byte](9))
    assert(stale.setLastModified(sixHoursAgo))
    // ...a FRESH sibling with a different key (a live cache for another
    // witness — e.g. another sf dir in the same session) — must survive
    val fresh = new java.io.File(tmp, "advice-sweep-fedcba9876543210")
    assert(fresh.mkdir())
    // ...and an UNRELATED dir sharing the leading string but not the
    // `<prefix>-<16 hex>` shape — must survive the sweep
    val unrelated = new java.io.File(tmp, "advice-sweep-spec")
    assert(unrelated.mkdir() || unrelated.isDirectory)
    try {
      val d1 = Scratch.cachedDir("advice-sweep", witness.getPath)
      assert(!stale.exists(), "aged-out sibling must be swept")
      assert(fresh.exists(), "fresh sibling (live cache) must be spared")
      assert(unrelated.exists(), "non-key-shaped dir must be spared")
      // re-keying on a modified witness keeps the recent old-key cache
      // (no thrash / no mid-use deletion when witnesses alternate)...
      assert(new java.io.File(d1).mkdir())
      Files.write(witness.toPath, Array[Byte](1, 2, 3, 4))
      witness.setLastModified(witness.lastModified() + 5000)
      Scratch.sweepTimes.remove("advice-sweep") // re-arm the sweep throttle
      val d2 = Scratch.cachedDir("advice-sweep", witness.getPath)
      assert(d2 != d1)
      assert(new java.io.File(d1).exists(),
        "recent old-key cache dir must survive the sweep")
      // ...and sweeps it once it ages out
      assert(new java.io.File(d1).setLastModified(sixHoursAgo))
      Scratch.sweepTimes.remove("advice-sweep") // re-arm the sweep throttle
      Scratch.cachedDir("advice-sweep", witness.getPath)
      assert(!new java.io.File(d1).exists(),
        "aged-out old-key cache dir must be swept")
    } finally {
      fresh.delete()
      unrelated.delete()
      witness.delete()
    }
  }

  test("cachedDir renews the lease of an in-use cache on every access") {
    val witness = java.io.File.createTempFile("advice-lease-w", ".bin")
    Files.write(witness.toPath, Array[Byte](9, 9, 9))
    try {
      val d = new java.io.File(Scratch.cachedDir("advice-lease", witness.getPath))
      assert(d.mkdir() || d.isDirectory)
      // simulate a cache built long ago but still actively read: without
      // lease renewal a sibling session's sweep would delete it mid-read
      val old = System.currentTimeMillis() - 7L * 3600 * 1000
      assert(d.setLastModified(old))
      Scratch.cachedDir("advice-lease", witness.getPath) // a read access
      assert(d.lastModified > old + 3600 * 1000,
        "read access must refresh lastModified so the cache keeps its lease")
      d.delete()
    } finally witness.delete()
  }

  test("cachedDir keys a DIRECTORY witness by its file contents (lake layout)") {
    // the directory-per-table lake layout resolves through Tables, so a
    // cachedDir witness can be a partitioned directory — its identity
    // must re-key when any part file changes, and stay stable otherwise
    val w = new java.io.File(Scratch.dir("advice-dirw"))
    try {
      val part = new java.io.File(w, "event_date=2024-01-01")
      assert(part.mkdir())
      val f = new java.io.File(part, "part-0.parquet")
      Files.write(f.toPath, Array[Byte](1, 2, 3))
      val d1 = Scratch.cachedDir("advice-dirw", w.getPath)
      assert(d1 == Scratch.cachedDir("advice-dirw", w.getPath),
        "unchanged directory witness must keep its key")
      Files.write(f.toPath, Array[Byte](1, 2, 3, 4)) // length change
      val d2 = Scratch.cachedDir("advice-dirw", w.getPath)
      assert(d1 != d2, "a rewritten part file must re-key the cache")
      new java.io.File(d1).delete(); new java.io.File(d2).delete()
    } finally {
      val walk = Files.walk(w.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p): Unit)
      finally walk.close()
    }
  }

  test("Tables.witness resolves the lake directory when present, else the single file") {
    val root = new java.io.File(Scratch.dir("advice-witness"))
    try {
      assert(Tables.witness(root.getPath, "events")
        == s"${root.getPath}/events.parquet")
      assert(new java.io.File(root, "events").mkdir())
      assert(Tables.witness(root.getPath, "events")
        == new java.io.File(root, "events").toString)
    } finally {
      new java.io.File(root, "events").delete(); root.delete()
    }
  }

  test("ridgeBuildFrameSql rejects identifier-unsafe and colliding tags") {
    import graft.operators.AnomalyQueries.ridgeBuildFrameSql
    // the safe call sites still work
    assert(ridgeBuildFrameSql("click", "view").nonEmpty)
    // a tag colliding with a template binding would silently shadow it
    // inside the generated SQL — must throw instead
    for (bad <- Seq("tag", "v", "rn", "src", "bucket_ts", "TAG")) {
      val e = intercept[IllegalArgumentException] {
        ridgeBuildFrameSql(bad, "view")
      }
      assert(e.getMessage.contains("collides"), s"$bad: ${e.getMessage}")
    }
    // non-identifier tags (dots, quotes, spaces) can't interpolate
    for (bad <- Seq("a.b", "a b", "a'b", "a\"b", "1abc", "")) {
      val e = intercept[IllegalArgumentException] {
        ridgeBuildFrameSql(bad, "view")
      }
      assert(e.getMessage.contains("identifier-safe"), s"$bad: ${e.getMessage}")
    }
    // identical pair rejected
    intercept[IllegalArgumentException] { ridgeBuildFrameSql("x", "x") }
  }
}
