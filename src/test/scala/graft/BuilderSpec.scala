package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{ModelBuilder, Persistence, Serving}
import graft.config.Config

/** End-to-end build: YAML machine config → dataset assembly → CV fit →
  * save → load → score, plus cache-key semantics (the `local_build`
  * pattern of `gordo/builder/local_build.py:14-70`). */
class BuilderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two-tag long frame: 200 x 10-min points per tag from 2024-01-01. */
  private def longFrame = {
    val t0 = 1704067200L
    val rows = for {
      tag <- Seq("tag-a", "tag-b"); i <- 0 until 200
    } yield (tag, t0 + i * 600L,
      if (tag == "tag-a") 10.0 + i * 0.1 else 30.0 + i * 0.2)
    rows.toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
  }

  private val machineYaml =
    """
      |name: builder-test-machine
      |dataset:
      |  tag_list: [tag-a, tag-b]
      |  resolution: 10T
      |  train_start_date: 2024-01-01T00:00:00Z
      |  train_end_date: 2024-01-03T00:00:00Z
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

  test("a null entry in evaluation.metrics rejects on contract (r13)") {
    // `metrics: [r2_score, ~]` was an anonymous NPE from _.toString in
    // the fold-metric parse — same hole class as the tag-list fix
    val tmp = Scratch.dir("graft-build-nullmetric")
    val yaml = machineYaml + "  metrics: [r2_score, ~]\n"
    val e = intercept[graft.config.ModelRegistry.CompileException](
      ModelBuilder.build(
        Config.parseYaml(yaml), globals = Config.defaultGlobals,
        long = longFrame, keyCol = "tag", tsCol = "ts", valueCol = "value",
        outputDir = s"$tmp/model", projectName = Some("test-project")))
    assert(e.getMessage.contains("null"))
  }

  test("build -> save -> load -> score round-trips exactly") {
    val tmp = Scratch.dir("graft-build")
    val res = ModelBuilder.build(
      Config.parseYaml(machineYaml), globals = Config.defaultGlobals,
      long = longFrame, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = s"$tmp/model", registryDir = Some(s"$tmp/registry"),
      projectName = Some("test-project"))
    assert(!res.fromCache)
    assert(res.metadata("cache_key").toString.length == 128)
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/model/model.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/model/info.json")))
    // model dir files are STRICT JSON (no bare NaN/Infinity tokens)
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
    for (f <- Seq("model.json", "metadata.json", "info.json"))
      strict.readTree(new java.io.File(s"$tmp/model/$f"))

    // loaded model scores identically to the in-memory one
    val wide = graft.data.TimeSeries.getData(longFrame, "tag", "ts", "value",
      Config.datasetConfig(Config.machineFromConfig(
        Config.parseYaml(machineYaml), Some("test-project"),
        Config.defaultGlobals)))
    val inMem = graft.ml.DiffAnomaly.anomaly(res.fitted, wide, 600L)
    val scored = ModelBuilder.score(s"$tmp/model", wide, 600L)
    assert(scored.count() == wide.count())
    val a = inMem.orderBy($"start").select($"`total-anomaly-scaled`")
      .as[Double].collect()
    val b = scored.orderBy($"start").select($"`total-anomaly-scaled`")
      .as[Double].collect()
    a.zip(b).foreach { case (x, y) => assert(x == y) }

    // second build hits the cache
    val res2 = ModelBuilder.build(
      Config.parseYaml(machineYaml), Config.defaultGlobals,
      longFrame, "tag", "ts", "value",
      outputDir = s"$tmp/model2", registryDir = Some(s"$tmp/registry"),
      projectName = Some("test-project"))
    assert(res2.fromCache)
    // the hit is materialized into the REQUESTED dir
    assert(res2.modelDir == s"$tmp/model2")
    assert(Files.readString(java.nio.file.Paths.get(s"$tmp/model/model.json"))
      == Files.readString(java.nio.file.Paths.get(s"$tmp/model2/model.json")))
  }

  test("predict emits model-input/output only and agrees with score") {
    val tmp = Scratch.dir("graft-pred")
    val res = ModelBuilder.build(
      Config.parseYaml(machineYaml), Config.defaultGlobals,
      longFrame, "tag", "ts", "value", outputDir = s"$tmp/model",
      projectName = Some("test-project"))
    val wide = graft.data.TimeSeries.getData(longFrame, "tag", "ts", "value",
      Config.datasetConfig(res.spec))
    val pred = ModelBuilder.predict(s"$tmp/model", wide, 600L)
    assert(pred.columns.toSet == Set("start", "end",
      "model-input.tag-a", "model-input.tag-b",
      "model-output.tag-a", "model-output.tag-b"))
    val scored = ModelBuilder.score(s"$tmp/model", wide, 600L)
    val a = pred.orderBy($"start").select($"`model-output.tag-a`")
      .as[Double].collect()
    val b = scored.orderBy($"start").select($"`model-output.tag-a`")
      .as[Double].collect()
    a.zip(b).foreach { case (x, y) => assert(x == y) }

    // duplicate timestamps in a client frame reject loudly: Spark gives
    // tied rows no defined order, so the smooth/lag outputs would be
    // silently run-dependent (pandas' duplicate index rows keep their
    // positional order — that notion does not exist here)
    val dup = wide.limit(1).union(wide)
    val e = intercept[IllegalArgumentException] {
      ModelBuilder.score(s"$tmp/model", dup, 600L)
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  /** A closed-form 4-tag model over 200 x 10-min points, and 144-row
    * request frames for it in the three forms a client can send: local
    * rows, local rows behind `Serving.verifyColumns`, and a parquet scan.
    * The serve guard checks the first two on the driver and the third
    * with a Spark aggregate. */
  private object Serve {
    val tags = Seq("tag-a", "tag-b", "tag-c", "tag-d")
    private val t0 = 1704067200L
    val dir: String = {
      val tmp = Scratch.dir("graft-serve-guard")
      val long = (for { (tag, k) <- tags.zipWithIndex; i <- 0 until 200 }
        yield (tag, t0 + i * 600L, 10.0 * (k + 1) + math.sin(i * 0.1 + k) * (k + 1)))
        .toDF("tag", "epoch", "value")
        .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
      ModelBuilder.build(Config.parseYaml(machineYaml.replace(
          "tag_list: [tag-a, tag-b]", tags.mkString("tag_list: [", ", ", "]"))),
        Config.defaultGlobals, long, "tag", "ts", "value",
        outputDir = s"$tmp/model", projectName = Some("test-project"),
        closedForm = true).modelDir
    }
    private val schema = StructType(StructField("bucket_ts", LongType) +:
      tags.map(StructField(_, DoubleType, nullable = false)))
    /** 144 rows after the training window; `ts(i)` overrides row i's
      * bucket_ts. */
    def rows(ts: PartialFunction[Int, java.lang.Long] = PartialFunction.empty)
        : java.util.List[Row] =
      (0 until 144).map { i =>
        val t = ts.applyOrElse(i, (_: Int) => java.lang.Long.valueOf(t0 + (200 + i) * 600L))
        Row.fromSeq(t +: tags.indices.map(k => 10.0 * (k + 1) + math.cos(i * 0.2 + k)))
      }.asJava
    def local(r: java.util.List[Row]): DataFrame = spark.createDataFrame(r, schema)
    def verified(r: java.util.List[Row]): DataFrame =
      Serving.verifyColumns(local(r), tags, orderCol = Some("bucket_ts"))
    def distributed(r: java.util.List[Row]): DataFrame = {
      val path = s"${Scratch.dir("graft-serve-guard-frame")}/frame.parquet"
      local(r).write.parquet(path)
      spark.read.parquet(path)
    }
    val forms: Seq[(String, java.util.List[Row] => DataFrame)] = Seq(
      "local" -> local, "verified" -> verified, "distributed" -> distributed)
    val cache = new Serving.ModelCache(2)
    val entries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "score" -> (df => ModelBuilder.score(dir, df, 600L)),
      "scoreCached" -> (df => ModelBuilder.scoreCached(cache, dir, df, 600L)),
      "predict" -> (df => ModelBuilder.predict(dir, df, 600L)))
  }

  test("the duplicate-timestamp guard agrees on driver-local and distributed frames") {
    val unique = Serve.rows()
    // both guard paths are exercised: the local forms optimize to a
    // LocalRelation, the parquet scan does not
    assert(Serve.forms.map { case (_, f) =>
      f(unique).select($"bucket_ts").queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    } == Seq(true, true, false))
    val repeatTs = 1704067200L + 210 * 600L
    val rejected = Seq(
      s"(e.g. $repeatTs)" -> Serve.rows { case 100 => repeatTs },
      "(e.g. null)" -> Serve.rows { case 7 | 90 => null })
    // one message on both paths: the frames hold a single repeated value,
    // so even the `e.g.` example agrees
    for ((example, rows) <- rejected) {
      val messages = for ((form, f) <- Serve.forms; (entry, serve) <- Serve.entries)
        yield s"$entry on $form: " +
          intercept[IllegalArgumentException](serve(f(rows)).collect()).getMessage
      for (m <- messages) {
        assert(m.contains("serve frame has duplicate bucket_ts values"), m)
        assert(m.contains(example), m)
      }
      assert(messages.map(_.dropWhile(_ != ':')).distinct.size == 1, messages)
    }
    // the unique frame is accepted on both paths and scores identically
    for ((entry, serve) <- Serve.entries) {
      val scored = Serve.forms.map { case (_, f) =>
        serve(f(unique)).collect().sortBy(_.getAs[Long]("start")).toSeq }
      assert(scored.head.size == 144, entry)
      assert(scored.forall(_ == scored.head), entry)
    }
  }

  test("a driver-local request frame is scored without a Spark job") {
    val frame = Serve.verified(Serve.rows())
    for ((entry, serve) <- Serve.entries.filter(_._1 != "score")) {
      val (rows, c) = ExecCounts.during(spark.sparkContext)(serve(frame).collect())
      assert(rows.length == 144, entry)
      assert(c.jobs == 0, s"$entry on a driver-local frame ran ${c.jobs} jobs")
    }
    // control: the same recorder does see a body's job, so the zero
    // above is a reading, not a blind spot
    val (n, control) = ExecCounts.during(spark.sparkContext)(spark.range(2).count())
    assert(n == 2)
    assert(control.jobs >= 1, "the control job must be counted")
  }

  test("a registry cache hit materializes the model in the REQUESTED dir") {
    val tmp = Scratch.dir("graft-cachemat")
    val reg = Some(s"$tmp/registry")
    def run(out: String) = ModelBuilder.build(
      Config.parseYaml(machineYaml), globals = Config.defaultGlobals,
      long = longFrame, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = out, registryDir = reg, projectName = Some("test-project"))
    val r1 = run(s"$tmp/runA/model")
    assert(!r1.fromCache)
    // second run into a DIFFERENT output root: the hit must land a
    // bit-identical copy there — callers address the model by the dir
    // they asked for, and the registry's dir may not outlive this run
    val r2 = run(s"$tmp/runB/model")
    assert(r2.fromCache)
    assert(r2.modelDir == s"$tmp/runB/model")
    for (f <- Seq("model.json", "metadata.json", "info.json")) {
      val a = java.nio.file.Paths.get(s"$tmp/runA/model/$f")
      val b = java.nio.file.Paths.get(s"$tmp/runB/model/$f")
      assert(Files.exists(b), f)
      assert(Files.readString(a) == Files.readString(b), f)
    }
    // a CORRUPT registered artifact is a cache MISS that self-heals by
    // rebuilding — not a hit that fails every later build of this spec
    // at load time until someone clears the registry by hand
    val regModel = java.nio.file.Paths.get(s"$tmp/runA/model/model.json")
    Files.writeString(regModel, Files.readString(regModel) + " ")
    val r3 = run(s"$tmp/runC/model")
    assert(!r3.fromCache, "corrupt cached artifact must rebuild, not hit")
    // the rebuild re-registered an intact artifact: the next run hits it
    val r4 = run(s"$tmp/runD/model")
    assert(r4.fromCache)
  }

  test("evaluation.cv compiles strictly instead of silently defaulting") {
    val tmp = Scratch.dir("graft-cvstrict")
    def build(cvBlock: String) = ModelBuilder.build(
      Config.parseYaml(machineYaml.replace(
        "    sklearn.model_selection.TimeSeriesSplit:\n      n_splits: 3",
        cvBlock)),
      globals = Config.defaultGlobals,
      long = longFrame, keyCol = "tag", tsCol = "ts", valueCol = "value",
      outputDir = s"$tmp/m-${cvBlock.hashCode}",
      projectName = Some("test-project"))
    // a configured KFold must not silently run 3 time-series folds
    intercept[graft.config.ModelRegistry.CompileException] {
      build("    sklearn.model_selection.KFold:\n      n_splits: 5")
    }
    // a cv that compiles to a non-splitter stage is a config error too
    intercept[graft.config.ModelRegistry.CompileException] {
      build("    sklearn.preprocessing.MinMaxScaler: {}")
    }
    // the configured n_splits is actually honored
    val r = build("    sklearn.model_selection.TimeSeriesSplit:\n      n_splits: 4")
    assert(r.fitted.folds.size == 4)
  }

  test("a registry hit closes the pre-assembled lease (advice b)") {
    // a pre-assembled frame whose reference is already held (the
    // threshold count's lease) reaches a build whose model the registry
    // already holds: the hit returns early, and must still close the
    // lease — or the assembly stays cached for the session
    import org.apache.spark.storage.StorageLevel
    val tmp = Scratch.dir("graft-build-prelease")
    val spec = Config.machineFromConfig(Config.parseYaml(machineYaml.replace(
      "  resolution: 10T\n", "  resolution: 10T\n  n_samples_threshold: 10\n")),
      Some("test-project"), Config.defaultGlobals)
    assert(Config.datasetConfig(spec).nSamplesThreshold == 10)
    def build(pre: Option[SessionCache.Lease]) = ModelBuilder.buildSpec(spec,
      longFrame, "tag", "ts", "value", outputDir = s"$tmp/model",
      registryDir = Some(s"$tmp/registry"), closedForm = true,
      preAssembled = pre)
    assert(!build(None).fromCache)
    val lease = graft.data.TimeSeries.dataLease(longFrame, "tag", "ts", "value",
      Config.datasetConfig(spec))
    assert(SessionCache.isRegistered(lease.df))
    assert(build(Some(lease)).fromCache)
    assert(!SessionCache.isRegistered(lease.df),
      "the registry hit must return the pre-assembled reference")
    assert(lease.df.storageLevel == StorageLevel.NONE,
      "the registry hit must unpersist the pre-assembled frame")
  }

  test("cache key is stable and config-sensitive") {
    val spec = Config.machineFromConfig(Config.parseYaml(machineYaml),
      Some("p"), Config.defaultGlobals)
    val k1 = Persistence.cacheKey(spec)
    val k2 = Persistence.cacheKey(spec)
    assert(k1 == k2 && k1.length == 128)
    val spec2 = spec.copy(dataset = spec.dataset + ("resolution" -> "1H"))
    assert(Persistence.cacheKey(spec2) != k1)
  }

  test("score drops smooth columns unless allColumns (P8)") {
    val tmp = Scratch.dir("graft-smooth")
    val yamlSmooth = machineYaml.replace("kind: feedforward_hourglass",
      "kind: feedforward_hourglass\n    window: 12\n    smoothing_method: sma")
    val res = ModelBuilder.build(
      Config.parseYaml(yamlSmooth), Config.defaultGlobals,
      longFrame, "tag", "ts", "value", outputDir = s"$tmp/model",
      projectName = Some("test-project"))
    val wide = graft.data.TimeSeries.getData(longFrame, "tag", "ts", "value",
      Config.datasetConfig(res.spec))
    val noSmooth = ModelBuilder.score(s"$tmp/model", wide, 600L)
    assert(!noSmooth.columns.exists(_.startsWith("smooth-")))
    val all = ModelBuilder.score(s"$tmp/model", wide, 600L, allColumns = true)
    assert(all.columns.exists(_.startsWith("smooth-")))
  }
}
