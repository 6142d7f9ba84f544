package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{Config, ModelRegistry}
import graft.config.ModelRegistry._

/** Golden tests mirroring `tests/gordo/workflow/test_config_elements.py:
  * 92-230`: machine-from-config assembly with globals overlay, and the
  * compile/into_definition round-trip. */
class ConfigSpec extends AnyFunSuite {

  private val machineYaml =
    """
      |name: ct-23-0001-machine
      |dataset:
      |  tags: [GRA-TE  -23-0733.PV, GRA-TT  -23-0719.PV, GRA-YE  -23-0751X.PV]
      |  target_tag_list: [GRA-TE -123-456]
      |  train_start_date: 2018-01-01T09:00:30Z
      |  train_end_date: 2018-01-02T09:00:30Z
      |  filter_periods:
      |    filter_method: "median"
      |    n_iqr: 1
      |    window: 72
      |model:
      |  sklearn.pipeline.Pipeline:
      |    steps:
      |      - sklearn.preprocessing.MinMaxScaler
      |      - gordo.machine.model.models.KerasAutoEncoder:
      |          kind: feedforward_hourglass
      |evaluation:
      |  scoring_scaler: null
      |metadata:
      |  id: special-id
      |""".stripMargin

  private val globalsYaml =
    """
      |dataset:
      |  asset: global-asset
      |runtime:
      |  server:
      |    resources:
      |      requests: {cpu: 2, memory: 1}
      |""".stripMargin

  test("machine assembly merges globals with the reference's semantics") {
    val m = Config.machineFromConfig(
      Config.parseYaml(machineYaml),
      projectName = Some("test-project-name"),
      globals = Config.patchDict(Config.defaultGlobals,
        Config.parseYaml(globalsYaml)))
    assert(m.name == "ct-23-0001-machine")
    assert(m.projectName == "test-project-name")
    // globals PATCH the machine dataset (reference asymmetry)
    assert(m.dataset("asset") == "global-asset")
    assert(m.dataset("tags").asInstanceOf[List[String]].size == 3)
    assert(m.dataset("filter_periods").asInstanceOf[Map[String, Any]]("window") == 72)
    // machine evaluation patches globals: scoring_scaler overridden to null
    assert(m.evaluation("scoring_scaler") == null)
    assert(m.evaluation("metrics").asInstanceOf[List[String]] ==
      List("explained_variance_score", "r2_score",
        "mean_squared_error", "mean_absolute_error"))
    assert(m.evaluation("cv_mode") == "full_build")
    assert(m.runtime.asInstanceOf[Map[String, Any]]("server")
      .asInstanceOf[Map[String, Any]]("resources")
      .asInstanceOf[Map[String, Any]]("requests") == Map("cpu" -> 2, "memory" -> 1))
    assert(m.metadata("machine-metadata") == Map("id" -> "special-id"))
  }

  test("yaml-in-yaml string fields are re-parsed (loader.py:38-52)") {
    val cfg = Map[String, Any](
      "name" -> "m1",
      "model" -> "{sklearn.preprocessing.MinMaxScaler: {}}",
      "dataset" -> "{tag_list: [a, b]}")
    val m = Config.machineFromConfig(cfg, Some("p1"))
    assert(m.dataset("tag_list") == List("a", "b"))
    assert(m.model.contains("sklearn.preprocessing.MinMaxScaler"))
  }

  test("validation rejects bad names and reversed dates") {
    val base = Map[String, Any]("name" -> "ok-name",
      "model" -> Map("sklearn.preprocessing.MinMaxScaler" -> null))
    intercept[Config.ConfigException] {
      Config.machineFromConfig(base + ("name" -> "Bad_Name"), Some("p"))
    }
    intercept[Config.ConfigException] {
      Config.machineFromConfig(base + ("name" -> "x" * 64), Some("p"))
    }
    intercept[Config.ConfigException] {
      Config.machineFromConfig(base + ("dataset" -> Map(
        "train_start_date" -> "2020-01-02T00:00:00Z",
        "train_end_date" -> "2020-01-01T00:00:00Z")), Some("p"))
    }
    intercept[Config.ConfigException] {
      Config.machineFromConfig(base, None) // no project name
    }
  }

  test("known_filter_periods normalize unquoted YAML timestamps like train dates") {
    // unquoted ISO timestamps arrive from snakeyaml as java.util.Date,
    // whose raw toString ("Fri Jan 05 ...") is not Spark-castable —
    // dropKnownPeriods' cast would go null and silently drop EVERY row;
    // the config layer must hand Spark the same ISO-instant strings the
    // train dates get
    val yaml =
      """
        |name: periods-machine
        |dataset:
        |  tag_list: [a, b]
        |  train_start_date: 2024-01-01T00:00:00Z
        |  train_end_date: 2024-02-01T00:00:00Z
        |  known_filter_periods: [[2024-01-05T00:00:00Z, 2024-01-06T12:00:00Z]]
        |model:
        |  sklearn.preprocessing.MinMaxScaler: {}
        |""".stripMargin
    val dc = Config.datasetConfig(
      Config.machineFromConfig(Config.parseYaml(yaml), Some("p")))
    assert(dc.knownFilterPeriods ==
      Seq(("2024-01-05T00:00:00Z", "2024-01-06T12:00:00Z")))
    // a quoted NAIVE period fails the F5 tz contract loudly, like dates
    val naive = yaml.replace("[[2024-01-05T00:00:00Z, 2024-01-06T12:00:00Z]]",
      """[["2024-01-05 00:00:00", "2024-01-06 12:00:00"]]""")
    intercept[Config.ConfigException] {
      Config.datasetConfig(
        Config.machineFromConfig(Config.parseYaml(naive), Some("p")))
    }
  }

  test("aggregation_methods accepts string and one-element list, rejects the multi list loudly") {
    def dc(agg: String) = Config.datasetConfig(Config.machineFromConfig(
      Config.parseYaml(
        s"""name: m
           |dataset:
           |  tag_list: [a, b]
           |  aggregation_methods: $agg
           |model:
           |  sklearn.preprocessing.MinMaxScaler: {}
           |""".stripMargin), Some("p")))
    assert(dc("max").aggregationMethod == "max")
    // one-element list = the scalar in pandas spelling
    assert(dc("[max]").aggregationMethod == "max")
    // the multi list previously stringified to "List(mean, max)" and
    // surfaced as `unsupported aggregation: List(mean, max)` deep inside
    // getData — the bridge must name the limitation (and the
    // resampleMulti escape hatch) at parse time
    val e = intercept[Config.ConfigException] { dc("[mean, max]") }
    assert(e.getMessage.contains("resampleMulti"), e.getMessage)
  }

  test("empty or comments-only YAML parses to an empty config, not null") {
    assert(Config.parseYaml("") == Map.empty)
    assert(Config.parseYaml("# just a comment\n") == Map.empty)
  }

  test("recursive YAML aliases reject loudly; non-cyclic alias reuse still parses") {
    // snakeyaml composes *alias as a SHARED object, so a self-reference
    // is a cyclic graph — the raw conversion died with an anonymous
    // StackOverflowError on user input (ConfigFuzzProps finding)
    val e1 = intercept[Config.ConfigException] {
      Config.parseYaml("a: &a [*a]")
    }
    assert(e1.getMessage.contains("recursive"), e1.getMessage)
    intercept[Config.ConfigException] {
      Config.parseYaml("a: &x\n  b: *x")
    }
    // the legitimate idiom — one anchored fragment referenced twice
    // (a DAG, not a cycle) — must keep working
    val ok = Config.parseYaml("base: &b\n  x: 1\nleft: *b\nright: *b")
    assert(ok("left") == Map("x" -> 1) && ok("right") == Map("x" -> 1))
  }

  test("a YAML null key rejects loudly instead of NPE") {
    // bare `?` is YAML's null-key complex-mapping form — legal YAML,
    // never a usable config key (ConfigFuzzProps found the NPE); other
    // spellings may die earlier inside snakeyaml's parser, which is an
    // equally loud contract reject
    val e = intercept[Config.ConfigException](Config.parseYaml("?"))
    assert(e.getMessage.contains("null key"), e.getMessage)
    assert(intercept[Config.ConfigException](Config.parseYaml("~: v"))
      .getMessage.contains("null key"))
    for (bad <- Seq("? : v", "a:\n  ? : 1"))
      assert(intercept[RuntimeException](Config.parseYaml(bad)) match {
        case _: Config.ConfigException => true
        case _: org.yaml.snakeyaml.error.YAMLException => true
        case other => fail(s"non-contract escape for '$bad': $other")
      })
  }

  test("YAML merge keys, duplicate keys, aliases and 1.1 scalars reach the bridge resolved") {
    // deterministic pins beside the YAML-text fuzz (ConfigFuzzProps):
    // the bridge depends on snakeyaml resolving these BEFORE toScala —
    // merge keys flatten with machine-side override precedence,
    // duplicate mapping keys are last-wins, underscore/hex ints arrive
    // as Integers, and an anchored list aliased into two slots is the
    // same logical value in both
    val doc =
      """base: &base
        |  tags: &t [TAG-1, TAG-2]
        |  resolution: 1H
        |name: m1
        |project_name: p
        |dataset:
        |  <<: *base
        |  type: RandomDataset
        |  row_filter_buffer_size: 9
        |dataset:
        |  <<: *base
        |  resolution: 10T
        |  target_tag_list: *t
        |  row_filter_buffer_size: 1_000
        |  n_samples_threshold: 0x10
        |model: {sklearn.preprocessing.MinMaxScaler: {}}""".stripMargin
    val spec = Config.machineFromConfig(Config.parseYaml(doc), None, Map.empty)
    val ds = Config.datasetConfig(spec)
    assert(ds.tags == Seq("TAG-1", "TAG-2"), "merge key must flatten the base")
    assert(ds.targetTags == Seq("TAG-1", "TAG-2"), "alias reuse resolves")
    assert(ds.resolution == "10T",
      "the machine-side key overrides the merged base; duplicate dataset is last-wins")
    assert(ds.rowFilterBufferSize == 1000, "YAML 1.1 underscore int")
    assert(ds.nSamplesThreshold == 16L, "YAML 1.1 hex int")
  }

  test("datasetConfig applies the documented defaults") {
    val m = Config.machineFromConfig(Config.parseYaml(machineYaml), Some("p"))
    val dc = Config.datasetConfig(m)
    assert(dc.resolution == "10T")
    assert(dc.aggregationMethod == "mean")
    assert(dc.interpolationMethod == "linear_interpolation")
    assert(dc.interpolationLimit == "48H")
    assert(dc.rowFilterBufferSize == 0 && dc.nSamplesThreshold == 0)
    assert(dc.trainStart.contains("2018-01-01T09:00:30Z")
      || dc.trainStart.isDefined) // snakeyaml may normalize the form
  }

  test("patchDict matches the reference doctest examples") {
    assert(Config.patchDict(
      Map("highKey" -> Map("lowkey1" -> 1, "lowkey2" -> 2)),
      Map("highKey" -> Map("lowkey1" -> 10)))
      == Map("highKey" -> Map("lowkey1" -> 10, "lowkey2" -> 2)))
    assert(Config.patchDict(
      Map("highKey" -> Map("lowkey1" -> 1, "lowkey2" -> 2)),
      Map("highKey" -> Map("lowkey3" -> 3)))
      == Map("highKey" -> Map("lowkey1" -> 1, "lowkey2" -> 2, "lowkey3" -> 3)))
    assert(Config.patchDict(
      Map("highKey" -> Map("lowkey1" -> 1, "lowkey2" -> 2)),
      Map("highKey2" -> 4))
      == Map("highKey" -> Map("lowkey1" -> 1, "lowkey2" -> 2), "highKey2" -> 4))
  }

  test("model compiler handles the reference pipeline and round-trips") {
    val m = Config.machineFromConfig(Config.parseYaml(machineYaml), Some("p"))
    val compiled = ModelRegistry.compile(m.model)
    compiled match {
      // the reference's default kind trains the real in-house MLP; the
      // closed-form ridge is only ever an EXPLICIT substitution
      // (ModelRegistry.substituteClosedForm, recorded in metadata)
      case PipelineOf(List(Scaler("minmax"), Reconstruction("mlp", kind))) =>
        assert(kind == "feedforward_hourglass")
      case other => fail(s"unexpected compile result: $other")
    }
    // the closed-form rewrite swaps exactly the estimator family
    ModelRegistry.substituteClosedForm(compiled) match {
      case PipelineOf(List(Scaler("minmax"),
          Reconstruction("ridge", "feedforward_hourglass"))) => ()
      case other => fail(s"unexpected substitution result: $other")
    }
    // into_definition → compile is a fixpoint
    assert(ModelRegistry.compile(ModelRegistry.intoDefinition(compiled))
      == compiled)
  }

  test("detector definitions compile with defaults and nested estimators") {
    val d = ModelRegistry.compile(Config.parseYaml(
      """
        |gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |  base_estimator:
        |    gordo.machine.model.models.KerasAutoEncoder:
        |      kind: feedforward_symmetric
        |  scaler: sklearn.preprocessing.RobustScaler
        |  window: 144
        |  smoothing_method: sma
        |""".stripMargin))
    d match {
      // every feedforward kind compiles to the in-house MLP autoencoder
      // (SURVEY §7.3(b))
      case Detector(Reconstruction("mlp", "feedforward_symmetric"),
          Scaler("robust"), Some(144), Some("sma"), false) => ()
      case other => fail(s"unexpected: $other")
    }
    assert(ModelRegistry.detectorOf(d).isDefined)
    // unsupported class paths are rejected, not reflected
    intercept[ModelRegistry.CompileException] {
      ModelRegistry.compile(Map("os.system" -> Map("cmd" -> "x")))
    }
  }

  test("FeatureUnion composes branch columns over the same rows") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0)).toDF("a", "b")
    val st = ModelRegistry.compile(Config.parseYaml(
      """
        |sklearn.pipeline.FeatureUnion:
        |  transformer_list:
        |    - sklearn.preprocessing.MinMaxScaler
        |    - sklearn.preprocessing.FunctionTransformer:
        |        func: gordo.machine.model.transformer_funcs.general.multiply_by
        |        kw_args: {factor: 2.0}
        |""".stripMargin))
    val out = ModelRegistry.fitTransform(df, Seq("a", "b"), st)
    assert(out.columns.toSet ==
      Set("a", "b", "a__b0", "b__b0", "a__b1", "b__b1"))
    val r = out.orderBy($"a").collect()
    assert(r.map(_.getAs[Double]("a__b0")).toSeq == Seq(0.0, 0.5, 1.0))
    assert(r.map(_.getAs[Double]("a__b1")).toSeq == Seq(2.0, 4.0, 6.0))
  }

  test("null config values reject with contract exceptions, never NPE") {
    // the ×30 hammer's falsified draw (seed 50RnwjfOyc…, shrunk): a null
    // element inside dataset.tags NPE'd in datasetConfig's `_.toString`.
    // Pin the exact counterexample, then each sibling null hole the fix
    // closed — every one must reject with the CONTRACT exception types
    // (ConfigException / CompileException / IllegalArgumentException),
    // never NPE (the config layer is the outermost user-facing surface).
    import graft.config.{Config, ModelRegistry}
    val model = Map("sklearn.pipeline.Pipeline" ->
      Map("steps" -> List("sklearn.preprocessing.MinMaxScaler")))
    val counterexample = Map[String, Any](
      "name" -> "m1", "project_name" -> "p", "model" -> model,
      "dataset" -> Map("tags" -> List("~", null, -837),
        "scoring_scaler" -> Map("runtime" -> null,
          "sklearn.pipeline.Pipeline" -> "AERrFIgz")))
    val spec = Config.machineFromConfig(counterexample, None, Map.empty)
    val e = intercept[Config.ConfigException](Config.datasetConfig(spec))
    assert(e.getMessage.contains("null"))
    // a numeric tag (unquoted YAML scalar) still stringifies — only
    // null rejects
    def ds(extra: (String, Any)*): Config.MachineSpec =
      Config.machineFromConfig(Map[String, Any]("name" -> "m1",
        "project_name" -> "p", "model" -> model,
        "dataset" -> (Map[String, Any]("tags" -> List("a", "b")) ++ extra)),
        None, Map.empty)
    assert(Config.datasetConfig(Config.machineFromConfig(
      Map[String, Any]("name" -> "m1", "project_name" -> "p",
        "model" -> model,
        "dataset" -> Map("tags" -> List("a", -837))), None, Map.empty))
      .tags == Seq("a", "-837"))
    // sibling holes: explicit-null numerics/strings take the default or
    // reject — never NPE
    intercept[Config.ConfigException](
      Config.datasetConfig(ds("target_tag_list" -> List("a", null))))
    assert(Config.datasetConfig(ds("row_filter_buffer_size" -> null))
      .rowFilterBufferSize == 0)
    assert(Config.datasetConfig(ds("n_samples_threshold" -> null))
      .nSamplesThreshold == 0L)
    assert(Config.datasetConfig(ds("resolution" -> null))
      .resolution == "10T")
    intercept[Config.ConfigException](
      Config.datasetConfig(ds("aggregation_methods" -> List(null))))
    intercept[Config.ConfigException](Config.machineFromConfig(
      Map[String, Any]("name" -> "m1", "project_name" -> null,
        "model" -> model), None, Map.empty))
    // ModelRegistry: explicit-null kwargs take the default (kind,
    // strategy, n_splits) or reject via num(null) — never NPE
    assert(ModelRegistry.compile(Map(
      "gordo.machine.model.models.KerasAutoEncoder" ->
        Map("kind" -> null))) ==
      ModelRegistry.Reconstruction("mlp", "feedforward_hourglass"))
    assert(ModelRegistry.compile(Map(
      "sklearn.model_selection.KFold" -> Map("n_splits" -> null))) ==
      ModelRegistry.CvSplit("kfold", 5))
    assert(ModelRegistry.compile(Map(
      "gordo.machine.model.transformers.imputer.InfImputer" ->
        Map("strategy" -> null, "delta" -> null))) ==
      ModelRegistry.Imputer("minmax", 2.0))
    intercept[ModelRegistry.CompileException](ModelRegistry.compile(Map(
      "sklearn.preprocessing.FunctionTransformer" -> Map(
        "func" -> "gordo.machine.model.transformer_funcs.general.multiply_by",
        "kw_args" -> Map("factor" -> null)))))
    intercept[ModelRegistry.CompileException](ModelRegistry.compile(Map(
      "sklearn.preprocessing.FunctionTransformer" -> Map("func" -> null))))
  }

  test("null/scalar resource and project blocks reject on contract") {
    // follow-up sweep of the same hole class on the remaining user-YAML
    // surfaces: fixupResources and Project.parse crashed with anonymous
    // NPE/ClassCastException on explicit-null or scalar blocks
    import graft.config.Config
    import graft.build.Project
    // `requests:` (explicit null) = no block; limits complete as usual
    assert(Config.fixupResources(Map("requests" -> null,
      "limits" -> Map("cpu" -> "100m"))) ==
      Map("requests" -> null, "limits" -> Map("cpu" -> "100m")))
    // a scalar block is a loud config error, not a ClassCastException
    intercept[Config.ConfigException](
      Config.fixupResources(Map("requests" -> 5)))
    // project YAML: null globals = none; scalar globals and non-mapping
    // machine entries reject with the contract message
    val machine = """
      |  - name: m1
      |    dataset:
      |      tags: [a]
      |    model:
      |      sklearn.preprocessing.MinMaxScaler:
      |""".stripMargin
    assert(Project.parse(s"globals:\nmachines:\n$machine", "p")
      .machines.map(_.name) == Seq("m1"))
    intercept[Config.ConfigException](
      Project.parse(s"globals: 5\nmachines:\n$machine", "p"))
    intercept[Config.ConfigException](
      Project.parse("machines:\n  - 5\n", "p"))
    intercept[Config.ConfigException](
      Project.parse("machines:\n  - ~\n", "p"))
  }
}
