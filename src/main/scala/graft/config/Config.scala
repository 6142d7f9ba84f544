package graft.config

import scala.jdk.CollectionConverters._

import graft.data.TimeSeries

/** The YAML "query language" (SURVEY §1.3): machine configs with
  * globals-overlay semantics.
  *
  * Mirrors `gordo/machine/machine.py:77-149` + `gordo/machine/loader.py:
  * 38-52`: YAML-in-YAML string fields are re-parsed; `model` comes from
  * the machine else globals; `runtime`/`evaluation` are globals patched BY
  * the machine; `dataset` is the machine patched BY globals (the
  * reference's asymmetry, kept deliberately); `evaluation` defaults to
  * `cv_mode: full_build`. patch_dict adds/replaces paths, never removes
  * (`gordo/workflow/workflow_generator/helpers.py:16-45`).
  */
object Config {

  /** Fields whose string values are YAML-in-YAML
    * (`gordo/machine/constants.py` MACHINE_YAML_FIELDS). */
  private val yamlFields =
    Set("model", "dataset", "evaluation", "metadata", "runtime")

  class ConfigException(msg: String) extends RuntimeException(msg)

  // ---- YAML parsing (snakeyaml, on Spark's classpath) ----

  /** snakeyaml resolves `*alias` references by SHARING the anchored
    * object, so a self-referencing anchor (`&a [*a]`, or a mapping whose
    * value aliases an enclosing node) composes a CYCLIC object graph —
    * a plain recursive conversion then dies with an anonymous
    * StackOverflowError on user input (found by ConfigFuzzProps).
    * Track the conversion path by object IDENTITY and reject cycles
    * with the contract exception; non-cyclic alias REUSE (the same
    * anchored block referenced from two places — a legitimate YAML
    * idiom for shared config fragments) leaves the path before it is
    * re-entered and still converts fine. */
  private def toScala(v: Any): Any = {
    val path = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def enter(ref: AnyRef): Unit =
      if (!path.add(ref)) throw new ConfigException(
        "recursive YAML alias cycle detected — a config node cannot " +
          "contain itself (self-referencing anchor/alias)")
    def go(v: Any): Any = v match {
      case m: java.util.Map[_, _] =>
        enter(m)
        // a bare `?` (or `? : v`) is YAML's null-key mapping form —
        // legal YAML, never a usable config key, and `k.toString` on it
        // was an anonymous NPE (ConfigFuzzProps finding)
        try m.asScala.map { case (k, vv) =>
          if (k == null) throw new ConfigException(
            "config mapping has a null key (YAML '?' complex-key form)")
          k.toString -> go(vv)
        }.toMap
        finally path.remove(m)
      case l: java.util.List[_] =>
        enter(l)
        try l.asScala.map(go).toList
        finally path.remove(l)
      case other => other
    }
    go(v)
  }

  /** snakeyaml's default 3 MB code-point limit is an anti-DoS guard for
    * untrusted YAML; everything parsed here is a user's own config or an
    * artifact this library itself wrote (model.json, AnnIndex's
    * index.json), where the default turns a successful save into a
    * permanently unloadable artifact — large fitted weight arrays or
    * IVF centroid sets cross 3 MB of JSON long before they strain
    * memory. Raised to 1 GiB (still bounded). */
  private def yamlParser(): org.yaml.snakeyaml.Yaml = {
    val opts = new org.yaml.snakeyaml.LoaderOptions()
    opts.setCodePointLimit(1 << 30)
    new org.yaml.snakeyaml.Yaml(opts)
  }

  def parseYaml(s: String): Map[String, Any] =
    toScala(yamlParser().load[java.util.Map[String, Any]](s)) match {
      // empty / comments-only documents load as null — surface them as
      // an empty config so callers raise their own "missing X" errors
      // instead of an anonymous NullPointerException
      case null => Map.empty
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      // a scalar/list document (e.g. a bare class-path string where a
      // mapping is expected) must be the contract's ConfigException,
      // not a raw ClassCastException
      case other => throw new ConfigException(
        s"config document must be a mapping, got: $other")
    }

  // ---- patch_dict ----

  /** Deep merge: every path in `patch` is added or replaces the value in
    * `original`; nothing is removed. Nested maps merge recursively;
    * anything else (lists included) replaces wholesale. */
  def patchDict(original: Map[String, Any], patch: Map[String, Any]): Map[String, Any] =
    patch.foldLeft(original) { case (acc, (k, pv)) =>
      (acc.get(k), pv) match {
        case (Some(ov: Map[_, _]), pm: Map[_, _]) =>
          acc + (k -> patchDict(ov.asInstanceOf[Map[String, Any]],
            pm.asInstanceOf[Map[String, Any]]))
        case _ => acc + (k -> pv)
      }
    }

  // ---- machine assembly ----

  case class MachineSpec(
      name: String,
      projectName: String,
      dataset: Map[String, Any],
      model: Map[String, Any],
      evaluation: Map[String, Any],
      runtime: Map[String, Any],
      metadata: Map[String, Any])

  private def section(cfg: Map[String, Any], key: String): Map[String, Any] =
    cfg.get(key) match {
      case None | Some(null)     => Map.empty
      case Some(m: Map[_, _])    => m.asInstanceOf[Map[String, Any]]
      case Some(s: String)       => parseYaml(s) // YAML-in-YAML
      case Some(other) =>
        throw new ConfigException(s"$key must be a mapping, got: $other")
    }

  /** `Machine.from_config` (`machine.py:77-149`). */
  def machineFromConfig(config: Map[String, Any],
                        projectName: Option[String] = None,
                        globals: Map[String, Any] = Map.empty): MachineSpec = {
    val g = yamlFields.foldLeft(globals)((m, f) =>
      if (m.contains(f)) m + (f -> section(m, f)) else m)
    val name = Option(config.getOrElse("name", null))
      .map(_.toString)
      .getOrElse(throw new ConfigException("machine has no name"))
    val model = {
      val m = section(config, "model")
      val merged = if (m.nonEmpty) m else section(g, "model")
      if (merged.isEmpty) throw new ConfigException("model is empty")
      merged
    }
    val project = projectName
      // flatMap(Option(_)): an explicit-null project_name must reject
      // with the contract message, not NPE in toString (ConfigFuzzProps)
      .orElse(config.get("project_name").flatMap(Option(_)).map(_.toString))
      .getOrElse(throw new ConfigException("project_name is empty"))
    val runtime = patchDict(section(g, "runtime"), section(config, "runtime"))
    // NB reference asymmetry: globals PATCH the machine's dataset
    val dataset = patchDict(section(config, "dataset"), section(g, "dataset"))
    // layering mirrors NormalizedConfig: engine defaults BENEATH the
    // user's globals, machine on top. The old shape injected cv_mode:
    // full_build as a MACHINE-side patch whenever the machine omitted
    // its evaluation section — silently clobbering a globals-configured
    // cv_mode, the opposite of the documented precedence
    val evaluation = patchDict(
      patchDict(section(defaultGlobals, "evaluation"), section(g, "evaluation")),
      section(config, "evaluation"))
    val metadata = Map[String, Any](
      "global-metadata" -> section(g, "metadata"),
      "machine-metadata" -> section(config, "metadata"))
    val spec = MachineSpec(name, project, dataset, model, evaluation,
      runtime, metadata)
    validate(spec)
    spec
  }

  /** Default globals (subset of `NormalizedConfig.DEFAULT_CONFIG_GLOBALS`,
    * `gordo/workflow/config_elements/normalized_config.py:66-107` — the
    * k8s resource blocks are out of engine scope). */
  val defaultGlobals: Map[String, Any] = Map(
    "evaluation" -> Map(
      "cv_mode" -> "full_build",
      "scoring_scaler" -> "sklearn.preprocessing.MinMaxScaler",
      "metrics" -> List(
        "explained_variance_score", "r2_score",
        "mean_squared_error", "mean_absolute_error")))

  /** Dataset-block defaults asserted at
    * `tests/gordo/workflow/test_config_elements.py:137-162`. */
  val datasetDefaults: Map[String, Any] = Map(
    "target_tag_list" -> null,
    "aggregation_methods" -> "mean",
    "resolution" -> "10T",
    "row_filter" -> "",
    "row_filter_buffer_size" -> 0,
    "known_filter_periods" -> null,
    "interpolation_method" -> "linear_interpolation",
    "interpolation_limit" -> "48H",
    "n_samples_threshold" -> 0)

  // ---- validation (gordo/machine/validators.py) ----

  private val k8sName = "^[a-z0-9]([-a-z0-9]*[a-z0-9])?$".r

  def validate(m: MachineSpec): Unit = {
    // names must be K8s-DNS-safe and <= 63 chars (`validators.py:253-283`)
    for (n <- Seq(m.name, m.projectName)) {
      if (n.length > 63)
        throw new ConfigException(s"name too long (>63): $n")
      if (k8sName.findFirstIn(n).isEmpty)
        throw new ConfigException(s"name is not k8s-DNS-safe: $n")
    }
    // train dates: tz-aware ISO, start < end (`validators.py:232-251`)
    val ds = m.dataset
    (ds.get("train_start_date"), ds.get("train_end_date")) match {
      case (Some(s), Some(e)) =>
        val (si, ei) = (parseTzAware(s), parseTzAware(e))
        if (!si.isBefore(ei))
          throw new ConfigException(s"train_start_date $s >= train_end_date $e")
      case _ => ()
    }
    // explicit null (`resolution:`) falls back to the default downstream
    // (datasetConfig's str() filter) — only validate a REAL value here
    ds.get("resolution").filter(_ != null).foreach(r =>
      TimeSeries.parseResolutionSeconds(r.toString)) // throws if bad
  }

  /** F5: ISO datetime parse, tz required for STRINGS
    * (`gordo/server/utils.py:198-205`). An UNQUOTED YAML timestamp
    * arrives pre-resolved as java.util.Date — for a tz-less unquoted
    * form that resolution already assumed UTC per the YAML 1.1
    * timestamp spec, so the Date branch is the YAML standard's
    * semantics, not a loosening of the contract; the same text QUOTED
    * reaches the string branch and is rejected as naive. */
  def parseTzAware(v: Any): java.time.OffsetDateTime = v match {
    case null => // an explicit-null YAML value ("train_start_date:")
      throw new ConfigException("datetime must be tz-aware ISO: null")
    case d: java.util.Date => // snakeyaml parses ISO timestamps natively
      d.toInstant.atOffset(java.time.ZoneOffset.UTC)
    case s =>
      try java.time.OffsetDateTime.parse(s.toString)
      catch {
        case _: java.time.format.DateTimeParseException =>
          throw new ConfigException(s"datetime must be tz-aware ISO: $s")
      }
  }

  /** F7: minimal template expansion — `{{ key }}` placeholders replaced
    * from params (the jinja surface the CLI uses for model configs,
    * `gordo/cli/cli.py:187-216`; full jinja is deliberately out).
    *
    * Scope evidence: no machine/model config in the
    * reference uses any jinja construct at all — every YAML under
    * `examples` and every config YAML under `tests` contains zero
    * `{{ }}` or `{% %}` occurrences. Filters, conditionals, and loops
    * appear ONLY in the Argo deployment template
    * (`workflow_generator/resources/argo-workflow.yml.template`), which
    * is the k8s workflow generator's internal surface, not the data
    * engine's. `{{ var }}` substitution is therefore the complete
    * config-facing feature set. */
  def expandTemplate(template: String, params: Map[String, String]): String =
    raw"\{\{\s*([A-Za-z0-9_.-]+)\s*\}\}".r.replaceAllIn(template, m =>
      scala.util.matching.Regex.quoteReplacement(
        params.getOrElse(m.group(1),
          throw new ConfigException(s"undefined template var: ${m.group(1)}"))))

  /** F8: tag normalization — trim and de-duplicate PRESERVING first-seen
    * order (`gordo/utils.py:15-51`). */
  def normalizeTags(tags: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    tags.foreach(t => seen += t.trim)
    seen.toSeq
  }

  /** F10: resource-limit fixup — every limit is raised to at least its
    * request (`gordo/machine/validators.py:160-230`). */
  def fixupResources(resources: Map[String, Any]): Map[String, Any] = {
    // k8s quantity strings ("1Gi", "512Mi", "100m") must participate in
    // the raise-limit-to-request comparison — skipping non-numeric
    // values silently left limits BELOW requests for exactly the
    // suffixed forms real runtime configs use
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue)
      case s: String => parseQuantity(s)
      case _ => None
    }
    // explicit null (`requests:`) means no block; a non-map scalar is a
    // config ERROR — a raw asInstanceOf would be an anonymous NPE/CCE on
    // user YAML (the same hole as a null inside a tag list)
    def block(key: String): Map[String, Any] = resources.get(key) match {
      case None | Some(null) => Map.empty
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case Some(other) => throw new ConfigException(
        s"resources.$key must be a mapping, got: $other")
    }
    val requests = block("requests")
    val limits = block("limits")
    val fixed = limits.map { case (k, lv) =>
      (num(lv), requests.get(k).flatMap(num)) match {
        case (Some(l), Some(r)) if l < r => k -> requests(k)
        case _ => k -> lv
      }
    }
    // limits must exist for every requested resource
    val completed = requests.keys.filterNot(fixed.contains)
      .map(k => k -> requests(k)).toMap ++ fixed
    resources + ("limits" -> completed)
  }

  /** Canonical value of a k8s resource quantity (binary/decimal SI
    * suffixes, plus milli for cpu): "1Gi" → 2^30, "100m" → 0.1. None
    * for anything unparseable — the caller then leaves the pair alone
    * rather than guessing. */
  private[config] def parseQuantity(s: String): Option[Double] = {
    val m = raw"^\s*([0-9]+(?:\.[0-9]+)?)(Ki|Mi|Gi|Ti|Pi|Ei|k|M|G|T|P|E|m)?\s*$$".r
    m.findFirstMatchIn(s).map { g =>
      val base = g.group(1).toDouble
      val mult = Option(g.group(2)).getOrElse("") match {
        case ""   => 1.0
        case "m"  => 1e-3
        case "k"  => 1e3
        case "M"  => 1e6
        case "G"  => 1e9
        case "T"  => 1e12
        case "P"  => 1e15
        case "E"  => 1e18
        case "Ki" => 1024.0
        case "Mi" => math.pow(1024, 2)
        case "Gi" => math.pow(1024, 3)
        case "Ti" => math.pow(1024, 4)
        case "Pi" => math.pow(1024, 5)
        case "Ei" => math.pow(1024, 6)
      }
      base * mult
    }
  }

  /** Bridge the merged dataset block onto the engine's DatasetConfig
    * (tags come from `tag_list`; `tags` is the RandomDataset alias). */
  def datasetConfig(m: MachineSpec): TimeSeries.DatasetConfig = {
    val ds = patchDict(datasetDefaults, m.dataset)
    def str(k: String): Option[String] =
      ds.get(k).filter(_ != null).map(_.toString)
    // snakeyaml parses ISO timestamps to java.util.Date, whose toString is
    // not Spark-castable — normalize dates back to ISO-instant strings
    def isoStr(k: String): Option[String] =
      ds.get(k).filter(_ != null).map(v => parseTzAware(v).toInstant.toString)
    // a null element inside a tag list (YAML `- ~` / `-`) would be an
    // anonymous NPE from `_.toString` (ConfigFuzzProps draws it);
    // non-string scalars (an unquoted numeric tag name) stringify
    def strList(field: String, l: List[_]): Seq[String] = l.map {
      case null => throw new ConfigException(
        s"$field contains a null entry (YAML '~' or empty list item)")
      case v => v.toString
    }
    val tags = ds.get("tag_list").orElse(ds.get("tags")) match {
      case Some(l: List[_]) => strList("tag_list", l)
      case _ => throw new ConfigException("dataset needs tag_list")
    }
    // y columns (`target_tag_list`); absent/null → y = X. A malformed
    // (non-list) value is a config ERROR, not a silent autoencoder
    val targetTags = ds.get("target_tag_list").filter(_ != null) match {
      case Some(l: List[_]) => strList("target_tag_list", l)
      case Some(other) =>
        throw new ConfigException(s"target_tag_list must be a list: $other")
      case None => Nil
    }
    val periods = ds.get("known_filter_periods") match {
      case Some(l: List[_]) => l.map {
        // the same Date-vs-string normalization the train dates get: an
        // unquoted YAML timestamp arrives as java.util.Date, whose
        // toString is not Spark-castable — dropKnownPeriods' cast would
        // yield a null predicate and silently drop EVERY row. Naive
        // strings fail the F5 tz-aware contract loudly, like train dates
        case p: List[_] if p.size == 2 =>
          (parseTzAware(p.head).toInstant.toString,
            parseTzAware(p(1)).toInstant.toString)
        case p => throw new ConfigException(s"bad filter period: $p")
      }
      case _ => Nil
    }
    TimeSeries.DatasetConfig(
      tags = tags,
      targetTags = targetTags,
      resolution = str("resolution").getOrElse("10T"),
      // the reference accepts pandas' `agg` arg here — a string OR a
      // list. A list would previously stringify ("List(mean, max)") and
      // surface as `unsupported aggregation` deep inside getData; the
      // build pipeline's wide frame holds ONE value column per tag, so
      // the multi form cannot thread through it — name the limitation
      // (and the resampleMulti escape hatch) at parse time instead. A
      // one-element list is the scalar in pandas spelling; accept it.
      aggregationMethod = ds.get("aggregation_methods") match {
        case None | Some(null) => "mean"
        case Some(s: String) => s
        case Some(l: List[_]) if l.size == 1 && l.head != null =>
          l.head.toString
        case Some(l: List[_]) => throw new ConfigException(
          s"aggregation_methods list form [${l.mkString(", ")}] is not " +
            "supported in the build pipeline (the wide frame assembles " +
            "one value column per tag) — use TimeSeries.resampleMulti " +
            "for multi-aggregate resampling, or pick one method")
        case Some(other) => throw new ConfigException(
          s"bad aggregation_methods: $other")
      },
      trainStart = isoStr("train_start_date"),
      trainEnd = isoStr("train_end_date"),
      rowFilter = str("row_filter").getOrElse(""),
      // explicit-null numeric fields (YAML `row_filter_buffer_size:`)
      // take the default like str()'s null-filter — `.toString` on the
      // present-but-null value was an anonymous NPE (ConfigFuzzProps)
      rowFilterBufferSize = ds.get("row_filter_buffer_size")
        .filter(_ != null).getOrElse(0).toString.toInt,
      knownFilterPeriods = periods,
      interpolationMethod = str("interpolation_method")
        .getOrElse("linear_interpolation"),
      interpolationLimit = str("interpolation_limit").getOrElse("48H"),
      nSamplesThreshold = ds.get("n_samples_threshold")
        .filter(_ != null).getOrElse(0).toString.toLong)
  }
}
