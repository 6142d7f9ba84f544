package graft.build

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.config.{Config, ModelRegistry}
import graft.ml.DiffAnomaly.{FittedDetector, Thresholds}
import graft.ml.Preprocess
import graft.ml.Scalers.FittedScaler

/** Model persistence (SURVEY K1/M3/S5/F9; ref: `gordo/serializer/
  * serializer.py:150-196`, cache key `gordo/builder/build_model.py:571-631`).
  *
  * A model directory holds `model.json` (all fitted state: reconstruction
  * weights, scaler stats, thresholds — everything is plain numbers, no
  * opaque pickles), `metadata.json`, and `info.json` (checksum), the same
  * layout contract as the reference's model dir.
  */
object Persistence {

  // ---- minimal canonical JSON (sorted keys, ASCII) ----

  def toJson(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      // JSON keys are strings; a YAML-parsed config can carry numeric
      // keys (metadata: {2024: retrained}) — stringify instead of the
      // unchecked String cast, whose ClassCastException would fire in
      // save() AFTER the expensive fit completed, losing the model
      m.toSeq.map { case (k, vv) => String.valueOf(k) -> vv }
        .sortBy(_._1)
        .map { case (k, vv) => s"${quote(k)}:${toJson(vv)}" }
        .mkString("{", ",", "}")
    case s: Seq[_]    => s.map(toJson).mkString("[", ",", "]")
    case s: String    => quote(s)
    case b: Boolean   => b.toString
    case d: Double    =>
      // strict JSON has no NaN/Infinity literals — encode as strings;
      // load()'s toDouble parses them back ("NaN".toDouble etc.)
      if (d.isNaN) "\"NaN\""
      else if (d.isPosInfinity) "\"Infinity\""
      else if (d.isNegInfinity) "\"-Infinity\""
      else d.toString
    case f: Float     =>
      // same non-finite discipline: a FloatType serving column must not
      // fall through to Number and emit a bare NaN (invalid JSON)
      if (f.isNaN) "\"NaN\""
      else if (f.isPosInfinity) "\"Infinity\""
      else if (f.isNegInfinity) "\"-Infinity\""
      else f.toString
    case n: Number    => n.toString
    case other        => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The canonical JSON the cache key hashes (F9, exposed so q82 can
    * pin the canonicalization separately from the digest). */
  def cacheKeyPayload(spec: Config.MachineSpec,
                      closedForm: Boolean = false): String = {
    val base = Map[String, Any](
      "name" -> spec.name,
      "model_config" -> spec.model,
      "data_config" -> spec.dataset,
      "evaluation_config" -> spec.evaluation)
    // a closed-form-substituted build trains a different estimator family
    // than the full build of the same spec — it must never alias in the
    // registry. Default builds keep their historical keys.
    toJson(if (closedForm) base + ("closed_form" -> true) else base)
  }

  /** SHA3-512 hex of an ASCII string — 128 hex chars. */
  def sha3hex(s: String): String =
    MessageDigest.getInstance("SHA3-512")
      .digest(s.getBytes("US-ASCII"))
      .map(b => f"$b%02x").mkString

  /** F9: sha3-512 hex of the canonical JSON of the build-relevant config
    * (`build_model.py:571-631`) — 128 hex chars. */
  def cacheKey(spec: Config.MachineSpec, closedForm: Boolean = false): String =
    sha3hex(cacheKeyPayload(spec, closedForm))

  // ---- dump / load ----

  case class ModelState(
      impl: String, epoch0: Long, orderCol: String, tags: Seq[String],
      /** y columns (`target_tag_list`); empty means targets = tags. */
      targets: Seq[String],
      modelParams: Map[String, Double], scalerKind: String,
      scalerStats: Map[String, (Double, Double)], thresholds: Thresholds,
      window: Option[Int], smoothingMethod: String,
      /** Fitted base-estimator preprocessing chain specs
        * ([[graft.ml.Preprocess]]); empty when the base is bare. */
      preprocess: List[Map[String, Any]] = Nil,
      /** Sequence-model windowing (M6): (base tag names, lookback,
        * lookahead). The serve path must re-apply the same lag-feature
        * construction before scoring; None for row-local models. */
      windowing: Option[(Seq[String], Int, Int)] = None)

  /** The persisted state of a fitted (or loaded) detector: `impl` is the
    * model's own family name, and a preprocessed model's fitted chain
    * goes to disk for the serve path. */
  def stateOf(fd: FittedDetector, epoch0: Long,
              windowing: Option[(Seq[String], Int, Int)] = None): ModelState =
    ModelState(fd.model.impl, epoch0, fd.orderCol, fd.tags,
      if (fd.targets == fd.tags) Nil else fd.targets,
      fd.model.params, fd.scaler.kind, fd.scaler.stats, fd.thresholds,
      fd.window, fd.smoothingMethod,
      fd.model match {
        case pf: Preprocess.PreprocessedFitted => pf.prep.specs
        case _ => Nil
      },
      windowing)

  def save(dir: String, state: ModelState,
           metadata: Map[String, Any] = Map.empty): Unit = {
    val modelJson = toJson(Map(
      "impl" -> state.impl,
      "epoch0" -> state.epoch0,
      "orderCol" -> state.orderCol,
      "tags" -> state.tags,
      "targets" -> state.targets,
      "modelParams" -> state.modelParams,
      "scalerKind" -> state.scalerKind,
      "scalerStats" -> state.scalerStats.map { case (k, (a, b)) => k -> List(a, b) },
      "featureThresholds" -> state.thresholds.featureThresholds,
      "aggregateThreshold" -> state.thresholds.aggregateThreshold,
      "smoothFeatureThresholds" -> state.thresholds.smoothFeatureThresholds.getOrElse(null),
      "smoothAggregateThreshold" -> state.thresholds.smoothAggregateThreshold
        .map(_.asInstanceOf[Any]).getOrElse(null),
      "perFoldAggregate" -> state.thresholds.perFoldAggregate,
      "window" -> state.window.map(_.asInstanceOf[Any]).getOrElse(null),
      "smoothingMethod" -> state.smoothingMethod,
      "preprocess" -> state.preprocess,
      "windowing" -> state.windowing.map { case (bt, lb, la) =>
        Map("baseTags" -> bt, "lookback" -> lb, "lookahead" -> la)
      }.getOrElse(null)))
    writeChecked(dir, "model.json", modelJson,
      "metadata.json" -> toJson(metadata))
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** The checksummed-artifact writer (model dumps, ANN indexes): `file`,
    * then each `sidecar`, then `info.json` holding `file`'s sha-256.
    * info.json goes LAST, so a reader racing an in-place rewrite sees a
    * checksum mismatch, never a stale file that still matches. */
  def writeChecked(dir: String, file: String, content: String,
                   sidecars: (String, String)*): Unit = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    Files.writeString(p.resolve(file), content)
    sidecars.foreach { case (f, c) => Files.writeString(p.resolve(f), c) }
    Files.writeString(p.resolve("info.json"),
      toJson(Map("checksum" -> sha256(content))))
  }

  /** The checksummed-artifact reader: `file`'s contents, VERIFIED against
    * info.json. A missing or null checksum field rejects as loudly as a
    * mismatch — an anonymous NoSuchElementException/NPE is no artifact
    * reject. */
  def readChecked(dir: String, file: String): String = {
    val content = Files.readString(Paths.get(dir, file))
    val expected = Config.parseYaml(
        Files.readString(Paths.get(dir, "info.json")))
      .get("checksum").filter(_ != null).map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"info.json in $dir has no checksum — corrupt or tampered artifact"))
    require(sha256(content) == expected,
      s"$file checksum mismatch in $dir — corrupt or tampered artifact")
    content
  }

  def loadMetadata(dir: String): Map[String, Any] =
    Config.parseYaml(Files.readString(Paths.get(dir, "metadata.json")))


  /** Rebuild a scoring-ready FittedDetector from a model dir (S5). JSON
    * is a YAML subset, so the config parser reads it. */
  def load(dir: String): FittedDetector = loadFull(dir)._1

  /** Single-parse load of the detector plus its recorded windowing —
    * the serve path needs both; parsing model.json once per call.
    *
    * The info.json checksum is VERIFIED here, not just written by save:
    * the serve path is where a corrupted artifact does damage — a
    * flipped byte in a threshold would otherwise parse fine and score
    * silently wrong forever (the q80 gate recomputes the checksum, but
    * a gate cannot protect a production load it isn't in front of) —
    * through [[readChecked]], the same reader [[graft.llm.AnnIndex.load]]
    * uses. */
  def loadFull(dir: String): (FittedDetector, Option[(Seq[String], Int, Int)]) = {
    val m = Config.parseYaml(readChecked(dir, "model.json"))
    def dbl(v: Any): Double =
      if (v == null) Double.NaN else v.toString.toDouble
    val tags = m("tags").asInstanceOf[List[Any]].map(_.toString)
    val targets = m.getOrElse("targets", List.empty[Any])
      .asInstanceOf[List[Any]].map(_.toString) match {
        case Nil => tags
        case l   => l
      }
    val params = m("modelParams").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> dbl(v) }
    val orderCol = m("orderCol").toString
    val epoch0 = m("epoch0").toString.toLong
    val stats = m("scalerStats").asInstanceOf[Map[String, Any]].map {
      case (k, l: List[_]) => k -> (dbl(l.head), dbl(l(1)))
      case (k, v) => throw new IllegalStateException(s"bad scaler stats $k: $v")
    }
    val th = Thresholds(
      m("featureThresholds").asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> dbl(v) },
      dbl(m("aggregateThreshold")),
      Option(m.getOrElse("smoothFeatureThresholds", null))
        .map(_.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> dbl(v) }),
      Option(m.getOrElse("smoothAggregateThreshold", null)).map(dbl),
      m.getOrElse("perFoldAggregate", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> dbl(v) })
    val prep = Preprocess.fromSpecs(
      m.getOrElse("preprocess", List.empty[Any]).asInstanceOf[List[Any]]
        .map(_.asInstanceOf[Map[String, Any]]))
    // feature references go through the persisted chain (identity when
    // empty) and ALWAYS through `graft.Cols.q`: dotted tag names are a
    // supported case, and a bare `col(tag)` would fail them on load
    val inner = ModelRegistry.fittedFromParams(m("impl").toString, params,
      tags, orderCol, epoch0,
      t => prep.preFrom(prep.keyFor(t), graft.Cols.q(t).cast("double")))
    val fitted =
      if (prep.isEmpty) inner else Preprocess.PreprocessedFitted(inner, prep)
    val windowing = Option(m.getOrElse("windowing", null)).map { v =>
      val w = v.asInstanceOf[Map[String, Any]]
      (w("baseTags").asInstanceOf[List[Any]].map(_.toString),
        w("lookback").toString.toInt, w("lookahead").toString.toInt)
    }
    (FittedDetector(fitted, FittedScaler(m("scalerKind").toString, stats), th,
      tags, targets, orderCol,
      Option(m.getOrElse("window", null)).map(_.toString.toInt),
      m.getOrElse("smoothingMethod", "smm").toString), windowing)
  }

  // ---- disk registry (ref: gordo/util/disk_registry.py:18-117) ----

  /** Record cache_key → model dir; `checkCache` probes it
    * (`build_model.py:634-668`). Written to a temp file and atomically
    * moved into place: a concurrent `checkCache` racing a plain
    * truncate-then-write could read a half-written path, miss, and
    * silently re-run a full training that was already cached. */
  def registerModel(registryDir: String, key: String, modelDir: String): Unit = {
    val rd = Paths.get(registryDir)
    Files.createDirectories(rd)
    val tmp = Files.createTempFile(rd, s".$key", ".tmp")
    Files.writeString(tmp, modelDir)
    Files.move(tmp, rd.resolve(key),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** A hit requires the registered dir to still hold THIS key's model:
    * model dirs are overwritten in place by rebuilds (and by cache-hit
    * materialization), so a stale entry can point at a dir that now
    * holds a DIFFERENT spec's model — metadata.json records the dir's
    * own cache_key, and anything but an exact match is a miss (rebuild),
    * never a silently-wrong cached model. The artifact checksum is part
    * of the hit condition too: a CORRUPT cached model (bit rot, partial
    * write, manual edit) must be a miss that self-heals by rebuilding,
    * not a hit that fails every subsequent build of that spec loudly at
    * load time until someone clears the registry by hand. */
  def checkCache(registryDir: String, key: String): Option[String] = {
    val f = Paths.get(registryDir, key)
    if (Files.exists(f)) {
      val dir = Files.readString(f).trim
      val valid =
        scala.util.Try(loadMetadata(dir).get("cache_key"))
          .toOption.flatten.contains(key) &&
        scala.util.Try(readChecked(dir, "model.json")).isSuccess
      if (valid) Some(dir) else None
    } else None
  }
}
