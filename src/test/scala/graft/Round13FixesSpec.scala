package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Regression coverage for derived-input cache maintenance: the q69/q76
  * caches are version-keyed like q91's, abandoned ensureBuilt stage
  * directories are age-sweepable instead of leaking permanently after
  * SIGKILL, and the age sweep never unlinks a recovery .lock file that
  * some JVM currently HOLDS.
  */
class Round13FixesSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private val staleMs = System.currentTimeMillis() - 7L * 3600 * 1000

  test("q69's stream-input cache is derivation-version-keyed (v1)") {
    // run the real query, then assert the slot it built is the
    // VERSIONED one — pins the call site, not just cachedDir's ability
    // to take a version (an unversioned witness would serve a stale
    // frame after a derivation change)
    SparkEntry.queries("q69_streaming_anomaly")(SparkTestSession.spark, sf)
      .count()
    val versioned = Scratch.cachedDir(
      "graft-stream-in", Tables.witness(sf, "events"), version = "v1")
    assert(Files.exists(Paths.get(versioned).resolve("_SUCCESS")),
      s"q69 must build its stream input under the v1 key: $versioned")
  }

  test("q76's stream-input cache is derivation-version-keyed (v1)") {
    SparkEntry.queries("q76_streaming_dedup")(SparkTestSession.spark, sf)
      .count()
    val versioned = Scratch.cachedDir(
      "graft-q76-in", Tables.witness(sf, "documents"), version = "v1")
    assert(Files.exists(Paths.get(versioned).resolve("_SUCCESS")),
      s"q76 must build its stream input under the v1 key: $versioned")
  }

  test("the age sweep reclaims abandoned ensureBuilt stage dirs") {
    // a SIGKILL between staging and publish skips the exit hook; the
    // abandoned '<prefix>-<key>-stage<rand>' dir must be reclaimed by
    // the next same-prefix sweep once stale (the sibling regex alone
    // never matches its name)
    val prefix = "graft-r13-stagesweep"
    val stale = new File(tmp, s"$prefix-0123456789abcdef-stage777")
    assert(stale.mkdir())
    Files.writeString(stale.toPath.resolve("part-0"), "abandoned")
    assert(stale.setLastModified(staleMs))
    // a FRESH stage (a build in flight right now) must survive the sweep
    val fresh = new File(tmp, s"$prefix-fedcba9876543210-stage888")
    assert(fresh.mkdir())
    val witness = Files.createTempFile("graft-r13-w", ".parquet")
    Scratch.sweepTimes.remove(prefix)
    Scratch.cachedDir(prefix, witness.toString)
    assert(!stale.exists, "stale abandoned stage must be swept")
    assert(fresh.exists, "an in-flight (fresh) stage must NOT be swept")
    Scratch.deleteTree(fresh.toPath)
    Files.deleteIfExists(witness)
    // the target dir cachedDir named was never created; nothing to clean
  }

  test("the sweep skips a stale .lock file that is currently HELD") {
    val prefix = "graft-r13-locksweep"
    val lockFile = new File(tmp, s"$prefix-00112233aabbccdd.lock")
    assert(lockFile.createNewFile() || lockFile.exists())
    assert(lockFile.setLastModified(staleMs))
    val witness = Files.createTempFile("graft-r13-w2", ".parquet")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      Scratch.sweepTimes.remove(prefix)
      Scratch.cachedDir(prefix, witness.toString)
      assert(lockFile.exists,
        "a HELD .lock must survive the sweep even when mtime-stale — " +
          "unlinking it would let a second recoverer lock a fresh inode " +
          "alongside the holder")
    } finally { held.release(); ch.close() }
    // released + still stale: now the sweep may reclaim it
    assert(lockFile.setLastModified(staleMs))
    Scratch.sweepTimes.remove(prefix)
    Scratch.cachedDir(prefix, witness.toString)
    assert(!lockFile.exists, "an UNHELD stale .lock must be swept")
    Files.deleteIfExists(witness)
  }

  test("the sweep's lock probe serializes on the slot monitor") {
    // confirmed empirically: on POSIX, closing ANY channel
    // to a file drops every fcntl lock this process holds on it — so a
    // sweep that opened a .lock while a same-JVM publishDir recovery
    // held it would silently RELEASE the recoverer's cross-JVM lock,
    // re-admitting the two-concurrent-recoverers race. The fix: the
    // probe takes the SAME per-slot monitor publishDir holds for the
    // whole recovery, so it can never open the file concurrently.
    val prefix = "graft-r13-monitorsweep"
    val slot = new File(tmp, s"$prefix-0011223344556677")
    val lockFile = new File(tmp, slot.getName + ".lock")
    assert(lockFile.createNewFile() || lockFile.exists())
    assert(lockFile.setLastModified(staleMs))
    val witness = Files.createTempFile("graft-r13-w3", ".parquet")
    val slotKey = slot.toPath.toAbsolutePath.normalize().toString
    val monitor =
      Scratch.recoveryMonitors.computeIfAbsent(slotKey, _ => new Object)
    @volatile var sweepDone = false
    val t = new Thread(() => {
      Scratch.sweepTimes.remove(prefix)
      Scratch.cachedDir(prefix, witness.toString)
      sweepDone = true
    })
    monitor.synchronized {
      t.start()
      t.join(1500)
      assert(!sweepDone,
        "the sweep must block on the slot monitor while a same-JVM " +
          "recovery holds it (probing the held .lock would drop the " +
          "recoverer's fcntl lock on channel close)")
    }
    t.join(30000)
    assert(sweepDone, "sweep must proceed once the monitor is released")
    assert(!lockFile.exists,
      "after the recovery ends, a still-stale unheld .lock is reclaimed")
    Files.deleteIfExists(witness)
  }

  test("directory-witness identity walk re-keys immediately on a witness change") {
    // the per-call full-lake stat walk is exact: every call re-reads the
    // lake, so a rewritten part file re-keys the very next call
    val lake = Paths.get(Scratch.dir("graft-r13-lake"))
    val part = lake.resolve("part-0.parquet")
    Files.writeString(part, "v1")
    assert(part.toFile.setLastModified(1700000000000L))
    val prefix = "graft-r13-wmemo"
    try {
      val key1 = Scratch.cachedDir(prefix, lake.toString)
      Files.writeString(part, "v2-longer")
      assert(part.toFile.setLastModified(1700000001000L))
      val key2 = Scratch.cachedDir(prefix, lake.toString)
      assert(key2 != key1, "witness change must re-key immediately")
    } finally Scratch.deleteTree(lake)
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

  test("publishDir renews a pre-existing stale .lock's mtime on recovery") {
    // a .lock left >=6h stale could be unlinked by a sibling sweep
    // between open and a post-acquisition touch; the touch lands before
    // acquisition, so after any recovery the lock file must carry a
    // fresh mtime
    val target = Paths.get(Scratch.dir("graft-r13-slot"))
    Files.writeString(target.resolve("part-0"), "crashed-partial")
    val lockPath =
      target.resolveSibling(target.getFileName.toString + ".lock")
    Files.createFile(lockPath)
    assert(lockPath.toFile.setLastModified(staleMs))
    // a second name for the lock's inode: the recovery deletes the
    // slot's .lock once the slot is complete, and this name still reads
    // the mtime the recovery gave that inode
    val inode = Files.createLink(
      lockPath.resolveSibling(lockPath.getFileName.toString + ".inode"), lockPath)
    val t0 = System.currentTimeMillis()
    val stage = Paths.get(Scratch.dir("graft-r13-stage"))
    Files.writeString(stage.resolve("part-0"), "rebuilt")
    Files.createFile(stage.resolve("_SUCCESS"))
    Scratch.publishDir(stage.toString, target.toString)
    assert(Files.readString(target.resolve("part-0")) == "rebuilt")
    assert(inode.toFile.lastModified >= t0 - 5000,
      "recovery must renew the lock file's mtime (it was 7h stale)")
    Scratch.deleteTree(target)
    Files.deleteIfExists(inode)
  }

  test("artifact loads reject a missing/null info.json checksum as loudly as a mismatch") {
    // the null-hole class, artifact-side: a tampered/truncated
    // info.json WITHOUT a checksum field (or with `checksum: null`) was
    // an anonymous NoSuchElementException/NPE on the serve path instead
    // of the contract's corrupt-artifact IllegalArgumentException
    for (info <- Seq("{}", "{\"checksum\": null}")) {
      val md = Paths.get(Scratch.dir("graft-r13-art"))
      Files.writeString(md.resolve("model.json"), "{\"impl\": \"ridge\"}")
      Files.writeString(md.resolve("info.json"), info)
      val e = intercept[IllegalArgumentException] {
        graft.build.Persistence.load(md.toString)
      }
      assert(e.getMessage.contains("no checksum"), e.getMessage)
      val ad = Paths.get(Scratch.dir("graft-r13-ann"))
      Files.writeString(ad.resolve("index.json"), "{\"centroids\": []}")
      Files.writeString(ad.resolve("info.json"), info)
      val e2 = intercept[IllegalArgumentException] {
        graft.llm.AnnIndex.load(ad.toString)
      }
      assert(e2.getMessage.contains("no checksum"), e2.getMessage)
      Scratch.deleteTree(md); Scratch.deleteTree(ad)
    }
  }

  test("wire parsers handle malformed time/value cells per contract under ANSI mode") {
    // a wire-parser fuzz counterexample: {"":{"":5}} is valid JSON
    // in the dict-of-dicts shape but its timestamp key is not ISO —
    // under Spark 4's default ANSI mode the plain to_timestamp threw an
    // anonymous CAST_INVALID_INPUT job failure; the contract reject
    // names the offending key
    val spark = SparkTestSession.spark
    val e = intercept[IllegalArgumentException] {
      graft.data.Providers.fromJsonBody(spark, "{\"\":{\"\":5}}").collect()
    }
    assert(e.getMessage.contains("non-ISO timestamp key"), e.getMessage)
    // valid bodies are unaffected (try_to_timestamp == to_timestamp there)
    assert(graft.data.Providers.fromJsonBody(spark,
      "{\"t1\": {\"2020-01-01T00:00:00Z\": 1.5}}").count() == 1)
    // influx: a malformed time or value CELL becomes the documented
    // null-point row — neighbors intact, never a failed job
    val json = """{"results":[{"series":[{"name":"m","tags":{"tag":"T1"},
      |"columns":["time","Value"],
      |"values":[["not a ts","1.5"],["2020-01-01T00:01:00Z","junk"],
      |["2020-01-01T00:02:00Z","2.5"]]}]}]}""".stripMargin
    val rows = graft.data.Influx.fromQueryResponse(spark, json)
      .orderBy(org.apache.spark.sql.functions.col("ts").asc_nulls_first)
      .collect()
    assert(rows.length == 3, "malformed cells must not drop or kill rows")
    assert(rows(0).isNullAt(1) && rows(0).getDouble(2) == 1.5,
      "bad time cell -> null ts, value intact")
    assert(!rows(1).isNullAt(1) && rows(1).isNullAt(2),
      "bad value cell -> null value, ts intact")
    assert(rows(2).getDouble(2) == 2.5)
  }
}
