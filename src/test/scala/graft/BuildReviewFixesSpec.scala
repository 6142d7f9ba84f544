package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{ModelBuilder, Persistence, Responses, Serving}

/** Regression coverage for build-layer defects: stale registry
  * entries, non-string JSON keys, duplicate response index values,
  * malformed evaluation.metrics, missing order columns, and LruCache
  * invalidation. */
class BuildReviewFixesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("checkCache rejects a registry entry whose dir now holds a different key's model") {
    val tmp = Scratch.dir("graft-reg")
    val modelDir = Paths.get(tmp, "m")
    Files.createDirectories(modelDir)
    Files.writeString(modelDir.resolve("model.json"), "{}")
    Files.writeString(modelDir.resolve("metadata.json"),
      Persistence.toJson(Map("cache_key" -> "keyB")))
    // a hit also requires the artifact checksum (corrupt cached models
    // self-heal as misses) — give the fixture the
    // complete layout `save` always writes
    Files.writeString(modelDir.resolve("info.json"),
      Persistence.toJson(Map("checksum" ->
        java.security.MessageDigest.getInstance("SHA-256")
          .digest("{}".getBytes("UTF-8")).map(b => f"$b%02x").mkString)))
    Persistence.registerModel(s"$tmp/registry", "keyA", modelDir.toString)
    Persistence.registerModel(s"$tmp/registry", "keyB", modelDir.toString)
    // the dir's own metadata says keyB — a keyA probe must MISS
    // (rebuild), never serve keyB's weights as keyA's cached build
    assert(Persistence.checkCache(s"$tmp/registry", "keyA").isEmpty)
    assert(Persistence.checkCache(s"$tmp/registry", "keyB")
      .contains(modelDir.toString))
    // a dir with no metadata.json is also a miss, not a crash
    Files.delete(modelDir.resolve("metadata.json"))
    assert(Persistence.checkCache(s"$tmp/registry", "keyB").isEmpty)
  }

  test("toJson stringifies non-string map keys instead of ClassCastException") {
    val j = Persistence.toJson(Map(2024 -> "retrained", "a" -> 1))
    assert(j == """{"2024":"retrained","a":1}""")
  }

  test("toNestedJson rejects duplicate start values instead of silently dropping rows") {
    val dup = Seq((10L, 1.0), (10L, 2.0), (20L, 3.0)).toDF("start", "g.t")
    val e = intercept[IllegalArgumentException](Responses.toNestedJson(dup))
    assert(e.getMessage.contains("duplicate start"))
    val ok = Seq((10L, 1.0), (20L, 3.0)).toDF("start", "g.t")
    assert(Responses.toNestedJson(ok).contains("\"10\""))
  }

  test("a scalar evaluation.metrics fails loudly instead of silently using defaults") {
    val yaml =
      """name: m1
        |dataset:
        |  tags: [t1]
        |model:
        |  gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
        |    base_estimator:
        |      sklearn.pipeline.Pipeline:
        |        steps:
        |          - sklearn.preprocessing.MinMaxScaler
        |          - gordo.machine.model.models.KerasAutoEncoder:
        |              kind: feedforward_hourglass
        |evaluation:
        |  metrics: r2_score
        |""".stripMargin
    val spec = graft.config.Config.machineFromConfig(
      graft.config.Config.parseYaml(yaml), Some("p"),
      graft.config.Config.defaultGlobals)
    val long = Seq(("t1", 0L, 1.0), ("t1", 600L, 2.0), ("t1", 1200L, 3.0))
      .toDF("tag", "epoch", "value")
      .select($"tag",
        org.apache.spark.sql.functions.timestamp_seconds($"epoch").as("ts"),
        $"value")
    val tmp = Scratch.dir("graft-metrics")
    val e = intercept[graft.config.ModelRegistry.CompileException] {
      ModelBuilder.buildSpec(spec, long, "tag", "ts", "value",
        outputDir = s"$tmp/model", closedForm = true)
    }
    assert(e.getMessage.contains("metrics"))
  }

  test("verifyColumns reports a missing order column as BadInputException") {
    val df = Seq((1.0, 2.0)).toDF("t1", "t2")
    val e = intercept[Serving.BadInputException] {
      Serving.verifyColumns(df, Seq("t1", "t2"), orderCol = Some("ts"))
    }
    assert(e.getMessage.contains("order column"))
  }

  test("ModelCache.invalidate forces a re-load; removed entries are not resurrected") {
    val loads = new java.util.concurrent.atomic.AtomicInteger
    val cache = new Serving.LruCache[String, Int](capacity = 2)(_ =>
      loads.incrementAndGet())
    assert(cache.get("a") == 1 && cache.get("a") == 1)
    cache.remove("a")
    assert(!cache.contains("a"))
    assert(cache.get("a") == 2, "a removed entry must re-load, not revive")
  }
}
