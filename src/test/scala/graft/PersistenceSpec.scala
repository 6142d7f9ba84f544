package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.build.Persistence
import graft.ml.{DiffAnomaly, Preprocess, Windows}

class PersistenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val tagList = Seq("tx", "ty", "tz")

  /** 60-bucket 3-tag noisy series: non-trivial fits for every family. */
  private def wide = (0 until 60).map { i =>
    (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
      25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0, math.sin(i * 1.7) * 10.0)
  }.toDF("bucket_ts", "tx", "ty", "tz")

  /** start, total-anomaly-scaled and every model-output column, by start. */
  private def scores(fd: DiffAnomaly.FittedDetector, frame: DataFrame) = {
    val cols = "start" +: "total-anomaly-scaled" +:
      tagList.map(t => s"model-output.$t")
    DiffAnomaly.anomaly(fd, frame, 600L)
      .select(cols.map(c => Cols.q(c)): _*).orderBy("start").collect().toSeq
  }

  test("fit -> save -> load scores bit-identically for every closed-form family") {
    val (windowed, lagTags) = Windows.withLookback(wide, tagList, "bucket_ts", 2, 0)
    // (family, frame, feature tags, base, fold offset, impl in model.json)
    val cases = Seq[(String, DataFrame, Seq[String], DiffAnomaly.Reconstructor, Int, String)](
      ("trend", wide, tagList, new DiffAnomaly.TrendReconstructor("bucket_ts", 600L), 0, "trend"),
      ("ridge", wide, tagList, new DiffAnomaly.RidgeReconstructor(), 0, "ridge"),
      ("pca", wide, tagList, new DiffAnomaly.PcaReconstructor(2), 0, "pca"),
      ("window autoencoder", windowed, lagTags, new DiffAnomaly.WindowAutoencoder(), 1,
        "window_ae"),
      ("ridge under a MinMaxScaler prefix", wide, tagList,
        new Preprocess.Reconstructor(new DiffAnomaly.RidgeReconstructor(),
          List(Preprocess.ScalerSpec("minmax"))), 0, "ridge"))
    for ((family, frame, xTags, base, offset, impl) <- cases) {
      val fitted = DiffAnomaly.fit(frame, xTags, "bucket_ts", base,
        nSplits = 3, targetTags = tagList, foldOffset = offset)
      val dir = Paths.get(Scratch.dir("graft-parity"))
      try {
        Persistence.save(dir.toString, Persistence.stateOf(fitted, 600L))
        val model = graft.config.Config.parseYaml(
          Files.readString(Paths.get(dir.toString, "model.json")))
        assert(model("impl") == impl, family)
        val loaded = Persistence.load(dir.toString)
        assert(loaded.model.impl == impl, family)
        // one constructor per family: load rebuilds the fit path's own class
        assert(loaded.model.getClass == fitted.model.getClass, family)
        val expected = scores(fitted, frame)
        assert(expected.nonEmpty, family)
        assert(scores(loaded, frame) == expected, family)
      } finally Scratch.deleteTree(dir)
    }
  }

  test("q80 integrity fact names a missing/null checksum instead of crashing") {
    // the same tampered-artifact scenario Persistence.loadFull /
    // AnnIndex.load reject with the contract exception; the dump
    // INVENTORY's job is to report, so the fact reports rather than
    // raising an anonymous NoSuchElementException (no key) or NPE
    // (checksum: null)
    val f = graft.operators.AnomalyQueries.checksumFact _
    assert(f(Map("impl" -> "x"), "ab") == "checksum_missing")
    assert(f(Map("checksum" -> null), "ab") == "checksum_missing")
    assert(f(Map("checksum" -> "ab"), "ab") == "checksum_matches_true")
    assert(f(Map("checksum" -> "cd"), "ab") == "checksum_matches_false")
  }
}
