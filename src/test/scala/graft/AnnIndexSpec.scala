package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{AnnIndex, Similarity}

/** ANN index persistence (graft.llm.AnnIndex): bit-exact round-trip of
  * trained IVF centroids + PQ codebook, served-result equality from a
  * loaded artifact, and checksum tamper detection. */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): String =
    Scratch.dir("graft-annindex")

  test("save/load round-trips trained centroids and codebook bit-exactly") {
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nCentroids = 4, iters = 2)
    val cb = Similarity.trainPqCodebook(emb, "vec_id", "embedding",
      mSub = 8, nCentroids = 4, iters = 1)
    val dir = tmpDir()
    AnnIndex.save(dir, AnnIndex.Index(cents, Some(cb), nprobe = 2))
    val loaded = AnnIndex.load(dir)
    // Double.toString/toDouble round-trips IEEE doubles exactly, so the
    // loaded artifact must be equal, not approximately equal
    assert(loaded.centroids == cents)
    assert(loaded.codebook.contains(cb))
    assert(loaded.nprobe == 2)
  }

  test("a loaded index serves the same top-k as the in-session one") {
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nCentroids = 4, iters = 1)
    val cb = Similarity.pqCodebookFromIds(emb, "vec_id", "embedding",
      mSub = 8, nCentroids = 4)
    val dir = tmpDir()
    AnnIndex.save(dir, AnnIndex.Index(cents, Some(cb), nprobe = 2))
    val ld = AnnIndex.load(dir)
    def run(c: Seq[(Int, Seq[Double])], k: Similarity.PqCodebook) =
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", c, k,
        nprobe = 2, k = 3, queryPred = col("id") < 5)
        .select($"qid", $"rank", $"cand")
        .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(run(ld.centroids, ld.codebook.get) == run(cents, cb))
  }

  test("PQ-less index (plain IVF) persists with a null codebook") {
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, -1.0)))
    val dir = tmpDir()
    AnnIndex.save(dir, AnnIndex.Index(cents, None, nprobe = 1))
    val loaded = AnnIndex.load(dir)
    assert(loaded == AnnIndex.Index(cents, None, 1))
  }

  test("a production-sized index (json > snakeyaml's 3 MB default) loads") {
    // snakeyaml's default 3 MB code-point limit would make any
    // realistically sized artifact (e.g. 4096 centroids x 768 dims)
    // save fine and then throw on EVERY load — the parser must carry a
    // raised limit. 2048 x 160 dims of full-precision doubles ≈ 6 MB.
    val rng = new scala.util.Random(7)
    val cents = (0 until 2048).map(c => (c, Seq.fill(160)(rng.nextDouble())))
    val dir = tmpDir()
    AnnIndex.save(dir, AnnIndex.Index(cents, None, nprobe = 8))
    assert(Files.size(Paths.get(dir, "index.json")) > 3L * 1024 * 1024,
      "fixture must exceed the default snakeyaml limit to prove anything")
    val loaded = AnnIndex.load(dir)
    assert(loaded.centroids == cents)
    assert(loaded.nprobe == 8)
  }

  test("a tampered index.json fails the checksum check") {
    val dir = tmpDir()
    AnnIndex.save(dir, AnnIndex.Index(Seq((0, Seq(0.5))), None, 1))
    val p = Paths.get(dir, "index.json")
    Files.writeString(p, Files.readString(p).replace("0.5", "0.6"))
    val e = intercept[IllegalArgumentException] { AnnIndex.load(dir) }
    assert(e.getMessage.contains("checksum"))
  }
}
