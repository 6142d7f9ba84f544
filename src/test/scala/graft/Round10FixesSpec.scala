package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextDedup

/** Regression coverage for the contaminationFull left-join
  * convenience, sq8's all-non-finite dimension, and the forwarder
  * fence's legacy-adopt path. (Its cache-ownership tests live in
  * SessionCacheSpec.) */
class Round10FixesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("contaminationFull: a row per corpus doc, clean docs report 0 (verdict item 2)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", Some(true)),
      (2L, "so the quick brown fox jumps over a fence", Some(false)),
      (3L, "completely different words appear in this document", Some(false)),
      (4L, "tiny", Some(false)),
      (5L, "the quick brown irrelevant", None: Option[Boolean])
    ).toDF("doc_id", "text", "bm")
    // inner-join contract unchanged: only contaminated docs appear
    val inner = TextDedup.contamination(docs, "doc_id", "text", $"bm", n = 3)
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(inner.map(_._1) == Seq(2L))
    assert(inner.head._2 >= 1L)
    // the full variant closes the foot-gun: selecting clean docs by
    // n_shared == 0 works, short docs report 0, null-flag docs are
    // neither corpus nor benchmark, benchmark docs absent
    val full = TextDedup.contaminationFull(docs, "doc_id", "text", $"bm", n = 3)
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(full.map(_._1) == Seq(2L, 3L, 4L))
    assert(full == Seq((2L, inner.head._2), (3L, 0L), (4L, 0L)))
  }

  test("sq8 rejects an all-non-finite dimension loudly (no silent quantizer misalignment)") {
    // dimension 1 is NaN in EVERY corpus row: a pre-groupBy finite
    // filter deleted its GROUP outright, so the null-lo require could
    // never fire and the positional lo/step arrays misaligned every
    // later dimension against transform's element index — wrong
    // neighbors, silently. The in-aggregate mask keeps the dimension's
    // row with a null lo and this require fires instead.
    val corpus = Seq(
      (1L, Array(1.0, Double.NaN, 2.0)),
      (2L, Array(3.0, Double.NaN, 4.0)),
      (3L, Array(0.5, Double.NaN, 1.5))).toDF("id", "emb")
    val queries = Seq((100L, Array(1.0, 1.0, 1.0))).toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      graft.llm.Similarity.sq8TopK(corpus, queries, "id", "emb", k = 2)
    }
    assert(e.getMessage.contains("no finite values"), e.getMessage)
  }

  test("a sink holding only unparseable batch_id dirs still fences (no silent interleave)") {
    // the fence's evidence must be the PRESENCE of batch_id-prefixed
    // dirs, not just the parseable ids: a sink whose only batch dir is
    // a hand-renamed `batch_id=3.bak` previously read as empty, the
    // stale state was treated as a fresh sink, and new batches would
    // silently interleave with the stale data
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Scratch.dir("graft-fence4")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/out/batch_id=3.bak"))
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Forwarder.toParquet(input.toDF().toDF("id", "v"),
        s"$tmp/out", s"$tmp/ckpt")
    }
    assert(e.getMessage.contains("batch_id dirs"), e.getMessage)
  }
}
