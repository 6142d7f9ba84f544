package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Dev-only ANN scale/recall probe (test scope — not part of the
  * shipped library): runs the exact brute-force baseline, the SQ8
  * scalar-quantized scan, and both IVF variants (gated id-centroid
  * quantizer vs seeded-spherical-k-means-trained quantizer) over a
  * given embeddings dir, and reports wall seconds, recall@k against
  * the exact result, AND the average candidate-list size each IVF
  * variant scanned — recall is only comparable at its scan cost (a
  * degenerate quantizer reaches high recall by scanning most of the
  * corpus through a few giant lists).
  *
  * The query set starts at `qOffset` (default 100), deliberately
  * DISJOINT from the id-centroid seed ids `0 until nCentroids`: a
  * query that IS a centroid always probes its own list first with
  * perfect affinity, which inflates the id-quantizer's recall (queries
  * 0..9 against seeds 0..15 would carry exactly that bias).
  *
  * Claims under test:
  *  - SQ8's 4× compression costs bounded recall (the FAISS trade) and
  *    its scan stays ~linear in corpus size;
  *  - the trained spherical-k-means quantizer beats (or matches) the
  *    id-centroid quantizer on recall at comparable-or-smaller
  *    candidate cost on unbiased queries;
  *  - PQ's 32× compression (8 codes over D=64) costs more recall than
  *    SQ8's 4× but the trained per-subspace codebook recovers part of
  *    it over the seed codebook.
  *
  * Run: `sbt "Test/runMain graft.AnnProbe <dir> [k] [nq] [qOffset]
  * [nprobe] [nCentroids]"` over /root/testdata/sf0.1, /tmp/scale10.
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = if (args.length > 1) args(1).toInt else 10
    val nq = if (args.length > 2) args(2).toInt else 10
    val qOffset = if (args.length > 3) args(3).toLong else 100L
    val nprobe = if (args.length > 4) args(4).toInt else 2
    val nCentroids = if (args.length > 5) args(5).toInt else 16
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables(spark, dir, "embeddings")
    val n = emb.count()
    val qPredCol = col("vec_id") >= qOffset && col("vec_id") < qOffset + nq
    val qPredId = col("id") >= qOffset && col("id") < qOffset + nq
    val queries = emb.filter(qPredCol)

    // (wall, result pairs) for a top-k frame with (qid, <cand col>) rows
    def run(df: => DataFrame, candCol: String): (Double, Set[(Long, Long)]) = {
      val t0 = System.nanoTime()
      val pairs = df.select(col("qid").cast("long"),
          col(candCol).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((System.nanoTime() - t0) / 1e9, pairs)
    }

    val (exactSec, exact) = run(
      Similarity.bruteTopK(emb, queries, "vec_id", "embedding", k), "cid")
    def recall(got: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0 else got.count(exact).toDouble / exact.size

    val (sq8Sec, sq8) = run(
      Similarity.sq8TopK(emb, queries, "vec_id", "embedding", k), "cid")

    val (ivfIdSec, ivfId) = run(
      Similarity.ivfTopK(emb, "vec_id", "embedding", nCentroids,
        nprobe, k, queryPred = qPredId), "cand")
    // iters=0 reproduces the id-centroid quantizer (unit-normalized,
    // same cosine assignments) for the cost diagnostic
    val idCents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nCentroids, iters = 0)
    val idCand = Similarity.ivfCandCount(emb, "vec_id", "embedding",
      idCents, nprobe, qPredId)

    val tTrain0 = System.nanoTime()
    val trained = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nCentroids, iters = 10)
    val trainSec = (System.nanoTime() - tTrain0) / 1e9
    val (ivfKmSec, ivfKm) = run(
      Similarity.ivfTopKWith(emb, "vec_id", "embedding", trained,
        nprobe, k, queryPred = qPredId), "cand")
    val kmCand = Similarity.ivfCandCount(emb, "vec_id", "embedding",
      trained, nprobe, qPredId)

    // PQ (8 subspaces x 16 centroids over D=64 — 32x compression):
    // seed codebook (the gated q85 configuration) vs the L2-k-means
    // trained one. Same linear |Q|·N ADC scan as SQ8; the question the
    // rows answer is what recall the extra 8x compression costs.
    val (pqIdSec, pqId) = run(
      Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        mSub = 8, nCentroids = 16, k), "cid")
    // FAISS training discipline: the codebook trains on a BOUNDED
    // deterministic sample (full corpus below 20k) — codebook quality
    // saturates with the sample, so training cost stays O(sample),
    // independent of corpus size (at 1×/10× this IS the full corpus)
    val pqTrainN = math.min(n, 20000L)
    val tPq0 = System.nanoTime()
    val pqCb = Similarity.trainPqCodebook(
      emb.filter(col("vec_id") < pqTrainN), "vec_id", "embedding",
      mSub = 8, nCentroids = 16, iters = 10)
    val pqTrainSec = (System.nanoTime() - tPq0) / 1e9
    val (pqKmSec, pqKm) = run(
      Similarity.pqTopKWith(emb, queries, "vec_id", "embedding", pqCb, k), "cid")

    // the production serving composition: trained IVF bounds the scan,
    // trained PQ bounds the memory — recall is capped by BOTH (a miss
    // if the true neighbor is outside the probed lists OR mis-ranked
    // by its 32×-compressed reconstruction)
    val (ivfPqSec, ivfPq) = run(
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", trained, pqCb,
        nprobe, k, queryPred = qPredId), "cand")

    println(f"""{"probe":"ann","dir":"$dir","n":$n,"k":$k,"nq":$nq,"q_offset":$qOffset,""" +
      f""""nprobe":$nprobe,"n_centroids":$nCentroids,""" +
      f""""exact_sec":$exactSec%.2f,""" +
      f""""sq8_sec":$sq8Sec%.2f,"sq8_recall":${recall(sq8)}%.3f,""" +
      f""""ivf_id_sec":$ivfIdSec%.2f,"ivf_id_recall":${recall(ivfId)}%.3f,""" +
      f""""ivf_id_cand":$idCand%.0f,""" +
      f""""ivf_kmeans_train_sec":$trainSec%.2f,""" +
      f""""ivf_kmeans_sec":$ivfKmSec%.2f,"ivf_kmeans_recall":${recall(ivfKm)}%.3f,""" +
      f""""ivf_kmeans_cand":$kmCand%.0f,""" +
      f""""pq_id_sec":$pqIdSec%.2f,"pq_id_recall":${recall(pqId)}%.3f,""" +
      f""""pq_train_n":$pqTrainN,"pq_kmeans_train_sec":$pqTrainSec%.2f,""" +
      f""""pq_kmeans_sec":$pqKmSec%.2f,"pq_kmeans_recall":${recall(pqKm)}%.3f,""" +
      f""""ivfpq_sec":$ivfPqSec%.2f,"ivfpq_recall":${recall(ivfPq)}%.3f}""")
    spark.stop()
  }
}
