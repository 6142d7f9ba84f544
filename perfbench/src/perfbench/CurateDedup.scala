package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.llm.{Components, TextDedup}

/** `curate_dedup`: the `graft.llm` curation pass over a seeded corpus
  * with a stated share of documents in planted near-duplicate clusters
  * and a few documents carrying passages of a benchmark set. One
  * operation is `withShingles` → `candidatePairs` → `verifiedPairs` →
  * `Components.dupClusters` (then `release`) → `contamination`. */
final class CurateDedup(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  val nDocs = 3000
  val vocab = 3000
  val clusteredShare = 0.3
  val benchDocs = 40
  val contaminatedShare = 0.05
  val threshold = 0.4
  val passageWords = 20

  private var docs: DataFrame = _
  private var texts = Map.empty[Long, String]
  private var plantedPairs = Set.empty[(Long, Long)]
  private var contaminated = Set.empty[Long]
  // outputs of the last pass, for the checks
  private var lastVerified = Seq.empty[(Long, Long, Double)]
  private var lastClusters = Map.empty[Long, Long]
  private var lastHits = Set.empty[Long]
  private var candidates = Vector.empty[Long]

  def inputs: Map[String, Any] = Map(
    "docs" -> nDocs, "vocabulary" -> vocab, "clustered_doc_share" -> clusteredShare,
    "planted_pairs" -> plantedPairs.size, "benchmark_docs" -> benchDocs,
    "contaminated_docs" -> contaminated.size, "jaccard_threshold" -> threshold,
    "planted_pair_recall" -> recall)

  def recall: Double =
    if (plantedPairs.isEmpty) Double.NaN
    else lastVerified.count(p => plantedPairs((p._1, p._2))).toDouble / plantedPairs.size

  def generate(dir: String): Unit = {
    val r = Gen.rng(seed, "corpus")
    def word(): String = s"w${(math.pow(vocab.toDouble, r.nextDouble()) - 1).toInt}"
    def doc(): Array[String] = Array.fill(40 + r.nextInt(41))(word())
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Boolean)]
    val bench = IndexedSeq.fill(benchDocs)(doc())
    bench.foreach(d => out += ((out.size.toLong, d.mkString(" "), true)))
    var pairs = Set.empty[(Long, Long)]
    var clustered = 0
    var hits = Set.empty[Long]
    while (out.size < benchDocs + nDocs) {
      val base = doc()
      if (clustered < clusteredShare * nDocs) {
        // a cluster of 2-4 near copies: each replaces ~5% of the words
        val size = (2 + r.nextInt(3)).min(benchDocs + nDocs - out.size)
        val ids = (0 until size).map { _ =>
          val d = base.clone()
          (0 until (d.length / 20).max(1)).foreach(_ => d(r.nextInt(d.length)) = word())
          out += ((out.size.toLong, d.mkString(" "), false)); out.size - 1L
        }
        clustered += size
        for (a <- ids; b <- ids if a < b) pairs += ((a, b))
      } else {
        if (r.nextDouble() < contaminatedShare) {
          // splice a benchmark passage into the document
          val b = bench(r.nextInt(benchDocs))
          val s = r.nextInt(b.length - passageWords)
          val at = r.nextInt(base.length)
          val d = base.take(at) ++ b.slice(s, s + passageWords) ++ base.drop(at)
          hits += out.size.toLong
          out += ((out.size.toLong, d.mkString(" "), false))
        } else out += ((out.size.toLong, base.mkString(" "), false))
      }
    }
    spark.createDataFrame(out.toSeq).toDF("id", "text", "is_bench")
      .repartition(Gen.Partitions).write.parquet(s"$dir/corpus")
    docs = spark.read.parquet(s"$dir/corpus")
    texts = out.iterator.map(d => d._1 -> d._2).toMap
    plantedPairs = pairs
    contaminated = hits
  }

  /** Materialize a stage's frame inside its span when tracing, so the
    * span holds that stage's work; untraced, the frame stays lazy. */
  private def stage(name: String)(df: => DataFrame): DataFrame =
    Trace.span(name) {
      val d = df
      if (Trace.isOn) { d.persist(StorageLevel.MEMORY_AND_DISK); d.count() }
      d
    }

  private def pass(): Unit = {
    val corpus = docs.filter(!col("is_bench"))
    val sh = stage("llm.shingle")(
      TextDedup.withShingles(corpus, "id", "text").repartition(col("id")))
    val cand = stage("llm.candidate")(TextDedup.candidatePairs(sh))
    val verified = Trace.span("llm.verify") {
      val v = TextDedup.verifiedPairs(sh, cand, threshold).persist(StorageLevel.MEMORY_AND_DISK)
      lastVerified = v.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      v
    }
    if (Trace.isOn) candidates :+= cand.count()
    Trace.span("llm.cluster") {
      val clusters = Components.dupClusters(verified)
      lastClusters = clusters.select("doc_id", "component").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Components.release(clusters)
    }
    lastHits = Trace.span("llm.contamination") {
      TextDedup.contamination(docs, "id", "text", col("is_bench")).select("id")
        .collect().map(_.getLong(0)).toSet
    }
    Seq(verified, cand, sh).foreach(_.unpersist(false))
  }

  def warmup(): Unit = pass()

  def measure(seconds: Double): Phase = loop(seconds) {
    val (ms, _) = Clock.ms(pass())
    (Seq(ms), nDocs.toDouble)
  }

  def check(): Seq[Check] = {
    def shingles(t: String): Set[String] =
      t.trim.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val wrong = lastVerified.filterNot { case (a, b, j) =>
      val (x, y) = (shingles(texts(a)), shingles(texts(b)))
      val exact = (x & y).size.toDouble / (x | y).size
      j >= threshold && math.abs(exact - j) < 1e-12
    }
    val split = lastVerified.filterNot { case (a, b, _) =>
      lastClusters.get(a).exists(lastClusters.get(b).contains)
    }
    Seq(
      Check("verified_pairs_clear_threshold", lastVerified.nonEmpty && wrong.isEmpty,
        s"${wrong.size} of ${lastVerified.size} pairs below $threshold or mis-scored; " +
          f"planted-pair recall $recall%.4f"),
      Check("clusters_join_verified_pairs", split.isEmpty,
        s"${split.size} verified pairs split across clusters"),
      Check("contamination_finds_planted_passages", contaminated.subsetOf(lastHits),
        s"${(contaminated -- lastHits).size} of ${contaminated.size} planted passages missed"))
  }

  def layers(progress: StreamProgress): Map[String, Double] = {
    val passes = Trace.named("llm.verify").size.max(1)
    def perPass(name: String) = Trace.seconds(name) / passes
    val edges = spark.createDataFrame(lastVerified.map(p => (p._1, p._2))).toDF("a", "b")
    val (cc, rounds) = Components.connectedComponentsWithRounds(edges)
    cc.count()
    Components.release(cc)
    val cand = Stats.median(candidates.map(_.toDouble))
    Map(
      "llm.shingle_s" -> perPass("llm.shingle"),
      "llm.candidate_s" -> perPass("llm.candidate"),
      "llm.verify_s" -> perPass("llm.verify"),
      "llm.cluster_s" -> perPass("llm.cluster"),
      "llm.contamination_s" -> perPass("llm.contamination"),
      "llm.cc_rounds" -> rounds.toDouble,
      "llm.candidate_pairs" -> cand,
      "llm.verified_pairs" -> lastVerified.size.toDouble,
      "llm.pair_yield" -> lastVerified.size / cand)
  }
}
