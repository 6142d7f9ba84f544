package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.llm.{AnnIndex, TextDedup}

/** ScalaCheck invariants for the LLM-pipeline operator family — each
  * property states a THEOREM the operator's design guarantees (not a
  * statistical tendency), checked against plain-Scala ground truths that
  * share no code with any Spark path:
  *
  *  - winnowing (SIGMOD'03): a shared substring of length ≥ w+k−1
  *    always yields a shared fingerprint;
  *  - banded SimHash: maxHamming < bands leaves ≥ 1 clean band
  *    (pigeonhole), so the banded join has TOTAL recall — output equals
  *    the all-pairs ground truth exactly;
  *  - MinHash banding: identical shingle sets hash to identical
  *    signatures, so exact-dup pairs are always candidates;
  *  - jaccardPairs: ALL router paths (direct posting join below
  *    t = 0.5, PPJoin prefix-filter at t ≥ 0.5, plus both forced
  *    overrides `unboundedOk` and `forcePrefix`) reproduce the exact
  *    pair set;
  *  - dupClusters: per-component keeper/keep-flag/size contract over
  *    arbitrary graphs;
  *  - contamination: shared-distinct-n-gram counts with the
  *    absence-means-clean contract (null benchmark flags dropped);
  *  - AnnIndex: JSON round-trip is bit-exact for adversarial doubles
  *    (subnormals, huge/tiny exponents, signed zero).
  */
object LlmInvariantProps extends Properties("graft.llm") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(PropDraws(12))

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- winnowing: shared substring ≥ w+k−1 ⇒ shared fingerprint ----

  private val charGen = Gen.oneOf('a', 'b', 'c')
  private def strGen(lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))

  property("winnowing: docs sharing a substring of length w+k-1 share a fingerprint") =
    forAll(strGen(0, 25), strGen(0, 25), strGen(12, 20),
      Gen.choose(0, 25), Gen.choose(0, 25)) { (a, b, shared, pa, pb) =>
      val ta = a.substring(0, math.min(pa, a.length)) + shared +
        a.substring(math.min(pa, a.length))
      val tb = b.substring(0, math.min(pb, b.length)) + shared +
        b.substring(math.min(pb, b.length))
      val fps = TextDedup.winnowingFingerprints(
        Seq((1L, ta), (2L, tb)).toDF("doc_id", "text"),
        "doc_id", "text", k = 5, w = 8)
        .as[(Long, String)].collect()
      val fa = fps.collect { case (1L, f) => f }.toSet
      val fb = fps.collect { case (2L, f) => f }.toSet
      Prop((fa & fb).nonEmpty) :|
        s"no shared fingerprint: ta='$ta' tb='$tb' shared='$shared'"
    }

  // ---- banded SimHash: total recall at maxHamming < bands ----

  private val tokDocsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 10)
    vocab = (0 until 6).map(i => s"w$i")
    docs <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.oneOf(vocab)))
  } yield docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }

  property("banded simhash equals the all-pairs hamming<=3 ground truth") =
    forAll(tokDocsGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val hashes = df
        .select($"doc_id", TextDedup.simhash32($"text").as("sh"))
        .as[(Long, Long)].collect().toMap
      val truth = (for {
        (a, _) <- docs; (b, _) <- docs if a < b
        h = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
        if h <= 3
      } yield (a, b, h.toLong)).toSet
      val got = TextDedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3)
        .as[(Long, Long, Long)].collect().toSet
      // ≤ 3 flipped bits cannot touch all 4 bands, so banding loses
      // nothing; the exact-hamming verify drops everything else
      Prop(got == truth) :| s"got=$got truth=$truth"
    }

  // ---- MinHash banding: identical shingle sets are always candidates ----

  private val dupCorpusGen: Gen[List[(Long, String)]] = for {
    nBase <- Gen.choose(1, 4)
    vocab = (0 until 8).map(i => s"t$i")
    bases <- Gen.listOfN(nBase, Gen.listOfN(6, Gen.oneOf(vocab)))
    copies <- Gen.listOfN(nBase, Gen.choose(1, 3))
  } yield bases.zip(copies).flatMap { case (ts, c) =>
    List.fill(c)(ts.mkString(" "))
  }.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("minhash banding always surfaces identical-shingle-set pairs") =
    forAll(dupCorpusGen) { docs =>
      val shDf = TextDedup.withShingles(docs.toDF("doc_id", "text"),
        "doc_id", "text", ngram = 3)
      val sets = shDf.select($"id", $"sh")
        .as[(Long, Seq[String])].collect().toMap
      val mustFind = (for {
        (a, _) <- docs; (b, _) <- docs if a < b
        if sets(a).nonEmpty && sets(a).toSet == sets(b).toSet
      } yield (a, b)).toSet
      val cands = TextDedup.candidatePairs(shDf, k = 12, bands = 6)
        .as[(Long, Long)].collect().toSet
      Prop(mustFind.subsetOf(cands)) :|
        s"missed exact dups: ${mustFind -- cands}"
    }

  // ---- jaccardPairs: both router paths reproduce the exact pair set ----

  private val shingleCorpusGen: Gen[List[(Long, Seq[String])]] = for {
    nDocs <- Gen.choose(2, 10)
    vocab = (0 until 8).map(i => s"s$i")
    docs <- Gen.listOfN(nDocs, Gen.someOf(vocab).map(_.toSeq))
  } yield docs.zipWithIndex.map { case (sh, i) => (i.toLong, sh) }

  property("jaccardPairs matches ground truth on every router path") =
    forAll(shingleCorpusGen, Gen.oneOf(0.25, 0.4, 0.5, 0.7, 0.9)) {
      (docs, t) =>
        val truth = (for {
          (a, sa) <- docs; (b, sb) <- docs if a < b
          inter = (sa.toSet & sb.toSet).size
          uni = (sa.toSet | sb.toSet).size
          if uni > 0 && inter.toDouble / uni >= t
        } yield (a, b, inter.toDouble / uni)).toSet
        val shDf = docs.toDF("id", "sh")
        def run(unbounded: Boolean, forcePrefix: Boolean = false) =
          TextDedup.jaccardPairs(shDf, t, unboundedOk = unbounded,
            forcePrefix = forcePrefix)
            .select($"id_a", $"id_b", $"jaccard")
            .as[(Long, Long, Double)].collect().toSet
        Prop(run(false) == truth) :| s"routed != truth (t=$t)" &&
          Prop(run(true) == truth) :| s"direct != truth (t=$t)" &&
          Prop(run(false, forcePrefix = true) == truth) :|
            s"forced prefix != truth (t=$t)"
    }

  // ---- dupClusters: keeper / keep-flag / size contract ----

  property("dupClusters emits min-id keeper, keep flag, and true sizes") =
    forAll(GraphTruth.edgesGen) { edges =>
      // ground truth shared with InvariantProps' connectedComponents
      // property — one union-find, provably the same for both suites
      val comp = GraphTruth.minLabels(edges)
      val sizes = comp.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
      val expected = comp.map { case (n, c) =>
        (n, c, n == c, sizes(c)) }.toSet
      Prop.all(CcPath.both.map { path =>
        val got = path.dupClusters(edges.toDF("id_a", "id_b"))
          .as[(Long, Long, Boolean, Long)].collect().toSet
        Prop(got == expected) :| s"$path: got=$got expected=$expected"
      }: _*)
    }

  // ---- contamination: counts + absence-means-clean + null handling ----

  private val contamGen: Gen[List[(Long, String, Option[Boolean])]] = for {
    n <- Gen.choose(2, 10)
    vocab = (0 until 6).map(i => s"c$i")
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.listOfN(5, Gen.oneOf(vocab)),
      Gen.frequency(3 -> Gen.oneOf(true, false).map(Option(_)),
        1 -> Gen.const(Option.empty[Boolean]))))
  } yield rows.zipWithIndex.map { case ((ts, bm), i) =>
    (i.toLong, ts.mkString(" "), bm)
  }

  property("contamination counts distinct shared n-grams; absence means clean") =
    forAll(contamGen) { rows =>
      def grams(t: String): Set[String] = {
        val tk = t.split(" ")
        if (tk.length < 2) Set.empty
        else tk.sliding(2).map(_.mkString(" ")).toSet
      }
      val bmSet = rows.collect { case (_, t, Some(true)) => grams(t) }
        .foldLeft(Set.empty[String])(_ | _)
      val expected = rows.collect { case (id, t, Some(false)) =>
        (id, (grams(t) & bmSet).size.toLong)
      }.filter(_._2 >= 1).toSet
      val df = rows.map { case (id, t, bm) =>
        (id, t, bm.map(java.lang.Boolean.valueOf).orNull)
      }.toDF("doc_id", "text", "bm")
      val got = TextDedup.contamination(df, "doc_id", "text",
        isBenchmark = $"bm", n = 2)
        .as[(Long, Long)].collect().toSet
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  // ---- AnnIndex: bit-exact JSON round-trip for adversarial doubles ----

  private val hardDoubleGen: Gen[Double] = Gen.oneOf(
    Gen.oneOf(java.lang.Double.MIN_VALUE, 1e-300, 1e300, -0.0, 0.0,
      1.0 / 3.0, math.Pi * 1e-17, java.lang.Double.MAX_VALUE,
      -java.lang.Double.MIN_NORMAL),
    Gen.choose(-1e9, 1e9),
    Gen.choose(-1.0, 1.0))

  property("AnnIndex round-trips adversarial doubles bit-for-bit") =
    forAll(Gen.listOfN(3, Gen.listOfN(4, hardDoubleGen)),
      Gen.choose(1, 8)) { (vecs, nprobe) =>
      val cents = vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      val cb: graft.llm.Similarity.PqCodebook =
        Seq(vecs.map(_.toSeq.take(2)), vecs.map(_.toSeq.drop(2)))
      val dir = Scratch.dir("graft-annprop")
      AnnIndex.save(dir, AnnIndex.Index(cents, Some(cb), nprobe))
      val ld = AnnIndex.load(dir)
      def bits(s: Seq[Double]) =
        s.map(java.lang.Double.doubleToLongBits)
      Prop(ld.nprobe == nprobe) &&
        Prop(ld.centroids.map { case (i, v) => (i, bits(v)) } ==
          cents.map { case (i, v) => (i, bits(v)) }) :| "centroid bits" &&
        Prop(ld.codebook.get.map(_.map(bits)) == cb.map(_.map(bits))) :|
        "codebook bits"
    }
}
