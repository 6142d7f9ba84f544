package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a deterministic
  * random-hyperplane LSH bucketing as the scale path.
  *
  * Scale design: the baseline broadcast-joins a SMALL query set against
  * the corpus (cost |Q|·N row pairs — never the N² all-pairs crossJoin);
  * the LSH path buckets the corpus once (O(N) signatures, shuffle on the
  * bucket key) and candidates are same-bucket rows only. Dot products are
  * `aggregate` higher-order folds in index order — codegen-friendly, and
  * bit-portable to the DuckDB oracle.
  */
object Similarity {

  /** Left-fold dot product in index order — the native codegen kernel
    * ([[graft.functions.ArrayOps.dot]]); bit-identical to the HOF
    * `aggregate(zip_with(...))` form it replaced. */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayOps.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine with the zero-norm guard (the IVF path's safeCos
    * convention): a zero-norm side scores −2 — below every real
    * cosine — instead of the null that would otherwise tie every
    * candidate and let `row_number` fabricate k arbitrary lowest-id
    * "neighbors" for a zero query vector. */
  private def cosOrFloor(d: Column, n1: Column, n2: Column): Column =
    when(n1 * n2 > 0, d / (n1 * n2)).otherwise(lit(-2.0))

  /** The `k` best candidates per `qid` of a scored frame: `cos`
    * descending, ties to the smaller `id`, numbered in `rank`. */
  private def topK(scored: DataFrame, id: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(id).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k neighbors for each query row (queries must be small —
    * they are broadcast). Excludes self-matches by id. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, k: Int): DataFrame = {
    // norms are precomputed per row — same expression (bit-identical
    // result), 3x fewer fold evaluations than a per-pair cosine
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(embCol).as("qe"), norm(col(embCol)).as("qn")))
    val c = corpus.select(col(idCol).as("cid"), col(embCol).as("ce"),
      norm(col(embCol)).as("cn"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosOrFloor(dot(col("qe"), col("ce")), col("qn"), col("cn")).as("cos"))
    topK(scored, "cid", k)
  }

  /** SQ8 scalar-quantized ANN scan (the public FAISS
    * `ScalarQuantizer`/SQ8 pattern): train = per-dimension corpus
    * (min, max) — one tiny distributed agg (D rows via map-side
    * combine); encode = an 8-bit uniform code per element, the 4×
    * memory compression that keeps a 100 TB float32 corpus scannable;
    * search = ASYMMETRIC — exact query floats against code-center
    * reconstructions (the ADC discipline), so recall loss stays
    * one-sided. Every step is deterministic double arithmetic with a
    * fixed reduction order, so an external engine can replay it
    * bit-for-bit. Queries must be small (broadcast). */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int): DataFrame = {
    // non-finite elements must not train the quantizer: one NaN at
    // dimension d makes hi (NaN sorts largest) and then step, recon,
    // and EVERY corpus row's cosine NaN — cosOrFloor floors them all
    // to -2 and each query "finds" the k smallest ids, silently. The
    // mask lives INSIDE the aggregates (not a pre-groupBy filter): a
    // row-level filter would delete an all-non-finite dimension's GROUP
    // outright, and the positional loArr/stepArr below would then
    // misalign every later dimension against transform's element index
    // — with the masked agg the dimension keeps its row, lo comes back
    // null, and the require fires loudly instead
    val xd = col("x").cast("double")
    val finite = !isnan(xd) &&
      xd =!= lit(Double.PositiveInfinity) &&
      xd =!= lit(Double.NegativeInfinity)
    val stats = corpus
      .select(posexplode(col(embCol)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(when(finite, col("x"))).as("lo"),
        max(when(finite, col("x"))).as("hi"))
      .orderBy(col("d"))
      .collect() // D rows (one per dimension) — bounded by the embedding width
    stats.foreach(r => require(!r.isNullAt(r.fieldIndex("lo")),
      s"sq8TopK: dimension ${r.get(0)} has no finite values to train on"))
    // Number, not Float: the kernel contract is array<float|double>
    val loArr = stats.map(_.getAs[Number]("lo").doubleValue)
    val stepArr = stats.map { r =>
      val lo = r.getAs[Number]("lo").doubleValue
      val hi = r.getAs[Number]("hi").doubleValue
      if (hi == lo) 0.0 else (hi - lo) / 255.0
    }
    val loL = lit(loArr)
    val stepL = lit(stepArr)
    // encode→reconstruct fused: code = clamp(round((x−lo)/step), 0, 255),
    // r = lo + code·step. step=0 (constant dimension) reconstructs lo.
    def recon(e: Column): Column = transform(e, (x, i) => {
      val l = element_at(loL, i + 1)
      val s = element_at(stepL, i + 1)
      when(s === 0.0, l).otherwise(
        l + least(lit(255.0),
          greatest(lit(0.0), floor((x - l) / s + lit(0.5)))) * s)
    })
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(embCol).as("qe"), norm(col(embCol)).as("qn")))
    val c = corpus.select(col(idCol).as("cid"), recon(col(embCol)).as("re"))
      .select(col("cid"), col("re"), norm(col("re")).as("rn"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosOrFloor(dot(col("qe"), col("re")), col("qn"), col("rn")).as("cos"))
    topK(scored, "cid", k)
  }

  /** PQ codebook: `codebook(m)(j)` is the j-th centroid of subspace m
    * (a `D / M`-dim sub-vector). M = codebook.length subspaces,
    * K = codebook(m).length centroids each. */
  type PqCodebook = Seq[Seq[Seq[Double]]]

  /** Product-quantization ANN scan (the public FAISS `IndexPQ`
    * pattern, Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): the D-dim space splits into M orthogonal
    * subspaces of D/M dims; each sub-vector encodes as the id of its
    * nearest (L2) codebook centroid, so a vector stores as M small
    * codes — at M=8, K=16 over D=64 float32 that is 8 bytes against
    * 256, a 32× compression (SQ8's is 4×), which is what makes a
    * 100 TB corpus RAM-resident at scan time. Search is ASYMMETRIC
    * (ADC): the query stays exact and scores against each candidate's
    * reconstruction — computed here literally as the concatenation of
    * its chosen centroids, which is arithmetically identical to the
    * production trick of summing M lookup-table entries
    * (dot(q, concat_m c_m) = Σ_m dot(q_m, c_m)) while staying
    * replayable by an external SQL engine.
    *
    * This gated variant uses the deterministic 0-iteration codebook
    * (sub-vectors of the `nCentroids` smallest-id corpus rows — the
    * same oracle-replayable seeding discipline as [[ivfTopK]]);
    * [[trainPqCodebook]] is the trained library path. Encode is a
    * stateless per-row map (no shuffle — whole-stage codegen over
    * K × M literal sub-distance folds); scoring is the same broadcast
    * |Q|·N scan as [[sq8TopK]]. Ties in the sub-space argmin break to
    * the smaller centroid id. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, mSub: Int, nCentroids: Int, k: Int): DataFrame =
    pqTopKWith(corpus, queries, idCol, embCol,
      pqCodebookFromIds(corpus, idCol, embCol, mSub, nCentroids), k)

  /** The deterministic seed codebook: subspace slices of the
    * `nCentroids` smallest-id corpus vectors. Bounded driver traffic:
    * nCentroids × D doubles. */
  def pqCodebookFromIds(corpus: DataFrame, idCol: String, embCol: String,
                        mSub: Int, nCentroids: Int): PqCodebook = {
    // "smallest ids" literally: a filter(id < n) would silently yield
    // fewer (or zero) seeds for sparse/offset id spaces; on dense
    // 0-based ids (the gated shape) the two are identical
    val rows = corpus.orderBy(col(idCol).asc).limit(nCentroids)
      .select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<double>").as("e"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toIndexedSeq)
    require(rows.nonEmpty, "empty corpus prefix: no codebook seeds")
    val d = rows.head.length
    require(d % mSub == 0, s"dim $d not divisible into $mSub subspaces")
    val ds = d / mSub
    (0 until mSub).map(m => rows.toSeq.map(_.slice(m * ds, m * ds + ds)))
  }

  /** [[pqTopK]] with an externally supplied codebook (typically
    * [[trainPqCodebook]] output): same encode/ADC shape, only the
    * codebook differs. */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                 embCol: String, codebook: PqCodebook, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(embCol).as("qe"), norm(col(embCol)).as("qn")))
    val c = corpus.select(col(idCol).as("cid"),
        pqReconstruct(col(embCol), codebook).as("re"))
      .select(col("cid"), col("re"), norm(col("re")).as("rn"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosOrFloor(dot(col("qe"), col("re")), col("qn"), col("rn")).as("cos"))
    topK(scored, "cid", k)
  }

  /** Encode→reconstruct fused as one column expression — the public PQ
    * decode path: `pqReconstruct(e, cb)` is the code-center
    * approximation of `e` under the codebook. Delegates to the native
    * [[graft.functions.ArrayOps.pqReconstruct]] kernel (one tight JVM
    * loop per row); bit-identical to the HOF construction it replaced
    * (per subspace: slice → K squared-distance `aggregate(zip_with)`
    * left folds → argmin via `array_sort` on (d2, j) structs, ties to
    * the smaller j → `concat` of chosen centroids), whose M × K
    * interpreted lambda folds dominated the PQ scan wall. */
  def pqReconstruct(e: Column, codebook: PqCodebook): Column =
    graft.functions.ArrayOps.pqReconstruct(e, codebook)

  /** Trained PQ codebook: per-subspace Lloyd's k-means under L2 (the
    * metric PQ encodes with — unlike [[trainIvfCentroids]]'s spherical
    * update, the arithmetic-mean update here IS consistent with the
    * L2 assignment). Deterministic init from [[pqCodebookFromIds]];
    * each round is one broadcast-assign over the exploded (row ×
    * subspace) frame and one (m, j, dim) average whose result is
    * M × K × D/M rows — driver traffic bounded by CODEBOOK size, never
    * corpus size. Dead clusters carry their previous centroid forward
    * (the FAISS behavior). Distributed sums are commutative but not
    * associativity-pinned, so results are stable in practice rather
    * than bit-pinned across partitionings — which is why the gated
    * q85 stays on the 0-iteration id codebook. */
  def trainPqCodebook(corpus: DataFrame, idCol: String, embCol: String,
                      mSub: Int, nCentroids: Int, iters: Int = 10): PqCodebook = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cb = pqCodebookFromIds(corpus, idCol, embCol, mSub, nCentroids)
    val ds = cb.head.head.length
    // loop-invariant: every Lloyd round re-reads this exploded frame —
    // persist it once instead of re-running the scan + explode per round
    val subsLease = graft.SessionCache.acquire(
      corpus.select(col(idCol).as("id"),
          col(embCol).cast("array<double>").as("e"))
        .select($"id", posexplode(
          array((0 until mSub).map(m => slice($"e", m * ds + 1, ds)): _*))
          .as(Seq("m", "sub"))))
    val subs = subsLease.df
    try {
    var it = 0
    while (it < iters) {
      val flat = cb.zipWithIndex.flatMap { case (cents, m) =>
        cents.zipWithIndex.map { case (cvec, j) => (m, j, cvec) }
      }
      val cbDf = broadcast(flat.toDF("m", "j", "c"))
      val wAssign = Window.partitionBy($"id", $"m")
        .orderBy($"d2".asc, $"j".asc)
      val means = subs.join(cbDf, "m")
        .withColumn("d2", aggregate(
          zip_with($"sub", $"c", (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
        .withColumn("r", row_number().over(wAssign))
        .filter($"r" === 1)
        .select($"m", $"j", posexplode($"sub").as(Seq("d", "x")))
        .groupBy($"m", $"j", $"d").agg(avg($"x").as("mu"))
        .collect() // M × K × (D/M) rows — codebook-sized, not corpus-sized
      val byMj = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      cb = cb.zipWithIndex.map { case (cents, m) =>
        cents.zipWithIndex.map { case (old, j) =>
          byMj.get((m, j))
            .map(_.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
            .getOrElse(old) // dead cluster: carry forward
        }
      }
      it += 1
    }
    cb
    } finally subsLease.close()
  }

  /** IVF-PQ: the production 100-TB serving composition (the FAISS
    * `IndexIVFPQ` shape, non-residual variant) — the IVF coarse
    * quantizer bounds the SCAN (each query reads ~nprobe/C of the
    * corpus) while PQ bounds the MEMORY (candidates score against
    * their 32×-compressed reconstructions, ADC-style; queries stay
    * exact). Composes [[ivfTopKWith]]'s list structure with
    * [[pqReconstruct]]'s encoding: when the PQ codebook is lossless
    * for a corpus (e.g. seed-only), this equals [[ivfTopKWith]]
    * exactly — the LlmSpec invariant. FAISS's residual refinement
    * (PQ over x − coarse-centroid) is deliberately not modeled: under
    * the cosine metric the residual is not scale-invariant, so the
    * non-residual form is the honest composition. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, embCol: String,
                centroids: Seq[(Int, Seq[Double])], codebook: PqCodebook,
                nprobe: Int, k: Int, queryPred: Column): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.toDF("cid", "ce")
      .select(col("cid"), col("ce"), norm(col("ce")).as("cn")))
    // same probe/join/rank as plain IVF; candidates score against their
    // PQ reconstruction (ADC) — one shared body, so ranking semantics
    // cannot drift between the two paths again
    ivfBody(corpus, idCol, embCol, cents, nprobe, k, queryPred,
      encode = Some(e => pqReconstruct(e, codebook)))
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim d): an LCG step mapped to [−1, 1). Pure integer arithmetic —
    * identical in any engine. */
  def hyperplane(j: Int, d: Column): Column =
    (((d + lit(64L * j)) * lit(1103515245L) + lit(12345L)) % lit(2147483648L))
      .cast("double") / lit(1073741824.0) - lit(1.0)

  /** Sign-bucket key from `planes` random hyperplanes: the classic
    * random-projection LSH for cosine similarity. `table` offsets the
    * plane indices so each hash table draws independent hyperplanes.
    * Delegates to the native [[graft.functions.ArrayOps.lshBandKeys]]
    * kernel — one primitive pass per row, where the previous HOF fold
    * evaluated planes × dims interpreted lambdas per row — and strips
    * the kernel's "t#" prefix; bit-identical signatures (same LCG, same
    * left-to-right double accumulation), so the q36 oracle is unmoved.
    * (For table > 0 the kernel also computes tables 0..table−1; every
    * hot path uses table = 0.)
    *
    * Null semantics (deliberate change from the HOF form): a null
    * embedding — or any null element — yields a NULL bucket, so such
    * rows drop out of bucket-equality joins instead of pooling into a
    * shared all-zeros bucket where they'd cross-join each other and
    * score null cosines anyway. */
  def lshBucket(emb: Column, planes: Int, table: Int = 0): Column = {
    val prefix = table.toString.length + 2 // "t#", 1-based substring start
    substring(element_at(
      graft.functions.ArrayOps.lshBandKeys(emb, planes, table + 1),
      table + 1), prefix, planes)
  }

  /** Banded multi-table LSH candidate pairs: `tables` independent hash
    * tables of `planes` hyperplanes each. A pair is a candidate when it
    * collides in ANY table (the OR-construction — same shape as MinHash
    * banding). This is the 100-TB design: bucket count per table is
    * 2^planes (scale `planes` with log N to bound bucket occupancy, and
    * `tables` for recall), so the per-bucket self-join stays tiny and the
    * plan is explode → shuffle-on-bucket → join → pair-distinct, with NO
    * low-cardinality bucket key and NO crossJoin. */
  def lshCandidatePairs(corpus: DataFrame, idCol: String, embCol: String,
                        planes: Int, tables: Int): DataFrame = {
    val keyed = corpus.select(col(idCol).as("id"),
      explode(graft.functions.ArrayOps.lshBandKeys(col(embCol), planes, tables))
        .as("bucket"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The planes-∝-log N knob made executable: the plane count that
    * bounds EXPECTED bucket occupancy at `targetOccupancy` for an
    * `n`-vector corpus (2^planes buckets per table). Fixed planes at
    * growing N is the one way this family goes quadratic — occupancy
    * grows with N and the within-bucket self-join with N² (measured:
    * 17.9× wall-time at 10× rows with planes pinned; ~linear with this
    * scaling). */
  def planesFor(n: Long, targetOccupancy: Long = 32): Int =
    math.max(1, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0))
      .toInt)

  /** [[lshNearDupPairs]] with `planes` derived from the corpus size (one
    * count job) — the form to reach for when N isn't known up front. */
  def lshNearDupPairsAuto(corpus: DataFrame, idCol: String, embCol: String,
                          tables: Int, threshold: Double,
                          targetOccupancy: Long = 32): DataFrame =
    lshNearDupPairs(corpus, idCol, embCol,
      planesFor(corpus.count(), targetOccupancy), tables, threshold)

  /** Embedding-cosine near-dup pairs, banded-LSH bucketed: candidates
    * collide in any of `tables` hash tables of `planes` planes (OR over
    * tables → recall; planes → bucket size), deduped per pair, then
    * verified by exact cosine ≥ `threshold` — the embedding analog of
    * MinHash near-dup dedup. Only deduped candidates pay the exact
    * cosine: the verify step joins the pair list back to the corpus on
    * id (two hash joins on a high-cardinality key). Scale `planes` with
    * log N ([[planesFor]] / [[lshNearDupPairsAuto]]). */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                      planes: Int, tables: Int, threshold: Double): DataFrame = {
    // vectors ride through the bucket shuffle so no re-join is needed;
    // the cosine filter runs BEFORE the pair-distinct, shrinking the
    // distinct's input to near-dup collisions only (cosine is
    // deterministic, so duplicate collisions dedup exactly)
    val keyed = corpus.select(col(idCol).as("id"), col(embCol).as("e"),
      norm(col(embCol)).as("nrm"),
      explode(graft.functions.ArrayOps.lshBandKeys(col(embCol), planes, tables))
        .as("bucket"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        // zero-norm guard: -2 fails every sane threshold exactly like
        // the null a raw 0/0 would produce, but never NaN-poisons
        cosOrFloor(dot(col("a.e"), col("b.e")),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    * every vector to its nearest of `nCentroids` centroids (one pass,
    * broadcast centroids, window per vector id — high-cardinality
    * partitioning); each query probes its `nprobe` nearest centroid
    * lists and ranks ONLY those candidates by exact cosine. The 100-TB
    * shape of ANN search: the per-query candidate set is ~nprobe/C of
    * the corpus, centroid lists shuffle once on the centroid id, and no
    * crossJoin appears anywhere.
    *
    * The quantizer is deterministic — centroids are the `nCentroids`
    * smallest-id corpus vectors — standing in for k-means training the
    * way the reference's correctness gates use closed-form models
    * (k-means iterations would not be oracle-replayable). */
  def ivfTopK(corpus: DataFrame, idCol: String, embCol: String,
              nCentroids: Int, nprobe: Int, k: Int,
              queryPred: Column /* over the renamed `id` column */): DataFrame = {
    // smallest-n ids (not id < n) — exact on sparse/offset id spaces,
    // identical on the dense 0-based gate corpus
    val cents = broadcast(corpus.orderBy(col(idCol).asc).limit(nCentroids)
      .select(col(idCol).as("cid"), col(embCol).as("ce"),
        norm(col(embCol)).as("cn")))
    ivfBody(corpus, idCol, embCol, cents, nprobe, k, queryPred)
  }

  /** Seeded SPHERICAL k-means training for the IVF coarse quantizer
    * (the library path): deterministic init — the `nCentroids`
    * smallest-id corpus vectors, unit-normalized — then `iters` Lloyd
    * rounds where the update rule MATCHES the assignment metric:
    * cosine assignment, then each centroid becomes the renormalized
    * resultant (sum of unit vectors) of its cluster. A plain
    * arithmetic mean is inconsistent with cosine assignment (long
    * vectors drag the mean off the cluster's angular center); the
    * spherical update is the textbook fix. Each round is one broadcast
    * join over the corpus and one (cid, dim) aggregation whose result
    * is nCentroids × D rows — driver traffic bounded by QUANTIZER
    * size, never corpus size, so the training pass scales exactly like
    * the assignment pass it reuses. An empty or degenerate
    * (zero-resultant) cluster keeps its previous centroid (the FAISS
    * behavior for dead centroids) — a zero centroid would make every
    * cosine NaN, and NaN sorts first under `desc`, so one dead
    * centroid would otherwise swallow the whole corpus. Init,
    * iteration count, and tie-breaks are fixed; the distributed sums
    * are commutative but floating-point addition is not associative,
    * so the result is stable in practice rather than bit-pinned across
    * partitionings — which is why the gated q47 stays on the
    * 0-iteration id-centroid quantizer (an external oracle CAN replay
    * that). The recall/cost trade between the two quantizers is
    * measured in COVERAGE.md's ANN probe table. */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, embCol: String,
                        nCentroids: Int, iters: Int = 10): Seq[(Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def unitOpt(v: Seq[Double]): Option[Seq[Double]] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 1e-12) Some(v.map(_ / n)) else None
    }
    // loop-invariant: every Lloyd round re-reads this frame — persist
    // once instead of re-running the scan + norm filter per round
    val vecsLease = graft.SessionCache.acquire(
      corpus.select(col(idCol).as("id"),
        col(embCol).cast("array<double>").as("e"),
        norm(col(embCol)).as("nrm"))
        .filter($"nrm" > 0))
    val vecs = vecsLease.df
    try {
    var cents: Seq[(Int, Seq[Double])] = corpus
      .orderBy(col(idCol).asc).limit(nCentroids)
      .select(col(idCol).cast("int").as("cid"),
        col(embCol).cast("array<double>").as("ce"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
      .flatMap { case (cid, v) => unitOpt(v).map((cid, _)) }
    var it = 0
    while (it < iters) {
      val cdf = broadcast(cents.toDF("cid", "ce")
        .select($"cid", $"ce", norm($"ce").as("cn")))
      val wAssign = Window.partitionBy($"id")
        .orderBy($"ccos".desc, $"cid".asc)
      val sums = vecs.join(cdf)
        .select($"id", $"e", $"nrm", $"cid",
          when($"cn" > 0, dot($"e", $"ce") / ($"nrm" * $"cn"))
            .otherwise(lit(-2.0)).as("ccos"))
        .withColumn("arank", row_number().over(wAssign))
        .filter($"arank" === 1)
        .select($"cid",
          posexplode(transform($"e", x => x / $"nrm")).as(Seq("d", "x")))
        .groupBy($"cid", $"d").agg(sum($"x").as("m"))
        .collect() // nCentroids × D rows — quantizer-sized, not corpus-sized
      val byCid = sums.groupBy(_.getInt(0))
      cents = cents.map { case (cid, old) =>
        byCid.get(cid)
          .flatMap(rows =>
            unitOpt(rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq))
          .map((cid, _))
          .getOrElse((cid, old)) // dead/degenerate centroid: carry forward
      }
      it += 1
    }
    cents
    } finally vecsLease.close()
  }

  /** [[ivfTopK]] with externally supplied centroids (typically
    * [[trainIvfCentroids]] output): same probe/rank shape, same plan —
    * only the coarse quantizer differs. */
  def ivfTopKWith(corpus: DataFrame, idCol: String, embCol: String,
                  centroids: Seq[(Int, Seq[Double])], nprobe: Int, k: Int,
                  queryPred: Column): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.toDF("cid", "ce")
      .select($"cid", $"ce", norm($"ce").as("cn")))
    ivfBody(corpus, idCol, embCol, cents, nprobe, k, queryPred)
  }

  /** Diagnostic for the recall/cost trade: the average per-query
    * candidate-list size an IVF configuration scans. Recall alone is
    * not comparable across quantizers — a degenerate quantizer that
    * lumps the corpus into a few giant lists reaches high recall by
    * scanning most of the corpus; this reports the scan cost that
    * recall was bought at. */
  def ivfCandCount(corpus: DataFrame, idCol: String, embCol: String,
                   centroids: Seq[(Int, Seq[Double])], nprobe: Int,
                   queryPred: Column): Double = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.toDF("cid", "ce")
      .select($"cid", $"ce", norm($"ce").as("cn")))
    val (assigned, probes) =
      ivfParts(corpus, idCol, embCol, cents, nprobe, queryPred)
    val sizes = assigned.groupBy($"cid").agg(count(lit(1)).as("sz"))
    probes.join(sizes, "cid").groupBy($"qid").agg(sum($"sz").as("c"))
      .agg(coalesce(avg($"c"), lit(0.0))).as[Double].head() // 0.0 when no queries match
  }

  /** Shared probe/join/rank tail of [[ivfTopKWith]] and [[ivfPqTopK]]:
    * `encode`, when set, replaces each candidate's vector with its
    * (e.g. PQ-reconstructed) stand-in before scoring — asymmetric
    * distance computation with exact queries. */
  private def ivfBody(corpus: DataFrame, idCol: String, embCol: String,
                      cents: DataFrame, nprobe: Int, k: Int,
                      queryPred: Column,
                      encode: Option[Column => Column] = None): DataFrame = {
    val (assigned0, probes) =
      ivfParts(corpus, idCol, embCol, cents, nprobe, queryPred)
    val assigned = encode match {
      case None => assigned0
      case Some(f) => assigned0
        .select(col("id"), col("cid"), f(col("e")).as("e"))
        .select(col("id"), col("cid"), col("e"), norm(col("e")).as("nrm"))
    }
    // rank candidates from the probed lists only
    topK(probes.join(assigned, "cid")
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("cand"),
        // cosOrFloor, not the raw ratio: ivfParts ASSIGNS zero-norm rows
        // into lists via safeCos, so they reach this ranking — a raw 0/0
        // here (NaN sorts first under desc) would crown them top
        // neighbor for every query probing their list. Value-identical
        // for positive norms (the oracle replay's case).
        cosOrFloor(dot(col("qe"), col("e")), col("qn"), col("nrm")).as("cos")),
      "cand", k)
  }

  /** The two IVF building blocks shared by search and diagnostics:
    * (corpus rows tagged with their nearest-centroid list, query rows
    * expanded to their `nprobe` probed lists). */
  private def ivfParts(corpus: DataFrame, idCol: String, embCol: String,
                       cents: DataFrame, nprobe: Int,
                       queryPred: Column): (DataFrame, DataFrame) = {
    val vecs = corpus.select(col(idCol).as("id"), col(embCol).as("e"),
      norm(col(embCol)).as("nrm"))
    // zero-norm guard: NaN sorts FIRST under desc in Spark, so an
    // unguarded 0/0 cosine would make a zero-norm centroid attract the
    // entire corpus; -2 sorts a degenerate pair below every real cosine.
    // Value-identical to the raw ratio whenever both norms are positive
    // (which the q47 oracle replay relies on).
    def safeCos(d: Column, den: Column): Column =
      when(den > 0, d / den).otherwise(lit(-2.0))
    // coarse assignment: nearest centroid per vector (ties → smaller cid)
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val assigned = vecs.join(cents)
      .select(col("id"), col("e"), col("nrm"), col("cid"),
        safeCos(dot(col("e"), col("ce")), col("nrm") * col("cn")).as("ccos"))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("id"), col("e"), col("nrm"), col("cid"))
    // probe lists: each query's nprobe nearest centroids
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = vecs.filter(queryPred).join(cents)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("cid"),
        safeCos(dot(col("e"), col("ce")), col("nrm") * col("cn")).as("ccos"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("qid"), col("qe"), col("qn"), col("cid"))
    (assigned, probes)
  }

  /** Bucketed approximate top-k: candidates are same-bucket rows only —
    * the plan contains one shuffle on the bucket key and NO crossJoin.
    * Recall trades off with `planes` (more planes → smaller buckets). */
  def lshTopK(corpus: DataFrame, idCol: String, embCol: String,
              planes: Int, k: Int): DataFrame = {
    val keyed = corpus.select(col(idCol).as("id"), col(embCol).as("e"),
      norm(col(embCol)).as("nrm"),
      lshBucket(col(embCol), planes).as("bucket"))
      .repartition(col("bucket"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    val pairs = a.join(b,
      col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("cid"),
        // zero-norm/NaN guard like every other ranking path (a zero
        // vector DOES get a valid all-ones sign bucket, so it reaches
        // this scoring): floor to -2, never NaN-first-under-desc
        cosOrFloor(dot(col("a.e"), col("b.e")),
          col("a.nrm"), col("b.nrm")).as("cos"))
    topK(pairs, "cid", k)
  }
}
