package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines: exact
  * (content hash), MinHash+LSH banded near-dup (NO all-pairs crossJoin —
  * candidate pairs only within band buckets), exact-Jaccard verification
  * of candidates, and SimHash.
  *
  * Scale design: every stage is a per-row expression or a shuffle on a
  * band/bucket key. At N documents the candidate generation costs
  * O(N · bands) rows exploded + a self-join per bucket whose size is the
  * bucket occupancy — never O(N²). Hashes are md5-based so the DuckDB
  * oracle can replicate the banding bit-for-bit (engine-portable, unlike
  * xxhash64).
  */
object TextDedup {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** Distinct word n-gram shingles. Documents with fewer than n tokens
    * yield an EMPTY shingle set — guarded explicitly because Spark's
    * `sequence(1, 0)` is the descending [1, 0] (unlike DuckDB's empty
    * generate_series) and `slice(toks, 0, n)` throws.
    *
    * Built by zipping n shifted slices of the token array, NOT by
    * `slice(toks, i, n)` per index inside the transform lambda:
    * higher-order functions evaluate interpreted, where every `toks`
    * reference inside a lambda re-runs the split — the per-index form
    * re-split the text O(len) times per row; this form a constant
    * ~2n+1 times (the q88 topBigramFrac lesson, linear-factor case). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val parts = (0 until n).map(k =>
      slice(toks, lit(k + 1), size(toks) - (n - 1)).as(s"t$k"))
    when(size(toks) >= n,
      array_distinct(transform(arrays_zip(parts: _*),
        s => concat_ws(" ", (0 until n).map(k => s.getField(s"t$k")): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact-dup key: md5 of the raw text. */
  def exactKey(text: Column): Column = md5(text.cast("binary"))

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set — catches shuffled/duplicated-word copies. */
  def contentFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))).cast("binary"))

  /** MinHash signature: k permutations simulated as min over shingles of
    * md5(i + "|" + shingle) (lexicographic min of hex strings — a
    * uniform order, portable across engines). Computed by the native
    * [[graft.functions.MinHash]] kernel — one JVM pass per row instead of
    * an interpreted k × |sh| nested-lambda walk. */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.functions.MinHash.signature(sh, k)

  /** LSH band keys: the signature split into `bands` rows of `rowsPerBand`,
    * each band hashed to one key. Docs sharing ANY band key are candidate
    * pairs. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      concat_ws("#", lit(b.toString),
        md5(concat_ws("|", slice(sig, b * rowsPerBand + 1, rowsPerBand))
          .cast("binary")))): _*)

  /** Per-doc shingle frame `(id, sh)`. Callers running BOTH candidate
    * generation and verification should put an Exchange barrier (e.g.
    * `.repartition(col("id"))`) behind this — shingling is the expensive
    * derivation; the barrier stops projection collapse from recomputing
    * it per use site and lets the branches share one ReusedExchange. */
  def withShingles(df: DataFrame, idCol: String, textCol: String,
                   ngram: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), shingles(col(textCol), ngram).as("sh"))

  /** Banded-LSH candidate pairs (id ordering a < b, distinct) from a
    * shingle frame: explode band keys, self-join per bucket. The join
    * shuffles on the band key — high cardinality, tiny buckets.
    *
    * The signature projection sits behind an Exchange barrier
    * (repartition on id) before the band-key fan-out: projection
    * collapse cannot cross an Exchange, so without it Catalyst would
    * inline the full k-permutation MinHash into each of the `bands` key
    * expressions — a bands× blow-up that also pushes the expression past
    * codegen limits into interpreted evaluation (observed 80× slower at
    * sf0.1). A barrier (unlike persist) leaves no cached blocks behind. */
  def candidatePairs(shDf: DataFrame, k: Int = 12, bands: Int = 6): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    // docs with no shingles (shorter than the n-gram) have no content
    // signal for MinHash — exclude them rather than colliding them all
    // into one degenerate empty-signature band (exactKey covers them)
    val sigDf = shDf.filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignature(col("sh"), k).as("sig"))
      .repartition(col("id"))
    val keyed = sigDf.select(col("id"),
      explode(bandKeys(col("sig"), bands, k / bands)).as("band"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** EXACT n-gram Jaccard pairs ≥ `threshold`, total recall. Both paths
    * below are lossless and return identical results; they differ only
    * in which blowup they guard against, so the router picks by
    * threshold:
    *
    * t ≥ 0.5 — [[prefixFilterCandidates]] composed with exact
    * verification of candidates only. Each doc indexes its
    * `n − ⌈t·n⌉ + 1` rarest shingles, so the self-join stays bounded on
    * SKEWED corpora (one boilerplate shingle shared by 1% of a 100 TB
    * corpus makes the direct join's Σ_s df(s)² quadratic in that
    * posting — hubs sort last by rarity and fall outside every prefix).
    *
    * t < 0.5 — the direct posting self-join with IN-JOIN aggregation
    * (intersections counted from the Σ_s df(s)² joined rows; no
    * per-pair re-explosion). At loose thresholds the prefix is most of
    * each doc, candidates approach "every pair sharing any shingle",
    * and the verify step's candidates × shingles re-explosion dwarfs
    * Σ df² — measured at a 100× corpus (t = 0.3): 113 M
    * candidates × ~52 shingles ≈ 6 B verify rows exhausted an 80 GB
    * spill volume and killed the job, while the direct join's 127 M
    * aggregated rows completed in ~90 s. Loose-threshold total-recall
    * Jaccard is inherently Σ df²-bound — on hub-skewed corpora strip
    * boilerplate shingles first, or raise the threshold.
    *
    * `unboundedOk = true` forces the direct join at ANY threshold
    * (for callers that know the df distribution is bounded);
    * `forcePrefix = true` forces the prefix+verify path at ANY
    * threshold (for callers on hub-skewed corpora who accept the
    * loose-threshold verify blowup to dodge a hot posting — the mirror
    * escape hatch, so the router never removes a choice). */
  def jaccardPairs(shDf: DataFrame, threshold: Double,
                   unboundedOk: Boolean = false,
                   forcePrefix: Boolean = false): DataFrame = {
    require(!(unboundedOk && forcePrefix),
      "unboundedOk and forcePrefix are mutually exclusive path overrides")
    if (forcePrefix || (!unboundedOk && threshold >= 0.5))
      return verifiedPairs(shDf, prefixFilterCandidates(shDf, threshold),
        threshold)
    val ex = shDf.filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    ex.as("a").join(ex.as("b"),
      col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.n")).as("na"), first(col("b.n")).as("nb"),
        count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard verification of candidate pairs: explode each side's
    * distinct shingles, count intersections grouped by pair, divide by
    * |A| + |B| − |A∩B|. Only candidates pay this cost. */
  def verifiedPairs(shDf: DataFrame, candidates: DataFrame,
                    threshold: Double = 0.3): DataFrame = {
    val withSh = shDf.withColumn("n_sh", size(col("sh")))
    val exploded = withSh.select(col("id"), col("n_sh"),
      explode(col("sh")).as("s"))
    val inter = candidates
      .join(exploded.select(col("id").as("id_a"), col("n_sh").as("na"),
        col("s")), "id_a")
      .join(exploded.select(col("id").as("id_b"), col("n_sh").as("nb"),
        col("s")), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash (64-bit, engine-native xxhash64 over tokens): per token
    * hash, sum signed bit contributions, take the sign bit vector. Near
    * dups = small Hamming distance. Spark-side only (xxhash64 is not
    * portable to the oracle; covered by ScalaTest instead). */
  def simhash(text: Column): Column = {
    val tokenHashes = tokens(text)
    (0 until 64).map { b =>
      val bitSum = aggregate(tokenHashes, lit(0L),
        (acc, t) => acc + when(shiftright(xxhash64(t), b).bitwiseAND(1) === 1,
          lit(1L)).otherwise(lit(-1L)))
      when(bitSum > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 32-bit ORACLE-PORTABLE SimHash: per token, bit b is the parity of
    * hex digit b of md5(token); the simhash bit is set when the signed
    * sum over tokens is positive. Computed by the native
    * [[graft.functions.SimHash]] kernel (one digest per token, all 32
    * bit counters in one pass) — and the identical arithmetic is
    * expressible in DuckDB, unlike xxhash64. */
  def simhash32(text: Column): Column =
    graft.functions.SimHash.simhash32(tokens(text))

  /** Banded SimHash near-dup pairs: the 32-bit simhash splits into
    * `maxHamming + 1` near-even bit bands — by pigeonhole, any pair
    * within the threshold shares at least one CLEAN band, so candidate
    * recall is total for every requested threshold (a fixed 4-band
    * layout silently missed pairs whose 4+ differing bits spread one
    * per band). maxHamming = 3 reproduces the classic 4×8 layout
    * exactly. Candidates are verified by exact Hamming distance. Same
    * OR-construction scale shape as MinHash banding — no all-pairs
    * join; note bands narrow as the threshold grows (more, bigger
    * buckets), so very loose thresholds trade scan cost for recall. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31] (32-bit simhash), got $maxHamming")
    val bands = maxHamming + 1
    val keyed = df
      .select(col(idCol).as("id"), simhash32(col(textCol)).as("sh32"))
      .select(col("id"), col("sh32"), explode(array((0 until bands).map { i =>
        val lo = 32 * i / bands
        val hi = 32 * (i + 1) / bands
        concat_ws("#", lit(i.toString),
          shiftright(col("sh32"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1)))
      }: _*)).as("band"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sh32"), col("b.sh32")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Inverted-index candidate pairs for n-gram Jaccard dedup with a
    * stop-shingle document-frequency cap (`maxDf`) bounding per-posting
    * join fan-out. Approximate: pairs sharing ONLY hub shingles are
    * missed — use [[prefixFilterCandidates]] for lossless candidates. */
  def invertedIndexCandidates(shDf: DataFrame, maxDf: Long): DataFrame = {
    val ex = shDf.select(col("id"), explode(col("sh")).as("s"))
    val rare = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("s"))
    val keyed = ex.join(rare, "s")
    keyed.as("a").join(keyed.as("b"),
      col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** PPJoin-style prefix-filtered candidates for EXACT Jaccard ≥
    * `threshold`: each doc indexes only its `n − ⌈t·n⌉ + 1` globally
    * rarest shingles (order: document frequency asc, shingle asc).
    * LOSSLESS — the first common shingle of any qualifying pair (in that
    * global order) falls inside BOTH prefixes, because at most
    * `n − |A∩B|` non-shared shingles can precede it and `|A∩B| ≥ ⌈t·n⌉`.
    * Rarity-first ordering makes the indexed postings the low-fan-out
    * ones, so the self-join stays bounded at scale without losing the
    * dup CLUSTERS a hard df cap drops. */
  def prefixFilterCandidates(shDf: DataFrame, threshold: Double): DataFrame = {
    val ex = shDf.filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    val withDf = ex.join(
      ex.groupBy(col("s")).agg(count(lit(1)).as("df")), "s")
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("s").asc)
    // the LOSSLESS guarantee needs the exact ⌈t·n⌉: double arithmetic at
    // a binade boundary can round t·n one ulp HIGH, and ceil of that
    // shortens the prefix by one — silently dropping qualifying pairs.
    // Bias the ceiling downward: a longer prefix is always safe, a
    // shorter one breaks losslessness.
    val prefix = withDf
      .withColumn("r", row_number().over(w))
      .filter(col("r") <=
        col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + 1)
      .select(col("id"), col("n"), col("s"), (col("r") - 1).as("pos"))
    // length filter (also lossless): J ≥ t forces max(|A|,|B|) ≤ min/t —
    // biased by the same epsilon so a boundary |B| = t·|A| is never
    // dropped by float rounding (keeping an extra pair is safe; the
    // exact verification discards it)
    val joined = prefix.as("a").join(prefix.as("b"),
      col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
        col("a.n") * lit(threshold) - lit(1e-9) <= col("b.n") &&
        col("b.n") * lit(threshold) - lit(1e-9) <= col("a.n"))
    // positional filter (PPJoin, also lossless): both docs' shingles
    // sort by the SAME global (df, shingle) order, so position ranks
    // align — the globally-first shared prefix shingle is the argmin of
    // BOTH position columns, and every other shared shingle (prefix or
    // suffix) sits strictly after it in both docs. Hence
    //   |A∩B| ≤ 1 + min(|A| − iA − 1, |B| − iB − 1)
    // at (iA, iB) = (min posA, min posB); J ≥ t forces
    // |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉ (biased downward — a looser bound
    // only keeps extra candidates, which exact verification discards)
    joined
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(min(col("a.pos")).as("ia"), min(col("b.pos")).as("ib"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .filter(lit(1) +
        least(col("na") - col("ia") - 1, col("nb") - col("ib") - 1) >=
        ceil((col("na") + col("nb")) * lit(threshold / (1 + threshold)) -
          lit(1e-9)))
      .select(col("id_a"), col("id_b"))
  }

  /** Winnowing document fingerprints (the rolling-hash fingerprint
    * family, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every character
    * k-gram, slide a window of `w` consecutive hashes, keep each
    * window's minimum (RIGHTMOST minimum on ties — the winnowing rule),
    * emit the distinct selected hashes per document. Guarantees every
    * shared substring of length ≥ w+k−1 contributes a shared
    * fingerprint. Hashes are md5 hex (lexicographic order, engine-
    * portable); the tie-break rides in a sortable suffix. Plan shape:
    * per-doc explode → window partitioned BY DOCUMENT (high-cardinality
    * key) → distinct — no global order anywhere. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 5, w: Int = 8): DataFrame =
    // no distinct needed: the kernel emits each doc's fingerprint set
    df.select(col(idCol).as("id"),
      explode(graft.functions.Winnow.fingerprints(col(textCol), k, w))
        .as("fp"))

  /** Benchmark-contamination scan: for every corpus document NOT in the
    * benchmark set, count the distinct word n-grams it shares with ANY
    * benchmark document (the standard 13-gram eval-decontamination
    * check). Scale shape: the benchmark gram set is tiny relative to the
    * corpus (eval suites are KBs against TBs), so it broadcasts — the
    * corpus side is one linear explode + broadcast-hash-join + per-doc
    * aggregate; no shuffle touches corpus-×-corpus pairs.
    *
    * Output contract — ABSENCE MEANS CLEAN: only contaminated docs
    * appear (n_shared ≥ 1). A doc with zero shared grams, a doc shorter
    * than `n` tokens (no shingles), and the benchmark docs themselves
    * are all absent; callers wanting a row per corpus doc left-join this
    * against their id list and coalesce n_shared to 0. Rows where
    * `isBenchmark` evaluates to null are treated as neither benchmark
    * nor corpus (both filters drop them) — oracle-gated by q89. */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    isBenchmark: Column, n: Int = 13): DataFrame = {
    val grams = df.select(col(idCol).as("id"), isBenchmark.as("bm"),
      explode(shingles(col(textCol), n)).as("s"))
    val bmGrams = grams.filter(col("bm")).select(col("s")).distinct()
    grams.filter(!col("bm"))
      .join(broadcast(bmGrams), "s")
      .groupBy(col("id"))
      .agg(count_distinct(col("s")).as("n_shared"))
  }

  /** [[contamination]] with a row for EVERY corpus document — the
    * left-join + `coalesce(n_shared, 0)` convenience the inner-join
    * contract tells callers to build themselves: selecting clean docs
    * by `n_shared == 0` against the inner-join output silently selects
    * NOTHING (clean docs are absent there), the foot-gun this variant
    * removes. Corpus docs = rows where `isBenchmark` is exactly false
    * (nulls stay excluded, matching the scan's contract); docs with no
    * shared grams — including docs shorter than `n` tokens — report 0.
    * One extra broadcast-scale join against the contaminated-id set; the
    * corpus-side plan is unchanged. */
  def contaminationFull(df: DataFrame, idCol: String, textCol: String,
                        isBenchmark: Column, n: Int = 13): DataFrame =
    df.filter(isBenchmark === false).select(col(idCol).as("id"))
      .join(contamination(df, idCol, textCol, isBenchmark, n), Seq("id"), "left")
      .select(col("id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))

  /** Dup-cluster materialization (the dedup WRITE side): group by a
    * content key expression (exact md5 or the order-insensitive
    * fingerprint), keep the smallest id as the cluster representative,
    * report cluster size — rows with n > 1 are the duplicates a pipeline
    * would drop. One hash-shuffle on the content key. */
  def dupGroups(df: DataFrame, idCol: String, key: Column,
                keyName: String): DataFrame =
    df.select(key.as(keyName), col(idCol).as("id"))
      .groupBy(col(keyName))
      .agg(min(col("id")).as("keeper"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
}
