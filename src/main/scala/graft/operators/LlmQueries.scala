package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{AnnIndex, Components, Multimodal, Similarity, TextAnalysis, TextDedup}

/** Oracle-checked coverage for the LLM-data-pipeline operators over the
  * `documents` and `embeddings` tables: text statistics, quality scores,
  * language ID, fingerprints, MinHash+LSH near-dup detection (banded,
  * verified — no all-pairs crossJoin), exact ANN baseline, LSH bucketing
  * invariant, and the multimodal feature plumbing.
  *
  * The banding/bucketing hashes are md5/LCG arithmetic precisely so the
  * DuckDB oracle can replicate every candidate decision bit-for-bit —
  * the oracle checks the LSH logic itself, not just the final scores.
  */
object LlmQueries {

  import Parity.r4

  /** Text statistics per (lang, source) partition of the corpus. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"),
        r4(avg($"n_chars")).as("avg_chars"),
        r4(avg(TextAnalysis.tokenCount($"text"))).as("avg_tokens"))
      .orderBy($"lang", $"source")
  }

  /** Per-document token counts and the composite quality score. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // kernels BELOW the ORDER BY exchange, behind a CONDITIONAL spread:
    // evaluating the kernels above a range exchange of (doc_id, text)
    // would make the sort shuffle carry the raw corpus — at lake scale
    // the scan already has ≥ cores splits and the kernels run parallel
    // in the scan stage, so that shape range-shuffles every text byte
    // for zero parallelism gain (shuffling fewer bytes beats computing
    // above the exchange). The round-robin spread fires ONLY when the scan has
    // fewer splits than the session's parallelism (a small file = one
    // task) and is a no-op at scale; the ORDER BY's range exchange then
    // carries doc_id + three scalars, never the text.
    spread(Tables(spark, dir, "documents").select($"doc_id", $"text"))
      .select($"doc_id",
        TextAnalysis.tokenCount($"text").as("n_tokens"),
        TextAnalysis.subwordCount($"text").as("n_subwords"),
        r4(TextAnalysis.qualityScore($"text")).as("quality"))
      .orderBy($"doc_id")
  }

  /** Language-ID heuristic: marker-token voting, confusion counts vs the
    * labeled lang column. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"lang", TextAnalysis.langId($"text").as("predicted"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }

  /** Exact-dup and order-insensitive content fingerprints per document. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id",
        TextDedup.exactKey($"text").as("exact_key"),
        TextDedup.contentFingerprint($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** Conditional round-robin spread (guide §2.5, unsplittable-input
    * case): fires ONLY when the frame has fewer partitions than the
    * session's parallelism — a small file scans as one task, so
    * expensive per-row kernels computed over it ran single-threaded
    * while the other cores idled. A no-op at lake scale where the scan
    * already has ≥ cores splits, so no payload shuffle is added where
    * parallelism exists. */
  private def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** The SHARED cached shingle frame for q34/q46/q52/q87.
    *
    * Shingling is shared by candidate generation AND verification —
    * persist (not an Exchange barrier): the empty-shingle filter inside
    * candidatePairs pushes below a repartition and de-duplicates the
    * exchange subplans, so ReusedExchange misses and shingles recompute
    * per branch (observed 4x slower). The cache lives for the batch
    * process; long-lived sessions should unpersist after consuming.
    * A SessionCache pin: all four queries derive the SAME canonical plan
    * — a bare persist on the second one warns and double-books the cache.
    *
    * The scan is SPREAD before shingling only when it has fewer splits
    * than the session's parallelism: a small file scans as one task, so
    * the shingle compute — and every map stage over the 1-partition
    * cache it fills — ran single-threaded while 31 cores idled (guide
    * §2.5, unsplittable-input case). At lake scale the scan already has
    * ≥ cores splits and the condition is false, so no payload shuffle
    * is added where parallelism exists. */
  private def shingleFrame(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.acquire(
      TextDedup.withShingles(spread(Tables(spark, dir, "documents")),
        "doc_id", "text", ngram = 3)).df

  /** The SHARED verified MinHash near-dup pair frame for q34/q87
    * (reuse): the banded candidate join + exact-Jaccard verify
    * is the expensive pipeline both queries derive, and q87 additionally
    * reads it TWICE (the connected-components edge list symmetrizes via
    * a union of (a,b) and (b,a) projections). One session cache — the
    * shingleFrame discipline one level up; the frame is near-dup EDGES,
    * tiny relative to the corpus at any scale. */
  private def verifiedPairFrame(spark: SparkSession, dir: String): DataFrame = {
    val shDf = shingleFrame(spark, dir)
    graft.SessionCache.acquire(TextDedup.verifiedPairs(shDf,
      TextDedup.candidatePairs(shDf, k = 12, bands = 6), threshold = 0.3)).df
  }

  /** Banded MinHash-LSH near-dup pairs, exact-Jaccard verified at 0.3
    * (k=12 signature, 6 bands × 2 rows; word 3-gram shingles). */
  def minhashDupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    verifiedPairFrame(spark, dir)
      .select($"id_a", $"id_b", r4($"jaccard").as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  /** Dup-cluster resolution over q34's verified MinHash near-dup pairs:
    * near-dup pairs are not transitive, so "keep one copy per group"
    * needs the transitive closure — distributed min-label propagation
    * with pointer jumping ([[graft.llm.Components]]), keeper = smallest
    * doc id per component, plus per-doc keep flag and cluster size. */
  def minhashDupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Components.dupClusters(verifiedPairFrame(spark, dir)).orderBy($"doc_id")
  }

  /** Per-document repetition signals (the Gopher-style corpus-hygiene
    * stats): duplicate-word fraction and top-bigram fraction — pure
    * per-row expressions, shuffle-free at any corpus size. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // kernels below the ORDER BY exchange behind the conditional spread
    // (the qualityScores rationale): the sort shuffle carries doc_id +
    // two scalar fractions, never the text.
    spread(Tables(spark, dir, "documents").select($"doc_id", $"text"))
      .select($"doc_id",
        r4(TextAnalysis.dupWordFrac($"text")).as("dup_word_frac"),
        r4(TextAnalysis.topBigramFrac($"text")).as("top_bigram_frac"))
      .orderBy($"doc_id")
  }

  /** Benchmark-contamination scan, oracle-gated: the `src0` source
    * partition stands in as the "benchmark" set; every other doc
    * reports the distinct word n-grams it shares with any benchmark
    * doc (8-grams here — the standard check is 13-grams, but the
    * synthetic texts are 10–54 tokens). Absence means clean: the
    * inner-join semantics of [[TextDedup.contamination]] are part of
    * the contract (callers left-join against the corpus ids), and the
    * oracle replays exactly that. */
  /** Conditional post-scan spread for the contamination scans (the
    * shingleFrame rationale): the 8-gram explode — the expensive per-row
    * work — otherwise runs at input-split parallelism; a no-op at lake
    * scale where the scan has ≥ cores splits. */
  private def spreadDocs(spark: SparkSession, dir: String): DataFrame =
    spread(Tables(spark, dir, "documents"))

  /** The SHARED contamination hits frame for q89/q90 (reuse): the 8-gram explode + benchmark join + per-doc distinct
    * count is the expensive pipeline BOTH queries derive — q90's
    * contaminationFull composes the exact same contamination() subplan,
    * so one session cache (canonical-plan matched by the CacheManager)
    * serves q89's frame AND q90's inner join. The frame is one row per
    * CONTAMINATED doc — tiny at any corpus scale. */
  private def contaminationHits(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.acquire(TextDedup.contamination(spreadDocs(spark, dir),
      "doc_id", "text", isBenchmark = col("source") === "src0", n = 8)).df

  def contaminationScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    contaminationHits(spark, dir)
      .select($"id".as("doc_id"), $"n_shared")
      .orderBy($"doc_id")
  }

  /** [[contaminationScan]]'s FULL variant, oracle-gated: one row for EVERY non-benchmark corpus doc — clean docs
    * (no shared 8-grams, or shorter than 8 tokens) report n_shared = 0,
    * so `n_shared == 0` really selects the clean set (the inner-join
    * contract's documented foot-gun that [[TextDedup.contaminationFull]]
    * removes). Same broadcast-gram plan as q89 plus one join against the
    * corpus-id list. */
  def contaminationFullScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // register the shared hits cache first: contaminationFull's inner
    // contamination() subplan is canonical-identical, so the planner
    // substitutes the cache wherever it appears (q89 and here)
    contaminationHits(spark, dir)
    TextDedup.contaminationFull(spreadDocs(spark, dir),
      "doc_id", "text", isBenchmark = col("source") === "src0", n = 8)
      .select($"id".as("doc_id"), $"n_shared")
      .orderBy($"doc_id")
  }

  /** Exact cosine top-5 for the first 10 query vectors — the brute-force
    * ANN baseline (broadcast queries, no N² crossJoin). */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    Similarity.bruteTopK(emb, emb.filter($"vec_id" < 10), "vec_id",
      "embedding", k = 5)
      .select($"qid", $"rank", $"cid", r4($"cos").as("cos"))
      .orderBy($"qid", $"rank")
  }

  /** SQ8 scalar-quantized ANN (the public FAISS SQ8 pattern): per-dim
    * corpus (min, max) trains the quantizer, corpus vectors reconstruct
    * from their 8-bit code centers, queries stay exact (asymmetric /
    * ADC). Same query set and k as q35, so the pair brackets the
    * quantization error at 4× scan density. */
  def annSq8TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    Similarity.sq8TopK(emb, emb.filter($"vec_id" < 10), "vec_id",
      "embedding", k = 5)
      .select($"qid", $"rank", $"cid", r4($"cos").as("cos"))
      .orderBy($"qid", $"rank")
  }

  /** PQ product-quantized ANN (the public FAISS IndexPQ pattern):
    * 8 subspaces × 16 centroids over the 64-dim embeddings — 8 codes
    * per vector, a 32× compression against float32. Deterministic
    * 0-iteration codebook (subspace slices of corpus rows 0..15, the
    * q47 seeding discipline) so DuckDB replays encode→reconstruct→rank
    * exactly. Same query set and k as q35/q83: the trio brackets
    * recall at 1× / 4× / 32× compression. */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter($"vec_id" < 10), "vec_id",
      "embedding", mSub = 8, nCentroids = 16, k = 5)
      .select($"qid", $"rank", $"cid", r4($"cos").as("cos"))
      .orderBy($"qid", $"rank")
  }

  /** IVF-PQ composition, deterministic variant: the q47 seed coarse
    * quantizer (corpus rows 0..15) restricts each query to its nprobe=2
    * probed lists, and candidates score against their q85 seed-codebook
    * PQ reconstructions (queries exact — ADC). Gates the full
    * scan-bounded + memory-bounded serving path end-to-end; the trained
    * variant (same plan, different constants) is probe-measured. */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val cents = emb.filter($"vec_id" < 16)
      .select($"vec_id".cast("int").as("cid"),
        $"embedding".cast("array<double>").as("ce"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    val cb = Similarity.pqCodebookFromIds(emb, "vec_id", "embedding",
      mSub = 8, nCentroids = 16)
    // the DEPLOYMENT path is what this gate verifies: build → persist →
    // load → serve, through the checksummed AnnIndex artifact — not the
    // in-session constants. The artifact round-trip is bit-exact
    // (AnnIndexSpec's adversarial-doubles property), so the DuckDB
    // oracle is unmoved; a drift in save/load now FAILS the gate.
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_q86_annindex").toString
    try {
      AnnIndex.save(idxDir, AnnIndex.Index(cents, Some(cb), nprobe = 2))
      val loaded = AnnIndex.load(idxDir)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", loaded.centroids,
        loaded.codebook.get, nprobe = loaded.nprobe, k = 5,
        queryPred = col("id") < 10)
        .select($"qid", $"rank", $"cand", r4($"cos").as("cos"))
        .orderBy($"qid", $"rank")
    } finally graft.Scratch.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  /** LSH bucketing invariant: deterministic 8-hyperplane sign buckets,
    * occupancy and id-checksum per bucket — verifies the scale-path
    * bucketing arithmetic itself. */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "embeddings")
      .select($"vec_id", Similarity.lshBucket($"embedding", planes = 8).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"vec_id").as("sum_ids"))
      .orderBy($"bucket")
  }

  /** Multimodal plumbing: documents as binary media, stub-decoded
    * features (byte count oracle-checked; checksum/histogram covered by
    * ScalaTest against the kernel). */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.asMedia(Tables(spark, dir, "documents"),
      "doc_id", "text", "text/plain")
    Multimodal.extractFeatures(media)
      .select($"media_id", $"features.n_bytes".as("n_bytes"))
      .orderBy($"media_id")
  }

  /** Embedding-cosine near-dup pairs on the AUTO-SCALED banded LSH path
    * — `planesFor(N)` (planes ∝ log N, the 100-TB knob) derives the
    * plane count from one corpus count, 4 OR-combined hash tables for
    * recall, pair-dedup, exact cosine ≥ 0.4 verification. This gates the
    * configuration the library actually ships at scale (the
    * fixed-planes form is the documented quadratic anti-pattern and
    * survives only in the scale table); the oracle replays
    * `ceil(log2(N/32))` from its own count, so the gate breaks if the
    * auto-sizing math drifts. */
  def embeddingNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.lshNearDupPairsAuto(Tables(spark, dir, "embeddings"),
      "vec_id", "embedding", tables = 4, threshold = 0.4)
      .select($"id_a", $"id_b", r4($"cos").as("cos"))
      .orderBy($"id_a", $"id_b")
  }

  /** Banded 32-bit SimHash near-dup pairs (portable md5-hex-parity bits,
    * 4 bands × 8 bits), exact Hamming ≤ 3 verified — the third dedup
    * family next to MinHash (q34) and embedding-cosine (q42). */
  def simhashNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // conditional post-scan spread (the shingleFrame/spreadDocs
    // rationale): the simhash32 kernel — one digest per token — is the
    // expensive per-row work and otherwise evaluates at input-split
    // parallelism on BOTH sides of the band self-join (one task each on
    // a small file); a no-op at lake scale where the scan already has
    // >= cores splits
    TextDedup.simhashNearDups(spreadDocs(spark, dir),
      "doc_id", "text", maxHamming = 3)
      .orderBy($"id_a", $"id_b")
  }

  /** EXACT n-gram Jaccard dedup at the recall-oriented t = 0.3 — the
    * total-recall contrast to MinHash's probabilistic candidates.
    * `jaccardPairs` routes by threshold: below t = 0.5 it
    * runs the direct posting join with in-join aggregation — at loose
    * thresholds the prefix is ~70% of each doc, candidates approach
    * "every pair sharing any shingle", and the verify re-explosion
    * (candidates × shingles) dwarfs the direct join's Σ df² rows
    * (measured: the verify path died on spill at a 100× corpus while
    * the direct join finished). At t ≥ 0.5 the prefix+verify path
    * guards hub-skew instead (q52). Output identical either way — the
    * oracle replays the direct derivation. The shingle frame feeds
    * both join sides — persist, the q52 lesson. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shDf = shingleFrame(spark, dir)
    TextDedup.jaccardPairs(shDf, threshold = 0.3)
      .select($"id_a", $"id_b", r4($"jaccard").as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  /** The LOSSLESS scale path for exact n-gram Jaccard: PPJoin-style
    * prefix filtering (each doc indexes only its n − ⌈t·n⌉ + 1 globally
    * rarest shingles; any qualifying pair's first common shingle in that
    * order falls inside both prefixes) + length filter, then exact
    * verification of candidates only. Output is PROVABLY identical to
    * a direct Σ df² join at the same threshold — the oracle replays that
    * recomputation — while only the `(1−t)·n + 1` rarest shingles per
    * doc are indexed, so the self-join stays bounded on skewed corpora
    * where Σ df² is not. Runs at t = 0.8, the realistic near-dup
    * threshold where the prefix is ~20% of each doc (at the loose
    * t = 0.3 of the recall-oriented q46 the prefix is ~70% and the
    * filter buys nothing — threshold choice IS the scale lever). */
  def ngramJaccardPrefixFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persist, NOT a repartition barrier: the shingle frame feeds six
    // subtrees (df counts, prefix ranking, two join sides, two verify
    // sides) and per-branch filters/pruning push below an Exchange and
    // de-canonicalize it — ReusedExchange misses and shingling
    // recomputes per branch (the q34 lesson in shingleFrame's doc).
    // Deliberately NOT shingleFrame's spread variant: A/B-measured, the
    // 32-partition cache costs this six-branch pipeline more in per-task
    // overhead than the parallel map side saves (2.5 s vs 1.8 s min) —
    // the unspread cache is a second, tiny session entry.
    val shDf = graft.SessionCache.acquire(
      TextDedup.withShingles(Tables(spark, dir, "documents"),
        "doc_id", "text", ngram = 3)).df
    val cands = TextDedup.prefixFilterCandidates(shDf, threshold = 0.8)
    TextDedup.verifiedPairs(shDf, cands, threshold = 0.8)
      .select($"id_a", $"id_b", r4($"jaccard").as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  /** IVF ANN: 16 deterministic centroids, nprobe=2, top-5 by exact
    * cosine within the probed lists for the first 10 query vectors —
    * the scale path whose candidate set is ~nprobe/C of the corpus. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.ivfTopK(Tables(spark, dir, "embeddings"), "vec_id",
      "embedding", nCentroids = 16, nprobe = 2, k = 5,
      queryPred = col("id") < 10)
      .select($"qid", $"rank", $"cand", r4($"cos").as("cos"))
      .orderBy($"qid", $"rank")
  }

  /** Dup-cluster materialization over the order-insensitive content
    * fingerprint: groups with a keeper id and cluster size (the dedup
    * write side — shuffled/duplicated-word copies collapse together). */
  def fingerprintDupGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextDedup.dupGroups(Tables(spark, dir, "documents"), "doc_id",
      TextDedup.contentFingerprint($"text"), "fingerprint")
      .orderBy($"fingerprint")
  }

  /** Winnowing fingerprints (rolling-hash family, SIGMOD'03): windowed
    * minima over character 5-gram hashes, window 8, rightmost-min
    * tie-break — every shared substring of length ≥ 12 yields a shared
    * fingerprint. */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // kernel below the ORDER BY exchange behind the conditional spread
    // (the qualityScores rationale): range-shuffling (doc_id, text) so
    // the winnowing walk could run above the exchange would, at lake
    // scale, ship the whole corpus through the sort shuffle for zero
    // parallelism gain. Spread conditionally,
    // compute the walk in the (already parallel at scale) map side, and
    // let the final sort exchange carry only (doc_id, fp) scalars.
    TextDedup.winnowingFingerprints(
      spread(Tables(spark, dir, "documents").select($"doc_id", $"text")),
      "doc_id", "text", k = 5, w = 8)
      .select($"id".as("doc_id"), $"fp")
      .orderBy($"doc_id", $"fp")
  }

  /** The SQL face of the native kernels (SparkSessionExtensions path):
    * one pure-SQL pipeline over `simhash32`, `minhash_signature`, and
    * `winnow_fingerprints` registered via [[graft.functions.GraftFunctions]]
    * — same arithmetic as the Column API the other gates use, now
    * callable from `spark.sql`. The remaining two kernels (`dot_product`,
    * `lsh_band_keys`) are SQL-parity-pinned in ExtensionsSpec and
    * oracle-gated through q35/q42. */
  def sqlKernels(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, dir, "documents").createOrReplaceTempView("graft_documents_q58")
    // kernels below the ORDER BY exchange behind the conditional spread:
    // running them above the exchange would range-shuffle (doc_id,
    // text, tk) — the corpus TWICE over, text plus its tokenized copy;
    // at lake scale the scan already has ≥ cores splits and the kernels
    // run parallel below it anyway. The conditional round-robin spread
    // (no-op at scale) restores bench-scale parallelism, and the final
    // sort exchange carries doc_id + three scalar kernel outputs only.
    spread(spark.sql(
      "SELECT doc_id, text FROM graft_documents_q58"))
      .selectExpr("doc_id", "text", "split(trim(text), ' ') AS tk")
      .selectExpr("doc_id",
        "simhash32(tk) AS sh32",
        "element_at(minhash_signature(tk, 4), 1) AS mh0",
        "CAST(size(winnow_fingerprints(text, 5, 8)) AS BIGINT) AS n_fp")
      .orderBy(col("doc_id"))
  }

  /** Streaming exact dedup, oracle-gated: the documents table replayed
    * as a checkpointed file stream through `dedupStream`
    * (`dropDuplicatesWithinWatermark` on the content key) into the
    * exactly-once forwarder. Every document carries the SAME event time,
    * so the watermark never passes and key state suppresses every later
    * copy across micro-batches — the emitted set is exactly ONE row per
    * distinct content, independent of file batching or partition races
    * (which doc of a dup-set survives is arrival-dependent, so the gate
    * projects the deterministic pair: content key + its char length,
    * identical for all copies of a key). The oracle is the batch
    * statement of the same semantics: SELECT DISTINCT md5(text),
    * length(text). */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // stage + atomic rename (ensureBuilt): two JVMs racing the build
    // cannot interleave part files in the shared cache slot. The key
    // carries a DERIVATION VERSION (v1 = doc_id/text projection + the
    // constant 2024-01-01 event time, 8 partitions): the witness only
    // tracks the source table, so a changed projection must bump the
    // version or the cache serves the stale frame.
    val in = graft.Scratch.ensureBuilt(graft.Scratch.cachedDir(
      "graft-q76-in", graft.Tables.witness(dir, "documents"),
      version = "v1")) { stage =>
      Tables(spark, dir, "documents")
        .select($"doc_id", $"text",
          lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
        .repartition(8).write.mode("overwrite").parquet(stage)
    }
    val tmp = graft.Scratch.dir("graft-q76")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "3")
      .parquet(in)
    val deduped = graft.streaming.StreamingScoring
      .dedupStream(stream, "text", "ts")
    val q = graft.streaming.Forwarder.toParquet(
      deduped.select($"exact_key",
        length($"text").cast("long").as("char_len")),
      s"$tmp/out", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$tmp/out")
      .select($"exact_key", $"char_len")
      .orderBy($"exact_key")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q76_streaming_dedup" -> (streamingDedup _),
    "q58_sql_kernels" -> (sqlKernels _),
    "q50_winnowing" -> (winnowing _),
    "q42_embedding_neardup" -> (embeddingNearDups _),
    "q30_text_stats" -> (textStats _),
    "q31_quality_scores" -> (qualityScores _),
    "q32_langid_confusion" -> (langIdConfusion _),
    "q33_fingerprints" -> (fingerprints _),
    "q34_minhash_dup_pairs" -> (minhashDupPairs _),
    "q35_ann_topk" -> (annTopK _),
    "q36_ann_lsh_buckets" -> (annLshBuckets _),
    "q37_multimodal_features" -> (multimodalFeatures _),
    "q45_simhash_neardup" -> (simhashNearDups _),
    "q46_ngram_jaccard" -> (ngramJaccardPairs _),
    "q52_ngram_jaccard_ppjoin" -> (ngramJaccardPrefixFiltered _),
    // lossless prefix-filter path: same answer as the direct join by
    // construction, so the oracle is the same recomputation
    "q47_ann_ivf_topk" -> (annIvfTopK _),
    "q48_fingerprint_dup_groups" -> (fingerprintDupGroups _),
    "q83_ann_sq8_topk" -> (annSq8TopK _),
    "q85_ann_pq_topk" -> (annPqTopK _),
    "q86_ann_ivfpq_topk" -> (annIvfPqTopK _),
    "q87_dup_clusters" -> (minhashDupClusters _),
    "q88_repetition_stats" -> (repetitionStats _),
    "q89_contamination" -> (contaminationScan _),
    "q90_contamination_full" -> (contaminationFullScan _),
  )

  // ---- oracle SQL (DuckDB), LSH arithmetic generated to match ----

  private val langMarkerSql = TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    .map { case (lang, markers) =>
      val list = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      s"struct_pack(hits := len(list_filter(tk, x -> list_contains($list, x))), lang := '$lang')"
    }.mkString(",\n        ")

  /** 12 md5 minhash mins over the shingle list `sh`. */
  private val minhashSql = (0 until 12)
    .map(i => s"list_aggregate(list_transform(sh, s -> md5('$i|' || s)), 'min')")
    .mkString("[", ",\n          ", "]")

  /** 6 band keys of 2 signature rows each. */
  private val bandSql = (0 until 6)
    .map(b => s"'$b' || '#' || md5(sig[${2 * b + 1}] || '|' || sig[${2 * b + 2}])")
    .mkString("[", ",\n          ", "]")

  /** The q34 MinHash-LSH pair derivation (shingle → signature → band →
    * candidate → exact-Jaccard verify), shared by the q34 pair gate and
    * the q87 cluster gate — `inter` holds (id_a, id_b, na, nb, c). */
  private lazy val minhashPairCtes: String =
    s"""toks AS (SELECT doc_id, str_split(trim(text), ' ') AS tk FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
      |      i -> array_to_string(tk[i:i+2], ' '))) AS sh
      |  FROM toks),
      |sig AS (SELECT doc_id, sh, $minhashSql AS sig FROM sh),
      |bandrows AS (SELECT doc_id, unnest($bandSql) AS band FROM sig),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bandrows a JOIN bandrows b ON a.band = b.band AND a.doc_id < b.doc_id),
      |shx AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
      |inter AS (SELECT c.id_a, c.id_b, any_value(x.n) AS na, any_value(y.n) AS nb,
      |    count(*) AS c
      |  FROM cand c
      |  JOIN shx x ON x.doc_id = c.id_a
      |  JOIN shx y ON y.doc_id = c.id_b AND y.s = x.s
      |  GROUP BY c.id_a, c.id_b)""".stripMargin

  /** Hyperplane sign bits (LCG arithmetic identical to
    * Similarity.hyperplane; DuckDB lambda index is 1-based → i-1).
    * `table` offsets plane indices like Similarity.lshBucket. */
  private def bucketSqlFor(planes: Int, table: Int = 0): String =
    (0 until planes).map { j =>
      val p = table * planes + j
      s"""CASE WHEN list_reduce(list_transform(embedding, (x, i) ->
         |      CAST(x AS DOUBLE) * (CAST(((i - 1 + ${64 * p}) * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 1073741824.0 - 1.0)),
         |      (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END""".stripMargin
    }.mkString(" ||\n    ")

  private val bucketSql = bucketSqlFor(8)

  private def dotOf(x: String, y: String): String =
    s"""list_reduce(list_transform(list_zip($x, $y),
      | p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE)), (a, b) -> a + b)""".stripMargin

  private val dotSql = dotOf("qe", "ce")

  private def normSql(col: String) =
    s"sqrt(list_reduce(list_transform($col, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))"

  /** 32-bit simhash from md5-hex parity bits (identical arithmetic to
    * TextDedup.simhash32) over the token-hex list `hx`. */
  private val simhashBitsSql = (0 until 32).map { b =>
    s"""CASE WHEN list_reduce(list_transform(hx,
       |      h -> CASE WHEN substr(h, ${b + 1}, 1) IN ('1','3','5','7','9','b','d','f')
       |                THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
       |     THEN ${1L << b} ELSE 0 END""".stripMargin
  }.mkString(" +\n    ")

  private val simhashBandsSql = (0 until 4).map(i =>
    s"'$i' || '#' || CAST((sh32 >> ${8 * i}) & 255 AS VARCHAR)")
    .mkString("[", ",\n          ", "]")

  /** Exact word-3-gram Jaccard oracle at `threshold` — one recomputation
    * shared by q46 (direct join, 0.3) and q52 (lossless prefix-filtered
    * path, 0.8): the filter is lossless, so both replay the same direct
    * derivation. */
  private def jaccardOracleSql(threshold: Double): String =
    s"""WITH toks AS (SELECT doc_id, str_split(trim(text), ' ') AS tk FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
      |      i -> array_to_string(tk[i:i+2], ' '))) AS sh
      |  FROM toks),
      |shx AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
      |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
      |    any_value(x.n) AS na, any_value(y.n) AS nb, count(*) AS c
      |  FROM shx x JOIN shx y ON y.s = x.s AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id)
      |SELECT id_a, id_b,
      |  floor((CAST(c AS DOUBLE) / (na + nb - c))*10000 + 0.5)/10000 AS jaccard
      |FROM inter
      |WHERE CAST(c AS DOUBLE) / (na + nb - c) >= $threshold
      |ORDER BY id_a, id_b""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q58_sql_kernels" ->
      s"""WITH t AS (SELECT doc_id, str_split(trim(text), ' ') AS tk FROM documents),
        |h AS (SELECT doc_id, list_transform(tk, x -> md5(x)) AS hx,
        |    list_aggregate(list_transform(tk, s -> md5('0|' || s)), 'min') AS mh0
        |  FROM t),
        |sh AS (SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS sh32, mh0 FROM h),
        |g0 AS (SELECT doc_id, length(text) - 4 AS ng, text
        |  FROM documents WHERE length(text) >= 12),
        |g AS (SELECT doc_id, ng, unnest(generate_series(1, ng)) AS i, text FROM g0),
        |g2 AS (SELECT doc_id, ng, i,
        |    md5(substr(text, i, 5)) || lpad(CAST(999999 - i AS VARCHAR), 6, '0') AS hk
        |  FROM g),
        |sel AS (SELECT doc_id, ng, i,
        |    min(hk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS s
        |  FROM g2),
        |fp AS (SELECT doc_id, CAST(count(DISTINCT substr(s, 1, 32)) AS BIGINT) AS n_fp
        |  FROM sel WHERE i <= ng - 7 GROUP BY doc_id)
        |SELECT sh.doc_id, sh.sh32, sh.mh0, COALESCE(fp.n_fp, 0) AS n_fp
        |FROM sh LEFT JOIN fp USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q50_winnowing" ->
      """WITH g0 AS (SELECT doc_id, length(text) - 4 AS ng, text
        |  FROM documents WHERE length(text) >= 12),
        |g AS (SELECT doc_id, ng, unnest(generate_series(1, ng)) AS i, text FROM g0),
        |g2 AS (SELECT doc_id, ng, i,
        |    md5(substr(text, i, 5)) || lpad(CAST(999999 - i AS VARCHAR), 6, '0') AS hk
        |  FROM g),
        |sel AS (SELECT doc_id, ng, i,
        |    min(hk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS s
        |  FROM g2)
        |SELECT DISTINCT doc_id, substr(s, 1, 32) AS fp
        |FROM sel WHERE i <= ng - 7
        |ORDER BY doc_id, fp""".stripMargin,
    // planes = planesFor(N) = max(1, ceil(log2(max(1, N/32)))) — the
    // oracle derives it from its own count(*), replaying the auto path
    "q42_embedding_neardup" ->
      s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
        |pl AS (SELECT greatest(1, CAST(ceil(log2(greatest(1.0, cnt / 32.0))) AS INTEGER)) AS p FROM n),
        |tj AS (SELECT t, p, unnest(generate_series(0, p - 1)) AS j
        |  FROM pl, generate_series(0, 3) s(t)),
        |d AS (SELECT e.vec_id, tj.t, tj.j,
        |    list_reduce(list_transform(e.embedding, (x, i) ->
        |      CAST(x AS DOUBLE) * (CAST(((i - 1 + 64 * (tj.t * tj.p + tj.j)) * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 1073741824.0 - 1.0)),
        |      (a, b) -> a + b) AS dd
        |  FROM embeddings e CROSS JOIN tj),
        |bk AS (SELECT vec_id, t,
        |    string_agg(CASE WHEN dd >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bits
        |  FROM d GROUP BY vec_id, t),
        |kx AS (SELECT b.vec_id, e.embedding AS e,
        |    CAST(b.t AS VARCHAR) || '#' || b.bits AS bucket
        |  FROM bk b JOIN embeddings e USING (vec_id)),
        |p2 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${dotOf("a.e", "b.e")} AS dot_ab,
        |    ${dotOf("a.e", "a.e")} AS dot_aa,
        |    ${dotOf("b.e", "b.e")} AS dot_bb
        |  FROM kx a JOIN kx b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT DISTINCT id_a, id_b, floor((dot_ab / (sqrt(dot_aa) * sqrt(dot_bb)))*10000 + 0.5)/10000 AS cos
        |FROM p2
        |WHERE dot_ab / (sqrt(dot_aa) * sqrt(dot_bb)) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "q30_text_stats" ->
      """SELECT lang, source, count(*) AS n,
        | floor(avg(n_chars)*10000 + 0.5)/10000 AS avg_chars,
        | floor(avg(len(str_split(trim(text), ' ')))*10000 + 0.5)/10000 AS avg_tokens
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q31_quality_scores" ->
      """SELECT doc_id,
        | len(str_split(trim(text), ' ')) AS n_tokens,
        | len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS n_subwords,
        | floor((least(length(text)/500.0, 1.0)
        |   * (CAST(len(list_distinct(str_split(trim(text), ' '))) AS DOUBLE)
        |      / len(str_split(trim(text), ' ')))
        |   * greatest(1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        |                     ELSE CAST(len(regexp_extract_all(text, '[^\p{L}\p{N}\s]')) AS DOUBLE)
        |                          / length(text) END) * 10.0, 0.0))*10000 + 0.5)/10000 AS quality
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q32_langid_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, str_split(trim(text), ' ') AS tk FROM documents),
        |b AS (SELECT doc_id, lang,
        |   list_aggregate([$langMarkerSql], 'max') AS best
        | FROM t)
        |SELECT lang,
        |  CASE WHEN best.hits > 0 THEN best.lang ELSE 'unknown' END AS predicted,
        |  count(*) AS n
        |FROM b
        |GROUP BY 1, 2
        |ORDER BY lang, predicted""".stripMargin,
    "q33_fingerprints" ->
      """SELECT doc_id, md5(text) AS exact_key,
        | md5(array_to_string(list_sort(list_distinct(str_split(trim(text), ' '))), ' ')) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the batch statement of the streaming dedup semantics: one row per
    // distinct content, its key and (copy-invariant) char length
    "q76_streaming_dedup" ->
      """SELECT DISTINCT md5(text) AS exact_key, length(text) AS char_len
        |FROM documents
        |ORDER BY exact_key""".stripMargin,
    "q34_minhash_dup_pairs" ->
      s"""WITH $minhashPairCtes
        |SELECT id_a, id_b,
        |  floor((CAST(c AS DOUBLE) / (na + nb - c))*10000 + 0.5)/10000 AS jaccard
        |FROM inter
        |WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // transitive closure of q34's verified pair set: DuckDB walks
    // reachability with a recursive CTE (min reachable id = component),
    // replaying what the distributed min-label + pointer-jump loop
    // computes without iteration-order sensitivity
    "q87_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        |prs AS (SELECT id_a, id_b FROM inter
        |  WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.3),
        |ed AS (SELECT id_a AS a, id_b AS b FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |walk(node, label) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM ed)
        |  UNION
        |  SELECT e.a, w.label FROM ed e JOIN walk w ON w.node = e.b),
        |comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
        |sizes AS (SELECT component, count(*) AS n_docs FROM comp GROUP BY component)
        |SELECT comp.node AS doc_id, comp.component,
        |  comp.node = comp.component AS keep, sizes.n_docs
        |FROM comp JOIN sizes USING (component)
        |ORDER BY doc_id""".stripMargin,
    "q88_repetition_stats" ->
      """WITH t AS (SELECT doc_id, str_split(trim(text), ' ') AS tk FROM documents),
        |b AS (SELECT doc_id, tk,
        |    CASE WHEN len(tk) >= 2
        |      THEN list_transform(generate_series(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1])
        |      ELSE CAST([] AS VARCHAR[]) END AS bg
        |  FROM t)
        |SELECT doc_id,
        |  floor((1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))*10000 + 0.5)/10000
        |    AS dup_word_frac,
        |  floor((CASE WHEN len(bg) > 0
        |    THEN CAST(list_max(list_transform(list_distinct(bg),
        |      d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / len(bg)
        |    ELSE 0.0 END)*10000 + 0.5)/10000 AS top_bigram_frac
        |FROM b
        |ORDER BY doc_id""".stripMargin,
    // absence means clean (inner-join contract): only docs outside the
    // benchmark set that share ≥1 distinct 8-gram with it appear
    "q89_contamination" ->
      """WITH toks AS (SELECT doc_id, source, str_split(trim(text), ' ') AS tk
        |  FROM documents),
        |sh AS (SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> array_to_string(tk[i:i+7], ' ')))) AS s
        |  FROM toks),
        |bm AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
        |SELECT doc_id, count(DISTINCT sh.s) AS n_shared
        |FROM sh JOIN bm USING (s)
        |WHERE source != 'src0'
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // q89's CTEs plus the left join the inner-join contract tells
    // callers to build: every corpus (non-benchmark) doc appears, clean
    // ones with n_shared = 0
    "q90_contamination_full" ->
      """WITH toks AS (SELECT doc_id, source, str_split(trim(text), ' ') AS tk
        |  FROM documents),
        |sh AS (SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 7, 0)),
        |      i -> array_to_string(tk[i:i+7], ' ')))) AS s
        |  FROM toks),
        |bm AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
        |hits AS (SELECT doc_id, count(DISTINCT sh.s) AS n_shared
        |  FROM sh JOIN bm USING (s)
        |  WHERE source != 'src0'
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.source != 'src0'
        |ORDER BY doc_id""".stripMargin,
    "q35_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
        |scored AS (SELECT qid, cid,
        |    ($dotSql) / (${normSql("qe")} * ${normSql("ce")}) AS cos
        |  FROM q JOIN c ON qid != cid),
        |ranked AS (SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, rank, cid, floor(cos*10000 + 0.5)/10000 AS cos
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "q36_ann_lsh_buckets" ->
      s"""SELECT bucket, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS sum_ids FROM (
        |  SELECT vec_id,
        |    $bucketSql AS bucket
        |  FROM embeddings)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // SQ8 replay: per-dim (min, max) -> step = (hi-lo)/255, corpus
    // reconstructs code centers lo + clamp(round((x-lo)/step), 0, 255)
    // * step, queries exact — identical double arithmetic and reduction
    // order to Similarity.sq8TopK
    "q83_ann_sq8_topk" ->
      s"""WITH dd AS (SELECT max(len(embedding)) AS nd FROM embeddings),
        |dims AS (SELECT unnest(generate_series(1, nd)) AS d FROM dd),
        |stats AS (SELECT d, min(embedding[d]) AS lo, max(embedding[d]) AS hi
        |  FROM embeddings, dims GROUP BY d),
        |lists AS (SELECT
        |    list(CAST(lo AS DOUBLE) ORDER BY d) AS lo_l,
        |    list(CASE WHEN hi = lo THEN 0.0
        |              ELSE (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) / 255.0
        |         END ORDER BY d) AS step_l
        |  FROM stats),
        |c AS (SELECT vec_id AS cid,
        |    list_transform(generate_series(1, len(embedding)), i ->
        |      CASE WHEN step_l[i] = 0.0 THEN lo_l[i]
        |           ELSE lo_l[i] + LEAST(255.0, GREATEST(0.0,
        |             floor((CAST(embedding[i] AS DOUBLE) - lo_l[i])
        |               / step_l[i] + 0.5))) * step_l[i]
        |      END) AS re
        |  FROM embeddings, lists),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |      WHERE vec_id < 10),
        |scored AS (SELECT qid, cid,
        |    (${dotOf("qe", "re")}) / (${normSql("qe")} * ${normSql("re")}) AS cos
        |  FROM q JOIN c ON qid != cid),
        |ranked AS (SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, rank, cid, floor(cos*10000 + 0.5)/10000 AS cos
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // PQ replay: codebook = subspace slices (8 × 8 dims) of corpus rows
    // 0..15; encode = per-subspace L2 argmin (ties -> smaller j, the
    // row_number tie-break); reconstruct = chosen centroids
    // concatenated in subspace order; queries exact (ADC). The d2 fold
    // is list_reduce in index order — identical arithmetic and
    // reduction order to Similarity.pqReconstruct's aggregate(zip_with)
    "q85_ann_pq_topk" ->
      s"""WITH cb AS (SELECT vec_id AS j,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |v AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |subs AS (SELECT unnest(generate_series(0, 7)) AS m),
        |dist AS (SELECT v.id, s.m, cb.j,
        |    list_reduce(list_transform(generate_series(1, 8), i ->
        |      (v.e[s.m*8 + i] - cb.ce[s.m*8 + i])
        |        * (v.e[s.m*8 + i] - cb.ce[s.m*8 + i])),
        |      (a, b) -> a + b) AS d2
        |  FROM v CROSS JOIN subs s CROSS JOIN cb),
        |code AS (SELECT id, m, j FROM (
        |    SELECT id, m, j,
        |      row_number() OVER (PARTITION BY id, m ORDER BY d2 ASC, j ASC) AS r
        |    FROM dist) WHERE r = 1),
        |rec AS (SELECT code.id AS cid,
        |    flatten(list(cb.ce[code.m*8 + 1 : code.m*8 + 8] ORDER BY code.m)) AS re
        |  FROM code JOIN cb ON cb.j = code.j GROUP BY code.id),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |      WHERE vec_id < 10),
        |scored AS (SELECT qid, cid,
        |    (${dotOf("qe", "re")}) / (${normSql("qe")} * ${normSql("re")}) AS cos
        |  FROM q JOIN rec ON qid != cid),
        |ranked AS (SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, rank, cid, floor(cos*10000 + 0.5)/10000 AS cos
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // IVF-PQ replay = q47's coarse assignment ∘ q85's PQ reconstruction:
    // assign every vector to its nearest seed centroid (vec_id < 16,
    // cosine, ties → smaller cid), expand each query (id < 10) to its
    // nprobe=2 probed lists, then score candidates from the probed
    // lists ONLY against their seed-codebook PQ reconstructions
    // (queries exact — ADC), rank by cos desc / cand asc, top 5.
    // Every constant is deterministic, so the composition replays the
    // Scala path (Similarity.ivfPqTopK) bit-for-bit.
    "q86_ann_ivfpq_topk" ->
      s"""WITH cb AS (SELECT vec_id AS j,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |v AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |subs AS (SELECT unnest(generate_series(0, 7)) AS m),
        |dist AS (SELECT v.id, s.m, cb.j,
        |    list_reduce(list_transform(generate_series(1, 8), i ->
        |      (v.e[s.m*8 + i] - cb.ce[s.m*8 + i])
        |        * (v.e[s.m*8 + i] - cb.ce[s.m*8 + i])),
        |      (a, b) -> a + b) AS d2
        |  FROM v CROSS JOIN subs s CROSS JOIN cb),
        |code AS (SELECT id, m, j FROM (
        |    SELECT id, m, j,
        |      row_number() OVER (PARTITION BY id, m ORDER BY d2 ASC, j ASC) AS r
        |    FROM dist) WHERE r = 1),
        |rec AS (SELECT code.id AS rid,
        |    flatten(list(cb.ce[code.m*8 + 1 : code.m*8 + 8] ORDER BY code.m)) AS re
        |  FROM code JOIN cb ON cb.j = code.j GROUP BY code.id),
        |vv AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
        |cc AS (SELECT vec_id AS ccid, embedding AS ce2 FROM embeddings
        |       WHERE vec_id < 16),
        |ac AS (SELECT id, e, ccid,
        |    ${dotOf("e", "ce2")} / (${normSql("e")} * ${normSql("ce2")}) AS ccos
        |  FROM vv CROSS JOIN cc),
        |asg AS (SELECT id, ccid FROM (
        |    SELECT id, ccid,
        |      row_number() OVER (PARTITION BY id ORDER BY ccos DESC, ccid ASC) AS r
        |    FROM ac) WHERE r = 1),
        |pq AS (SELECT id AS qid, e AS qe, ccid FROM (
        |    SELECT id, e, ccid,
        |      row_number() OVER (PARTITION BY id ORDER BY ccos DESC, ccid ASC) AS r
        |    FROM ac WHERE id < 10) WHERE r <= 2),
        |scored AS (SELECT pq.qid, asg.id AS cand,
        |    (${dotOf("pq.qe", "rec.re")})
        |      / (${normSql("pq.qe")} * ${normSql("rec.re")}) AS cos
        |  FROM pq JOIN asg ON pq.ccid = asg.ccid AND pq.qid != asg.id
        |  JOIN rec ON rec.rid = asg.id)
        |SELECT qid, rank, cand, floor(cos*10000 + 0.5)/10000 AS cos FROM (
        |  SELECT qid, cand, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC) AS rank
        |  FROM scored) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "q37_multimodal_features" ->
      """SELECT doc_id AS media_id, strlen(text) AS n_bytes
        |FROM documents
        |ORDER BY media_id""".stripMargin,
    "q45_simhash_neardup" ->
      s"""WITH t AS (SELECT doc_id,
        |    list_transform(str_split(trim(text), ' '), tk -> md5(tk)) AS hx
        |  FROM documents),
        |s AS (SELECT doc_id, $simhashBitsSql AS sh32 FROM t),
        |bands AS (SELECT doc_id, sh32, unnest($simhashBandsSql) AS band FROM s),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.sh32, b.sh32)) AS BIGINT) AS hamming
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM p
        |WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q46_ngram_jaccard" -> jaccardOracleSql(0.3),
    // lossless prefix-filter path at the realistic dedup threshold 0.8:
    // same answer as a direct join at 0.8 by construction, so the
    // oracle is that recomputation
    "q52_ngram_jaccard_ppjoin" -> jaccardOracleSql(0.8),
    "q47_ann_ivf_topk" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
        |ac AS (SELECT id, e, cid,
        |    ${dotOf("e", "ce")} / (${normSql("e")} * ${normSql("ce")}) AS ccos
        |  FROM v CROSS JOIN c),
        |asg AS (SELECT id, e, cid FROM (
        |    SELECT id, e, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid ASC) AS r
        |    FROM ac) WHERE r = 1),
        |pq AS (SELECT id AS qid, e AS qe, cid FROM (
        |    SELECT id, e, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid ASC) AS r
        |    FROM ac WHERE id < 10) WHERE r <= 2),
        |scored AS (SELECT pq.qid, asg.id AS cand,
        |    ${dotOf("pq.qe", "asg.e")} / (${normSql("pq.qe")} * ${normSql("asg.e")}) AS cos
        |  FROM pq JOIN asg ON pq.cid = asg.cid AND pq.qid != asg.id)
        |SELECT qid, rank, cand, floor(cos*10000 + 0.5)/10000 AS cos FROM (
        |  SELECT qid, cand, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC) AS rank
        |  FROM scored) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "q48_fingerprint_dup_groups" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(str_split(trim(text), ' '))), ' ')) AS fingerprint,
        | min(doc_id) AS keeper, count(*) AS n_docs
        |FROM documents GROUP BY 1 HAVING count(*) > 1
        |ORDER BY fingerprint""".stripMargin,
  )
}
