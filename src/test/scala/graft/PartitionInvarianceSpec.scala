package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance: a registered query's RESULT must not
  * depend on `spark.sql.shuffle.partitions` — the property a
  * 1000-executor run silently rests on (the cluster picks a different
  * partition count than local[32], and AQE coalesces differently run to
  * run). Each pinned query runs under 3 and then 17 shuffle partitions
  * (both co-prime to the 4-thread test session's defaults, odd on
  * purpose so hash ranges shift) and the collected row multisets must
  * match exactly. Kernels chosen for partition-sensitive internals:
  * chunk+carry windows, banded joins, exact-quantile medians, streaming
  * ewm recursions, fold aggregates. The oracle gate already pins the
  * 32-partition result to DuckDB; this pins the result ACROSS partition
  * counts, which the oracle alone cannot see. */
class PartitionInvarianceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def runAt(name: String, parts: String): Seq[String] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      val out = canon(df)
      graft.llm.Components.releaseQuietly(df)
      out
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // one test per query so a failure names its kernel directly
  for (name <- Seq(
      "q13_resample_mean", // bucket agg
      "q19_filter_median", // exact interpolated quantiles per window
      "q28_ewma", // chunk+carry sequential recursion
      "q34_minhash_dup_pairs", // banded LSH self-join
      "q45_simhash_neardup", // hamming-band buckets
      "q57_asof_join", // chunk+carry as-of merge
      "q88_repetition_stats")) // aggregate-fold expressions
    test(s"$name is invariant to the shuffle partition count (3 vs 17)") {
      val a = runAt(name, "3")
      val b = runAt(name, "17")
      assert(a.size == b.size,
        s"row count moved with partitioning: ${a.size} vs ${b.size}")
      assert(a == b, {
        val diff = (a.toSet -- b.toSet).take(3) ++ (b.toSet -- a.toSet).take(3)
        s"rows moved with partitioning, e.g.: ${diff.mkString("; ")}"
      })
    }

  /** Fit an MLP on 4,500 rows under 2 and then 7 shuffle partitions;
    * params and every threshold must be exactly equal. Past 4096 rows
    * the row index is value-chunked and the chunks are hash-partitioned,
    * so any collect of the training rows arrives in a partition-dependent
    * order; the fit must train in time order. A null cell sends the fit
    * down the per-fold loop instead of the fused segmented pass. */
  private def assertMlpFitInvariant(nullAt: Option[Int]): Unit = {
    import spark.implicits._
    val series = (0 until 4500).map { i =>
      (i * 600L,
        Option(10.0 + math.sin(i * 0.01) * 5.0 + math.sin(i * 0.9))
          .filterNot(_ => nullAt.contains(i)),
        25.0 + math.cos(i * 0.013) * 4.0 + math.cos(i * 1.3))
    }.toDF("bucket_ts", "tx", "ty")
    def fitAt(parts: String) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try graft.ml.DiffAnomaly.fit(series, Seq("tx", "ty"), "bucket_ts",
        graft.ml.Mlp.MlpReconstructor.hourglass(epochs = 20), nSplits = 3)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val (a, b) = (fitAt("2"), fitAt("7"))
    val moved = a.model.params.keys.filter(k =>
      !b.model.params.get(k).contains(a.model.params(k))).toSeq.sorted
    assert(a.model.params.keySet == b.model.params.keySet && moved.isEmpty,
      s"MLP params moved with partitioning: ${moved.size} of " +
        s"${a.model.params.size}, e.g. ${moved.take(3).map(k =>
          s"$k ${a.model.params(k)} vs ${b.model.params.get(k)}").mkString("; ")}")
    assert(a.thresholds.aggregateThreshold == b.thresholds.aggregateThreshold,
      s"aggregate threshold moved: ${a.thresholds.aggregateThreshold} vs " +
        s"${b.thresholds.aggregateThreshold}")
    assert(a.thresholds.featureThresholds == b.thresholds.featureThresholds,
      "feature thresholds moved with partitioning")
    assert(a.thresholds.perFoldAggregate == b.thresholds.perFoldAggregate,
      "per-fold aggregates moved with partitioning")
  }

  test("an MLP fit on more than 4096 rows is invariant to the shuffle partition count (2 vs 7)") {
    assertMlpFitInvariant(nullAt = None)
  }

  test("a per-fold-loop MLP fit (one null cell) on more than 4096 rows is invariant to the shuffle partition count (2 vs 7)") {
    assertMlpFitInvariant(nullAt = Some(2222))
  }
}
