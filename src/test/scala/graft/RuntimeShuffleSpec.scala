package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runtime shuffle-count guard. PlanGuardSpec's budgets are plan
  * fingerprints: the printed plan repeats a cached assembly's exchanges
  * under every `InMemoryTableScan` appearance, so caching can raise a
  * fingerprint while the shuffles a query actually executes drop. This
  * spec pins the real quantity: the number of distinct shuffle
  * dependencies whose map stages run during a query's construction +
  * full materialization, as [[ExecCounts]] reads them from the
  * scheduler's own `StageInfo.shuffleDepId` (stage retries share the id,
  * so nothing double-counts).
  *
  * Counts are asserted on the second back-to-back run: the first run
  * fills the session caches (`SessionCache` pins are session-wide, so
  * cross-suite ordering would otherwise decide who pays the fill), and
  * the warm count is exactly the steady-state per-execution cost.
  * Exceeding a pinned count means a shuffle crept back in (a lost cache
  * hit, a re-keyed join, a repartition); raising one needs a plan
  * review, like the PlanGuardSpec budgets. */
class RuntimeShuffleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def shufflesDuring(body: => Unit): Int =
    ExecCounts.during(spark.sparkContext)(body)._2.shuffles

  private def runWarm(name: String): Int = {
    def once(): Int = shufflesDuring {
      val df = SparkEntry.queries(name)(spark, sf)
      try df.queryExecution.toRdd.count()
      finally graft.llm.Components.releaseQuietly(df).foreach(m =>
        fail(s"$name checkpoint release failed: $m"))
    }
    once() // cache-fill run (assembly/wideClickView session caches)
    once() // warm steady-state — the pinned quantity
  }

  test("warm runtime shuffle counts stay at their reviewed values") {
    // measured on the reviewed tree (local[4], shuffle.partitions=4,
    // sf0.001). Contrast with PlanGuardSpec's fingerprints: q72's
    // fingerprint is 21 (nested cached subtrees print repeatedly) while
    // its warm runtime count is 6. q41 (6): one cached-assembly scan
    // feeds build + CV + serve, and the scoring-scaler fit rides the
    // segmented CV pass; what's left per execution is the CV's
    // segmented-stats and grouped-test aggregations, the row-index
    // chunk passes, and the score frame's final sort. q29 (5): the
    // wideClickView cache absorbs the resample+pivot exchanges; the
    // detector's CV aggregations + frame sort remain. q72 (6): the
    // q51-projection and lag-frame caches absorb their own fills on the
    // warm run. q34 (1): the verified-pair frame is session-cached
    // (shared with q87), so a warm run's only shuffle is the output
    // sort. q87 (3): the cached pairs' shuffle into the one union-find
    // task, the cluster-size window and the output sort, with the pair
    // pipeline fully absorbed.
    val pinned = Map(
      "q41_config_build" -> 6,
      "q29_anomaly_frame" -> 5,
      "q72_lookahead_forecast" -> 6,
      "q34_minhash_dup_pairs" -> 1,
      // exact: the one-task labelling plans no join, so no AQE
      // broadcast-vs-shuffle choice can move the count; losing the pair
      // cache would re-run the band-join pipeline (≥ +4), and falling
      // back to the label-propagation loop would add its per-round
      // exchanges
      "q87_dup_clusters" -> 3)
    // the pins are exact counts for this session shape only: fail on
    // the environment, not on a misleading "regression", elsewhere
    val master = spark.sparkContext.master
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert(master == "local[4]" && partitions == "4",
      s"RuntimeShuffleSpec pins assume master local[4] with " +
        s"spark.sql.shuffle.partitions=4; this session runs master " +
        s"$master with $partitions shuffle partitions")
    val measured = pinned.keys.toSeq.sorted.map(n => n -> runWarm(n))
    val over = measured.collect {
      case (n, got) if got > pinned(n) =>
        s"$n: $got runtime shuffles (pinned ${pinned(n)})"
    }
    assert(over.isEmpty,
      s"warm runtime shuffle count regressed:\n${over.mkString("\n")}\n" +
        s"(all measured: ${measured.map { case (n, g) => s"$n=$g" }.mkString(", ")})")
  }
}
