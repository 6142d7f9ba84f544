package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guard: NO registered query may plan a
  * `CartesianProduct` or `BroadcastNestedLoopJoin` — the two shapes that
  * turn a correct small-SF query into an N² scale-killer. Every join in
  * the engine is designed equi-keyed (banded, bucketed, broadcast-hash,
  * or window-based), so any appearance of these operators is a
  * regression, not a choice; a legitimate future exception must be
  * allow-listed here explicitly with a scale justification.
  */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

  /** Deliberate bounded-broadcast × linear-scan shapes: the broadcast
    * side is a CONSTANT-bounded frame (10 query vectors / 16 seed
    * centroids / a config-sized dims table), so the nested-loop join is
    * O(constant · N) by design — the ANN scoring plan, not an N². Any
    * query NOT in this map that plans one of the forbidden shapes is a
    * regression. */
  private val allowlist: Map[String, String] = Map(
    "q35_ann_topk" -> "brute-force baseline: 10 broadcast queries x corpus scan",
    "q47_ann_ivf_topk" -> "10 broadcast queries x 16 centroids, probed lists equi-joined",
    "q83_ann_sq8_topk" -> "10 broadcast queries x quantized corpus scan",
    "q85_ann_pq_topk" -> "10 broadcast queries x PQ-reconstructed scan",
    "q86_ann_ivfpq_topk" -> "10 broadcast queries x 16 centroids, probed lists equi-joined",
    "q60_hourglass_dims" -> "config-sized dims frame, both sides driver-bounded")

  test("no registered query plans a cartesian or nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if allowlist.contains(name) => None
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        forbidden.filter(plan.contains) match {
          case Nil => None
          case hits => Some(s"$name: ${hits.mkString(", ")}")
        }
    }
    assert(offenders.isEmpty,
      s"scale-killer join shapes planned by:\n${offenders.mkString("\n")}")
  }

  /** Shuffle budgets, measured on the tree where each plan was reviewed:
    * every `Exchange` is a full network rewrite of the data at scale, so
    * a query silently growing one (a lost broadcast hint, an accidental
    * `repartition`, a window re-partitioned on new keys) is a performance
    * regression even while results stay correct. Budgets are the
    * reviewed plan's count — raising one must come with a reason, like
    * the allowlist above. Counted on the pre-execution adaptive plan
    * (deterministic given the fixed sf0.001 inputs), the count
    * [[ExecCounts.planShuffles]] reads and `JobAudit` prints as
    * `plan_exchanges`. The first map is the headline set with per-plan
    * review notes; the second pins every other registered query. */
  test("every registered query stays within its reviewed shuffle budget") {
    val budgets = Map(
      "q01_pricing_summary" -> 2, // partial+final agg, output sort
      "q02_select_where" -> 1, // output sort only (scan-side filter)
      "q04_join_revenue_by_nation" -> 2, // agg + sort; all joins hash/broadcast
      "q05_orders_no_lineitems" -> 2, // anti-join bcast; agg + sort
      "q07_topk_per_group" -> 3, // window partition, agg, sort
      "q13_resample_mean" -> 2, // bucket agg + sort
      "q21_getdata_composed" -> 4, // resample, grid join, pivot agg, sort
      // wideClickView is session-cached (one assembly for
      // q29/q43/q69/q74 instead of one per eager job); the cached
      // subtree's resample+pivot exchanges PRINT under the
      // InMemoryTableScan, so the fingerprint counts them while the
      // runtime shuffle count per execution does not
      "q29_anomaly_frame" -> 5,
      "q33_fingerprints" -> 1, // pure map + output sort
      // the shared shingle frame spreads an under-parallel scan (input
      // splits < cores) with one round-robin exchange before the
      // shingle compute; a no-op at lake scale where the scan already
      // has >= cores splits, so nothing extra ships there. The
      // verified-pair pipeline is session-cached (shared with q87,
      // which reads it twice), and the cached subtree's exchanges PRINT
      // under the InMemoryTableScan; the runtime shuffles per warm
      // execution are 1 (the output sort), pinned in RuntimeShuffleSpec
      "q34_minhash_dup_pairs" -> 5,
      "q35_ann_topk" -> 2, // per-query top-k agg + sort (queries broadcast)
      "q45_simhash_neardup" -> 2, // band bucket join (bcast), dedup, sort
      "q50_winnowing" -> 1, // pure map + output sort
      "q57_asof_join" -> 8, // union window + chunk-carry frame (ids/finals/prefix scan)
      "q68_partitioned_source" -> 4) ++ // pruned scan then the q21 pipeline
      // The rest of the registry, pinned from a full-plan sweep (the
      // failure message below, or JobAudit's plan_exchanges column,
      // lists every count): each value is the
      // REVIEWED static count on the pre-execution plan, INCLUDING the
      // subtrees printed under InMemoryTableScan nodes — a cached
      // assembly's child exchanges count once per appearance, so these
      // are plan FINGERPRINTS (an upper bound on runtime shuffles), and
      // any growth is a plan change someone must explain here.
      Map(
        // relational/set tail: agg + sort shapes, anti/semi broadcast
        "q03_revenue_filter" -> 0, "q06_active_customers_semi" -> 2,
        "q10_percentiles_by_type" -> 2, "q11_except_users" -> 3,
        "q12_intersect_users" -> 3,
        // time-series kernels: bucket agg, grid join windows, pivot
        "q08_rolling_stats" -> 2, "q09_rolling_min_max_threshold" -> 2,
        "q14_grid_ffill" -> 3, "q15_grid_interpolate" -> 3,
        "q16_rowfilter_buffer" -> 2, "q17_known_periods" -> 2,
        "q18_filter_iqr" -> 3, "q19_filter_median" -> 3,
        "q20_pivot_daily" -> 3, "q22_smooth_threshold_144" -> 3,
        "q28_ewma" -> 3, "q44_resample_multi" -> 2,
        // ml transforms/metrics over the assembled frame
        "q23_metrics_linear" -> 3, "q25_minmax_scale" -> 3,
        "q26_robust_scale" -> 3, "q27_inf_imputer" -> 3,
        "q38_sliding_windows" -> 3, "q39_trailing_align" -> 4,
        // the shared wideClickView cache's subtree prints under the
        // scan (see q29 note): +2 fingerprint each; runtime shuffles per
        // execution are fewer, not more
        "q43_pca_anomaly" -> 5, "q74_ewm_anomaly_frame" -> 4,
        // driver-side fits returning small frames
        "q24_cv_folds" -> 1, "q40_kfcv_thresholds" -> 0,
        "q54_cv_score_agg" -> 1,
        // llm text/dedup: map-side expressions + banded/bucketed joins
        "q30_text_stats" -> 2, "q31_quality_scores" -> 1,
        "q32_langid_confusion" -> 2, "q36_ann_lsh_buckets" -> 2,
        "q37_multimodal_features" -> 1, "q42_embedding_neardup" -> 2,
        // q46: +1 for the shingle spread (see q34 note)
        "q46_ngram_jaccard" -> 3, "q48_fingerprint_dup_groups" -> 2,
        "q52_ngram_jaccard_ppjoin" -> 5, "q88_repetition_stats" -> 1,
        // q89/q90: +1 for the conditional documents spread before
        // the 8-gram explode (see the q34 note — a no-op at lake scale)
        "q89_contamination" -> 5,
        // q89's plan + the corpus-id left join (broadcast: the hits agg
        // is benchmark-bounded) — same count, no new exchange
        "q90_contamination_full" -> 5,
        // ANN rank paths (probed-list equi-joins; queries broadcast)
        "q47_ann_ivf_topk" -> 6, "q83_ann_sq8_topk" -> 2,
        "q85_ann_pq_topk" -> 2, "q86_ann_ivfpq_topk" -> 6,
        // iterative closure: checkpoint-backed scan + keep logic + sort
        // (the shingle spread runs during construction, not in the
        // returned frame's plan — the checkpoint truncated it)
        "q87_dup_clusters" -> 2,
        // full build round-trips; the window (M6/M10) builds carry the
        // lag-window + interpolation-grid stages, with the cached
        // bounds-agg subtree printed under each consumer
        // build+score queries assemble ONCE into a session cache shared
        // by the build's CV passes, the serve probes, and the returned
        // frame; the cached assembly's exchanges print under the
        // InMemoryTableScan so the FINGERPRINT counts them while the
        // runtime shuffles per execution do not. q51/q72 additionally
        // print the cached wideClickView under their own projection cache
        // (nested InMemoryTableScans each print their subtree).
        "q41_config_build" -> 7, "q49_target_tags_build" -> 7,
        "q51_lstm_forecast" -> 11, "q72_lookahead_forecast" -> 21,
        "q77_raw_spec_build" -> 7,
        // serve/persist/report paths returning compact frames
        "q53_nested_json" -> 1, "q55_verify_columns" -> 1,
        "q59_multiply_transform" -> 1, "q64_response_columns" -> 1,
        "q70_metric_batch" -> 1, "q75_project_build" -> 1,
        "q79_lru_cache" -> 1, "q80_model_dump_layout" -> 1,
        "q81_serializer_roundtrip" -> 1,
        // config/scalar function queries over local or tiny frames
        "q56_normalize_tags" -> 1, "q58_sql_kernels" -> 1,
        "q60_hourglass_dims" -> 1, "q61_iso_parse" -> 1,
        "q62_template_expand" -> 1, "q63_json_body" -> 1,
        "q65_fixup_resources" -> 1, "q66_into_definition" -> 1,
        "q78_factory_registry" -> 1, "q82_sha3_cache_key" -> 1,
        // sources: seeded-artifact readbacks (the JDBC source resamples
        // on top of its parallel range scan) and streaming output scans
        "q67_jdbc_readback" -> 1, "q71_random_provider" -> 1,
        "q73_jdbc_source" -> 6, "q84_influx_source" -> 1,
        "q69_streaming_anomaly" -> 1, "q76_streaming_dedup" -> 1,
        // the q91 fit + streaming job run during construction; the
        // returned frame is the fenced sink scan + output sort
        "q91_streaming_lag_serve" -> 1)
    // the pin is total on purpose: a NEW query ships with a reviewed
    // budget or this fails — plan review can't be skipped by omission
    val unpinned = SparkEntry.queries.keySet -- budgets.keySet
    assert(unpinned.isEmpty,
      s"queries with no reviewed shuffle budget: ${unpinned.toSeq.sorted.mkString(", ")}")
    val stale = budgets.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"budgets for unregistered queries: ${stale.toSeq.sorted.mkString(", ")}")
    val measured = budgets.keys.toSeq.sorted.map(name =>
      name -> ExecCounts.planShuffles(SparkEntry.queries(name)(spark, sf)))
    val over = measured.collect {
      case (name, n) if n > budgets(name) =>
        s"$name: $n shuffles (budget ${budgets(name)})"
    }
    assert(over.isEmpty,
      s"shuffle budget exceeded:\n${over.mkString("\n")}\n" +
        s"(all measured: ${measured.map { case (n, g) => s"$n=$g" }.mkString(", ")})")
  }

  test("scan-heavy queries keep a whole-stage-codegen span in the hot path") {
    // an interpreted higher-order function once left one sf0.1 task
    // burning 875 s CPU, so this is a named risk: an Expression without
    // codegen support, or an RDD hop, silently drops the scan pipeline
    // out of WholeStageCodegen and the hot loop goes interpreted. For
    // the pure scan→project/agg queries the span must exist at all.
    val scanHeavy = Seq("q01_pricing_summary", "q02_select_where",
      "q13_resample_mean", "q30_text_stats", "q33_fingerprints",
      "q88_repetition_stats")
    val without = scanHeavy.filterNot { name =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      // AQE materializes codegen per stage at execution — the
      // pre-execution plan carries no spans yet, so force the run and
      // read the FINAL plan, where WholeStageCodegenExec prints as the
      // `*(stageId)` node prefix
      qe.toRdd.count()
      qe.executedPlan.toString.contains("*(")
    }
    assert(without.isEmpty,
      s"no WholeStageCodegen span planned in: ${without.mkString(", ")}")
  }

  test("q04 keeps the explicit broadcast hint on the nation dim") {
    // at sf0.001 every join auto-broadcasts, so the executed plan can't
    // distinguish the hint from stats luck — assert the hint itself on
    // the analyzed plan: at 100 TB the nation dim must never shuffle
    val analyzed = SparkEntry.queries("q04_join_revenue_by_nation")(spark, sf)
      .queryExecution.analyzed
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.exists(_.hints.strategy.exists(
      _.toString.contains("broadcast"))),
      "q04 lost its broadcast(nation) hint")
  }

  test("q02's filter and projection push down to the parquet scan") {
    // inspect the scan NODE, not the rendered plan — toString truncates
    // the PushedFilters/ReadSchema lists past ~100 chars
    val scan = SparkEntry.queries("q02_select_where")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05"),
      s"l_discount range not pushed: $pushed")
    assert(pushed.contains("LessThan(l_quantity,24.0)"),
      s"l_quantity bound not pushed: $pushed")
    // the scan schema must be pruned to the 5 referenced columns
    // (a 16-column lineitem read for a 4-column projection is wrong)
    assert(scan.requiredSchema.fieldNames.toSeq ==
      Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount"),
      s"scan not pruned: ${scan.requiredSchema.fieldNames.mkString(",")}")
  }
}
