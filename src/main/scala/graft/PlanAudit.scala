package graft

/** Dev tool: dump `explain("formatted")` for headline queries so the
  * scan pushdown (PushedFilters/ReadSchema), broadcast choices, and
  * shuffle/partitioning shape can be reviewed per change. Run:
  * `sbt "runMain graft.PlanAudit [sfDir] [query...]"`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q02_select_where", "q04_join_revenue_by_nation",
        "q07_topk_per_group", "q08_rolling_stats", "q21_getdata_composed",
        "q29_anomaly_frame", "q34_minhash_dup_pairs", "q36_ann_lsh_buckets",
        "q51_lstm_forecast", "q52_ngram_jaccard_ppjoin")
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
