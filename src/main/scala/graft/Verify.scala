package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // layout mode: SPARK_GRAFT_LAYOUT=partitioned
    // re-runs the WHOLE suite against a hybrid Hive-partitioned lake
    // copy of sfDir (events/documents directory-per-table, the rest
    // single-file) — the oracle compare against the original tables
    // then doubles as the 91-row layout-parity gate. The copy caches
    // keyed on the source dir's file identities (a regenerated sf dir
    // rebuilds it); unknown values fail loudly, never fall back.
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_LAYOUT", "single") match {
      case "single" => sfDir
      case "partitioned" =>
        // stage + atomic rename (ensureBuilt): a second Verify JVM
        // racing the lake build adopts the winner's copy instead of
        // interleaving table writes into the shared slot
        val lake = Scratch.ensureBuilt(
          Scratch.cachedDir("graft-hybrid-lake", sfDir)) { stage =>
          Tables.writeHybridLake(spark, sfDir, stage)
        }
        System.err.println(s"[verify] layout=partitioned lake=$lake")
        lake
      case other => sys.error(
        s"unknown SPARK_GRAFT_LAYOUT '$other' (single|partitioned)")
    }
    // dev-only subset filter (the driver sets no env): comma-separated
    // query names, e.g. SPARK_GRAFT_VERIFY_QUERIES=q29_anomaly_frame
    val subset = sys.env.get("SPARK_GRAFT_VERIFY_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = subset match {
      case Some(s) => SparkEntry.queries.view.filterKeys(s).toMap
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dataDir)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // the materialize-then-release contract for checkpoint-backed
        // results (q87's dup clusters): once written, free the
        // RDD-level blocks — ownership-guarded, a no-op for every
        // other query's frame. A release failure is a warning, never a
        // per-query failure: the parquet output is already on disk.
        finally graft.llm.Components.releaseQuietly(df).foreach(msg =>
          System.err.println(s"[verify] $name $msg"))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.build.Persistence.toJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
