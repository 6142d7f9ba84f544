package graft

import org.apache.spark.sql.functions._

import graft.data.TimeSeries
import graft.ml.DiffAnomaly

/** Dev-only streaming scale probe (test scope): runs the q69 streaming
  * anomaly job — file source → watermarked resample+pivot → stateless
  * score → stateful smooth → exactly-once parquet sink — over a given
  * sf dir (notably /tmp/scale10's 10× events) and reports wall,
  * rows emitted, micro-batch count, and the STATE-STORE row counts from
  * the engine's own progress metrics. The claim under test: state stays
  * bounded (watermark-expired agg windows + width×columns smooth rows
  * per machine) while throughput scales with input volume.
  *
  * Run: `sbt "Test/runMain graft.StreamingProbe /tmp/scale10"`.
  */
object StreamingProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // recentProgress is capped (default 100); the probe's batch and
    // state readings must cover EVERY micro-batch at any scale knob
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tags = Seq("click", "view")
    val ev = Tables(spark, dir, "events")
      .filter($"event_type".isin(tags: _*))
    val r = TimeSeries.resample(ev, Seq("event_type"), "ts", "value", 3600L)
    val wide = TimeSeries.pivotWide(r, "event_type", tags).na.drop()
    val fitted = DiffAnomaly.fit(wide, tags, "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 1704067200L),
      scalerKind = "minmax", nSplits = 3,
      window = Some(6), smoothingMethod = "smm")
    val complete = wide.select($"bucket_ts").as[Long].collect().toSet

    val in = Scratch.ensureBuilt(
      Scratch.cachedDir("graft-stream-probe", s"$dir/events.parquet")) {
      stage =>
      val long = ev
        .filter((floor(unix_timestamp($"ts") / 3600L) * 3600L)
          .isInCollection(complete))
        .select($"event_type".as("tag"), $"ts", $"value")
      // TIME-ORDERED arrival (the production shape): range-partitioned
      // files replay in ts order, so the watermark advances batch by
      // batch and expires finalized agg windows — the bounded-state
      // claim under test. The sentinel lands in its own LAST file
      // (later mtime → FileStreamSource schedules it last).
      long.repartitionByRange(40, $"ts").sortWithinPartitions($"ts")
        .write.mode("overwrite").parquet(stage)
      def partFiles() = new java.io.File(stage).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val mainParts = partFiles()
      Seq(("click",
        new java.sql.Timestamp((complete.max + 366L * 86400L) * 1000L), 0.0))
        .toDF("tag", "ts", "value")
        .coalesce(1).write.mode("append").parquet(stage)
      // parallel writes leave near-identical mtimes and FileStreamSource
      // schedules by mtime — pin strictly increasing mtimes in path
      // order so replay order matches the ts ranges, with the sentinel
      // file stamped last (the stage→slot rename preserves mtimes)
      mainParts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 1000L) }
      (partFiles().toSet -- mainParts.toSet).foreach(
        _.setLastModified(1700000000000L + 100000L * 1000L))
    }
    val nIn = spark.read.parquet(in).count()

    val tmp = Scratch.dir("graft-stream-probe-run")
    val stream = spark.readStream
      .schema("tag STRING, ts TIMESTAMP, value DOUBLE")
      // bound the per-micro-batch input so the probe exercises MANY
      // batches (state carried + expired across batches), not one giant
      // replay batch
      .option("maxFilesPerTrigger", "4")
      .parquet(in)
    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingScoring.anomalyJob(fitted, "probe",
      stream, "tag", "ts", "value", 3600L, s"$tmp/out", s"$tmp/ckpt",
      watermarkDelay = "600 seconds")
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val outRows = spark.read.parquet(s"$tmp/out").count()

    // state-store evidence from the engine's own progress stream
    val progress = q.recentProgress.toSeq
    val stateRows = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsTotal)
    println(s"""{"probe":"q69_streaming","dir":"$dir","input_rows":$nIn,""" +
      s""""buckets":${complete.size},"out_rows":$outRows,""" +
      f""""wall_sec":$wall%.1f,"micro_batches":${progress.size},""" +
      s""""state_rows_max":${if (stateRows.isEmpty) 0 else stateRows.max},""" +
      s""""state_rows_last":${stateRows.takeRight(2).mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
