package graft

import org.apache.spark.sql.functions._

/** Dev-only streaming-dedup scale probe (test scope): runs the q76
  * operator — file stream → `dropDuplicatesWithinWatermark` on the
  * content key → exactly-once parquet sink — over a given documents
  * dir, with event times SPREAD across hours and duplicate copies
  * arriving within the watermark window, under time-ordered file
  * arrival. Reports wall, rows in/out, micro-batch count, and the
  * state-store row counts from the engine's own progress metrics.
  *
  * The claim under test: key state is bounded by the watermark window
  * (keys whose event time the watermark has passed are EVICTED), so max
  * live state tracks the per-window distinct-key rate — not the
  * all-time distinct count. A plain `dropDuplicates` would hold every
  * key forever and the max-state line would equal the distinct count.
  *
  * The OUTPUT contract is `dropDuplicatesWithinWatermark`'s, stated
  * precisely: a duplicate is dropped only while the earlier
  * occurrence's state is still live — duplicates separated by more
  * than the watermark delay legitimately RE-EMIT (that re-emission is
  * the price of bounded state; it is not a bug). The probe therefore
  * brackets out_rows between `distinct_texts` (perfect dedup, the
  * floor) and `expected_max` (a per-key greedy chain that re-emits
  * whenever the gap from the last emitted occurrence exceeds the
  * delay — the ceiling, since the engine's lagging watermark can only
  * hold state LONGER than the ideal chain assumes, never shorter).
  *
  * Run: `sbt "Test/runMain graft.DedupStreamProbe <dir>"` over
  * /root/testdata/sf0.1 and /tmp/scale10.
  */
object DedupStreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // recentProgress is capped (default 100); the probe's batch and
    // state readings must cover EVERY micro-batch at any scale knob
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = Tables(spark, dir, "documents")
    val nDocs = docs.count()
    val distinctTexts = docs
      .select(graft.llm.TextDedup.exactKey($"text").as("k"))
      .distinct().count()

    // ensureBuilt (stage + atomic rename): racing probe JVMs cannot
    // interleave part files, and the mtime pinning happens INSIDE the
    // stage — the pre-staged form wrote _SUCCESS before pinning, so a
    // kill in between published a "complete" cache whose unpinned
    // mtimes silently broke the time-ordered-replay premise
    val in = Scratch.ensureBuilt(Scratch.cachedDir(
      "graft-dedup-probe", s"$dir/documents.parquet")) { stage =>
      // arrival timeline: ~200 docs/hour of first occurrences, plus a
      // 20% duplicate echo 30 min after each original — inside the 1 h
      // watermark window, so the dedup state must still hold the
      // original's key when the echo arrives
      val epoch0 = lit(1704067200L)
      val firsts = docs.select($"doc_id", $"text",
        timestamp_seconds(epoch0 + ($"doc_id" % 1000000L) / 200L * 3600L
          + ($"doc_id" * 17L) % 3600L).as("ts"))
      val echoes = firsts.filter($"doc_id" % 5 === 0)
        .withColumn("ts", $"ts" + expr("INTERVAL 30 MINUTES"))
      val long = firsts.unionAll(echoes)
      long.repartitionByRange(40, $"ts").sortWithinPartitions($"ts")
        .write.mode("overwrite").parquet(stage)
      // FileStreamSource schedules by mtime: pin strictly increasing
      // mtimes in path (= ts-range) order so replay is time-ordered and
      // the watermark advances batch by batch, evicting expired keys
      // (the stage→slot rename preserves mtimes)
      new java.io.File(stage).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1700000000000L + i * 1000L) }
    }
    val nIn = spark.read.parquet(in).count()

    // ceiling for out_rows: per-key greedy chain over arrival times —
    // an occurrence re-emits iff its gap from the LAST EMITTED
    // occurrence of the same key exceeds the 1 h delay. The real
    // engine's watermark lags event time by batch granularity, so its
    // state lives at least this long → out_rows <= expectedMax.
    val expectedMax = spark.read.parquet(in)
      .select(graft.llm.TextDedup.exactKey($"text").as("k"), $"ts")
      .groupBy($"k").agg(sort_array(collect_list($"ts")).as("tss"))
      .select($"tss")
      .as[Seq[java.sql.Timestamp]]
      .map { tss =>
        var cnt = 0L
        var last = Long.MinValue
        tss.foreach { t =>
          val ms = t.getTime
          if (last == Long.MinValue || ms - last > 3600 * 1000L) {
            cnt += 1; last = ms
          }
        }
        cnt
      }.reduce(_ + _)

    val tmp = Scratch.dir("graft-dedup-probe-run")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "4")
      .parquet(in)
    val t0 = System.nanoTime()
    val deduped = graft.streaming.StreamingScoring
      .dedupStream(stream, "text", "ts", watermarkDelay = "1 hour")
    val q = graft.streaming.Forwarder.toParquet(
      deduped.select($"exact_key", $"doc_id"), s"$tmp/out", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val outRows = spark.read.parquet(s"$tmp/out").count()

    val progress = q.recentProgress.toSeq
    val stateRows = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsTotal)
    val maxState = if (stateRows.isEmpty) 0L else stateRows.max
    // the stated contract, asserted: dedup floor <= out <= greedy ceiling,
    // and live state bounded by the window, not the all-time key count
    assert(outRows >= distinctTexts && outRows <= expectedMax,
      s"out_rows $outRows outside [$distinctTexts, $expectedMax]")
    assert(maxState < distinctTexts,
      s"state_rows_max $maxState not watermark-bounded (distinct=$distinctTexts)")
    println(s"""{"probe":"q76_dedup_stream","dir":"$dir","input_rows":$nIn,""" +
      s""""docs":$nDocs,"distinct_texts":$distinctTexts,""" +
      s""""expected_max":$expectedMax,"out_rows":$outRows,""" +
      f""""wall_sec":$wall%.1f,"micro_batches":${progress.size},""" +
      s""""state_rows_max":$maxState,""" +
      s""""state_rows_last":${stateRows.takeRight(2).mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
