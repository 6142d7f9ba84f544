package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry, started by `perfbench/run.py`:
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out dir>`.
  *
  * Prints a summary on stderr, writes the run's full record to
  * `<out dir>/record-<workload>-<seed>-trace<t>.json`, and prints the
  * result as the last stdout line. Exits non-zero, printing no result,
  * when any step throws. */
object Main {
  val SetupReps = 3

  val endToEnd = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "work_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      // Spark's non-daemon threads would keep a failed run alive
      e.printStackTrace()
      System.exit(1)
    }

  def run(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, work, out) = args
    val (seed, seconds, trace) = (seedArg.toLong, secondsArg.toDouble, traceArg == "1")
    val load0 = loadavg1()
    val cpu0 = cpuTimes()
    val calib0 = calibrateMs()

    val (sessionMs, spark) = Clock.ms(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate())
    val sessionS = sessionMs / 1e3
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")

    val w: Workload = workload match {
      case "fleet_build" => new FleetBuild(spark, seed, work)
      case "serve_score" => new ServeScore(spark, seed, work)
      case "stream_score" => new StreamScore(spark, seed, work)
      case "curate_dedup" => new CurateDedup(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }

    // input generation: repeated into fresh directories, the last kept
    val generateS = (1 to SetupReps).map { i =>
      val (ms, _) = Clock.ms(w.generate(s"$work/inputs-$i"))
      if (i > 1) graft.Scratch.deleteTree(Paths.get(s"$work/inputs-${i - 1}"))
      ms / 1e3
    }
    val prepareS = Clock.ms(w.prepare())._1 / 1e3
    val warmMs = Clock.ms(w.warmup())._1

    // a traced run brackets its traced phase between two untraced ones,
    // so warming that is still going on cancels out of the overhead
    val before = if (trace) Some(w.measure(seconds)) else None
    val (traced, layerMetrics) =
      if (!trace) (None, Map.empty[String, Double])
      else {
        val sc = spark.sparkContext
        val counters = SparkCounters.attach(sc)
        val progress = new StreamProgress
        spark.streams.addListener(progress)
        Trace.on()
        val tStart = System.currentTimeMillis()
        val p = w.measure(seconds)
        val tEnd = System.currentTimeMillis()
        Trace.off()
        SparkCounters.detach(sc, counters)
        spark.streams.removeListener(progress)
        val ops = p.attempted.max(1).toDouble
        val sparkLayer = Map(
          "spark.jobs" -> counters.jobs.get / ops,
          "spark.stages" -> counters.stages.get / ops,
          "spark.tasks" -> counters.tasks.get / ops,
          "spark.sql_executions" -> counters.sqlExecutions.get / ops,
          "spark.driver_s" ->
            ((tEnd - tStart) - counters.stageCoveredMs(tStart, tEnd)) / 1e3 / ops,
          "spark.executor_run_s" -> counters.runMs.get / 1e3 / ops,
          "spark.executor_cpu_s" -> counters.cpuNs.get / 1e9 / ops,
          "spark.gc_s" -> counters.gcMs.get / 1e3 / ops,
          "spark.shuffle_read_bytes" -> counters.shuffleRead.get / ops,
          "spark.shuffle_write_bytes" -> counters.shuffleWrite.get / ops,
          "spark.spill_bytes" -> counters.spill.get / ops)
        (Some(p), sparkLayer ++ w.layers(progress))
      }
    // the peak RSS covers the measured phase only: the kernel's
    // high-water mark is reset to the current RSS just before it
    val rssReset = resetPeakRss()
    val plain = w.measure(seconds)
    val peakRss = peakRssMb()
    val overheads = (for (b <- before; t <- traced) yield {
      def overhead(f: Phase => Double) = {
        val untraced = (f(b) + f(plain)) / 2
        if (untraced == 0) 0.0 else (f(t) - untraced) / untraced
      }
      Map(
        "trace.op_p50_overhead" -> overhead(_.p50),
        "trace.op_tail_overhead" -> overhead(tailOf),
        "trace.work_per_s_overhead" -> overhead(_.workPerS))
    }).getOrElse(Map.empty[String, Double])

    val (checksMs, checks) = Clock.ms(w.check())
    val cachedBytesEnd = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble
    val phases = before.toSeq ++ traced :+ plain
    val attempted = phases.map(_.attempted).sum + checks.size
    val failed = phases.map(_.failed).sum + checks.count(!_.ok)

    val e2e = Map(
      "setup_s" -> (sessionS + Stats.median(generateS) + prepareS),
      "op_p50_ms" -> plain.p50,
      "op_tail_ms" -> tailOf(plain),
      "work_per_s" -> plain.workPerS,
      "peak_rss_mb" -> peakRss)
    val metrics =
      if (!trace) endToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }.toMap
      else {
        // every listed metric, 0 where the workload has no such layer
        val all = layerMetrics ++ overheads + ("spark.cached_bytes_end" -> cachedBytesEnd)
        val units = Layers.all.toMap
        val unlisted = all.keySet -- units.keySet
        require(unlisted.isEmpty, s"per-layer metrics missing from Layers.all: $unlisted")
        Layers.all.map(_._1).map { k =>
          k -> Map("value" -> all.getOrElse(k, 0.0), "unit" -> units(k))
        }.toMap
      }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "inputs" -> w.inputs,
      "session_start_s" -> sessionS, "generate_s" -> generateS, "prepare_s" -> prepareS,
      "warmup_ms" -> warmMs,
      "samples" -> plain.latMs.size,
      "op_tail_percentile" -> plain.tail.map(_._1),
      "failed_ops_ratio" -> failed.toDouble / attempted,
      "errors" -> phases.flatMap(_.errors).take(20),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "checks_ms" -> checksMs,
      "end_to_end" -> e2e,
      "peak_rss_scope" -> (if (rssReset) "measured phase" else "whole run"),
      "traced" -> traced.map(p => Map("op_p50_ms" -> p.p50, "op_tail_ms" -> tailOf(p),
        "work_per_s" -> p.workPerS, "samples" -> p.latMs.size)),
      "per_layer" -> (layerMetrics ++ overheads),
      "calibration_ms" -> Seq(calib0, calibrateMs()),
      "loadavg_1m" -> Seq(load0, loadavg1()),
      "cpu_steal_share" -> stealShare(cpu0, cpuTimes()))
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, s"record-$workload-$seed-trace${traceArg}.json"),
      Json(record) + "\n")
    if (trace) Trace.write(s"$out/trace-$workload-$seed.json")
    System.err.println(s"perfbench record: ${Json(record)}")
    spark.stop()
    println(Json(Map("correct" -> checks.forall(_.ok), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
  }

  /** The tail latency; a run with fewer than eleven samples reports its
    * maximum (the record states which percentile was taken). */
  def tailOf(p: Phase): Double =
    p.tail.map(_._2).getOrElse(if (p.latMs.isEmpty) Double.NaN else p.latMs.max)

  /** A fixed amount of integer work, timed: the box's speed at the
    * time of the run, so a slow record explains itself. */
  def calibrateMs(): Double = {
    val t = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t) / 1e6
  }

  def loadavg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  /** The box's cumulative (total, steal) CPU jiffies: time the host
    * gave to other guests shows as steal, which the calibration loop
    * may miss when it lands between bursts. */
  def cpuTimes(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      Some((f.sum, f(7)))
    } catch { case _: Exception => None }

  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((t0, s0) <- a; (t1, s1) <- b if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0))
      .getOrElse(Double.NaN)

  /** Reset the kernel's high-water RSS of this process to its current
    * RSS; false where `/proc/self/clear_refs` cannot be written. */
  def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  /** The process's high-water resident set size since the last reset. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => Double.NaN }
}
