package graft

import org.apache.spark.sql.functions._

/** Dev-only q91 scale probe (test scope): the
  * streaming SERVE path — q51's lag-feature detector applied by
  * `StreamingScoring.scoreStream` to an arriving pre-windowed stream
  * and landed through the fenced exactly-once `Forwarder` — over a
  * given sf dir (notably /tmp/scale100's 100× events). q69/q76/q87
  * carry 1×/10×/100× probe rows already; this closes the gap for the
  * serve composition q91 gates at sf0.01/sf0.1 only.
  *
  * The claim under test: serving is STATELESS — the progress stream
  * reports no stateful operators at any scale (every row's score is a
  * function of its own lag columns), so wall tracks input volume with
  * zero state growth, and output rows == input rows exactly (nothing
  * buffered, nothing dropped). Fit wall is reported separately — the
  * batch fit is q29/q51's already-probed territory, and a serve
  * deployment fits once and serves indefinitely.
  *
  * Run: `sbt "Test/runMain graft.ServeStreamProbe /tmp/scale100"`.
  * Readings land in COVERAGE.md.
  */
object ServeStreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // recentProgress is capped (default 100); the probe's batch and
    // state readings must cover EVERY micro-batch at any scale knob
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tFit0 = System.nanoTime()
    val (lagged, fitted) =
      graft.operators.AnomalyQueries.lagClickFit(spark, dir)
    val fitWall = (System.nanoTime() - tFit0) / 1e9

    // stream input: the lag frame clients would send, cached like q91's
    // (same witness-keyed discipline, probe-own prefix) but spread over
    // 16 range files so maxFilesPerTrigger yields MANY micro-batches —
    // the serve loop crosses batch boundaries instead of one replay
    val in = Scratch.ensureBuilt(Scratch.cachedDir("graft-q91-probe-in",
      Tables.witness(dir, "events"), version = "v1")) { stage =>
      lagged.repartitionByRange(16, $"bucket_ts")
        .write.mode("overwrite").parquet(stage)
    }
    val nIn = spark.read.parquet(in).count()

    val tmp = Scratch.dir("graft-q91-probe-run")
    val stream = spark.readStream
      .schema("bucket_ts BIGINT, click DOUBLE, " +
        "click_lag1 DOUBLE, click_lag2 DOUBLE")
      .option("maxFilesPerTrigger", "2")
      .parquet(in)
    val scored = graft.streaming.StreamingScoring
      .scoreStream(fitted, stream, resolutionSec = 3600L)
    val t0 = System.nanoTime()
    val q = graft.streaming.Forwarder.toParquet(
      scored, s"$tmp/out", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val outRows = spark.read.parquet(s"$tmp/out").count()

    val progress = q.recentProgress.toSeq
    val stateRows = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsTotal)
    println(s"""{"probe":"q91_streaming_serve","dir":"$dir",""" +
      s""""input_rows":$nIn,"out_rows":$outRows,""" +
      f""""fit_wall_sec":$fitWall%.1f,"serve_wall_sec":$wall%.1f,""" +
      s""""micro_batches":${progress.size},""" +
      s""""state_operators":${progress.map(_.stateOperators.length).sum},""" +
      s""""state_rows_max":${if (stateRows.isEmpty) 0 else stateRows.max}}""")
    spark.stop()
  }
}
