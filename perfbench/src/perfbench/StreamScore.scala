package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.build.Project
import graft.data.TimeSeries
import graft.ml.DiffAnomaly
import graft.streaming.StreamingScoring

/** `stream_score`: `StreamingScoring.anomalyJob` over a CSV file source,
  * in two phases per measurement. First a fixed backlog of files is
  * drained (throughput); then one generator thread appends a file every
  * `intervalMs` (open loop) and each file's lag runs from its due time
  * to the commit of the first micro-batch whose cumulative input rows
  * cover it. The detector is built in set-up. */
final class StreamScore(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  val nTags = 4
  val days = 2
  val minutesPerFile = 30
  val backlogFiles = 24
  val intervalMs = 50L
  val resolutionSec = 600L
  def rowsPerFile: Int = minutesPerFile * nTags

  private var fd: DiffAnomaly.FittedDetector = _
  private var spec: Project.ProjectSpec = _
  private var lake = ""
  private var tags = Seq.empty[String]
  private var files = IndexedSeq.empty[String] // CSV bodies, in event-time order
  private var runs = 0
  private var lastIn, lastOut = ""
  private var lateness = Vector.empty[Double]
  private var backlogEnd = 0
  private var drainS = Vector.empty[Double]

  def inputs: Map[String, Any] = Map(
    "tags" -> nTags, "train_days" -> days, "rows_per_file" -> rowsPerFile,
    "event_minutes_per_file" -> minutesPerFile, "backlog_files" -> backlogFiles,
    "open_loop_interval_ms" -> intervalMs, "resolution" -> "10T",
    "drain_s_per_phase" -> drainS,
    "generator_late_ms_max" -> (if (lateness.isEmpty) 0.0 else lateness.max))

  def generate(dir: String): Unit = {
    lake = s"$dir/lake"
    Gen.writeLake(spark, seed, nTags, days, lake)
    spec = Project.parse(Gen.fleetYaml(seed, nTags, nTags, 1, 0, days), "perfbench-stream")
    tags = graft.config.Config.datasetConfig(spec.machines.head).tags
    // events after the training window: one per tag per minute
    val params = Gen.tagParams(seed, nTags)
    val r = Gen.rng(seed, "stream")
    val start = Gen.Epoch0 + days * 86400L
    files = (0 until 2000).map { f =>
      val b = new StringBuilder
      for (m <- 0 until minutesPerFile; (tag, i) <- tags.zipWithIndex) {
        val t = start + (f * minutesPerFile + m) * 60L
        b ++= s"$tag,$t,${Gen.signal(params(tag.drop(1).toInt), t) + r.nextGaussian()}\n"
      }
      b.toString
    }
  }

  /** Build the streamed model and load it back, as a deployment would. */
  override def prepare(): Unit = {
    val built = Project.buildAll(spec, spark.read.parquet(lake),
      "tag", "ts", "value", outputRoot = s"$lake/../models", parallelism = 1, closedForm = true)
    fd = graft.build.Persistence.load(built.head.modelDir)
    require(fd.tags == tags, s"model tags ${fd.tags} differ from the stream's $tags")
  }

  /** Publish file `i` atomically: written under a hidden name, renamed. */
  private def publish(in: String, i: Int): Unit = {
    val tmp = Paths.get(in, f".f$i%05d.tmp")
    Files.writeString(tmp, files(i))
    Files.move(tmp, Paths.get(in, f"f$i%05d.csv"), StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def events(in: String): DataFrame =
    spark.read.schema("tag STRING, epoch LONG, value DOUBLE").csv(in)
      .select(col("tag"), timestamp_seconds(col("epoch")).as("ts"), col("value"))

  private def start(dir: String) = {
    val stream = spark.readStream.schema("tag STRING, epoch LONG, value DOUBLE")
      .csv(s"$dir/in")
      .select(col("tag"), timestamp_seconds(col("epoch")).as("ts"), col("value"))
    Trace.span("streaming.anomalyJob") {
      StreamingScoring.anomalyJob(fd, "m00", stream, "tag", "ts", "value",
        resolutionSec, s"$dir/out", s"$dir/ckpt")
    }
  }

  def warmup(): Unit = {
    val dir = s"$work/stream-warm"
    Files.createDirectories(Paths.get(s"$dir/in"))
    (0 until 4).foreach(publish(s"$dir/in", _))
    val q = start(dir)
    try q.processAllAvailable() finally q.stop()
    graft.Scratch.deleteTree(Paths.get(dir))
  }

  /** Commit wall time (ms) and cumulative input rows after each batch. */
  private def commits(ps: Seq[StreamingQueryProgress]): Seq[(Long, Long)] = {
    var rows = 0L
    ps.sortBy(_.batchId).map { p =>
      rows += p.numInputRows
      (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L), rows)
    }
  }

  def measure(seconds: Double): Phase = {
    val dir = s"$work/stream-$runs"
    runs += 1
    Files.createDirectories(Paths.get(s"$dir/in"))
    (0 until backlogFiles).foreach(publish(s"$dir/in", _))
    val t0 = System.nanoTime()
    val q = start(dir)
    try {
      q.processAllAvailable()
      val drain = (System.nanoTime() - t0) / 1e9
      drainS :+= drain
      // open loop: file j is due at open + j * interval
      val nOpen = ((seconds - drain).max(seconds / 2) * 1000 / intervalMs).toInt
        .min(files.size - backlogFiles)
      val open = System.currentTimeMillis() + intervalMs
      val due = (0 until nOpen).map(j => open + j * intervalMs)
      due.zipWithIndex.foreach { case (d, j) =>
        val wait = d - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait) else lateness :+= -wait.toDouble
        publish(s"$dir/in", backlogFiles + j)
      }
      val covered = commits(q.recentProgress.toSeq).lastOption.map(_._2).getOrElse(0L)
      backlogEnd = backlogFiles + nOpen - (covered / rowsPerFile).toInt
      q.processAllAvailable()
      val cs = commits(q.recentProgress.toSeq)
      val lags = due.zipWithIndex.flatMap { case (d, j) =>
        val need = (backlogFiles + j + 1).toLong * rowsPerFile
        cs.find(_._2 >= need).map(c => (c._1 - d).toDouble)
      }
      if (lastIn.nonEmpty) graft.Scratch.deleteTree(Paths.get(lastIn).getParent)
      lastIn = s"$dir/in"; lastOut = s"$dir/out"
      val uncovered = nOpen - lags.size
      Phase(lags, backlogFiles.toDouble * rowsPerFile, drain, nOpen + 1, uncovered,
        if (uncovered > 0) Seq(s"$uncovered files never committed") else Nil)
    } finally q.stop()
  }

  /** The sink must hold exactly the batch anomaly frame over the same
    * events, up to the last bucket the watermark finalized. */
  def check(): Seq[Check] = {
    val got = spark.read.parquet(lastOut)
    val wide = TimeSeries.pivotWide(
      TimeSeries.resample(events(lastIn), Seq("tag"), "ts", "value", resolutionSec),
      "tag", tags).na.drop()
    val batch = DiffAnomaly.anomaly(fd, wide, resolutionSec)
    val cols = batch.columns.toSeq.map(c => col(s"`$c`"))
    val lastStart = got.agg(max(col("start"))).head().getLong(0)
    val want = batch.filter(col("start") <= lastStart).select(cols: _*)
      .orderBy("start").collect().toSeq
    val have = got.select(cols: _*).orderBy("start").collect().toSeq
    val buckets = wide.count()
    def close(a: Row, b: Row): Boolean = (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
    }
    Seq(
      Check("sink_equals_batch_anomaly",
        have.size == want.size && have.zip(want).forall { case (a, b) => close(a, b) },
        s"${have.size} sink rows vs ${want.size} batch rows"),
      Check("sink_covers_input", have.size >= buckets - 3,
        s"${have.size} sink rows of $buckets complete buckets"))
  }

  def layers(progress: StreamProgress): Map[String, Double] = {
    val ps = progress.reports.asScala.toSeq
    def med(key: String) = Stats.median(ps.flatMap(p =>
      p.durationMs.asScala.get(key).map(_.doubleValue)))
    val last = ps.sortBy(_.batchId).lastOption
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch" -> ps.map(_.numInputRows).sum.toDouble / ps.size.max(1),
      "streaming.batch_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.state_commit_ms" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_memory_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "streaming.backlog_files_end" -> backlogEnd.toDouble)
  }
}
