package graft

import java.util.concurrent.Executors

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only serving-concurrency probe (test scope — not part of the
  * shipped library): N scoring threads hammering a capacity-bounded
  * `ModelCache` with M > capacity models — the reference's serving
  * envelope is 2 worker processes × 8 threads with 2 models resident
  * per worker (BASELINE.md), so the shapes probed here are 16 threads
  * over 6 models at capacity 2 with an 80/20 hot/cold access mix.
  * Under capacity pressure the cold models continually evict each
  * other, which drives the LruCache eviction-mid-load re-insert path
  * under REAL contention (its race is fixed) while the two hot
  * models must stay resident.
  *
  * Reports wall, scores/sec, disk loads vs accesses (hit rate), and
  * per-score latency percentiles. COVERAGE.md records the numbers.
  *
  * Run: `sbt "Test/runMain graft.ServingProbe /root/testdata/sf0.1 [threads] [capacity]"`.
  */
object ServingProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nThreads = if (args.length > 1) args(1).toInt else 16
    val capacity = if (args.length > 2) args(2).toInt else 2
    val perThread = 25
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // not LocalSession: FAIR pools need the scheduler mode at context start
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // 6 models: every 2-tag pair over a 4-tag set, one train window
    val tags = Seq("click", "view", "purchase", "signup")
    val pairs = for {
      i <- tags.indices; j <- (i + 1) until tags.size
    } yield (tags(i), tags(j))
    val machines = pairs.zipWithIndex.map { case ((a, b), i) =>
      s"""  - name: serve-$i
         |    dataset:
         |      tag_list: [$a, $b]
         |      train_start_date: 2024-01-01T00:00:00Z
         |      train_end_date: 2024-01-15T00:00:00Z""".stripMargin
    }
    val yaml =
      s"""globals:
         |  dataset:
         |    resolution: 1H
         |    interpolation_limit: 6H
         |  model:
         |    gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
         |      base_estimator:
         |        gordo.machine.model.models.KerasAutoEncoder:
         |          kind: feedforward_hourglass
         |machines:
         |${machines.mkString("\n")}""".stripMargin
    val spec = graft.build.Project.parse(yaml, "graft-serving-probe")
    val long = Tables(spark, dir, "events")
      .select($"event_type".as("tag"), $"ts", $"value")
    val tmp = Scratch.dir("graft-serving-probe")
    val built = graft.build.Project.buildAll(spec, long, "tag", "ts",
      "value", outputRoot = s"$tmp/models", parallelism = 6,
      closedForm = true)
    val dirs = built.map(_.modelDir).toIndexedSeq

    // one wide serve frame per model, precomputed and cached — the
    // probe times the serve path, not dataset assembly
    val wides = spec.machines.map { m =>
      val w = graft.data.TimeSeries.getData(long, "tag", "ts", "value",
        graft.config.Config.datasetConfig(m)).cache()
      w.count()
      w
    }.toIndexedSeq

    val cache = new graft.build.Serving.ModelCache(capacity)
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val pool = Executors.newFixedThreadPool(nThreads)
    val t0 = System.nanoTime()
    try {
      val futures = (0 until nThreads).flatMap { t =>
        (0 until perThread).map { i =>
          pool.submit(new Runnable {
            def run(): Unit = {
              // deterministic 80/20 mix: 80% of requests on the 2 hot
              // models, 20% spread over the 4 cold ones
              val h = t * perThread + i
              val idx = if (h % 10 < 8) h % 2 else 2 + h % 4
              val s0 = System.nanoTime()
              graft.build.ModelBuilder.scoreCached(cache, dirs(idx),
                wides(idx), 3600L).count()
              latencies.add((System.nanoTime() - s0) / 1e9)
            }
          })
        }
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val wall = (System.nanoTime() - t0) / 1e9

    val total = nThreads * perThread
    val lats = latencies.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue).sorted
    def pct(p: Double) = lats((p * (lats.length - 1)).round.toInt)
    println(f"""{"probe":"serving","dir":"$dir","models":${dirs.size},""" +
      f""""capacity":$capacity,"threads":$nThreads,"scores":$total,""" +
      f""""wall_sec":$wall%.1f,"scores_per_sec":${total / wall}%.1f,""" +
      f""""disk_loads":${cache.loads},""" +
      f""""hit_rate":${1.0 - cache.loads.toDouble / total}%.3f,""" +
      f""""lat_p50":${pct(0.5)}%.3f,"lat_p90":${pct(0.9)}%.3f,""" +
      f""""lat_max":${lats.last}%.3f}""")
    spark.stop()
  }
}
