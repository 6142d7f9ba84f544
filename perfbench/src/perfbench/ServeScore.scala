package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.build.{ModelBuilder, Persistence, Project, Serving}
import graft.ml.DiffAnomaly

/** `serve_score`: the reference's `/anomaly/prediction` flow. Two
  * closed-loop clients each send a one-day wide frame (144 rows × 4 tags
  * at `10T`) to `ModelBuilder.scoreCached` through a two-model
  * `Serving.ModelCache`; each request picks one of more models than the
  * cache holds by a seeded Zipf draw. The models are built in set-up. */
final class ServeScore(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  val nTags = 12
  val days = 3
  val nModels = 3
  val tagsPerModel = 4
  val capacity = 2
  val clients = 2
  val rowsPerRequest = 144
  val framesPerModel = 4
  val zipfS = 1.0
  val mixBlock = 11 // Zipf(1) over 3 models: 6, 3 and 2 requests per block
  val warmWindows = 10
  val warmWindowRequests = 20
  val resolutionSec = 600L

  private var spec: Project.ProjectSpec = _
  private var lake = ""
  private var dirs = IndexedSeq.empty[String]
  private var tagsOf = IndexedSeq.empty[Seq[String]]
  private var frames = IndexedSeq.empty[IndexedSeq[java.util.List[Row]]]
  private var mix = IndexedSeq.empty[(Int, Int)]
  private val next = new AtomicInteger
  private val cache = new Serving.ModelCache(capacity)
  private var hitShares = Vector.empty[Double]
  private var warmP50s = Vector.empty[Double]

  def inputs: Map[String, Any] = Map(
    "lake_rows" -> nTags.toLong * days * 1440, "models" -> nModels,
    "cache_capacity" -> capacity, "clients" -> clients,
    "rows_per_request" -> rowsPerRequest, "tags_per_model" -> tagsPerModel,
    "zipf_s" -> zipfS, "expected_cache_hit_share" -> expectedHitShare,
    "measured_cache_hit_share_per_phase" -> hitShares,
    "warmup_p50_ms_per_window" -> warmP50s)

  def schemaOf(tags: Seq[String]): StructType =
    StructType(StructField("bucket_ts", LongType, nullable = false) +:
      tags.map(StructField(_, DoubleType, nullable = false)))

  def frame(m: Int, f: Int): DataFrame = spark.createDataFrame(frames(m)(f), schemaOf(tagsOf(m)))

  def generate(dir: String): Unit = {
    lake = s"$dir/lake"
    Gen.writeLake(spark, seed, nTags, days, lake)
    spec = Project.parse(
      Gen.fleetYaml(seed, nTags, tagsPerModel, nModels, 0, days), "perfbench-serve")
    tagsOf = spec.machines.map(m => graft.config.Config.datasetConfig(m).tags).toIndexedSeq
    // request frames: days after the training window, the lake's signal
    // plus seeded noise
    val params = Gen.tagParams(seed, nTags)
    val r = Gen.rng(seed, "serve-frames")
    frames = tagsOf.map { tags =>
      (0 until framesPerModel).map { f =>
        val t0 = Gen.Epoch0 + (days + f) * 86400L
        (0 until rowsPerRequest).map { i =>
          val t = t0 + i * resolutionSec
          Row.fromSeq(t +: tags.map(tag =>
            Gen.signal(params(tag.drop(1).toInt), t) + r.nextGaussian()))
        }.asJava
      }
    }
    // Zipf(zipfS) model shares, drawn stratified: each block of
    // `mixBlock` requests holds the rounded shares in shuffled order. The
    // sequence is the same for every seed (the frames are not), so the
    // cache hit share the latency depends on does not move with the seed.
    val weights = (1 to nModels).map(k => 1.0 / math.pow(k, zipfS))
    val counts = weights.map(w => math.round(w / weights.sum * mixBlock).toInt)
    val mr = Gen.rng(0L, "serve-mix")
    mix = IndexedSeq.fill(100000 / mixBlock) {
      val block = counts.zipWithIndex.flatMap { case (c, m) => Seq.fill(c)(m) }.toArray
      for (i <- block.indices.reverse) {
        val j = mr.nextInt(i + 1)
        val t = block(i); block(i) = block(j); block(j) = t
      }
      block.toSeq.map(m => (m, mr.nextInt(framesPerModel)))
    }.flatten
  }

  override def prepare(): Unit = {
    val built = Project.buildAll(spec, spark.read.parquet(lake), "tag", "ts", "value",
      outputRoot = s"$lake/../models", parallelism = 4, closedForm = true)
    require(built.map(_.fitted.tags) == tagsOf, "model tags differ from the request frames'")
    dirs = built.map(_.modelDir).toIndexedSeq
  }

  /** Hit share of an LRU cache of `capacity` models over the request
    * mix — the property the workload depends on. */
  def expectedHitShare: Double = {
    val lru = new java.util.LinkedHashMap[Int, Unit](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Int, Unit]) = size() > capacity
    }
    val sample = mix.take(10000)
    sample.count { case (m, _) => val hit = lru.containsKey(m); lru.put(m, ()); hit }
      .toDouble / sample.size.max(1)
  }

  private def request(): Unit = {
    val (m, f) = mix(next.getAndIncrement() % mix.size)
    Trace.span("serve.request") {
      val df = frame(m, f)
      Trace.span("build.scoreCached") {
        ModelBuilder.scoreCached(cache, dirs(m), df, resolutionSec).collect()
      }
    }
  }

  /** A fixed number of requests, so the JIT has seen the same number of
    * calls when timing starts: every model's plans compiled, and request
    * latency near its plateau (it falls from ~250 ms to ~100 ms over the
    * first 200 requests as the JIT compiles the scoring path). The
    * record keeps the median of each window of the warm-up. */
  def warmup(): Unit = {
    val deadline = System.nanoTime() + 90 * 1000000000L
    warmP50s = (1 to warmWindows).map(_ => closedLoop(deadline, warmWindowRequests).p50).toVector
    hitShares = Vector.empty
  }

  def measure(seconds: Double): Phase =
    closedLoop(System.nanoTime() + (seconds * 1e9).toLong, Long.MaxValue)

  /** Both clients, closed loop, until the deadline or until `requests`
    * have been sent. */
  private def closedLoop(deadline: Long, requests: Long): Phase = {
    val t0 = System.nanoTime()
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val attempted, failed = new AtomicLong
    val loads0 = cache.loads
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < deadline && attempted.incrementAndGet() <= requests) {
          val s = System.nanoTime()
          try { request(); lat.add((System.nanoTime() - s) / 1e6) }
          catch { case scala.util.control.NonFatal(e) =>
            failed.incrementAndGet(); errors.add(String.valueOf(e.getMessage).take(300))
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val sent = attempted.get.min(requests)
    hitShares :+= 1.0 - (cache.loads - loads0).toDouble / sent.max(1)
    Phase(lat.asScala.toSeq, lat.size.toDouble, (System.nanoTime() - t0) / 1e9,
      sent, failed.get, errors.asScala.toSeq)
  }

  /** The cached path must return exactly what the uncached one does. */
  def check(): Seq[Check] = dirs.indices.map { m =>
    val order = (a: Row) => a.getAs[Long]("start")
    val got = ModelBuilder.scoreCached(cache, dirs(m), frame(m, 0), resolutionSec)
      .collect().sortBy(order).toSeq
    val want = ModelBuilder.score(dirs(m), frame(m, 0), resolutionSec)
      .collect().sortBy(order).toSeq
    Check(s"score_cached_equals_score_m$m", got.nonEmpty && got == want,
      s"${got.size} rows vs ${want.size}")
  }

  def layers(progress: StreamProgress): Map[String, Double] = {
    val loadMs = dirs.flatMap(d => (1 to 3).map(_ => Clock.ms(Persistence.loadFull(d))._1))
    val scoreMs = dirs.indices.flatMap { m =>
      val fd: DiffAnomaly.FittedDetector = Persistence.load(dirs(m))
      (1 to 3).map(_ => Clock.ms(DiffAnomaly.anomaly(fd, frame(m, 1), resolutionSec).collect())._1)
    }
    Map(
      "ml.score_ms" -> Stats.median(scoreMs),
      "build.model_load_ms" -> Stats.median(loadMs),
      "build.model_cache_hit_ratio" -> hitShares.last)
  }
}
