package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs: every
  * draw comes from one `SplittableRandom(seed)` split per purpose, and
  * Spark-side noise uses seeded `randn` over a fixed partition count. */
object Gen {
  val Epoch0: Long = 1704067200L // 2024-01-01T00:00:00Z
  val Partitions = 4

  def rng(seed: Long, purpose: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L + purpose.hashCode)

  def tagName(i: Int): String = f"s$i%03d"

  def iso(epochSec: Long): String =
    java.time.Instant.ofEpochSecond(epochSec).toString

  /** Per-tag signal parameters: level, daily amplitude, phase, loading
    * on a shared slow factor (so tags correlate and an autoencoder has
    * structure to learn) and noise level. */
  final case class TagParams(level: Double, amp: Double, phase: Double,
                             load: Double, noise: Double)

  def tagParams(seed: Long, nTags: Int): IndexedSeq[TagParams] = {
    val r = rng(seed, "tags")
    IndexedSeq.fill(nTags)(TagParams(
      level = 50 + 100 * r.nextDouble(), amp = 5 + 20 * r.nextDouble(),
      phase = 2 * math.Pi * r.nextDouble(), load = 2 + 10 * r.nextDouble(),
      noise = 0.5 + 2 * r.nextDouble()))
  }

  /** Noise-free value of tag `p` at epoch second `t`; the lake and the
    * request and stream generators each add their own seeded noise. */
  def signal(p: TagParams, t: Long): Double = {
    val day = 2 * math.Pi * ((t - Epoch0) % 86400L) / 86400.0
    val slow = 2 * math.Pi * (t - Epoch0) / (86400.0 * 3.7)
    p.level + p.amp * math.sin(day + p.phase) + p.load * math.sin(slow)
  }

  /** Sensor lake: long `(tag, ts, value)` parquet at `dir`, one sample
    * per tag per minute from `Epoch0` for `days` days, `nTags` tags: the
    * tag's [[signal]] plus seeded noise. Returns the row count. */
  def writeLake(spark: SparkSession, seed: Long, nTags: Int, days: Int,
                dir: String): Long = {
    val ps = tagParams(seed, nTags)
    val name = udf((i: Int) => tagName(i))
    val clean = udf((i: Int, t: Long) => signal(ps(i), t))
    val noise = udf((i: Int) => ps(i).noise)
    val n = nTags.toLong * days * 1440L
    val i = (col("id") % nTags).cast("int")
    val t = lit(Epoch0) + (col("id") / nTags).cast("long") * 60L
    spark.range(0, n, 1, Partitions)
      .select(name(i).as("tag"), timestamp_seconds(t).as("ts"),
        (clean(i, t) + noise(i) * randn(seed)).as("value"))
      .write.parquet(dir)
    n
  }

  /** Distinct tag lists of `k` tags drawn from `nTags`. */
  def tagLists(seed: Long, purpose: String, nTags: Int, k: Int,
               n: Int): IndexedSeq[Seq[String]] = {
    val r = rng(seed, purpose)
    IndexedSeq.fill(n) {
      val all = Array.tabulate(nTags)(identity)
      for (i <- 0 until k) {
        val j = i + r.nextInt(nTags - i)
        val tmp = all(i); all(i) = all(j); all(j) = tmp
      }
      all.take(k).sorted.toSeq.map(tagName)
    }
  }

  /** Project YAML of `nShared + nOwn` machines with the default
    * DiffBasedAnomalyDetector + hourglass autoencoder at `10T`. The first
    * `nShared` machines share one dataset config apart from their tags
    * (one shared resample pass in `Project.buildAll`); each of the other
    * machines trains on its own window, so it forms a group of one. */
  def fleetYaml(seed: Long, nTags: Int, tagsPerMachine: Int, nShared: Int,
                nOwn: Int, days: Int): String = {
    val lists = tagLists(seed, "fleet", nTags, tagsPerMachine, nShared + nOwn)
    val start = iso(Epoch0)
    val end = iso(Epoch0 + days * 86400L)
    val machines = lists.zipWithIndex.map { case (tags, i) =>
      val own =
        if (i < nShared) ""
        else {
          // a window one day shorter, shifted by i hours: own group
          val s = Epoch0 + (i - nShared + 1) * 3600L
          s""", train_start_date: "${iso(s)}", train_end_date: "${iso(s + (days - 1) * 86400L)}""""
        }
      f"""  - name: m$i%02d
         |    dataset: {tag_list: [${tags.mkString(", ")}]$own}""".stripMargin
    }
    s"""globals:
       |  dataset:
       |    resolution: 10T
       |    train_start_date: "$start"
       |    train_end_date: "$end"
       |  model:
       |    gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
       |      base_estimator:
       |        gordo.machine.model.models.KerasAutoEncoder:
       |          kind: feedforward_hourglass
       |machines:
       |${machines.mkString("\n")}
       |""".stripMargin
  }
}
