package graft

import org.apache.spark.sql.functions._

import graft.data.AsOfJoin

/** Dev-only as-of-join scale probe (test scope — not part of the shipped
  * library): measures the chunk-carry design's reason to exist. A plain
  * per-key window funds a key's ENTIRE history to one task, so a single
  * hot key (the common telemetry shape: one high-rate sensor) serializes
  * the whole join no matter how many executors exist. With `chunkSpan`
  * the window partitions by (key, day) and a per-(key, chunk) carry
  * frame — |chunks| rows — restores cross-chunk matches, so the same
  * hot key spreads over `spanDays` parallel tasks.
  *
  * Claims under test, on ONE key with n rows per side scattered over 64
  * days (deterministic coprime-stride timestamps, collision-free):
  *  - exactness: the chunked and single-task plans agree on row count,
  *    matched count, and the (asof_ts, payload) checksums — the carry
  *    frame loses and invents nothing;
  *  - parallelism: chunked wall beats the one-task window on local[32],
  *    and the gap widens with n (the one-task path degrades with its
  *    single sort; chunked wall tracks n/cores);
  *  - linearity: chunked wall grows ~n across the swept sizes.
  *
  * Run: `sbt "Test/runMain graft.AsOfJoinProbe [n ...]"` (default sweep
  * 200k, 2M rows per side). COVERAGE.md records the readings.
  */
object AsOfJoinProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(200000L, 2000000L)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val daySec = 86400L
    val spanDays = 64L
    val span = spanDays * daySec // 2^13·3^3·5^2 — coprime to both strides
    // cold-JVM codegen/JIT warmup would otherwise charge ~5 s to
    // whichever timed path runs first; a throwaway tiny run pays it
    (-1L) :: sizes.toList foreach { n0 =>
      val warmup = n0 < 0
      val n = if (warmup) 10000L else n0
      require(n <= span, s"n=$n would collide timestamps (span $span)")
      // one hot key; strides 7919/104729 are prime and coprime to span,
      // so i -> (i·stride mod span) is injective: unique ts per side,
      // which makes the backward match winner (and checksums) unique
      val right = spark.range(n).select(lit("k").as("key"),
        (col("id") * 7919L % span).as("rts"),
        (col("id") % 1000L).cast("double").as("v"))
      val left = spark.range(n).select(lit("k").as("key"),
        (col("id") * 104729L % span).as("ts"), col("id").as("lid"))

      def run(chunkSpan: Long): (Double, (Long, Long, Long, Double)) = {
        val t0 = System.nanoTime()
        val row = AsOfJoin.backward(left, right, Seq("key"), "ts", "rts",
          Seq("v"), chunkSpan = chunkSpan)
          .agg(count(lit(1)), count(col("asof_ts")), sum(col("asof_ts")),
            sum(col("v")))
          .collect().head
        ((System.nanoTime() - t0) / 1e9,
          (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3)))
      }

      val (chunkSec, chunkSums) = run(daySec)
      val (oneSec, oneSums) = run(0L)
      assert(chunkSums == oneSums,
        s"chunked and single-task results diverge: $chunkSums vs $oneSums")
      assert(chunkSums._1 == n && chunkSums._2 == n,
        s"every left row must match (right covers the span): $chunkSums")
      if (!warmup)
        println(s"""{"probe":"asof_hotkey","n":$n,"span_days":$spanDays,""" +
          s""""chunked_sec":${f"$chunkSec%.2f"},""" +
          s""""single_task_sec":${f"$oneSec%.2f"},""" +
          s""""matched":${chunkSums._2},"checksum_match":true}""")
    }
    spark.stop()
  }
}
