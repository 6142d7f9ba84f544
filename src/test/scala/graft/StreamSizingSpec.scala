package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Forwarder, StreamSizing, StreamingScoring}

/** The streaming state-partition sizing knob: default-off proof (the
  * bench's streaming rows stay byte-comparable), the configured path's
  * state-store count, and the checkpoint PINNING that makes the count a
  * first-deployment sizing decision. */
class StreamSizingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The shuffle-partition count a checkpoint recorded for a batch —
    * Spark writes the effective conf into every offsets-log entry, and
    * recovers state-bearing values from there on restart. */
  private def recordedPartitions(ckpt: String, batch: Int): Option[String] = {
    val f = java.nio.file.Paths.get(s"$ckpt/offsets/$batch")
    if (!java.nio.file.Files.exists(f)) None
    else """"spark\.sql\.shuffle\.partitions"\s*:\s*"(\d+)"""".r
      .findFirstMatchIn(java.nio.file.Files.readString(f)).map(_.group(1))
  }

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select($"doc_id", $"text",
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
      .coalesce(1).write.mode("append").parquet(dir)
  }

  private def runDedup(tmp: String, sess: org.apache.spark.sql.SparkSession): Unit = {
    val stream = sess.readStream
      .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
      .parquet(s"$tmp/in")
    val deduped = StreamingScoring.dedupStream(stream, "text", "ts")
    val q = Forwarder.toParquet(
      deduped.select(col("exact_key")), s"$tmp/out", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
  }

  test("default-off: sessionFor returns the caller's session unchanged") {
    assert(StreamSizing.sessionFor(spark) eq spark)
    // and a default-run stream pins the SESSION's shuffle partitions
    val tmp = Scratch.dir("graft-ssz-def")
    writeDocs(s"$tmp/in", Seq((1L, "a"), (2L, "b")))
    runDedup(tmp, StreamSizing.sessionFor(spark))
    assert(recordedPartitions(s"$tmp/ckpt", 0) ==
      Some(spark.conf.get("spark.sql.shuffle.partitions")))
  }

  test("configured: the stream runs at the requested state-partition count") {
    spark.conf.set(StreamSizing.confKey, "3")
    try {
      val sess = StreamSizing.sessionFor(spark)
      assert(sess ne spark)
      assert(sess.conf.get("spark.sql.shuffle.partitions") == "3")
      // the caller's session is untouched — batch plans keep their count
      assert(spark.conf.get("spark.sql.shuffle.partitions") != "3")
      val tmp = Scratch.dir("graft-ssz-cfg")
      writeDocs(s"$tmp/in", Seq((1L, "a"), (2L, "b")))
      runDedup(tmp, sess)
      assert(recordedPartitions(s"$tmp/ckpt", 0) == Some("3"))
    } finally spark.conf.unset(StreamSizing.confKey)
  }

  test("configured: the new session keeps the caller's runtime confs (advice a)") {
    // newSession() starts from builder-time confs only: a runtime time
    // zone set on the caller must still reach the stream's session
    val tzKey = "spark.sql.session.timeZone"
    val tz0 = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/New_York")
    spark.conf.set(StreamSizing.confKey, "3")
    try {
      val sess = StreamSizing.sessionFor(spark)
      assert(sess.conf.get(tzKey) == "America/New_York")
      assert(sess.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally {
      spark.conf.unset(StreamSizing.confKey)
      spark.conf.set(tzKey, tz0)
    }
  }

  test("the checkpoint pins the count across restarts with a changed knob") {
    val tmp = Scratch.dir("graft-ssz-pin")
    spark.conf.set(StreamSizing.confKey, "3")
    try {
      writeDocs(s"$tmp/in", Seq((1L, "a"), (2L, "b")))
      runDedup(tmp, StreamSizing.sessionFor(spark))
      assert(recordedPartitions(s"$tmp/ckpt", 0) == Some("3"))
      // redeploy with a different knob value over the SAME checkpoint:
      // Spark recovers the state-bearing conf from the checkpoint — the
      // new batch still runs (and records) 3 state partitions. Resizing
      // for real requires a fresh checkpoint (and a cleared sink for
      // the fenced forwarder) — the documented deployment recipe.
      spark.conf.set(StreamSizing.confKey, "5")
      writeDocs(s"$tmp/in", Seq((3L, "c")))
      runDedup(tmp, StreamSizing.sessionFor(spark))
      assert(recordedPartitions(s"$tmp/ckpt", 1) == Some("3"),
        "a restart must keep the checkpoint-pinned state-partition count")
    } finally spark.conf.unset(StreamSizing.confKey)
  }

  test("a malformed knob fails loudly") {
    spark.conf.set(StreamSizing.confKey, "lots")
    try intercept[IllegalArgumentException](StreamSizing.sessionFor(spark))
    finally spark.conf.unset(StreamSizing.confKey)
    spark.conf.set(StreamSizing.confKey, "0")
    try intercept[IllegalArgumentException](StreamSizing.sessionFor(spark))
    finally spark.conf.unset(StreamSizing.confKey)
  }
}
