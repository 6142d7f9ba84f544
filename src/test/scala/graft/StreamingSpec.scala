package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.DiffAnomaly
import graft.streaming.{Forwarder, StreamingScoring}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def wideBatch = {
    import spark.implicits._
    (0 until 40).map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i))
      .toDF("bucket_ts", "tx", "ty")
  }

  test("streaming resample emits the same buckets as the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val stream = input.toDF().toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val q = StreamingScoring
      .resampleStream(stream, "tag", "ts", "value", 600L)
      .writeStream.format("memory").queryName("resampled")
      .outputMode("complete").start()
    try {
      input.addData(("a", 0L, 1.0), ("a", 100L, 3.0), ("a", 650L, 5.0),
        ("b", 0L, 7.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT tag, bucket_ts, value FROM resampled ORDER BY tag, bucket_ts")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq == Seq(("a", 0L, 2.0), ("a", 600L, 5.0), ("b", 0L, 7.0)))
    } finally q.stop()
  }

  test("forwarder lands stream batches in the parquet measurement dir") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Scratch.dir("graft-fwd")
    val input = MemoryStream[(Long, Double)]
    val q = graft.streaming.Forwarder.toParquet(
      input.toDF().toDF("ts", "value"), s"$tmp/out", s"$tmp/ckpt")
    try {
      input.addData((1L, 1.5), (2L, 2.5))
      q.processAllAvailable()
      input.addData((3L, 3.5))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() == 3)
      assert(out.columns.contains("batch_id")) // partitioned by batch
    } finally q.stop()
  }

  test("streaming scoring matches the batch anomaly frame row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fitted = DiffAnomaly.fit(wideBatch, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3)
    val batch = DiffAnomaly.anomaly(fitted.copy(window = None), wideBatch, 600L)

    val input = MemoryStream[(Long, Double, Double)]
    val stream = input.toDF().toDF("bucket_ts", "tx", "ty")
    val q = StreamingScoring.scoreStream(fitted, stream, 600L)
      .writeStream.format("memory").queryName("scored")
      .outputMode("append").start()
    try {
      input.addData((0 until 40).map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i)): _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM scored ORDER BY start").collect()
      val exp = batch.orderBy($"start").collect()
      assert(got.length == exp.length)
      got.zip(exp).foreach { case (g, e) => assert(g == e) }
    } finally q.stop()
  }

  test("stateful streaming smoothing matches batch rolling windows across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two machines, interleaved; values chosen so smm interpolation
    // (even width) and sma are both non-trivial; m1 has a NULL score
    // mid-series (every frame containing it must score null — pandas
    // min_periods strictness, like the batch windows)
    def series(key: String): Seq[(String, Long, Option[Double])] =
      (0 until 12).map(i => (key, i * 600L,
        if (key == "m1" && i == 6) None
        else Some((if (key == "m1") 1.0 else 100.0) + i * 3.0 + (i % 3) * 7.0)))
    val all = series("m1") ++ series("m2")
    for (method <- Seq("smm", "sma"); width <- Seq(3, 4)) {
      val input = MemoryStream[(String, Long, Option[Double])]
      val stream = input.toDF().toDF("machine", "bucket_ts", "err")
      val q = StreamingScoring.smoothStream(stream, "machine", "bucket_ts",
        Seq("err" -> "smooth_err"), width, method)
        .writeStream.format("memory").queryName(s"sm_${method}_$width")
        .outputMode("append").start()
      try {
        // split mid-series: state must carry the trailing window across
        // the micro-batch boundary
        val (b1, b2) = all.partition(_._2 < 5 * 600L)
        input.addData(b1: _*)
        q.processAllAvailable()
        input.addData(b2: _*)
        q.processAllAvailable()
        val got = spark.sql(
          s"SELECT machine, bucket_ts, smooth_err FROM sm_${method}_$width " +
            "ORDER BY machine, bucket_ts").collect()
          .map(r => (r.getString(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        // scala oracle: trailing window over each ordered series with
        // pandas-default strictness (min_periods = window, like the
        // batch chunkedTrailing): a frame missing an observation — the
        // null prefix OR m1's interior null — scores None
        val exp = Seq("m1", "m2").flatMap { k =>
          val vs = series(k).map(_._3)
          vs.zipWithIndex.map { case (_, i) =>
            val sm =
              if (i < width - 1) None
              else {
                val w = vs.slice(i - width + 1, i + 1).flatten
                if (w.size < width) None
                else Some(method match {
                  case "sma" => w.sum / w.size
                  case "smm" =>
                    val s = w.sorted
                    val pos = (s.size - 1) * 0.5
                    val lo = s(pos.toInt)
                    val hi = s(math.ceil(pos).toInt)
                    lo + (hi - lo) * (pos - pos.toInt)
                })
              }
            (k, i * 600L, sm)
          }
        }
        assert(got.toSeq == exp, s"method=$method width=$width")
      } finally q.stop()
    }
  }

  test("streaming ewma smoothing matches the batch ewm kernel bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same shape as the smm/sma case: two machines, a mid-series null
    // (ewm decays both accumulators and adds nothing for it)
    def series(key: String): Seq[(String, Long, Option[Double])] =
      (0 until 12).map(i => (key, i * 600L,
        if (key == "m1" && i == 6) None
        else Some((if (key == "m1") 1.0 else 100.0) + i * 3.0 + (i % 3) * 7.0)))
    val all = series("m1") ++ series("m2")
    for (width <- Seq(3, 6)) {
      val input = MemoryStream[(String, Long, Option[Double])]
      val stream = input.toDF().toDF("machine", "bucket_ts", "err")
      val q = StreamingScoring.smoothStream(stream, "machine", "bucket_ts",
        Seq("err" -> "smooth_err"), width, "ewma")
        .writeStream.format("memory").queryName(s"ewma_$width")
        .outputMode("append").start()
      try {
        val (b1, b2) = all.partition(_._2 < 5 * 600L)
        input.addData(b1: _*)
        q.processAllAvailable()
        input.addData(b2: _*)
        q.processAllAvailable()
        val got = spark.sql(
          s"SELECT machine, bucket_ts, smooth_err FROM ewma_$width " +
            "ORDER BY machine, bucket_ts").collect()
          .map(r => (r.getString(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        // the oracle is the BATCH kernel itself — identical recursions
        // must give bit-identical doubles, across the micro-batch split
        val batch = graft.ml.Ewma.ewmaMulti(
          all.toDF("machine", "bucket_ts", "err"),
          Seq("machine"), "bucket_ts", Map("err" -> "smooth_err"),
          span = width.toDouble)
          .orderBy($"machine", $"bucket_ts")
          .select($"machine", $"bucket_ts", $"smooth_err").collect()
          .map(r => (r.getString(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        assert(got.toSeq == batch.toSeq, s"width=$width")
      } finally q.stop()
    }
  }

  test("anomalyJob rejects windowed (lag-feature) detectors loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val res = 600L
    val wide = (0 until 12).map(i =>
      (i * res, 10.0 + i, 20.0 + i)).toDF("bucket_ts", "tx", "ty")
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3)
    val lagged = fitted.copy(tags = Seq("tx__lag0", "tx__lag1"),
      targets = Seq("tx__lag0", "tx__lag1"))
    val input = MemoryStream[(String, Long, Double)]
    val stream = input.toDF().toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val tmp = Scratch.dir("graft-lagrej")
    val e = intercept[IllegalArgumentException] {
      StreamingScoring.anomalyJob(lagged, "m1", stream,
        "tag", "ts", "value", res, s"$tmp/out", s"$tmp/ckpt")
    }
    assert(e.getMessage.contains("lag"))
  }

  test("anomalyJob honors a non-default orderCol and smoothless detectors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val res = 600L
    def sample(tag: String, i: Int): (String, Long, Double) =
      (tag, i * res + 30L,
        if (tag == "tx") 10.0 + i * 2.0 + (i % 3) else 25.0 + i * 1.5)
    val base = (0 until 8).flatMap(i => Seq(sample("tx", i), sample("ty", i)))
    val allEvents = base.toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val r = graft.data.TimeSeries.resample(allEvents, Seq("tag"), "ts", "value", res)
    // the detector is legitimately fitted on a DIFFERENT time-column
    // name, and without smoothing (window = None)
    val wide = graft.data.TimeSeries.pivotWide(r, "tag", Seq("tx", "ty"))
      .withColumnRenamed("bucket_ts", "hour_ts")
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "hour_ts",
      new DiffAnomaly.TrendReconstructor("hour_ts", 0L), nSplits = 3,
      window = None)
    val batch = DiffAnomaly.anomaly(fitted, wide, res)
    assert(!batch.columns.exists(_.startsWith("smooth-")))
    val tmp = Scratch.dir("graft-ordercol")
    val input = MemoryStream[(String, Long, Double)]
    val stream = input.toDF().toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val q = StreamingScoring.anomalyJob(fitted, "m1", stream,
      "tag", "ts", "value", res, s"$tmp/out", s"$tmp/ckpt",
      watermarkDelay = "600 seconds")
    try {
      input.addData(base :+ (("tx", 20000L, 0.0)): _*)
      q.processAllAvailable()
      val got = spark.read.parquet(s"$tmp/out")
      // batch parity: no fabricated smooth-* columns, machine + the
      // full stateless column set, scored values row-identical
      assert(!got.columns.exists(_.startsWith("smooth-")))
      val cols = batch.columns.toSeq
      cols.foreach(c => assert(got.columns.contains(c), s"missing $c"))
      val exp = batch.orderBy($"start")
        .select(cols.map(graft.Cols.q): _*).collect()
      val act = got.orderBy($"start")
        .select(cols.map(graft.Cols.q): _*).collect()
      assert(act.length == exp.length)
      act.zip(exp).foreach { case (a, e) => assert(a == e) }
    } finally q.stop()
  }

  test("forwarder refuses a fresh checkpoint over a sink holding batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Scratch.dir("graft-fence")
    def run(ckpt: String): Unit = {
      val input = MemoryStream[(Long, Double)]
      val q = Forwarder.toParquet(input.toDF().toDF("id", "v"),
        s"$tmp/out", ckpt)
      try {
        input.addData((1L, 1.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    run(s"$tmp/ckpt1")
    // restarting the SAME checkpoint over the sink is the supported path
    run(s"$tmp/ckpt1")
    // a FRESH checkpoint would restart batch ids at 0 and interleave new
    // dirs with stale ones — rejected before the query starts
    val e = intercept[IllegalArgumentException] {
      val input = MemoryStream[(Long, Double)]
      Forwarder.toParquet(input.toDF().toDF("id", "v"),
        s"$tmp/out", s"$tmp/ckpt2")
    }
    assert(e.getMessage.contains("clear the sink"))
  }

  test("smoothStream drops out-of-order rows instead of corrupting state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Option[Double])]
    val stream = input.toDF().toDF("machine", "bucket_ts", "err")
    val q = StreamingScoring.smoothStream(stream, "machine", "bucket_ts",
      Seq("err" -> "sm"), width = 2, method = "sma")
      .writeStream.format("memory").queryName("ooo")
      .outputMode("append").start()
    try {
      input.addData(("m1", 0L, Some(1.0)), ("m1", 600L, Some(3.0)),
        ("m1", 1200L, Some(5.0)))
      q.processAllAvailable()
      // a LATE row for an already-emitted position, plus the next row:
      // the late row must be dropped — t=1800's window is (5, 7), not
      // polluted by the replayed t=600
      input.addData(("m1", 600L, Some(100.0)), ("m1", 1800L, Some(7.0)))
      q.processAllAvailable()
      val got = spark.sql("SELECT bucket_ts, sm FROM ooo ORDER BY bucket_ts")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      assert(got.toSeq == Seq(0L -> None, 600L -> Some(2.0),
        1200L -> Some(4.0), 1800L -> Some(6.0)))
    } finally q.stop()
  }

  test("end-to-end anomaly job matches batch across micro-batches incl late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val res = 600L
    // 12 buckets, one sample per tag per bucket (plus one late extra)
    def sample(tag: String, i: Int): (String, Long, Double) =
      (tag, i * res + 30L,
        if (tag == "tx") 10.0 + i * 2.0 + (i % 3) else 25.0 + i * 1.5)
    val base = (0 until 12).flatMap(i => Seq(sample("tx", i), sample("ty", i)))
    val late = ("tx", 6 * res + 90L, 99.0) // lands while bucket 6 is open
    // batch reference: resample+pivot over ALL real events (incl the late
    // one), the same fitted detector, the full anomaly frame with smooth
    val allEvents = (base :+ late).toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val r = graft.data.TimeSeries.resample(allEvents, Seq("tag"), "ts", "value", res)
    val wide = graft.data.TimeSeries.pivotWide(r, "tag", Seq("tx", "ty"))
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      window = Some(3), smoothingMethod = "smm")
    val batch = DiffAnomaly.anomaly(fitted, wide, res)

    val tmp = Scratch.dir("graft-e2e")
    val input = MemoryStream[(String, Long, Double)]
    val stream = input.toDF().toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val q = StreamingScoring.anomalyJob(fitted, "m1", stream,
      "tag", "ts", "value", res, s"$tmp/out", s"$tmp/ckpt",
      watermarkDelay = "600 seconds")
    try {
      // batch 1: buckets 0..6 → watermark finalizes only a prefix
      input.addData(base.filter(_._2 < 7 * res): _*)
      q.processAllAvailable()
      // batch 2: the late row (bucket 6 is still open at the watermark)
      // + buckets 7..9
      input.addData(late +: base.filter(e => e._2 >= 7 * res && e._2 < 10 * res): _*)
      q.processAllAvailable()
      // batch 3: buckets 10..11 + a far-future sentinel that advances the
      // watermark past every real bucket (the sentinel's own bucket never
      // finalizes and must not appear)
      input.addData(base.filter(_._2 >= 10 * res) :+ (("tx", 20000L, 0.0)): _*)
      q.processAllAvailable()

      val got = spark.read.parquet(s"$tmp/out")
      assert(got.select($"machine").distinct().as[String].collect().toSeq
        == Seq("m1"))
      // every real bucket flushed, sentinel bucket absent
      assert(got.agg(max($"start")).head().getLong(0) == 11 * res)
      val cols = batch.columns.toSeq // identical column set, incl smooth-*
      cols.foreach(c => assert(got.columns.contains(c), s"missing $c"))
      val exp = batch.orderBy($"start")
        .select(cols.map(c => col(s"`$c`")): _*).collect()
      val act = got.orderBy($"start")
        .select(cols.map(c => col(s"`$c`")): _*).collect()
      assert(act.length == exp.length,
        s"rows: got ${act.length}, want ${exp.length}")
      act.zip(exp).foreach { case (a, e) => assert(a == e) }
    } finally q.stop()
  }

  test("anomalyJob drops incomplete buckets like the batch assembly (review fix)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val res = 600L
    def sample(tag: String, i: Int): (String, Long, Double) =
      (tag, i * res + 30L,
        if (tag == "tx") 10.0 + i * 2.0 + (i % 3) else 25.0 + i * 1.5)
    // bucket 5 has NO ty events: the streaming windowed agg still emits
    // it (ty=null) but the batch assembly's pivot + any-null drop does
    // not — without the job's parity filter the sink would hold a
    // null-score row for bucket 5 AND its null would roll through the
    // next `width` smooth windows, shifting every later smooth value
    // onto different row positions than batch
    val base = (0 until 12).flatMap(i =>
      if (i == 5) Seq(sample("tx", i))
      else Seq(sample("tx", i), sample("ty", i)))
    val allEvents = base.toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val r = graft.data.TimeSeries.resample(allEvents, Seq("tag"), "ts", "value", res)
    val wideAll = graft.data.TimeSeries.pivotWide(r, "tag", Seq("tx", "ty"))
    val wide = wideAll.filter(
      $"tx".isNotNull && !isnan($"tx") && $"ty".isNotNull && !isnan($"ty"))
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      window = Some(3), smoothingMethod = "smm")
    val batch = DiffAnomaly.anomaly(fitted, wide, res)

    val tmp = Scratch.dir("graft-e2e-inc")
    val input = MemoryStream[(String, Long, Double)]
    val stream = input.toDF().toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val q = StreamingScoring.anomalyJob(fitted, "m1", stream,
      "tag", "ts", "value", res, s"$tmp/out", s"$tmp/ckpt",
      watermarkDelay = "600 seconds")
    try {
      input.addData(base.filter(_._2 < 7 * res): _*)
      q.processAllAvailable()
      input.addData(base.filter(_._2 >= 7 * res) :+ (("tx", 20000L, 0.0)): _*)
      q.processAllAvailable()
      val got = spark.read.parquet(s"$tmp/out")
      // the incomplete bucket must not reach the sink
      assert(!got.select($"start").as[Long].collect().contains(5 * res),
        "incomplete bucket 5 must be dropped like the batch assembly drops it")
      val cols = batch.columns.toSeq
      val exp = batch.orderBy($"start")
        .select(cols.map(c => col(s"`$c`")): _*).collect()
      val act = got.orderBy($"start")
        .select(cols.map(c => col(s"`$c`")): _*).collect()
      assert(act.length == exp.length,
        s"rows: got ${act.length}, want ${exp.length}")
      act.zip(exp).foreach { case (a, e) => assert(a == e) }
    } finally q.stop()
  }

  test("smoothStream rejects a checkpointed restart under a different method (advice: low)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Scratch.dir("graft-smethod")
    def run(method: String, name: String,
            batches: Seq[Seq[(String, Long, Option[Double])]]): Unit = {
      val input = MemoryStream[(String, Long, Option[Double])]
      val stream = input.toDF().toDF("machine", "bucket_ts", "err")
      // foreachBatch sink: supports checkpoint RECOVERY (the memory sink
      // refuses to restart from an existing checkpoint)
      val q = StreamingScoring.smoothStream(stream, "machine", "bucket_ts",
        Seq("err" -> "sm"), width = 2, method)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.queryExecution.toRdd.count(): Unit // all partitions, all commits
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      try {
        batches.foreach(b => input.addData(b: _*))
        q.processAllAvailable()
      } finally q.stop()
    }
    run("smm", "sm_run1",
      Seq(Seq(("m1", 0L, Some(1.0)), ("m1", 600L, Some(3.0)))))
    // restarting the same checkpoint with ANOTHER method would silently
    // reinterpret the trailing-window state as ewm accumulators (or vice
    // versa) — the state records its method and the restore fails loudly.
    // (The fresh MemoryStream's first addData block is consumed by the
    // recovered offset; the second lands past it and forms a real batch.)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run("ewma", "sm_run2", Seq(Seq(("m1", 900L, Some(4.0))),
        Seq(("m1", 1200L, Some(5.0)))))
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("incompatible")), e.toString)
  }

  test("smoothStream rejects a restart with reordered columns or changed width") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Scratch.dir("graft-scols")
    def run(cols: Seq[(String, String)], width: Int,
            batches: Seq[Seq[(String, Long, Option[Double], Option[Double])]]): Unit = {
      val input = MemoryStream[(String, Long, Option[Double], Option[Double])]
      val stream = input.toDF().toDF("machine", "bucket_ts", "ea", "eb")
      val q = StreamingScoring.smoothStream(stream, "machine", "bucket_ts",
        cols, width, "sma")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.queryExecution.toRdd.count(): Unit
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      try {
        batches.foreach(b => input.addData(b: _*))
        q.processAllAvailable()
      } finally q.stop()
    }
    run(Seq("ea" -> "sa", "eb" -> "sb"), 2,
      Seq(Seq(("m1", 0L, Some(1.0), Some(10.0)),
        ("m1", 600L, Some(3.0), Some(30.0)))))
    // hist(i) is positional: restarting with the columns REORDERED (same
    // count, same Spark state schema) would append eb's values to ea's
    // history — the state records its column list and fails loudly
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Seq("eb" -> "sb", "ea" -> "sa"), 2,
        Seq(Seq(("m1", 900L, Some(4.0), Some(40.0))),
          Seq(("m1", 1200L, Some(5.0), Some(50.0)))))
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("positional")), e.toString)
  }

  test("smoothStream drops null-order rows instead of dying permanently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Option[Long], Option[Double])]
    val stream = input.toDF().toDF("machine", "bucket_ts", "err")
    val q = StreamingScoring.smoothStream(stream, "machine", "bucket_ts",
      Seq("err" -> "sm"), width = 2, "sma")
      .writeStream.format("memory").queryName("sm_nullord")
      .outputMode("append").start()
    try {
      // the null-order row has no window position; an unfiltered encode
      // would NOT_NULL_ASSERT and kill the query on every restart
      input.addData(("m1", Some(0L), Some(1.0)),
        ("m1", None, Some(99.0)), ("m1", Some(600L), Some(3.0)))
      q.processAllAvailable()
      val got = spark.sql("SELECT bucket_ts, sm FROM sm_nullord ORDER BY bucket_ts")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      assert(got.toSeq == Seq((0L, None), (600L, Some(2.0))))
    } finally q.stop()
  }

  test("dedupStream refuses an input already carrying exact_key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "text", "ts", "exact_key")
    val e = intercept[IllegalArgumentException](
      StreamingScoring.dedupStream(stream, "text", "ts"))
    assert(e.getMessage.contains("exact_key"))
  }

  test("cachedDir demands an existing witness (missing => frozen identity)") {
    val e = intercept[IllegalArgumentException](
      graft.Scratch.cachedDir("graft-testwit", "/no/such/file.parquet"))
    assert(e.getMessage.contains("witness"))
  }

  test("forwarder writes the fence marker before any batch dir, adopts legacy sinks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Scratch.dir("graft-fence2")
    val markerPath = java.nio.file.Paths.get(s"$tmp/out", "_graft_query_id")
    def run(chunks: Seq[(Long, Double)]*): Unit = {
      val input = MemoryStream[(Long, Double)]
      val q = Forwarder.toParquet(input.toDF().toDF("id", "v"),
        s"$tmp/out", s"$tmp/ckpt")
      try {
        chunks.foreach(c => input.addData(c: _*))
        q.processAllAvailable()
        // ordering contract: a batch dir can never exist without the
        // marker (the marker lands at first batch, before the write)
        assert(java.nio.file.Files.exists(markerPath),
          "marker must exist once any batch has landed")
      } finally q.stop()
    }
    run(Seq((1L, 1.0)))
    val recorded = java.nio.file.Files.readString(markerPath).trim
    // a sink written by a pre-fencing version (marker absent) whose
    // batch dirs belong to an ESTABLISHED checkpoint is adopted, not
    // rejected — the checkpoint's offset log owns those batch ids
    java.nio.file.Files.delete(markerPath)
    // (first chunk is absorbed by the fresh MemoryStream's recovered
    // offset; the second forms a real batch past it)
    run(Seq((2L, 2.0)), Seq((3L, 3.0)))
    assert(java.nio.file.Files.readString(markerPath).trim == recorded,
      "legacy-adopt must re-record the same checkpoint's query id")
    // run 1's row plus run 2's second-chunk row landed
    assert(spark.read.parquet(s"$tmp/out").select($"id").as[Long]
      .collect().toSet == Set(1L, 3L))
    // adoption is COMMIT-LOG-GATED: a marker-less FOREIGN sink whose
    // batch ids the checkpoint's commit log cannot account for is still
    // rejected — without the gate, legacy-adopt would reopen the exact
    // interleaving corruption the fence exists to stop
    java.nio.file.Files.delete(markerPath)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/out/batch_id=999"))
    val input = MemoryStream[(Long, Double)]
    val e = intercept[IllegalArgumentException] {
      Forwarder.toParquet(input.toDF().toDF("id", "v"),
        s"$tmp/out", s"$tmp/ckpt")
    }
    assert(e.getMessage.contains("commit log"), e.getMessage)
    // ...and the gate runs BOTH ways: a marker-less sink
    // that is merely OLDER than the checkpoint (every id ≤ max
    // committed, but the newest committed batch's dir absent) is a
    // foreign sink too — its low-numbered dirs would never be rewritten
    // (batch ids are monotonic) and would silently interleave. "All ids
    // accounted for" alone adopted it.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$tmp/out/batch_id=999"))
    graft.Scratch.deleteTree(
      java.nio.file.Paths.get(s"$tmp/out/batch_id=1"), keepRoot = false)
    val input2 = MemoryStream[(Long, Double)]
    val e2 = intercept[IllegalArgumentException] {
      Forwarder.toParquet(input2.toDF().toDF("id", "v"),
        s"$tmp/out", s"$tmp/ckpt")
    }
    assert(e2.getMessage.contains("commit log"), e2.getMessage)
  }

  test("a stale marker on a batch-less sink is dropped, not inherited") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Scratch.dir("graft-fence3")
    val out = java.nio.file.Paths.get(s"$tmp/out")
    java.nio.file.Files.createDirectories(out)
    // leftover marker from a dead query, NO batch dirs — it guards
    // nothing; a fresh query must fence to its own id, and its next
    // restart must pass
    java.nio.file.Files.writeString(out.resolve("_graft_query_id"),
      "dead-query-id")
    def run(chunks: Seq[(Long, Double)]*): Unit = {
      val input = MemoryStream[(Long, Double)]
      val q = Forwarder.toParquet(input.toDF().toDF("id", "v"),
        s"$tmp/out", s"$tmp/ckpt")
      try {
        chunks.foreach(c => input.addData(c: _*))
        q.processAllAvailable()
      } finally q.stop()
    }
    run(Seq((1L, 1.0)))
    val recorded = java.nio.file.Files
      .readString(out.resolve("_graft_query_id")).trim
    assert(recorded != "dead-query-id",
      "the first batch must fence to the LIVE query, not the stale id")
    run(Seq((2L, 2.0)), Seq((3L, 3.0))) // same-checkpoint restart passes
    assert(spark.read.parquet(s"$tmp/out").select($"id").as[Long]
      .collect().toSet == Set(1L, 3L))
  }

  test("M6 sequence detector composes in streaming via upstream window surgery (verdict item 6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val res = 600L
    val wide = (0 until 30).map(i =>
      (i * res, 10.0 + i + (i % 4), 25.0 + 2.0 * i - (i % 3)))
      .toDF("bucket_ts", "tx", "ty")
    // the ModelBuilder windowed-fit shape (M6): Windows.withLookback
    // materializes the lookback window as lag features, the detector
    // fits on the lag tags with the RAW tags as targets
    val (lagged0, lagTags) = graft.ml.Windows.withLookback(
      wide, Seq("tx", "ty"), "bucket_ts", lookback = 2, lookahead = 0)
    val cols = Seq("bucket_ts", "tx", "ty") ++ lagTags
    val lagged = lagged0.select(cols.map(graft.Cols.q): _*)
    val fitted = DiffAnomaly.fit(lagged, lagTags, "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      targetTags = Seq("tx", "ty"))
    val batch = DiffAnomaly.anomaly(fitted, lagged, res)
    // streaming: anomalyJob rejects lag-feature detectors (it pivots raw
    // tags); the compose-it-yourself path it points to is exercised here
    // — rows arrive already windowed (the reference's serving contract:
    // clients supply `window` rows of ordered history,
    // docs/ml/model_output.rst:77-103) and scoreStream applies the same
    // detector statelessly, split across micro-batches
    val rows = lagged.orderBy($"bucket_ts").collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val input = MemoryStream[(Long, Double, Double, Double, Double, Double, Double)]
    val stream = input.toDF().toDF(cols: _*)
    val q = StreamingScoring.scoreStream(fitted, stream, res)
      .writeStream.format("memory").queryName("m6scored")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.partition(_._1 < 15 * res)
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM m6scored ORDER BY start").collect()
      val exp = batch.orderBy($"start").collect()
      assert(got.length == exp.length && got.nonEmpty)
      got.zip(exp).foreach { case (g, e) => assert(g == e) }
    } finally q.stop()
  }

  test("streaming exact dedup keeps first occurrences only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val stream = input.toDF().toDF("doc_id", "epoch", "text")
      .select($"doc_id", timestamp_seconds($"epoch").as("ts"), $"text")
    val q = StreamingScoring.dedupStream(stream, "text", "ts")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      // separate micro-batches: within one batch the surviving copy of a
      // key is arbitrary; across batches state makes first-wins exact
      val t0 = 1704067200L // clear of the initial (epoch-0) watermark
      input.addData((1L, t0, "alpha beta"), (2L, t0 + 10L, "gamma delta"))
      q.processAllAvailable()
      input.addData((3L, t0 + 20L, "alpha beta"), (4L, t0 + 30L, "epsilon zeta"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM deduped ORDER BY doc_id")
        .as[Long].collect().toSeq
      // doc 3 duplicates doc 1's content and is dropped
      assert(got == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

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

  test("a stateful stream records the session's shuffle partitions in its checkpoint") {
    val tmp = Scratch.dir("graft-ssz-def")
    writeDocs(s"$tmp/in", Seq((1L, "a"), (2L, "b")))
    runDedup(tmp, spark)
    assert(recordedPartitions(s"$tmp/ckpt", 0) ==
      Some(spark.conf.get("spark.sql.shuffle.partitions")))
  }

  test("the checkpoint keeps its state-partition count across restarts") {
    // the count is a first-deployment sizing decision: a restart over the
    // same checkpoint from a session with another count still runs (and
    // records) the checkpoint's; resizing needs a fresh checkpoint (and a
    // cleared sink for the fenced forwarder)
    def session(partitions: Int) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      s
    }
    val tmp = Scratch.dir("graft-ssz-pin")
    writeDocs(s"$tmp/in", Seq((1L, "a"), (2L, "b")))
    runDedup(tmp, session(3))
    assert(recordedPartitions(s"$tmp/ckpt", 0) == Some("3"))
    writeDocs(s"$tmp/in", Seq((3L, "c")))
    runDedup(tmp, session(5))
    assert(recordedPartitions(s"$tmp/ckpt", 1) == Some("3"),
      "a restart must keep the checkpoint-pinned state-partition count")
  }
}
