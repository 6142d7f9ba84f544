package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.DiffAnomaly
import graft.ml.DiffAnomaly.FittedDetector

/** Streaming scoring (SURVEY §2.11): the reference is batch-train +
  * request/response-score; the streaming-native equivalent scores
  * arriving sensor windows incrementally.
  *
  * Three pieces:
  *  - [[resampleStream]]: A1 as a watermarked tumbling-window aggregation
  *    (`readStream → withWatermark → groupBy(window(ts, resolution))`),
  *    late data bounded by the watermark (the reference has no late-data
  *    story at all — values are fetched after the fact);
  *  - [[scoreStream]]: the anomaly frame's row-local derivations applied
  *    to a (micro-batch) stream. Everything except smooth-* is stateless
  *    per row, so the same fitted detector scores batch and stream
  *    identically;
  *  - [[smoothStream]]: the smooth-* columns as a
  *    `flatMapGroupsWithState` stateful operator — each machine key
  *    keeps the trailing `width` values (bounded state), emitting
  *    batch-identical rolling smm/sma.
  */
object StreamingScoring {

  /** Streaming resample: one output row per (key, bucket) once the
    * watermark passes the bucket end. */
  def resampleStream(stream: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, resolutionSec: Long,
                     watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol),
        window(col(tsCol), s"$resolutionSec seconds").as("w"))
      .agg(avg(col(valueCol)).as(valueCol))
      .select(col(keyCol),
        unix_timestamp(col("w.start")).as("bucket_ts"), col(valueCol))

  /** Streaming resample + pivot in ONE stateful aggregation: per-tag
    * conditional avg inside the tumbling time window (streaming has no
    * `pivot`, and chaining a second aggregation would add a second
    * stateful operator for nothing). Emits the same wide (bucket_ts,
    * tag…) rows as the batch `resample → pivotWide`, one row per bucket
    * once the watermark passes its end. */
  def resampleWideStream(stream: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, tags: Seq[String],
                         resolutionSec: Long,
                         watermarkDelay: String = "10 minutes"): DataFrame = {
    require(tags.nonEmpty, "need at least one tag")
    val aggs = tags.map(t =>
      avg(when(col(keyCol) === t, col(valueCol))).as(t))
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), s"$resolutionSec seconds").as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select((unix_timestamp(col("w.start")).as("bucket_ts") +:
        tags.map(t => graft.Cols.q(t))): _*)
  }

  /** Score a wide stream with a fitted detector: identical column set to
    * the batch `DiffAnomaly.anomaly` minus smooth-* (stateless). */
  def scoreStream(fd: FittedDetector, wide: DataFrame,
                  resolutionSec: Long): DataFrame = {
    val stateless = fd.copy(window = None)
    DiffAnomaly.anomaly(stateless, wide, resolutionSec)
  }

  /** Bounded per-key state for [[smoothStream]]: the last `width` values
    * of each smoothed column (ring kept by truncation; None = a null
    * score, which the aggregates skip exactly like the batch window
    * functions) — state size is width × columns per machine, constant
    * in stream length. `lastT` is the highest orderCol emitted for the
    * key: the in-order-delivery contract is ENFORCED against it, not
    * assumed. `method` tags which encoding `hist` carries (trailing
    * window for smm/sma vs the (num, den) ewm pair) so a checkpointed
    * restart under a different method fails loudly. MIGRATION NOTE:
    * adding this field changed the state-store schema — checkpoints
    * written by the pre-method-tag build fail restart with Spark's own
    * StateSchemaNotCompatible (loud, but regardless of method). There
    * is no in-place state migration; the upgrade recipe for an
    * affected job is (1) fresh checkpoint dir, AND (2) if the job
    * forwards through [[Forwarder.toParquet]], a cleared or new sink
    * dir too — the sink fence (correctly) rejects a fresh checkpoint
    * over a sink holding batch dirs, so both must move together and
    * the stream reprocesses from the source's retained offsets. */
  case class SmoothState(hist: Seq[Seq[Option[Double]]],
                         lastT: Option[Long] = None,
                         method: String = "",
                         cols: Seq[String] = Nil,
                         width: Int = 0)

  /** Stateful streaming smoothing (the smooth-* trailing windows of
    * W1–W3 applied to an arriving per-machine score stream) via
    * `flatMapGroupsWithState` — the custom-state streaming shape the
    * batch path expresses as window frames. Each machine key carries the
    * last `width−1` values per column; a row emits null until its key
    * has seen a full window (the pandas rolling NaN prefix), then the
    * rolling mean (`sma`) or linearly-interpolated median (`smm`) of the
    * trailing `width` values — identical numbers to the batch
    * `Windows.chunkedTrailing`.
    *
    * Rows are sorted by `orderCol` within each micro-batch; across
    * batches, per-key in-order delivery is the contract — the shape
    * [[resampleStream]] produces, where a bucket is emitted once the
    * watermark finalizes it (and the same contract the reference's docs
    * put on clients, `docs/ml/model_output.rst:77-103`: supply `window`
    * rows of ordered history). The contract is ENFORCED, not assumed: a
    * row at or before the key's last emitted orderCol is DROPPED (the
    * trailing-window state already consumed that position — folding the
    * late row in would silently corrupt every subsequent window), the
    * streaming analog of the watermark discarding late buckets.
    *
    * `method = "ewma"` completes batch parity (the third smoothing the
    * batch `DiffAnomaly.addSmooth` accepts): pandas `ewm(span=width)`,
    * adjust=True, ignore_na=False — per key and column the state is the
    * (num, den) recursion pair of [[graft.ml.Ewma.ewmaMulti]] (O(1),
    * smaller than the trailing window), a null decays both and adds
    * nothing, and there is no width-row null prefix, exactly like the
    * batch kernel.
    * Returns (key, order, smooth…, carry…) rows — `carry` double columns
    * ride through unsmoothed (the composed [[anomalyJob]] carries the
    * scored frame's columns alongside its smooth-*). */
  def smoothStream(scored: DataFrame, keyCol: String, orderCol: String,
                   cols: Seq[(String, String)], width: Int,
                   method: String = "smm",
                   carry: Seq[String] = Nil): DataFrame = {
    require(width >= 1, s"width must be >= 1: $width")
    require(method == "smm" || method == "sma" || method == "ewma",
      s"unsupported streaming smoothing: $method")
    require(cols.nonEmpty, "need at least one column")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = scored.sparkSession
    import spark.implicits._
    val nSmooth = cols.size
    val smoothCols = cols.map(_._1)
    // boxed score values: a null score rides as None and is SKIPPED by
    // the aggregates, exactly like the batch window functions — a plain
    // Seq[Double] encoder would kill the streaming query on the first
    // null (NOT_NULL_ASSERT_VIOLATION at deserialization)
    // a null orderCol row has no position in a trailing window and the
    // non-nullable Long in the tuple encoder would kill the query at
    // deserialization — permanently, since every restart replays the
    // same offsets; drop it like a late row (the same enforcement
    // discipline as the lastT guard)
    val packed = scored.filter(graft.Cols.q(orderCol).isNotNull).select(
      graft.Cols.q(keyCol).cast("string"),
      graft.Cols.q(orderCol).cast("long"),
      array((cols.map(_._1) ++ carry).map(c =>
        graft.Cols.q(c).cast("double")): _*))
      .as[(String, Long, Seq[Option[Double]])]
    val smoothed = packed.groupByKey(_._1)
      .flatMapGroupsWithState[SmoothState, (String, Long, Seq[Option[Double]])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          // hist is method-SPECIFIC state: trailing-window values for
          // smm/sma vs the (num, den) ewm accumulator pair — restarting
          // a checkpointed query with a different method would silently
          // reinterpret old state (the first two window values becoming
          // ewm accumulators) and emit wrong smooth values; fail loudly
          // instead (clear the checkpoint to switch methods)
          if (state.exists && state.get.method != method)
            throw new IllegalStateException(
              s"smoothStream state for key '$key' was written by method " +
                s"'${state.get.method}' but this query runs '$method' — " +
                "state encodings are incompatible; use a fresh checkpoint")
          // the column LIST and width are state-layout too: hist(i) is
          // positional, so a restart with reordered/changed cols would
          // silently append column b's values to column a's history
          // (same Spark state schema — nothing else catches it), and a
          // changed width would mix window lengths
          if (state.exists && state.get.cols.nonEmpty &&
              (state.get.cols != smoothCols || state.get.width != width))
            throw new IllegalStateException(
              s"smoothStream state for key '$key' was written for columns " +
                s"${state.get.cols.mkString("[", ",", "]")} width " +
                s"${state.get.width} but this query runs " +
                s"${smoothCols.mkString("[", ",", "]")} width $width — " +
                "per-column state is positional; use a fresh checkpoint")
          val hist: Array[Vector[Option[Double]]] =
            if (state.exists) state.get.hist.map(_.toVector).toArray
            else Array.fill(nSmooth)(Vector.empty[Option[Double]])
          var lastT = state.getOption.flatMap(_.lastT)
          val out = rows.toSeq.sortBy(_._2).flatMap { case (_, t, vals) =>
            // out-of-order guard: the state already consumed this
            // position — drop the late row instead of corrupting every
            // subsequent trailing window
            if (lastT.exists(t <= _)) None
            else {
              lastT = Some(t)
              val sm = vals.take(nSmooth).zipWithIndex.map { case (v, i) =>
                if (method == "ewma") {
                  // hist(i) carries the two ewm(adjust=True) accumulators
                  // (num, den) instead of a trailing window — the exact
                  // recursion pair of Ewma.ewmaMulti: both decay every
                  // row, a null adds nothing (ignore_na=False), output
                  // from the first row (no null prefix)
                  val decay = 1.0 - 2.0 / (width + 1.0)
                  var num = if (hist(i).isEmpty) 0.0 else hist(i)(0).get
                  var den = if (hist(i).isEmpty) 0.0 else hist(i)(1).get
                  num *= decay; den *= decay
                  // NaN is a missing observation like null (pandas ewm
                  // skips NaN) — matching the batch Ewma kernel
                  v.filterNot(_.isNaN).foreach { x => num += x; den += 1.0 }
                  hist(i) = Vector(Some(num), Some(den))
                  if (den == 0.0) None else Some(num / den)
                } else {
                hist(i) = (hist(i) :+ v).takeRight(width)
                val defined = hist(i).flatten
                // pandas-default strictness (min_periods = window), like
                // the batch chunkedTrailing: null until the key has seen
                // `width` rows AND the frame holds `width` observations —
                // a frame with an interior null scores null, not the
                // aggregate of the partial frame
                if (hist(i).size < width || defined.size < width) None
                else Some(method match {
                  case "sma" => defined.sum / defined.size
                  case "smm" =>
                    // exact percentile(0.5) with linear interpolation
                    // over the non-null frame values, matching the batch
                    // window's `percentile`
                    val s = defined.sorted
                    val pos = (s.size - 1) * 0.5
                    val lo = s(pos.toInt)
                    val hi = s(math.ceil(pos).toInt)
                    lo + (hi - lo) * (pos - pos.toInt)
                })
                }
              }
              // carry values pass through unsmoothed
              Some((key, t, sm ++ vals.drop(nSmooth)))
            }
          }
          state.update(SmoothState(hist.toSeq.map(_.toSeq), lastT, method,
            smoothCols, width))
          out.iterator
      }
    smoothed.toDF("__k", "__t", "__sm").select(
      (col("__k").as(keyCol) +: col("__t").as(orderCol) +:
        (cols.map(_._2) ++ carry).zipWithIndex.map { case (out, i) =>
          col("__sm")(i).as(out) }): _*)
  }

  /** §2.11 END-TO-END anomaly job, ONE checkpointed query: a long
    * (key, ts, value) sensor stream → watermarked resample+pivot (the
    * single stateful aggregation of [[resampleWideStream]]) → stateless
    * anomaly scoring ([[scoreStream]]) → stateful smooth-* columns
    * ([[smoothStream]], keyed by the machine name) → exactly-once
    * parquet forwarder ([[Forwarder.toParquet]]). The emitted rows carry
    * the full batch `DiffAnomaly.anomaly` column set — start/end,
    * model-input/output, tag/total anomaly, confidences, AND the
    * smooth-* columns; StreamingSpec gates batch parity across
    * micro-batches including watermark-late rows.
    *
    * Two stateful operators chained in append mode (windowed agg →
    * flatMapGroupsWithState) — supported since Spark's multi-stateful-
    * operator work; the smooth state is bounded (width × columns per
    * machine) and the agg state by the watermark. */
  def anomalyJob(fd: FittedDetector, machineName: String, stream: DataFrame,
                 keyCol: String, tsCol: String, valueCol: String,
                 resolutionSec: Long, outDir: String, checkpointDir: String,
                 watermarkDelay: String = "10 minutes")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the job pivots the stream by the FITTED tag names — a windowed
    // (M6 lag-surgery) detector's tags are lag features (`<tag>__lagK`)
    // that no stream row carries, so every pivot column would be null
    // and the sink would fill with null scores without an error; reject
    // loudly (apply Windows.withLookback upstream and compose
    // scoreStream directly for sequence models)
    val lagLike = (fd.tags ++ fd.targets).filter(_.matches(".*__lag\\d+$"))
    require(lagLike.isEmpty,
      s"anomalyJob scores unwindowed detectors against raw stream tags; " +
        s"got lag-feature tags ${lagLike.take(3).mkString(", ")} — apply " +
        "the window surgery upstream and use scoreStream directly")
    val allTags = (fd.tags ++ fd.targets).distinct
    val wide1 = resampleWideStream(stream, keyCol, tsCol, valueCol,
      allTags, resolutionSec, watermarkDelay)
    // batch parity for INCOMPLETE buckets: the windowed agg emits a
    // bucket whenever ANY tag has events in it, with the absent tags
    // null — but the batch assembly (getData's pivot + any-null drop)
    // emits nothing for such a bucket. Without this filter the job
    // would sink rows with null scores for buckets batch never scores,
    // AND feed the nulls into every trailing smooth window (nulling the
    // next `width` smooth values and shifting every later one onto
    // different row positions than batch). Same predicate as the batch
    // drop: null AND NaN both disqualify.
    val wide0 = wide1.filter(allTags.map(t =>
      graft.Cols.q(t).isNotNull && !isnan(graft.Cols.q(t).cast("double")))
      .reduce(_ && _))
    // the detector reads its FITTED orderCol, which is "bucket_ts" only
    // by convention — rename instead of failing plan analysis for
    // detectors legitimately fitted on another time-column name
    val wide =
      if (fd.orderCol == "bucket_ts") wide0
      else wide0.withColumnRenamed("bucket_ts", fd.orderCol)
    val scored = scoreStream(fd, wide, resolutionSec)
    val out = fd.window match {
      case None =>
        // batch parity: a detector fitted without smoothing emits NO
        // smooth-* columns (DiffAnomaly.anomaly's window match) — don't
        // fabricate a width the model was never evaluated at
        scored.withColumn("machine", lit(machineName))
          .select((col("machine") +:
            scored.columns.toSeq.map(graft.Cols.q)): _*)
      case Some(width) =>
        // start (= the bucket) is the order key; end is start +
        // resolution, reconstructed statelessly after the smooth operator
        val carry =
          scored.columns.toSeq.filterNot(c => c == "start" || c == "end")
        val smoothed = smoothStream(
          scored.withColumn("__machine", lit(machineName)),
          "__machine", "start", DiffAnomaly.smoothPairs(fd.targets), width,
          fd.smoothingMethod, carry = carry)
        smoothed
          .withColumn("end", col("start") + lit(resolutionSec))
          .withColumnRenamed("__machine", "machine")
          .select((col("machine") +: col("start") +: col("end") +:
            (carry ++ DiffAnomaly.smoothPairs(fd.targets).map(_._2))
              .map(graft.Cols.q)): _*)
    }
    Forwarder.toParquet(out, outDir, checkpointDir)
  }

  /** Streaming exact dedup for an arriving document stream: the first
    * occurrence of each content key passes, later copies are dropped.
    * State is bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark` evicts keys once the watermark
    * passes — a plain `dropDuplicates` would keep key state forever) —
    * the streaming side of the LLM-pipeline dedup family; near-dup
    * (MinHash/SimHash) stays a periodic batch job over the deduped sink,
    * as signatures need the full corpus index.
    *
    * The output carries every input column PLUS `exact_key` (the content
    * fingerprint the dedup keyed on — part of the contract, consumers
    * select or drop it deliberately). An input that already HAS an
    * `exact_key` column is rejected: withColumn would silently overwrite
    * the caller's data with the fingerprint. */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermarkDelay: String = "1 hour"): DataFrame = {
    require(!docs.columns.contains("exact_key"),
      "dedupStream appends its fingerprint as 'exact_key' and the input " +
        "already has a column of that name — rename it first")
    docs
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("exact_key", graft.llm.TextDedup.exactKey(col(textCol)))
      .dropDuplicatesWithinWatermark("exact_key")
  }
}
