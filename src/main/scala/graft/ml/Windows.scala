package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Cols.{q => qc}

/** Sequence-model windowing (SURVEY W5/J3; ref: LSTM sliding windows
  * `gordo/machine/model/models.py:713-793`, trailing alignment
  * `gordo/builder/build_model.py:448-471`).
  */
object Windows {

  /** W5: per-series trailing window arrays of the last `lookback` values
    * (only full windows survive — the model drops the first lookback−1
    * rows) plus the `lookahead`-shifted target. lookahead=0 is the
    * autoencoder shape (y = current window), ≥1 the forecast shape.
    *
    * `collect_list` SKIPS nulls, so a null value inside the frame would
    * otherwise emit a silently SHORT window array (misaligned training
    * data); such rows are dropped by the size check — "full windows
    * only" means full in VALUES, not just in row count. The trailing
    * `lookahead` rows per series carry y = null (nothing to forecast
    * yet — the q38 gate pins this shape); training callers filter
    * `y IS NOT NULL`, while the fit paths themselves window via
    * [[withLookback]]. */
  def slidingWindows(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
                     valueCol: String, lookback: Int,
                     lookahead: Int = 1): DataFrame = {
    val ord = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    val frame = ord.rowsBetween(-(lookback - 1), 0)
    val out = df
      .withColumn("window", collect_list(qc(valueCol)).over(frame))
      .withColumn("__rn", row_number().over(ord))
      // y BEFORE the full-window filter: lead() over the filtered frame
      // would skip the dropped null-bearing rows and silently hand row t
      // a target from further in the future than `lookahead` — the
      // target is the series value at t+lookahead whether or not the
      // rows between survive windowing (null there stays null, and
      // training callers filter `y IS NOT NULL`)
      .withColumn("y",
        if (lookahead == 0) qc(valueCol)
        else lead(qc(valueCol), lookahead).over(ord))
      .filter(col("__rn") >= lookback && size(col("window")) === lookback)
    out.drop("__rn")
  }

  /** J3: keep only the trailing `n` rows per series (the positional
    * `y[-len(out):]` alignment of `gordo/builder/build_model.py:448-471`).
    *
    * Salted two-phase selection (the q07 top-k pattern): a bare per-key
    * reverse row_number funnels each whole series into ONE task — fine
    * for bounded per-machine frames, a scale-killer for a long series.
    * Phase 1 ranks within (keys, salt) — every sort partition holds
    * ~1/saltBuckets of a series and keeps only its trailing n; phase 2
    * re-ranks the ≤ saltBuckets·n survivors per key. The global trailing
    * n is always contained in the union of per-salt trailing n's, so the
    * result is identical to the one-window plan. */
  def trailingAlign(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
                    n: Long, saltBuckets: Int = 64): DataFrame = {
    val w1 = Window.partitionBy((keys.map(col) :+ col("__salt")): _*)
      .orderBy(orderCols.map(_.desc): _*)
    val w2 = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__salt", pmod(hash(orderCols: _*), lit(saltBuckets)))
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= n)
      .withColumn("__rrn", row_number().over(w2))
      .filter(col("__rrn") <= n)
      .drop("__salt", "__r1", "__rrn")
  }

  /** Fixed-width trailing ROW-window aggregates over a dense 0-based
    * integer index WITHOUT a single-partition window: rows are chunked by
    * `idx div chunkSize`, each chunk's last `width−1` rows are duplicated
    * into the next chunk as carry, the window runs partitioned by chunk,
    * and carry rows are dropped afterwards — exact for trailing frames
    * because every row's `width−1` predecessors are in its partition.
    *
    * `cols` maps (input → output → kind) with kind ∈ min | sma (mean) |
    * smm (median). Rows with fewer than `width−1` predecessors get null
    * (the pandas rolling NaN prefix), and so does any frame with an
    * interior null observation — pandas-default `min_periods = window`,
    * the semantics of every reference `rolling()` this implements.
    * `idxOffset` re-bases an index that does not start at 0 (e.g. a CV
    * fold's span). */
  def chunkedTrailing(df: DataFrame, idxCol: String, idxOffset: Long,
                      width: Int, cols: Seq[(String, String, String)],
                      chunkSize: Int = 4096, totalRows: Long = -1L): DataFrame =
    chunkedTrailingMulti(df, idxCol, idxOffset,
      cols.map { case (in, out, kind) => (in, out, kind, width) },
      chunkSize, totalRows)

  /** Multi-width variant: each output column carries its own trailing
    * width (the CV test pass computes the width-6 thresholds AND the
    * width-144 smooth thresholds in ONE pass — carry rows cover the
    * largest width; narrower frames are correct a fortiori).
    *
    * Implemented as the grouped variant with a single constant group:
    * `pmod(idx, 1)` ≡ 0 but is NOT foldable — a literal partition key
    * would be constant-folded away, reintroducing the unpartitioned-
    * window shape (and its warning) the bounded fast path is proven
    * safe from. */
  def chunkedTrailingMulti(df: DataFrame, idxCol: String, idxOffset: Long,
                           cols: Seq[(String, String, String, Int)],
                           chunkSize: Int = 4096,
                           totalRows: Long = -1L): DataFrame =
    chunkedTrailingMultiGrouped(df, idxCol, pmod(col(idxCol), lit(1L)),
      col(idxCol) - lit(idxOffset), cols, chunkSize, boundedRows = totalRows)

  /** Single-scan chunk fan-out shared by every chunk+carry kernel
    * ([[chunkedTrailingMultiGrouped]], [[chunkedLag]],
    * `TimeSeries.rowFilterWithBuffer`): each row EXPLODES into its own
    * chunk (`__wck = rel / chunkSize`) plus carry copies — the last
    * `carryNext` rows of a chunk also serve chunk k+1's left edge, the
    * first `carryPrev` rows chunk k−1's right edge — instead of a
    * self-union that re-executes the (often expensive) input lineage
    * once per branch. Emits `__wck` (the window partition key) and
    * `__wcarry` (true ⇒ duplicate: window over it, then
    * `filter(!__wcarry)` and drop both). `rel` must be a dense 0-based
    * row index (within whatever grouping the caller windows by). */
  private[graft] def chunkFanOut(df: DataFrame, rel: Column, chunkSize: Int,
                                 carryPrev: Int, carryNext: Int): DataFrame = {
    val c = chunkSize
    val ck = (rel / c).cast("long")
    val emptyCp = array().cast("array<struct<ck: long, cy: boolean>>")
    var copies = array(struct(ck.as("ck"), lit(false).as("cy")))
    if (carryNext > 0) copies = concat(copies,
      when(rel % c >= c - carryNext,
        array(struct((ck + 1).as("ck"), lit(true).as("cy"))))
        .otherwise(emptyCp))
    if (carryPrev > 0) copies = concat(copies,
      when(rel % c < carryPrev && ck >= 1,
        array(struct((ck - 1).as("ck"), lit(true).as("cy"))))
        .otherwise(emptyCp))
    df.withColumn("__we", explode(copies))
      .withColumn("__wck", col("__we.ck"))
      .withColumn("__wcarry", col("__we.cy"))
      .drop("__we")
  }

  /** Grouped variant: trailing frames RESET at group boundaries (each CV
    * fold's test span rolls independently, fused into one pass). `relCol`
    * must evaluate to a dense 0-based index within the row's group; rows
    * with `rel < width−1` get null (the per-group pandas NaN prefix).
    * `boundedRows`, when ≥ 0, caller-proves every group's span ≤ its
    * value — a group partition is then already bounded and the carry
    * machinery is skipped. */
  def chunkedTrailingMultiGrouped(df: DataFrame, idxCol: String,
                                  groupCol: Column, relCol: Column,
                                  cols: Seq[(String, String, String, Int)],
                                  chunkSize: Int = 4096,
                                  boundedRows: Long = -1L): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(cols.forall(_._4 >= 1), s"widths must be >= 1: ${cols.map(_._4)}")
    val maxWidth = cols.map(_._4).max
    val c = math.max(chunkSize, 2 * maxWidth)
    def aggOf(kind: String, in: String, w: org.apache.spark.sql.expressions.WindowSpec): Column =
      kind match {
        case "min" => min(qc(in)).over(w)
        case "sma" => avg(qc(in)).over(w)
        case "smm" => percentile(qc(in), lit(0.5)).over(w)
        case k => throw new IllegalArgumentException(s"unsupported kind: $k")
      }
    // pandas-default strictness (min_periods = window, the semantics of
    // every reference rolling() this implements): a frame is complete
    // only when it holds `width` OBSERVATIONS, not just width rows —
    // SQL window aggregates skip interior nulls, which would quietly
    // aggregate partial frames the reference scores as NaN. The count
    // shares the aggregate's window spec, so it rides the same sort.
    def full(in: String, width: Int,
             w: org.apache.spark.sql.expressions.WindowSpec): Column =
      col("__wrel") >= width - 1 && count(qc(in)).over(w) === width
    val withRel = df.withColumn("__wrel", relCol)
    if (boundedRows >= 0 && boundedRows <= c) {
      val part = Window.partitionBy(groupCol).orderBy(col(idxCol))
      return cols.foldLeft(withRel) { case (d, (in, out, kind, width)) =>
        val fr = part.rowsBetween(-(width - 1), 0)
        d.withColumn(out, when(full(in, width, fr), aggOf(kind, in, fr)))
      }.drop("__wrel")
    }
    // single-scan fan-out (see [[chunkFanOut]]): the last maxWidth−1
    // rows of each chunk carry into the next chunk's left edge
    val fanned = chunkFanOut(withRel, col("__wrel"), c,
      carryPrev = 0, carryNext = maxWidth - 1)
    val part = Window.partitionBy(groupCol, col("__wck"))
      .orderBy(col(idxCol))
    val withAggs = cols.foldLeft(fanned) {
      case (d, (in, out, kind, width)) =>
        val fr = part.rowsBetween(-(width - 1), 0)
        d.withColumn(out, when(full(in, width, fr), aggOf(kind, in, fr)))
    }
    withAggs.filter(!col("__wcarry")).drop("__wck", "__wcarry", "__wrel")
  }

  /** Exact lag columns over a dense 0-based index WITHOUT a single-
    * partition window: the chunk+carry machinery of
    * [[chunkedTrailingMulti]] applied to `lag` — each chunk receives the
    * previous chunk's last `maxLag` rows as carry, so every row's k
    * predecessors are in its partition. Rows with fewer than k global
    * predecessors get null (the sequence-model J3 offset rows). `lags`
    * maps (input, output, k). */
  def chunkedLag(df: DataFrame, idxCol: String,
                 lags: Seq[(String, String, Int)],
                 chunkSize: Int = 4096, totalRows: Long = -1L): DataFrame = {
    require(lags.nonEmpty, "need at least one lag")
    require(lags.forall(_._3 >= 1), s"lags must be >= 1: ${lags.map(_._3)}")
    val maxLag = lags.map(_._3).max
    val c = math.max(chunkSize, 2 * maxLag)
    val rel = col(idxCol)
    // caller-proven bounded frame: single constant-key partition
    // (pmod(idx, 1) ≡ 0 but not foldable — see chunkedTrailingMulti)
    if (totalRows >= 0 && totalRows <= c) {
      val part = Window.partitionBy(pmod(col(idxCol), lit(1L)))
        .orderBy(col(idxCol))
      return lags.foldLeft(df) { case (d, (in, out, k)) =>
        d.withColumn(out, lag(qc(in), k).over(part))
      }
    }
    // single-scan fan-out (see [[chunkFanOut]]): each chunk receives
    // the previous chunk's last maxLag rows as carry
    val fanned = chunkFanOut(df, rel, c, carryPrev = 0, carryNext = maxLag)
    val part = Window.partitionBy(col("__wck")).orderBy(col(idxCol))
    lags.foldLeft(fanned) { case (d, (in, out, k)) =>
      d.withColumn(out, lag(qc(in), k).over(part))
    }.filter(!col("__wcarry")).drop("__wck", "__wcarry")
  }

  /** M6 windowing for the build/serve path: materialize the lookback
    * window as lag feature columns `<tag>__lag<k>` — k = lookahead ..
    * lookahead+lookback−1, so the target row sits `lookahead` steps
    * after the window's last element: k = 1..lookback for the 1-step
    * forecast shape, k = 0..lookback−1 for the autoencoder shape
    * (lookahead 0, window includes the target row), k = L..L+lookback−1
    * for an L-step-ahead forecast (the reference generator's arbitrary-
    * lookahead semantics, `gordo/machine/model/models.py:713-793`:
    * target index = last window index + lookahead) — then drop the head
    * rows with incomplete windows by ROW POSITION (J3's explicit
    * offset: an interior null value must not shift alignment the way
    * filtering on lag-nullness would). Returns (frame, lag column names
    * in tag-major order). Lags run through [[chunkedLag]] — no single-
    * partition window however long the series. */
  def withLookback(wide: DataFrame, tags: Seq[String], orderCol: String,
                   lookback: Int, lookahead: Int): (DataFrame, Seq[String]) = {
    require(lookback >= 1, s"lookback must be >= 1: $lookback")
    require(lookahead >= 0, s"lookahead must be >= 0: $lookahead")
    val ks = lookahead until (lookahead + lookback)
    val names = for { t <- tags; k <- ks } yield s"${t}__lag$k"
    val offset = lookback + lookahead - 1
    val indexed = CrossValidate.withRowIndex(wide, Seq(col(orderCol)))
    val lagSpecs = for { t <- tags; k <- ks if k > 0 }
      yield (t, s"${t}__lag$k", k)
    val lagged =
      if (lagSpecs.isEmpty) indexed
      else chunkedLag(indexed, "__row", lagSpecs)
    val withZero =
      if (lookahead == 0)
        lagged.withColumns(tags.map(t => s"${t}__lag0" -> qc(t)).toMap)
      else lagged
    (withZero.filter(col("__row") >= offset).drop("__row"), names)
  }

  /** M9: hourglass layer-dimension calculus, ported exactly from
    * `gordo/machine/model/factories/utils.py:7-41` (including Python's
    * round-half-to-even via rint). */
  def hourglassDims(compressionFactor: Double, encodingLayers: Int,
                    nFeatures: Int): Seq[Int] = {
    require(compressionFactor >= 0 && compressionFactor <= 1,
      "compression_factor must be 0 <= compression_factor <= 1")
    require(encodingLayers >= 1, "encoding_layers must be >= 1")
    val smallest = math.max(
      math.min(math.ceil(compressionFactor * nFeatures).toInt, nFeatures), 1)
    val slope = (nFeatures - smallest).toDouble / encodingLayers
    (1 to encodingLayers).map(i => math.rint(nFeatures - i * slope).toInt)
  }
}
