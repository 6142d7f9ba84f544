package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, MapType, StringType}

/** Data providers (SURVEY S2/S3/S4): sources producing the canonical
  * long `(tag, ts, value)` frame the dataset engine consumes.
  */
object Providers {

  /** S2: seeded deterministic synthetic series per tag (the
    * `RandomDataProvider` analog — config surface
    * `tests/gordo/workflow/test_config_elements.py:141-145`). Row count
    * per tag is drawn deterministically from [minSize, maxSize]; values
    * are counter-based hash uniforms in [0, 1) — value_i = f(tag, i,
    * seed), no sequential PRNG state, so generation is reproducible
    * across runs AND partition layouts (the Philox/counter-PRNG property
    * a distributed generator needs; a seeded sequential generator would
    * tie values to partitioning). md5 arithmetic keeps every draw
    * replayable by the DuckDB oracle (q71). */
  def random(spark: SparkSession, tags: Seq[String], seed: Long = 0L,
             minSize: Int = 100, maxSize: Int = 300,
             startEpoch: Long = 1704067200L, stepSec: Long = 600L): DataFrame = {
    import spark.implicits._
    require(tags.nonEmpty, "random provider needs at least one tag")
    require(minSize >= 0 && maxSize >= minSize,
      s"size bounds must satisfy 0 <= minSize <= maxSize: [$minSize, $maxSize]")
    tags.map { tag =>
      val span = maxSize - minSize + 1
      // count draw: first 8 md5 hex digits of "tag#seed" mod span
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag#$seed".getBytes("UTF-8"))
      val cnt = java.lang.Long.parseLong(
        md.take(4).map(b => f"$b%02x").mkString, 16)
      val n = minSize + (cnt % span)
      spark.range(n).select(
        lit(tag).as("tag"),
        timestamp_seconds(lit(startEpoch) + $"id" * stepSec).as("ts"),
        // first 12 md5 hex digits of "tag:i:seed" / 2^48 → [0, 1)
        (conv(substring(md5(concat_ws(":", lit(tag), $"id", lit(seed))), 1, 12),
          16, 10).cast("long").cast("double") / 281474976710656.0).as("value"))
    }.reduce(_ unionByName _)
  }

  /** S3 (v1): file-backed provider over a parquet directory of long
    * frames — the lake connector stand-in. Column mapping is explicit so
    * arbitrary layouts adapt to the canonical frame. */
  def parquet(spark: SparkSession, path: String, tagCol: String,
              tsCol: String, valueCol: String): DataFrame =
    spark.read.parquet(path).select(
      col(tagCol).as("tag"), col(tsCol).as("ts"), col(valueCol).as("value"))

  /** S3 (lake layout): file-backed provider over a PARTITIONED
    * directory-per-table layout (`Tables.writePartitionedEvents` shape —
    * Hive `event_date=yyyy-MM-dd` partitions). The train-window bounds
    * become a partition predicate BEFORE the canonical select, so the
    * scan prunes untouched days — at 100 TB a one-month training read
    * touches ~30 partitions, not the table. The fine-grained ts bounds
    * still belong to `TimeSeries.getData`; this provider's date filter
    * is the coarse prune (end day inclusive). */
  def partitionedParquet(spark: SparkSession, path: String, tagCol: String,
                         tsCol: String, valueCol: String,
                         startIso: String, endIso: String): DataFrame =
    graft.Tables.partitionedEvents(spark, path, startIso, endIso).select(
      col(tagCol).as("tag"), col(tsCol).as("ts"), col(valueCol).as("value"))

  /** S3 (remote source): JDBC provider — the reference's remote
    * time-series connector slot (the Influx provider call sites,
    * `tests/utils.py:80-144`, `tests/gordo/client/test_client.py:304-338`)
    * re-expressed as a PARTITIONED Spark JDBC scan. The train window
    * [startUs, endUs) becomes both the pushed-down predicate and the
    * partition bounds: `numPartitions` tasks each open their own
    * connection and scan one ts-range slice in parallel, so the read
    * parallelizes like a lake scan instead of draining through a single
    * cursor — the property a remote source needs at scale. Partitioning
    * is on a NUMERIC epoch-micros column deliberately: timestamp-literal
    * predicate rendering is dialect-dependent (embedded Derby rejects
    * raw string-vs-TIMESTAMP comparisons), while BIGINT bounds render
    * portably on every engine. The explicit range filter matters — JDBC
    * partition bounds only split the range, rows outside it still land
    * in the edge partitions; the filter is pushed into each slice's
    * WHERE clause by the JDBC source. */
  def jdbc(spark: SparkSession, url: String, table: String,
           tagCol: String, tsUsCol: String, valueCol: String,
           startUs: Long, endUs: Long, numPartitions: Int = 8): DataFrame = {
    require(endUs > startUs, s"empty scan window: [$startUs, $endUs)")
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", tsUsCol)
      .option("lowerBound", startUs)
      .option("upperBound", endUs)
      .option("numPartitions", numPartitions)
      .load()
      .filter(col(tsUsCol) >= startUs && col(tsUsCol) < endUs)
      .select(col(tagCol).as("tag"),
        timestamp_micros(col(tsUsCol)).as("ts"),
        col(valueCol).as("value"))
  }

  /** S4: request-body scan — a JSON document of `{tag: {iso_ts: value}}`
    * (the reference's dict-of-dicts wire format,
    * `gordo/server/utils.py:256-331`) parsed into the long frame, sorted
    * by timestamp. */
  def fromJsonBody(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    val parsed = Seq(json).toDF("body")
      .select(from_json($"body",
        MapType(StringType, MapType(StringType, DoubleType))).as("m"))
    // BOTH contract probes in one pass (running the parse pipeline
    // twice — a null-map check, then a null-ts scan — would compound
    // per call on the serving path). The fold is a single Project over
    // the 1-row LocalRelation, so ConvertToLocalRelation evaluates it
    // at optimization time and head() submits NO Spark job at all
    // (pinned by SequenceSpec):
    //  * an unparseable body (HTML error page, truncated JSON, non-dict
    //    document) parses to a null map and would otherwise explode to
    //    the empty frame — silently indistinguishable from a valid `{}`
    //    no-data body;
    //  * a key that is NOT an ISO timestamp violates the wire format —
    //    reject it loudly BY NAME. Under Spark's default ANSI mode the
    //    plain to_timestamp threw an anonymous CAST_INVALID_INPUT job
    //    failure (found by the wire-parser fuzz); a silent null-ts row
    //    would be worse (junk rows sorted first).
    // Flattening every inner-map key and keeping the first one
    // try_to_timestamp rejects folds the second probe into the first;
    // a null `m` propagates through the array functions to a null
    // bad_key, so the null-map reject still fires first. `get` (not
    // element_at) because ANSI element_at throws on the empty no-bad-
    // keys array. coalesce: a null inner SERIES (`{"a": null}`) must
    // contribute an empty key array — flatten returns null when ANY
    // element is null, which would silently skip a bad key elsewhere
    // in the same body (`{"a": null, "b": {"junk": 1}}`); the null
    // series itself is dropped by the explode, like an empty series.
    val diag = parsed.select(
      isnull($"m").as("null_map"),
      get(filter(
        flatten(transform(map_values($"m"),
          v => coalesce(map_keys(v), array()))),
        k => try_to_timestamp(k).isNull), lit(0)).as("bad_key")).head()
    require(!diag.getBoolean(0),
      s"JSON body is not a dict-of-dicts time-series document " +
        s"(first 80 chars: '${String.valueOf(json).take(80)}')")
    if (!diag.isNullAt(1)) throw new IllegalArgumentException(
      s"JSON body has a non-ISO timestamp key: '${diag.getString(1)}' — " +
        "the contract is {tag: {iso_ts: value}}")
    parsed
      .select(explode($"m").as(Seq("tag", "series")))
      .select($"tag", explode($"series").as(Seq("ts_str", "value")))
      .select($"tag", try_to_timestamp($"ts_str").as("ts"), $"value")
      .orderBy($"ts", $"tag")
  }
}
