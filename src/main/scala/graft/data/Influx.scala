package graft.data

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Influx wire-dialect adapter over the S4 body-scan machinery: the
  * reference's integration environment reads sensor series from an
  * InfluxDB seeded as measurement rows tagged `{tag: <name>}` with a
  * `Value` field (`tests/utils.py:80-144`), and its prediction client
  * writes anomaly frames back to a destination influx
  * (`tests/gordo/client/test_client.py:304-338`). This adapter supplies
  * the three protocol pieces a user swaps an HTTP layer into — no
  * influx driver dependency, pure strings in / DataFrame out:
  *
  *  - [[queryFor]]/[[queriesFor]]: the per-tag range-scan InfluxQL the
  *    provider issues (one query per tag, the reference's access
  *    pattern — each is independently fetchable, so N tags parallelize
  *    exactly like the S3r JDBC range slices);
  *  - [[fromQueryResponse]]: the standard `/query` JSON response shape
  *    (`results[].series[]{name, tags, columns, values}`) parsed
  *    DISTRIBUTED into the canonical long `(tag, ts, value)` frame —
  *    schema-on-read with `from_json`, cell lookup by column NAME (the
  *    protocol does not fix column order), never a driver-side loop
  *    over data rows;
  *  - [[toLineProtocol]]: the line-protocol encoding of a long frame
  *    for the write-back path (`measurement,tag=<t> Value=<v> <ns>`),
  *    with the spec's comma/space/equals escaping, as a codegen'd
  *    column expression — the frame streams to the sink without
  *    collecting.
  */
object Influx {

  /** InfluxQL double-quoted identifier (inner quotes escaped). */
  private def ident(s: String): String =
    "\"" + s.replace("\"", "\\\"") + "\""

  /** InfluxQL single-quoted string literal (inner quotes escaped). */
  private def strLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The one-tag range scan: `SELECT "Value" FROM "m" WHERE "tag" = 't'
    * AND time >= '<start>' AND time < '<end>'`. Identifiers are quoted
    * and literals escaped, so tag names cannot break out of the query. */
  def queryFor(measurement: String, tag: String, startIso: String,
               endIso: String, valueField: String = "Value",
               tagKey: String = "tag"): String =
    s"SELECT ${ident(valueField)} FROM ${ident(measurement)} " +
      s"WHERE ${ident(tagKey)} = ${strLit(tag)} " +
      s"AND time >= ${strLit(startIso)} AND time < ${strLit(endIso)}"

  /** One range scan per tag — the reference provider's fan-out shape. */
  def queriesFor(measurement: String, tags: Seq[String], startIso: String,
                 endIso: String, valueField: String = "Value",
                 tagKey: String = "tag"): Seq[String] =
    tags.map(queryFor(measurement, _, startIso, endIso, valueField, tagKey))

  private val responseSchema =
    "STRUCT<error: STRING, results: ARRAY<STRUCT<error: STRING, " +
      "series: ARRAY<STRUCT<" +
      "name: STRING, tags: MAP<STRING, STRING>, " +
      "columns: ARRAY<STRING>, values: ARRAY<ARRAY<STRING>>>>>>>"

  /** Parse a `/query` JSON response into the long `(tag, ts, value)`
    * frame. The tag comes from the series' `tags` map (the `GROUP BY
    * "tag"` shape) with the series name as fallback; the time and value
    * cells are located by COLUMN NAME via `array_position`, so column
    * reordering in the response cannot silently swap fields. Rows whose
    * value cell is absent or non-numeric become null-valued rows (the
    * influx null-point shape) rather than corrupting neighbors. */
  def fromQueryResponse(spark: SparkSession, json: String,
                        valueField: String = "Value",
                        tagKey: String = "tag"): DataFrame = {
    import spark.implicits._
    val parsed = Seq(json).toDF("body")
      .select(from_json($"body",
        org.apache.spark.sql.types.DataType.fromDDL(responseSchema)).as("r"))
    // a failed query reports {"error": ...} (top level) or
    // {"results":[{"error": ...}]} and NO series — exploding straight
    // past it would return an empty frame indistinguishable from "no
    // data in the window", and the operator would debug availability
    // instead of the error the server actually sent. One row, so the
    // check is a trivial driver job.
    val errRow = parsed.select($"r.error",
      filter($"r.results.error", _.isNotNull),
      // a body from_json could not parse AT ALL (a proxy's HTML error
      // page, a truncated response, an empty body) comes back with BOTH
      // top-level fields null — from_json on a struct schema yields an
      // all-null row for malformed input, not a null struct — and
      // exploding past it would return the empty frame indistinguishable
      // from "no data", the very trap the error check exists for; every
      // real /query response carries `results` or `error`, and a valid
      // empty one is {"results":[]}, never blank
      isnull($"r") || (isnull($"r.error") && isnull($"r.results"))).head()
    require(!errRow.getBoolean(2),
      s"influx /query response is not parseable JSON " +
        s"(first 80 chars: '${json.take(80)}')")
    val errs = Option(errRow.getString(0)).toSeq ++
      Option(errRow.getSeq[String](1)).getOrElse(Nil)
    require(errs.isEmpty,
      s"influx query returned error(s): ${errs.mkString("; ")}")
    parsed
      .select(explode($"r.results").as("res"))
      .select(explode($"res.series").as("s"))
      .select(
        coalesce(element_at($"s.tags", tagKey), $"s.name").as("tag"),
        $"s.columns".as("columns"),
        explode($"s.values").as("cells"))
      .select($"tag",
        // array_position yields 0 for a missing column, and
        // element_at(_, 0) is an ERROR in Spark — nullif turns a
        // malformed series into null cells instead of a failed job.
        // try_element_at, not element_at: a TRUNCATED values row
        // (fewer cells than columns) makes the in-bounds column index
        // out of bounds for THAT row, and under ANSI mode element_at
        // throws an anonymous INVALID_ARRAY_INDEX_IN_ELEMENT_AT job
        // failure instead of the documented null-point row (the same
        // ANSI hole as to_timestamp/cast below; identical on well-formed
        // rows)
        try_element_at($"cells",
          nullif(array_position($"columns", "time"), lit(0L)).cast("int"))
          .as("ts_str"),
        try_element_at($"cells",
          nullif(array_position($"columns", valueField), lit(0L)).cast("int"))
          .as("v"))
      // try_ forms, not plain to_timestamp/cast: under Spark's default
      // ANSI mode a MALFORMED time or value cell in one series would
      // throw an anonymous CAST_INVALID_INPUT job failure — the
      // documented contract is the influx null-point shape (malformed
      // cell → null field, neighbors intact), which is exactly what the
      // try_ variants restore (identical to the plain forms on every
      // well-formed cell). The wire-parser fuzz property draws such cells.
      .select($"tag", try_to_timestamp($"ts_str").as("ts"),
        $"v".try_cast("double").as("value"))
      .orderBy($"ts", $"tag")
  }

  /** Encode a long frame as influx line protocol, one line per row:
    * `measurement,<tagKey>=<tag> <field>=<value> <ns>`. Measurement
    * names escape commas/spaces, tag values escape commas/equals/spaces
    * (the public line-protocol spec), timestamps are nanoseconds. All
    * per-row work is codegen'd column expressions — the encoded dataset
    * streams to whatever transport writes it.
    *
    * Rows with a null tag, value, or timestamp are DROPPED before
    * encoding: line protocol has no null representation (a null point is
    * nothing to write), and `concat` would otherwise null-propagate the
    * whole line — a null element in a Dataset[String] that crashes
    * `.write.text` and NPEs custom transports. NaN/±Infinity values are
    * dropped for the same reason: line protocol has no representation
    * for them, and a literal `Value=NaN` is rejected by the server —
    * with batched writes, failing the whole batch for one bad point. */
  def toLineProtocol(df: DataFrame, measurement: String, tagCol: String,
                     tsCol: String, valueCol: String,
                     field: String = "Value",
                     tagKey: String = "tag"): Dataset[String] = {
    val spark = df.sparkSession
    import spark.implicits._
    val meas = measurement.replaceAll("([, ])", "\\\\$1")
    val tkey = tagKey.replaceAll("([,= ])", "\\\\$1")
    val fkey = field.replaceAll("([,= ])", "\\\\$1")
    val v = col(valueCol).cast("double")
    df.filter(col(tagCol).isNotNull && col(tsCol).isNotNull &&
        v.isNotNull && !isnan(v) &&
        v =!= lit(Double.PositiveInfinity) &&
        v =!= lit(Double.NegativeInfinity))
      .select(concat(
      lit(s"$meas,$tkey="),
      regexp_replace(col(tagCol), "([,= ])", "\\\\$1"),
      lit(s" $fkey="), col(valueCol).cast("double").cast("string"),
      lit(" "),
      (unix_micros(col(tsCol)) * 1000L).cast("string")).as("line"))
      .as[String]
  }
}
