package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Influx

/** Evidence behind the Influx dialect adapter: the per-tag InfluxQL is
  * correctly quoted/escaped, the /query response parse locates cells by
  * column NAME (order-independent), falls back from the tags map to the
  * series name, passes null points through, and the line-protocol
  * encoder applies the spec's escaping with nanosecond timestamps.
  */
class InfluxSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("queryFor quotes identifiers and escapes literals") {
    assert(Influx.queryFor("sensors", "tag-1", "2024-01-01T00:00:00Z",
      "2024-02-01T00:00:00Z") ==
      """SELECT "Value" FROM "sensors" WHERE "tag" = 'tag-1' """ +
        """AND time >= '2024-01-01T00:00:00Z' AND time < '2024-02-01T00:00:00Z'""")
    // a hostile tag cannot break out of the string literal
    val q = Influx.queryFor("m", "x' OR '1'='1", "a", "b")
    assert(q.contains("""= 'x\' OR \'1\'=\'1'"""))
    // identifier quoting survives embedded double quotes
    assert(Influx.queryFor("me\"as", "t", "a", "b")
      .contains("FROM \"me\\\"as\""))
  }

  test("fromQueryResponse locates cells by name and tags by map-then-name") {
    // columns deliberately [Value, time]; second series has no tags map
    // (tag falls back to the series name); third row is a null point
    val json =
      """{"results":[{"series":[
        |{"name":"sensors","tags":{"tag":"click"},
        | "columns":["Value","time"],
        | "values":[[1.5,"2024-01-01T00:00:00Z"],
        |           [2.5,"2024-01-01T01:00:00Z"],
        |           [null,"2024-01-01T02:00:00Z"]]},
        |{"name":"view",
        | "columns":["time","Value"],
        | "values":[["2024-01-01T00:30:00Z",7.25]]}
        |]}]}""".stripMargin
    val got = Influx.fromQueryResponse(spark, json)
      .select($"tag", unix_timestamp($"ts").as("s"), $"value")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      ("click", 1704067200L, Some(1.5)),
      ("view", 1704069000L, Some(7.25)),
      ("click", 1704070800L, Some(2.5)),
      ("click", 1704074400L, None)))
  }

  test("fromQueryResponse survives a series missing the value column") {
    // a malformed series (no "Value" column) must yield null-valued
    // rows, not a failed job — element_at(_, 0) is an error in Spark
    val json =
      """{"results":[{"series":[
        |{"name":"s","tags":{"tag":"a"},"columns":["time","other"],
        | "values":[["2024-01-01T00:00:00Z",9.0]]}]}]}""".stripMargin
    val got = Influx.fromQueryResponse(spark, json).collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == "a" && got(0).isNullAt(2))
  }

  test("a truncated influx values row is a null-point row, not a failed job") {
    // a values row SHORTER than its column list puts the (in-bounds)
    // column index out of bounds for that row; under Spark's default
    // ANSI mode element_at throws an anonymous
    // INVALID_ARRAY_INDEX_IN_ELEMENT_AT job failure. The documented
    // contract is the influx null-point shape (malformed cell → null
    // field, neighbors intact), so the parse uses try_element_at;
    // overlong rows keep their extra cells ignored.
    val json = """{"results":[{"series":[{"name":"m","tags":{"tag":"T1"},
      |"columns":["time","Value"],
      |"values":[["2020-01-01T00:00:00Z"],
      |["2020-01-01T00:01:00Z","2.5","extra"],
      |["2020-01-01T00:02:00Z","1.5"]]}]}]}""".stripMargin
    val rows = Influx.fromQueryResponse(spark, json)
      .orderBy(col("ts")).collect()
    assert(rows.length == 3, "short/long rows must not drop or kill rows")
    assert(!rows(0).isNullAt(1) && rows(0).isNullAt(2),
      "truncated row -> ts intact, null value")
    assert(rows(1).getDouble(2) == 2.5, "overlong row -> extra cell ignored")
    assert(rows(2).getDouble(2) == 1.5)
  }

  test("toLineProtocol escapes and emits nanosecond timestamps") {
    val df = Seq(("tag with space,eq=x", "2024-01-01T00:00:00Z", 0.5))
      .toDF("tag", "ts_str", "value")
      .select($"tag", to_timestamp($"ts_str").as("ts"), $"value")
    val lines = Influx.toLineProtocol(df, "my meas", "tag", "ts", "value")
      .collect()
    assert(lines.toSeq == Seq(
      """my\ meas,tag=tag\ with\ space\,eq\=x Value=0.5 1704067200000000000"""))
  }

  test("toLineProtocol drops null points instead of emitting null lines") {
    // line protocol has no null representation; concat would null-
    // propagate the whole line and crash .write.text / NPE transports
    val df = Seq(
      ("a", Some("2024-01-01T00:00:00Z"), Some(1.0)),
      ("b", Some("2024-01-01T00:00:00Z"), None), // null value (gap > limit)
      ("c", None, Some(3.0)), // null ts
      (null, Some("2024-01-01T00:00:00Z"), Some(4.0))) // null tag
      .toDF("tag", "ts_str", "value")
      .select($"tag", to_timestamp($"ts_str").as("ts"), $"value")
    val lines = Influx.toLineProtocol(df, "m", "tag", "ts", "value").collect()
    assert(lines.length == 1 && lines.head.startsWith("m,tag=a "))
    assert(!lines.contains(null))
  }

  test("toLineProtocol drops NaN and infinite points (server rejects them)") {
    // `Value=NaN` is invalid line protocol — one bad point would 400 the
    // whole write batch; unencodable points drop like null points do
    val df = Seq(("a", 1.0), ("b", Double.NaN),
      ("c", Double.PositiveInfinity), ("d", Double.NegativeInfinity))
      .toDF("tag", "value")
      .select($"tag", to_timestamp(lit("2024-01-01T00:00:00Z")).as("ts"),
        $"value")
    val lines = Influx.toLineProtocol(df, "m", "tag", "ts", "value").collect()
    assert(lines.length == 1 && lines.head.startsWith("m,tag=a "))
  }

  test("fromQueryResponse fails loudly on a server-reported error") {
    // a failed query has NO series — exploding past the error would
    // return an empty frame indistinguishable from "no data"
    val resErr =
      """{"results":[{"statement_id":0,"error":"measurement not found"}]}"""
    val e1 = intercept[IllegalArgumentException](
      Influx.fromQueryResponse(spark, resErr).collect())
    assert(e1.getMessage.contains("measurement not found"))
    val topErr = """{"error":"authorization failed"}"""
    val e2 = intercept[IllegalArgumentException](
      Influx.fromQueryResponse(spark, topErr).collect())
    assert(e2.getMessage.contains("authorization failed"))
  }

  test("fromQueryResponse rejects an unparseable body instead of returning empty") {
    // a proxy's HTML error page / truncated body parses to a null
    // struct — exploding past it would be the silent empty frame the
    // error check exists to prevent
    for (bad <- Seq("<html>502 Bad Gateway</html>", "", "{\"results\": [tru"))
      assert(intercept[IllegalArgumentException](
        Influx.fromQueryResponse(spark, bad).collect())
        .getMessage.contains("not parseable"), s"body: '$bad'")
    // the VALID empty response stays an empty frame, not an error
    assert(Influx.fromQueryResponse(spark, """{"results":[]}""")
      .collect().isEmpty)
  }
}
