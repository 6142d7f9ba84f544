package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.Responses
import graft.config.Config
import graft.data.Providers
import graft.ml.Windows

class SequenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sliding windows emit full frames only with shifted targets") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 4.0))
      .toDF("k", "t", "v")
    val w = Windows.slidingWindows(df, Seq("k"), Seq($"t"), "v",
      lookback = 3, lookahead = 1).orderBy($"t").collect()
    assert(w.length == 2)
    assert(w(0).getAs[scala.collection.Seq[Double]]("window").toSeq == Seq(1.0, 2.0, 3.0))
    assert(w(0).getAs[Double]("y") == 4.0)
    assert(w(1).getAs[scala.collection.Seq[Double]]("window").toSeq == Seq(2.0, 3.0, 4.0))
    assert(w(1).isNullAt(w(1).fieldIndex("y")))
    // autoencoder shape: y = current value
    val ae = Windows.slidingWindows(df, Seq("k"), Seq($"t"), "v",
      lookback = 3, lookahead = 0).orderBy($"t").collect()
    assert(ae(0).getAs[Double]("y") == 3.0)
  }

  test("trailingAlign keeps exactly the last n rows per series") {
    val df = (1 to 10).map(i => ("a", i.toLong, i.toDouble)) ++
      (1 to 3).map(i => ("b", i.toLong, i.toDouble))
    val got = Windows.trailingAlign(df.toDF("k", "t", "v"), Seq("k"),
      Seq($"t"), n = 4)
      .groupBy($"k").agg(count(lit(1)).as("n"), min($"t").as("t0"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.view.mapValues(_._1).toMap == Map("a" -> 4L, "b" -> 3L))
    assert(got("a")._2 == 7L) // rows 7..10 survive
  }

  test("hourglass dims match the reference calculus") {
    // reference examples: n=10, cf=0.2, layers=3 → smallest=2, slope=8/3
    assert(Windows.hourglassDims(0.2, 3, 10) == Seq(7, 5, 2))
    assert(Windows.hourglassDims(0.5, 2, 4) == Seq(3, 2))
    assert(Windows.hourglassDims(1.0, 3, 5) == Seq(5, 5, 5))
    assert(Windows.hourglassDims(0.0, 2, 6) == Seq(4, 1))
    intercept[IllegalArgumentException](Windows.hourglassDims(1.5, 2, 4))
    intercept[IllegalArgumentException](Windows.hourglassDims(0.5, 0, 4))
  }

  test("random provider is seeded-deterministic with sizes in range") {
    val a = Providers.random(spark, Seq("t1", "t2"), seed = 7).collect()
    val b = Providers.random(spark, Seq("t1", "t2"), seed = 7).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    val sizes = Providers.random(spark, Seq("t1", "t2"), seed = 7)
      .groupBy($"tag").count().collect().map(_.getLong(1))
    assert(sizes.forall(n => n >= 100 && n <= 300))
    val vals = Providers.random(spark, Seq("t1"), seed = 7)
      .select($"value").as[Double].collect()
    assert(vals.forall(v => v >= 0.0 && v < 1.0))
    // contract violations fail fast instead of reduce-crash / mod-zero
    intercept[IllegalArgumentException](Providers.random(spark, Nil))
    intercept[IllegalArgumentException](
      Providers.random(spark, Seq("t1"), minSize = 300, maxSize = 100))
  }

  test("JSON body scan parses dict-of-dicts sorted by timestamp") {
    val json =
      """{"tag a": {"2024-01-01T00:10:00Z": 2.5, "2024-01-01T00:00:00Z": 1.5},
        | "tag b": {"2024-01-01T00:05:00Z": 9.0}}""".stripMargin
    val got = Providers.fromJsonBody(spark, json).collect()
    assert(got.length == 3)
    assert(got.map(_.getString(0)).toSeq == Seq("tag a", "tag b", "tag a"))
    assert(got.map(_.getDouble(2)).toSeq == Seq(1.5, 9.0, 2.5))
    // an unparseable / non-dict body must reject loudly, not explode to
    // the empty frame a valid `{}` no-data body produces
    for (bad <- Seq("<html>oops</html>", "[1, 2]", "null", "{\"a\": {"))
      assert(intercept[IllegalArgumentException](
        Providers.fromJsonBody(spark, bad).collect())
        .getMessage.contains("dict-of-dicts"), s"body: '$bad'")
    assert(Providers.fromJsonBody(spark, "{}").collect().isEmpty)
  }

  test("fromJsonBody probes both wire contracts without a single Spark job") {
    // the null-map check and the null-ts scan are one folded probe: a
    // single Project over the 1-row LocalRelation (no Generate), so
    // Catalyst's ConvertToLocalRelation evaluates it at optimization
    // time and head() submits no job at all; two sequential driver jobs
    // per request on the serve path would be the unfolded cost.
    // ExecCounts scopes the count to this body, so parallel suites in the
    // shared session cannot pollute it
    val (_, c) = ExecCounts.during(spark.sparkContext) {
      // construction runs the probes only; no action on the result yet
      Providers.fromJsonBody(spark,
        """{"t1": {"2020-01-01T00:10:00Z": 2.5,
          |        "2020-01-01T00:00:00Z": 1.5},
          | "t2": {"2020-01-01T00:05:00Z": 9.0}}""".stripMargin)
    }
    assert(c.jobs == 0,
      s"fromJsonBody's folded probe must submit no job, ran ${c.jobs}")
    // control: the same recorder does see a body's job, so the zero
    // above is a reading, not a blind spot
    val (n, control) = ExecCounts.during(spark.sparkContext)(spark.range(2).count())
    assert(n == 2)
    assert(control.jobs >= 1, "the control job must be counted")
  }

  test("the folded probe keeps both loud contract rejects and valid-body results") {
    import Providers.fromJsonBody
    // non-dict / unparseable bodies: loud, named, NOT the empty frame
    for (bad <- Seq("<html>oops</html>", "[1, 2]", "null", "{\"a\": {"))
      assert(intercept[IllegalArgumentException](fromJsonBody(spark, bad))
        .getMessage.contains("dict-of-dicts"), s"body: '$bad'")
    // non-ISO key: loud, names the offending key
    val e = intercept[IllegalArgumentException](
      fromJsonBody(spark, "{\"t\": {\"not a ts\": 1.0}}"))
    assert(e.getMessage.contains("non-ISO timestamp key"), e.getMessage)
    assert(e.getMessage.contains("not a ts"), e.getMessage)
    // a null inner series must not MASK a bad key elsewhere in the
    // same body: flatten() returns null when any element is null, so a
    // naive fold would silently skip this reject; the probe coalesces
    // null series to the empty array
    val masked = intercept[IllegalArgumentException](
      fromJsonBody(spark, "{\"a\": null, \"b\": {\"junk\": 1}}"))
    assert(masked.getMessage.contains("non-ISO timestamp key"),
      masked.getMessage)
    assert(masked.getMessage.contains("junk"), masked.getMessage)
    // a LONE null series is dropped like an empty series, not a reject
    assert(fromJsonBody(spark, "{\"a\": null}").collect().isEmpty)
    // a valid body and the `{}` no-data body are unaffected
    val got = fromJsonBody(spark,
      "{\"t1\": {\"2020-01-01T00:00:00Z\": 1.5}}").collect()
    assert(got.length == 1 && got(0).getDouble(2) == 1.5)
    assert(fromJsonBody(spark, "{}").collect().isEmpty)
  }

  test("nested JSON response groups columns by namespace") {
    val frame = Seq((100L, 200L, 1.5, 0.25))
      .toDF("start", "end", "model-output.tx", "total-anomaly-scaled")
    val json = Responses.toNestedJson(frame)
    assert(json.contains("\"model-output\":{\"tx\":{\"100\":1.5}}"))
    assert(json.contains("\"total-anomaly-scaled\":{\"value\":{\"100\":0.25}}"))
  }

  test("template expansion, tag normalization, resource fixup") {
    assert(Config.expandTemplate("a {{ x }} b {{y}}", Map("x" -> "1", "y" -> "2"))
      == "a 1 b 2")
    intercept[Config.ConfigException](Config.expandTemplate("{{ missing }}", Map.empty))
    assert(Config.normalizeTags(Seq(" t1", "t2", "t1 ", "t3"))
      == Seq("t1", "t2", "t3"))
    val fixed = Config.fixupResources(Map(
      "requests" -> Map("cpu" -> 4, "memory" -> 1000),
      "limits" -> Map("cpu" -> 2)))
    val limits = fixed("limits").asInstanceOf[Map[String, Any]]
    assert(limits("cpu") == 4 && limits("memory") == 1000)
  }

  test("every sequence query key has a matching oracle") {
    import graft.operators.SequenceQueries
    assert(SequenceQueries.oracleSql.keySet == SequenceQueries.queries.keySet)
  }
}
