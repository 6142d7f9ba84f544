package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.data.Influx

/** Wire-dialect properties for the Influx adapter: the escaping and the
  * by-name cell location are exactly where silent corruption would live,
  * so both are pinned against ground truths implemented independently in
  * the test.
  */
object InfluxProps extends Properties("graft.influx") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(PropDraws(12))

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- line protocol: encode → ground-truth unescape = identity ----

  /** Plain-Scala line-protocol reader: measurement,k=tag f=v ns with
    * backslash-escaped [,= ] inside identifiers/tag values. */
  private def parseLine(line: String): (String, String, String, Double, Long) = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var field = 0 // 0: measurement, 1: k=tag, 2: f=v, 3: ns
    while (i < line.length) {
      // line-protocol escaping is POSITION-AWARE (the public parser
      // scans with a per-section escape set): in measurement position
      // only `\,` and `\ ` are escapes — `=` has no meaning there, so
      // a measurement named `\=` is two literal characters; tag/field
      // sections escape , = and space. A single uniform ",= " set here
      // mis-decoded exactly that measurement (caught by this property).
      val escapable = if (field == 0) ", " else ",= "
      line.charAt(i) match {
        // backslash is an escape ONLY before the section's escapable
        // set; anywhere else it is a literal character
        case '\\' if i + 1 < line.length &&
            escapable.contains(line.charAt(i + 1)) =>
          cur.append(line.charAt(i + 1)); i += 2
        case c @ (',' | ' ') if field == 0 =>
          out += cur.toString; cur.clear(); field += (if (c == ' ') 2 else 1)
          i += 1
        case ' ' if field >= 1 =>
          out += cur.toString; cur.clear(); field += 1; i += 1
        case c => cur.append(c); i += 1
      }
    }
    out += cur.toString
    val parts = out.result()
    val Array(k, tag) = parts(1).split("=", 2)
    val Array(f, v) = parts(2).split("=", 2)
    (parts(0), s"$k=$tag".takeWhile(_ != '=') /* key */, tag,
      v.toDouble, parts(3).toLong) match {
      case (m, key, t, dv, ns) =>
        assert(key == k); assert(f == "Value" || f.nonEmpty)
        (m, t, f, dv, ns)
    }
  }

  private val nastyGen: Gen[String] = for {
    n <- Gen.choose(1, 12)
    cs <- Gen.listOfN(n, Gen.frequency(
      5 -> Gen.alphaNumChar,
      1 -> Gen.oneOf(',', '=', ' ', '.', '-', '\\')))
  } yield cs.mkString

  property("toLineProtocol escaping survives a ground-truth unescape round trip") =
    forAll(nastyGen, nastyGen, Gen.choose(-50.0, 50.0),
      Gen.choose(0L, 4102444800000000L)) { (meas, tag, v, us) =>
      // trailing backslash would escape the field separator itself —
      // the line-protocol spec's own ambiguity; exclude it
      (!meas.endsWith("\\") && !tag.endsWith("\\")) ==> {
        val df = Seq((tag, us, v)).toDF("tag", "us", "value")
          .select($"tag", timestamp_micros($"us").as("ts"), $"value")
        val line = Influx.toLineProtocol(df, meas, "tag", "ts", "value")
          .collect().head
        val (m, t, f, dv, ns) = parseLine(line)
        Prop(m == meas) :| s"measurement: '$m' vs '$meas' in '$line'" &&
          Prop(t == tag) :| s"tag: '$t' vs '$tag' in '$line'" &&
          Prop(f == "Value") :| s"field: '$f'" &&
          Prop(dv == v) :| s"value: $dv vs $v" &&
          Prop(ns == us * 1000L) :| s"ns: $ns vs ${us * 1000L}"
      }
    }

  property("measurement backslash-equals stays literal (position-aware escaping)") = {
    // the counterexample a random draw once surfaced: measurement `\=`
    // needs no escaping (= has no meaning in measurement position), and
    // a parser that unescapes \= uniformly mis-decodes it to `=`; pin
    // the exact case, plus an empty tag value, deterministically
    val df = Seq(("", 0L, 0.0)).toDF("tag", "us", "value")
      .select($"tag", timestamp_micros($"us").as("ts"), $"value")
    val line = Influx.toLineProtocol(df, "\\=", "tag", "ts", "value")
      .collect().head
    val (m, t, _, dv, ns) = parseLine(line)
    Prop(line == "\\=,tag= Value=0.0 0") :| s"wire form: '$line'" &&
      Prop(m == "\\=") :| s"measurement: '$m'" &&
      Prop(t == "") :| s"tag: '$t'" &&
      Prop(dv == 0.0) && Prop(ns == 0L)
  }

  // ---- /query parse: cells located by column NAME, not position ----

  property("fromQueryResponse locates time/value cells under arbitrary column order") =
    forAll(Gen.choose(1, 5), Gen.oneOf(0, 1, 2), Gen.choose(0, 3)) {
      (nRows, layout, extraPos) =>
        val rows = (0 until nRows).map(i =>
          (f"2020-01-01T00:$i%02d:00Z", i * 1.5 - 2))
        val cols = layout match {
          case 0 => Seq("time", "Value")
          case 1 => Seq("Value", "time")
          case 2 => // a decoy column inserted at a random position
            val base = scala.collection.mutable.Buffer("time", "Value")
            base.insert(extraPos.min(2), "decoy")
            base.toSeq
        }
        def cell(t: String, v: Double, c: String): String = c match {
          case "time" => s""""$t""""
          case "Value" => s""""$v""""
          case _ => "\"junk\""
        }
        val valuesJson = rows.map { case (t, v) =>
          cols.map(cell(t, v, _)).mkString("[", ",", "]")
        }.mkString("[", ",", "]")
        val colsJson = cols.map(c => s""""$c"""").mkString("[", ",", "]")
        val json =
          s"""{"results":[{"series":[{"name":"m","tags":{"tag":"T1"},
             |"columns":$colsJson,"values":$valuesJson}]}]}""".stripMargin
        val got = Influx.fromQueryResponse(spark, json).collect()
          .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString,
            r.getDouble(2)))
        val truth = rows.map { case (t, v) =>
          ("T1", java.time.Instant.parse(t).toString, v) }
        Prop(got.toSeq == truth) :|
          s"layout=$cols got=${got.toSeq} truth=$truth"
    }

  // ---- wire-parser totality: both external-input parsers (the /query
  // response and the S4 dict-of-dicts body) either return a frame or
  // reject with the contract IllegalArgumentException — never an
  // anonymous crash on a proxy's HTML page, truncated JSON, or a
  // structurally-wrong document (the fuzz discipline extended to the
  // wire surfaces) ----

  private val bodyGen: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr.map(_.take(120)),
    1 -> Gen.oneOf("", "null", "[]", "{}", "{\"results\": null}",
      "{\"results\": []}", "{\"results\": [{}]}",
      "{\"results\": [{\"series\": [{}]}]}",
      "{\"results\": [{\"series\": [{\"columns\": 7}]}]}",
      "{\"error\": null}", "{\"tag\": 3}", "{\"tag\": {\"x\": \"y\"}}",
      "{\"tag\": {\"2020-01-01T00:00:00Z\": 1.5}}",
      "{\"results\": [{\"series\": [{\"name\": \"m\", \"columns\":" +
        " [\"time\"], \"values\": [[\"not a ts\"]]}]}]}",
      "<html><body>502 Bad Gateway</body></html>",
      "{\"results\": [{\"series\": "),
    1 -> Gen.oneOf("{\"a\": {\"b\": ", "{\"a\": {\"b\": 1.5}}",
      "{\"a\": {\"b\": \"c\"}}", "{\"a\": [1, 2]}"))

  property("wire parsers on arbitrary bodies parse or reject loudly, never crash anonymously") =
    forAll(bodyGen) { s =>
      def total(f: => Unit, label: String): Prop =
        try { f; Prop.passed }
        catch {
          case _: IllegalArgumentException => Prop.passed
          case t: Throwable =>
            Prop.falsified :| s"$label anonymous escape on '$s': $t"
        }
      total(Influx.fromQueryResponse(spark, s).collect(),
        "fromQueryResponse") &&
        total(graft.data.Providers.fromJsonBody(spark, s).collect(),
          "fromJsonBody")
    }

  // ---- structured /query fuzz: whole RESPONSE OBJECTS with the
  // shapes the string pool above cannot draw — truncated/overlong
  // values rows, missing time/Value columns, shuffled column orders,
  // absent/foreign tags maps, raw JSON numbers/bools/nulls inside
  // string-typed cells, multiple results × series — checked against a
  // plain-Scala ground truth of the null-point contract: exactly one
  // output row per input cells row, cells located by NAME, every
  // malformed/missing cell a null field (never a dropped row, never a
  // failed job). The truncated-row case found a real hole on first
  // contact: under ANSI mode element_at threw
  // INVALID_ARRAY_INDEX_IN_ELEMENT_AT for a row shorter than its
  // column list (fixed with try_element_at, pinned in InfluxSpec).

  /** A values cell with KNOWN dual semantics: its JSON form, what
    * try_to_timestamp yields for it, what try_cast(double) yields. */
  private case class Cell(json: String, iso: Option[String],
                          dbl: Option[Double])

  private val cellGen: Gen[Cell] = Gen.frequency(
    3 -> Gen.choose(0, 59).map(i => Cell(f""""2020-01-01T00:$i%02d:00Z"""",
      Some(f"2020-01-01T00:$i%02d:00Z"), None)),
    2 -> Gen.choose(-50.0, 50.0).map(v => Cell(s""""$v"""", None, Some(v))),
    1 -> Gen.choose(-50.0, 50.0).map(v => Cell(s"$v", None, Some(v))),
    1 -> Gen.choose(-50, 50).map(v => Cell(s"$v", None, Some(v.toDouble))),
    1 -> Gen.const(Cell("true", None, None)),
    1 -> Gen.const(Cell("null", None, None)),
    1 -> Gen.const(Cell("\"junk\"", None, None)))

  private case class SeriesDraw(name: String, tags: Option[(String, String)],
                                cols: List[String], rows: List[List[Cell]])

  private val seriesGen: Gen[SeriesDraw] = for {
    name <- Gen.oneOf("m1", "m2")
    tags <- Gen.oneOf(None, Some("tag" -> "T1"), Some("tag" -> "T2"),
      Some("host" -> "h1")) // foreign key → series-name fallback
    hasTime <- Gen.frequency(4 -> true, 1 -> false)
    hasVal <- Gen.frequency(4 -> true, 1 -> false)
    nDecoy <- Gen.choose(0, 2)
    colsRaw = (if (hasTime) List("time") else Nil) :::
      (if (hasVal) List("Value") else Nil) :::
      (1 to nDecoy).map(i => s"d$i").toList
    // seeded permutation (no Random: draws must replay from the seed)
    keys <- Gen.listOfN(colsRaw.length, Gen.choose(0, 1 << 20))
    cols = colsRaw.zip(keys).sortBy(_._2).map(_._1)
    nRows <- Gen.choose(0, 4)
    rows <- Gen.listOfN(nRows, for {
      cells <- Gen.listOfN(cols.length, cellGen)
      delta <- Gen.frequency(6 -> 0, 1 -> -1, 1 -> 1)
      extra <- cellGen
    } yield delta match {
      case -1 => cells.dropRight(1) // truncated row
      case 1  => cells :+ extra     // overlong row
      case _  => cells
    })
  } yield SeriesDraw(name, tags, cols, rows)

  private def renderSeries(s: SeriesDraw): String = {
    val tags = s.tags
      .map { case (k, v) => s""","tags":{"$k":"$v"}""" }.getOrElse("")
    val cols = s.cols.map(c => s""""$c"""").mkString("[", ",", "]")
    val vals = s.rows.map(_.map(_.json).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""{"name":"${s.name}"$tags,"columns":$cols,"values":$vals}"""
  }

  private def truthOf(s: SeriesDraw)
      : Seq[(String, Option[String], Option[Double])] = {
    val tag = s.tags.collect { case ("tag", v) => v }.getOrElse(s.name)
    val (ti, vi) = (s.cols.indexOf("time"), s.cols.indexOf("Value"))
    s.rows.map { cells =>
      def at(i: Int) = if (i >= 0 && i < cells.length) Some(cells(i)) else None
      (tag, at(ti).flatMap(_.iso), at(vi).flatMap(_.dbl))
    }
  }

  property("fromQueryResponse null-point contract: one row per cells row, by-name lookup, malformed cells null") =
    forAll(Gen.choose(1, 2).flatMap(nr => Gen.listOfN(nr,
        Gen.choose(0, 2).flatMap(ns => Gen.listOfN(ns, seriesGen))))) {
      results =>
        val json = results.map(ss =>
          s"""{"series":${ss.map(renderSeries).mkString("[", ",", "]")}}""")
          .mkString("""{"results":[""", ",", "]}")
        val got = Influx.fromQueryResponse(spark, json).collect().toSeq
          .map { r =>
            (r.getString(0),
              if (r.isNullAt(1)) None
              else Some(r.getTimestamp(1).toInstant.toString),
              if (r.isNullAt(2)) None else Some(r.getDouble(2)))
          }
        val truth = results.flatten.flatMap(truthOf)
        Prop(got.sortBy(_.toString) == truth.sortBy(_.toString)) :|
          s"got=${got.sortBy(_.toString)}\n" +
            s"truth=${truth.sortBy(_.toString)}\njson=$json"
    }
}
