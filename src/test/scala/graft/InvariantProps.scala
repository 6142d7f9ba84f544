package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.config.Config
import graft.data.TimeSeries
import graft.ml.{CrossValidate, Ewma, Windows}

/** ScalaCheck invariants from the SURVEY §5 test plan: alignment /
  * resample row counts, no-null-after-interpolation-within-limit,
  * threshold/fold monotonicity, config-merge algebra. */
object InvariantProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(PropDraws(15))

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val seriesGen: Gen[List[(Long, Double)]] = for {
    n <- Gen.choose(2, 60)
    epochs <- Gen.listOfN(n, Gen.choose(0L, 86400L))
    values <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield epochs.distinct.sorted.zip(values)

  property("resample emits at most one row per bucket, labels multiples of width") =
    forAll(seriesGen, Gen.choose(60L, 3600L)) { (rows, width) =>
      rows.nonEmpty ==> {
        val df = rows.toDF("epoch", "value")
          .select(lit("s").as("tag"), timestamp_seconds($"epoch").as("ts"), $"value")
        val r = TimeSeries.resample(df, Seq("tag"), "ts", "value", width).collect()
        val buckets = r.map(_.getAs[Long]("bucket_ts"))
        Prop(r.length <= rows.length) &&
          Prop(buckets.distinct.length == buckets.length) &&
          Prop(buckets.forall(b => math.floorMod(b, width) == 0))
      }
    }

  property("grid + interpolation with a covering limit leaves no nulls") =
    forAll(seriesGen) { rows =>
      (rows.length >= 2) ==> {
        val df = rows.toDF("epoch", "value")
          .select(lit("s").as("tag"), timestamp_seconds($"epoch").as("ts"), $"value")
        val r = TimeSeries.resample(df, Seq("tag"), "ts", "value", 600L)
        val g = TimeSeries.fullGrid(r, Seq("tag"), 600L)
        val f = TimeSeries.interpolateLinear(g, Seq("tag"), limitSec = 86400L * 2)
        Prop(f.filter($"value".isNull).count() == 0)
      }
    }

  property("interpolated values stay within the observed [min, max]") =
    forAll(seriesGen) { rows =>
      (rows.length >= 2) ==> {
        val df = rows.toDF("epoch", "value")
          .select(lit("s").as("tag"), timestamp_seconds($"epoch").as("ts"), $"value")
        val r = TimeSeries.resample(df, Seq("tag"), "ts", "value", 600L)
        val bounds = r.agg(min($"value"), max($"value")).head()
        val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
        val g = TimeSeries.fullGrid(r, Seq("tag"), 600L)
        val f = TimeSeries.interpolateLinear(g, Seq("tag"), limitSec = 86400L * 2)
        Prop(f.filter($"value" < lo - 1e-9 || $"value" > hi + 1e-9).count() == 0)
      }
    }

  property("ewma stays within the running value envelope") =
    forAll(seriesGen) { rows =>
      rows.nonEmpty ==> {
        val df = rows.toDF("t", "v").select(lit("s").as("k"), $"t", $"v")
        val e = Ewma.ewma(df, Seq("k"), "t", "v", span = 10.0)
        val bad = e.agg(max(abs($"ewma"))).head().getDouble(0)
        val cap = rows.map(r => math.abs(r._2)).max + 1e-9
        Prop(bad <= cap)
      }
    }

  property("TimeSeriesSplit folds are expanding, contiguous, and cover the tail") =
    forAll(Gen.choose(8L, 10000L), Gen.choose(2, 7)) { (n, k) =>
      (n / (k + 1) > 0) ==> {
        val folds = CrossValidate.timeSeriesSplit(n, k)
        Prop(folds.head.trainEnd > 0) &&
          Prop(folds.sliding(2).forall {
            case Seq(a, b) => b.testStart == a.testEnd && b.trainEnd == b.testStart
            case _ => true
          }) &&
          Prop(folds.last.testEnd == n) &&
          Prop(folds.map(_.nTest).distinct.size == 1)
      }
    }

  property("kFold test spans tile [0, n) exactly") =
    forAll(Gen.choose(5L, 10000L), Gen.choose(2, 7)) { (n, k) =>
      (n >= k) ==> {
        val folds = CrossValidate.kFold(n, k)
        Prop(folds.head.testStart == 0L) &&
          Prop(folds.last.testEnd == n) &&
          Prop(folds.sliding(2).forall {
            case Seq(a, b) => b.testStart == a.testEnd
            case _ => true
          }) &&
          Prop(folds.map(_.nTest).sum == n)
      }
    }

  property("patchDict is idempotent and key-union") = {
    val leafGen = Gen.oneOf[Any](Gen.choose(0, 9), Gen.alphaStr.map(_.take(4)))
    def mapGen(depth: Int): Gen[Map[String, Any]] =
      Gen.mapOf(Gen.zip(Gen.oneOf("a", "b", "c", "d"),
        if (depth == 0) leafGen
        else Gen.frequency(3 -> leafGen, 1 -> mapGen(depth - 1))))
    forAll(mapGen(2), mapGen(2)) { (a, b) =>
      val ab = Config.patchDict(a, b)
      Prop(Config.patchDict(ab, b) == ab) :| "re-patch is a no-op" &&
        Prop(ab.keySet == a.keySet ++ b.keySet) :| "key union" &&
        Prop(Config.patchDict(a, Map.empty) == a) :| "empty patch"
    }
  }

  property("hourglass dims are within [1, n] and end at the smallest layer") =
    forAll(Gen.choose(0.0, 1.0), Gen.choose(1, 6), Gen.choose(1, 400)) {
      (cf, layers, n) =>
        val dims = Windows.hourglassDims(cf, layers, n)
        val smallest = math.max(math.min(math.ceil(cf * n).toInt, n), 1)
        Prop(dims.length == layers) &&
          Prop(dims.forall(d => d >= 1 && d <= n)) &&
          Prop(dims.last == smallest)
    }

  property("chunked trailing windows equal the single-partition window") =
    forAll(seriesGen, Gen.choose(1, 8), Gen.oneOf("min", "sma", "smm")) {
      (rows, width, kind) =>
        rows.nonEmpty ==> {
          val df = rows.zipWithIndex
            .map { case ((_, v), i) => (i.toLong, v) }
            .toDF("__row", "v")
          // tiny chunkSize forces the multi-chunk carry path
          val chunked = Windows.chunkedTrailing(df, "__row", 0L, width,
            Seq(("v", "out", kind)), chunkSize = math.max(2 * width, 4))
            .orderBy($"__row").select($"out").collect()
            .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
          val w = org.apache.spark.sql.expressions.Window
            .orderBy($"__row").rowsBetween(-(width - 1), 0)
          val agg = kind match {
            case "min" => min($"v").over(w)
            case "sma" => avg($"v").over(w)
            case "smm" => percentile($"v", lit(0.5)).over(w)
          }
          val global = df
            .withColumn("out", when($"__row" >= width - 1, agg))
            .orderBy($"__row").select($"out").collect()
            .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
          Prop(chunked.toSeq == global.toSeq) :| s"kind=$kind width=$width"
        }
    }

  property("chunked lag equals the single-partition lag") =
    forAll(seriesGen, Gen.choose(1, 4)) { (rows, k) =>
      rows.nonEmpty ==> {
        val df = rows.zipWithIndex
          .map { case ((_, v), i) => (i.toLong, v) }
          .toDF("__row", "v")
        // tiny chunkSize forces the multi-chunk carry path
        val chunked = Windows.chunkedLag(df, "__row",
          Seq(("v", "out", k)), chunkSize = math.max(2 * k, 4))
          .orderBy($"__row").select($"out").collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        val w = org.apache.spark.sql.expressions.Window.orderBy($"__row")
        val global = df.withColumn("out", lag($"v", k).over(w))
          .orderBy($"__row").select($"out").collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        Prop(chunked.toSeq == global.toSeq) :| s"lag=$k"
      }
    }

  property("value-chunked row index equals the global row_number") =
    forAll(seriesGen, Gen.oneOf(0L, 4096L)) { (rows, threshold) =>
      rows.nonEmpty ==> {
        // threshold 0 forces the chunk-count + offset-join path even for
        // tiny frames; 4096 exercises the bounded fast path
        val df = rows.toDF("bucket_ts", "v")
        val got = CrossValidate.withRowIndex(df, Seq($"bucket_ts"),
          boundedThreshold = threshold)
          .orderBy($"bucket_ts")
          .select($"bucket_ts", $"__row").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val exp = rows.map(_._1).sorted.zipWithIndex
          .map { case (ts, i) => (ts, i.toLong) }
        Prop(got.toSeq == exp) :| s"n=${rows.length} threshold=$threshold"
      }
    }

  private val corpusGen: Gen[List[(Long, Seq[String])]] = for {
    nDocs <- Gen.choose(3, 12)
    vocab = (0 until 8).map(i => s"tok$i")
    docs <- Gen.listOfN(nDocs, Gen.someOf(vocab).map(_.toSeq))
  } yield docs.zipWithIndex.collect {
    case (sh, i) if sh.nonEmpty => (i.toLong, sh)
  }

  property("PPJoin prefix+length+positional candidates are lossless") =
    forAll(corpusGen, Gen.oneOf(0.2, 0.3, 0.5, 0.8)) { (docs, t) =>
      (docs.size >= 2) ==> {
        val shDf = docs.toDF("id", "sh")
        val cands = graft.llm.TextDedup.prefixFilterCandidates(shDf, t)
          .as[(Long, Long)].collect().toSet
        // plain-Scala ground truth, independent of every Spark path
        val truth = (for {
          (a, sa) <- docs; (b, sb) <- docs if a < b
          inter = (sa.toSet & sb.toSet).size
          uni = (sa.toSet | sb.toSet).size
          if uni > 0 && inter.toDouble / uni >= t
        } yield (a, b)).toSet
        Prop(truth.subsetOf(cands)) :|
          s"lost pairs: ${truth -- cands} (t=$t, docs=$docs)"
      }
    }

  property("minLabels keeps every edge-touched node at the hash-resize boundary (r11 counterexample)") = {
    // pinned hammer find: 11 parent entries (mutable.HashMap default
    // threshold 12) + a self-loop-only node — the live keys view lost
    // node 18 mid-iteration when path compression resized the table,
    // falsifying the truth against a CORRECT library answer
    val edges = List((0L, -1L), (-2L, 3L), (1L, 5L), (2L, -4L), (-3L, 4L), (18L, 18L))
    val truth = GraphTruth.minLabels(edges)
    Prop(truth.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet) :|
      s"truth=$truth" &&
      Prop(truth(18L) == 18L) :| "self-loop node labels itself"
  }

  property("connectedComponents agrees with a union-find ground truth") =
    forAll(GraphTruth.edgesGen) { edges =>
      // plain-Scala union-find, independent of every Spark path (shared
      // with LlmInvariantProps' dupClusters property — one ground truth),
      // held against the public entry (the one-task path) and the loop
      val truth = GraphTruth.minLabels(edges)
      Prop.all(CcPath.both.map { path =>
        val got = path.components(edges.toDF("a", "b"))
          .as[(Long, Long)].collect().toMap
        Prop(got == truth) :| s"$path: edges=$edges got=$got truth=$truth"
      }: _*)
    }

  property("connectedComponents' two paths agree on edges with null ids") =
    forAll(GraphTruth.nullableEdgesGen) { edges =>
      val Seq(public, loop) = CcPath.both.map { path =>
        path.components(edges.toDF("a", "b"))
          .as[(Option[Long], Option[Long])].collect().toSet
      }
      Prop(public == loop) :| s"edges=$edges one-task=$public loop=$loop"
    }

  // ---- Cols.q: free-form tag names resolve as data columns ----

  property("Cols.q selects any backtick-free tag name literally") = {
    val nameGen = for {
      n <- Gen.choose(1, 12)
      cs <- Gen.listOfN(n, Gen.frequency(
        4 -> Gen.alphaNumChar,
        2 -> Gen.oneOf('.', ' ', '-', '_', ':', '/', 'é', '汉')))
    } yield cs.mkString
    forAll(nameGen, Gen.choose(-50.0, 50.0)) { (name, v) =>
      val df = Seq(Tuple1(v)).toDF(name)
      val got = df.select(graft.Cols.q(name).as("v")).head().getDouble(0)
      Prop(got == v) :| s"name='$name'" &&
        Prop(scala.util.Try(graft.Cols.q(s"a`$name")).isFailure) :|
        "backticked names must fail loudly"
    }
  }

  // ---- F9 cache key: canonicalization and build-relevance ----

  property("cacheKey is insertion-order invariant, runtime-insensitive, and config-sensitive") = {
    val leafGen = Gen.oneOf[Any](Gen.choose(0, 9), Gen.alphaStr.map(_.take(4)),
      Gen.choose(-5.0, 5.0))
    def mapGen(depth: Int): Gen[Map[String, Any]] =
      Gen.mapOf(Gen.zip(Gen.oneOf("a", "b", "c", "d", "e"),
        if (depth == 0) leafGen
        else Gen.frequency(3 -> leafGen, 1 -> mapGen(depth - 1))))
    def reorder(v: Any): Any = v match {
      case m: Map[_, _] =>
        // rebuild with reversed insertion order (small Scala maps
        // iterate in insertion order — the canonical JSON must not care)
        Map(m.asInstanceOf[Map[String, Any]].toList.reverse
          .map { case (k, vv) => k -> reorder(vv) }: _*)
      case other => other
    }
    forAll(mapGen(2), mapGen(2), mapGen(2), mapGen(2)) { (ds, model, ev, rt) =>
      import graft.build.Persistence.cacheKey
      import graft.config.Config.MachineSpec
      def spec(dataset: Map[String, Any], m: Map[String, Any],
               e: Map[String, Any], r: Map[String, Any],
               meta: Map[String, Any] = Map.empty) =
        MachineSpec("m1", "p1", dataset, m, e, r, meta)
      val k0 = cacheKey(spec(ds, model, ev, rt))
      val kReordered = cacheKey(spec(
        reorder(ds).asInstanceOf[Map[String, Any]],
        reorder(model).asInstanceOf[Map[String, Any]],
        reorder(ev).asInstanceOf[Map[String, Any]], rt))
      val kRuntime = cacheKey(spec(ds, model, ev,
        rt + ("requests" -> 99), Map("owner" -> "x")))
      val kMutated = cacheKey(spec(ds + ("zz" -> 1), model, ev, rt))
      val kName = cacheKey(spec(ds, model, ev, rt).copy(name = "m2"))
      val kClosed = cacheKey(spec(ds, model, ev, rt), closedForm = true)
      Prop(kReordered == k0) :| "map insertion order must not change the key" &&
        Prop(kRuntime == k0) :| "runtime/metadata are build-irrelevant" &&
        Prop(kMutated != k0) :| "a dataset change must change the key" &&
        Prop(kName != k0) :| "the machine name is part of the key" &&
        Prop(kClosed != k0) :| "closed-form builds must never alias" &&
        Prop(k0.length == 128 && k0.forall(c => c.isDigit || ('a' to 'f').contains(c))) :|
        "sha3-512 hex shape"
    }
  }

  // ---- LruCache: access-order semantics vs a reference model ----

  property("LruCache holds exactly the capacity most-recent keys, loading once per miss") =
    forAll(Gen.choose(1, 4), Gen.listOf(Gen.choose(0, 6))) { (cap, ops) =>
      var loads = 0
      val cache = new graft.build.Serving.LruCache[Int, Int](cap)(k => {
        loads += 1; k * 10 + 1
      })
      val ref = scala.collection.mutable.ArrayBuffer.empty[Int] // MRU last
      var refLoads = 0
      val valuesOk = ops.forall { k =>
        if (!ref.contains(k)) refLoads += 1
        ref -= k; ref += k
        if (ref.size > cap) ref.remove(0)
        cache.get(k) == k * 10 + 1
      }
      Prop(valuesOk) :| "loaded values" &&
        Prop(cache.size == ref.size) :| s"size ${cache.size} vs ${ref.size}" &&
        Prop(ref.forall(cache.contains)) :|
        s"resident set: expected $ref" &&
        Prop(loads == refLoads) :| s"loads $loads vs $refLoads (ops=$ops cap=$cap)"
    }

  // ---- row_filter translation: a random predicate AST rendered in
  // pandas-query syntax, translated, and evaluated by Spark must agree
  // with plain-Scala evaluation of the same AST ----

  private sealed trait FE
  private case class FCmp(c: Int, op: String, v: Long) extends FE
  private case class FStr(c: Int, s: String) extends FE
  private case class FAnd(a: FE, b: FE) extends FE
  private case class FOr(a: FE, b: FE) extends FE
  private case class FNot(a: FE) extends FE

  // free-form gordo-style tag names: spaces, dashes, dots
  private val filterCols = Vector("GRA-YE -23.PV", "tag b", "x")
  private val strCol = "name"

  private def feGen(depth: Int): Gen[FE] = {
    val leaf = Gen.frequency(
      4 -> (for {
        c <- Gen.choose(0, filterCols.size - 1)
        op <- Gen.oneOf("<", "<=", ">", ">=", "==", "!=")
        v <- Gen.choose(-5L, 5L)
      } yield FCmp(c, op, v)),
      1 -> (for { s <- Gen.oneOf("a~b&c", "p|q", "x == y", "plain") }
        yield FStr(0, s)))
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> Gen.zip(feGen(depth - 1), feGen(depth - 1)).map(t => FAnd(t._1, t._2)),
      1 -> Gen.zip(feGen(depth - 1), feGen(depth - 1)).map(t => FOr(t._1, t._2)),
      1 -> feGen(depth - 1).map(FNot))
  }

  private def renderPandas(e: FE, amp: Boolean): String = e match {
    case FCmp(c, op, v) => s"`${filterCols(c)}` $op $v"
    case FStr(_, s) => s"`$strCol` == '$s'"
    // exercise both the single- and double-char forms of & / |
    case FAnd(a, b) =>
      s"(${renderPandas(a, amp)}) ${if (amp) "&" else "&&"} (${renderPandas(b, amp)})"
    case FOr(a, b) =>
      s"(${renderPandas(a, amp)}) ${if (amp) "|" else "||"} (${renderPandas(b, amp)})"
    case FNot(a) => s"~(${renderPandas(a, amp)})"
  }

  private def evalFe(e: FE, vals: Vector[Long], sv: String): Boolean = e match {
    case FCmp(c, op, v) => op match {
      case "<" => vals(c) < v
      case "<=" => vals(c) <= v
      case ">" => vals(c) > v
      case ">=" => vals(c) >= v
      case "==" => vals(c) == v
      case "!=" => vals(c) != v
    }
    case FStr(_, s) => sv == s
    case FAnd(a, b) => evalFe(a, vals, sv) && evalFe(b, vals, sv)
    case FOr(a, b) => evalFe(a, vals, sv) || evalFe(b, vals, sv)
    case FNot(a) => !evalFe(a, vals, sv)
  }

  property("translateRowFilter: Spark evaluation of the translation equals the AST truth") =
    forAll(feGen(3), Gen.listOfN(3, Gen.choose(-5L, 5L)),
      Gen.oneOf("a~b&c", "p|q", "x == y", "plain", "other"),
      Gen.oneOf(true, false)) { (e, vs, sv, amp) =>
      val vals = vs.toVector
      val sql = TimeSeries.translateRowFilter(renderPandas(e, amp))
      val df = Seq((vals(0), vals(1), vals(2), sv))
        .toDF(filterCols(0), filterCols(1), filterCols(2), strCol)
      val got = df.filter(expr(sql)).count() == 1
      Prop(got == evalFe(e, vals, sv)) :|
        s"sql='$sql' vals=$vals sv='$sv' got=$got"
    }

  property("repetition fractions stay in [0, 1] and vanish iff no repeats") =
    forAll(Gen.listOf(Gen.oneOf("a", "b", "c", "dd"))) { toks =>
      val text = toks.mkString(" ")
      val row = Seq(Tuple1(text)).toDF("text")
        .select(graft.llm.TextAnalysis.dupWordFrac($"text").as("dw"),
          graft.llm.TextAnalysis.topBigramFrac($"text").as("tb"))
        .head()
      val (dw, tb) = (row.getDouble(0), row.getDouble(1))
      Prop(dw >= 0.0 && dw < 1.0) &&
        Prop(tb >= 0.0 && tb <= 1.0) &&
        Prop((dw > 0.0) == (toks.nonEmpty && toks.distinct.size < toks.size)) :|
        s"text='$text' dw=$dw tb=$tb"
    }
}
