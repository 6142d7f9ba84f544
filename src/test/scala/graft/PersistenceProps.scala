package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.build.Persistence
import graft.ml.DiffAnomaly.Thresholds

/** Round-trip property for the K1 model persistence layer over
  * adversarial doubles: strict JSON has no NaN/Infinity literals, so the
  * serializer string-encodes them and the loader parses them back — this
  * pins that path (plus -0.0, subnormals, and extreme exponents) for
  * every numeric field of the saved state: model params, scaler stats,
  * feature/aggregate/smoothed/per-fold thresholds, and the recorded
  * windowing. The AnnIndexSpec discipline applied to the model registry.
  */
object PersistenceProps extends Properties("graft.persistence") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(PropDraws(25))

  private val nastyDouble: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e3, 1e3),
    Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue, 4.9e-324, 1.7976931348623157e308))

  private val keyGen: Gen[String] = for {
    n <- Gen.choose(1, 8)
    cs <- Gen.listOfN(n, Gen.alphaNumChar)
  } yield cs.mkString

  // dotted/spaced tag names are a supported case (free-form gordo tags)
  private val tagGen: Gen[String] =
    Gen.oneOf("GRA-YE -23.PV", "tag.a", "t b", "plain")

  private def dmap: Gen[Map[String, Double]] =
    Gen.mapOf(Gen.zip(keyGen, nastyDouble)).map(_.take(6))

  private def deq(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b

  private def deqMap(a: Map[String, Double], b: Map[String, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => deq(v, b(k)) }

  property("save/load round-trips every numeric field bit-faithfully") =
    forAll(Gen.zip(dmap, dmap, dmap, dmap),
      Gen.zip(nastyDouble, Gen.option(nastyDouble)),
      Gen.listOfN(2, tagGen), Gen.oneOf(true, false),
      Gen.option(Gen.choose(1, 500)),
      Gen.option(Gen.zip(Gen.choose(1, 8), Gen.choose(0, 3)))) {
      (maps, thPair, tags0, sameTargets, window, windowing0) =>
        val (params, stats0, featTh, perFold) = maps
        val (aggTh, smoothAgg) = thPair
        val tags = tags0.distinct
        val stats = stats0.map { case (k, v) => k -> (v, -v) }
        val targets = if (sameTargets) Nil else List("other.tag")
        val windowing = windowing0.map { case (lb, la) => (tags, lb, la) }
        val state = Persistence.ModelState(
          impl = "trend", epoch0 = 1577836800L, orderCol = "bucket_ts",
          tags = tags, targets = targets, modelParams = params,
          scalerKind = "minmax", scalerStats = stats,
          thresholds = Thresholds(featTh, aggTh,
            if (smoothAgg.isDefined) Some(featTh) else None,
            smoothAgg, perFold),
          window = window, smoothingMethod = "smm",
          windowing = windowing)
        val dir = Scratch.dir("graft-persist-prop")
        try {
          Persistence.save(dir, state)
          val (fd, loadedWindowing) = Persistence.loadFull(dir)
          Prop(deqMap(fd.model.params, params)) :|
            s"params: ${fd.model.params} vs $params" &&
            Prop(fd.scaler.kind == "minmax" &&
              stats.keySet == fd.scaler.stats.keySet &&
              stats.forall { case (k, (a, b)) =>
                deq(a, fd.scaler.stats(k)._1) && deq(b, fd.scaler.stats(k)._2)
              }) :| s"scaler: ${fd.scaler.stats} vs $stats" &&
            Prop(deqMap(fd.thresholds.featureThresholds, featTh)) :| "featTh" &&
            Prop(deq(fd.thresholds.aggregateThreshold, aggTh)) :| "aggTh" &&
            Prop(deqMap(fd.thresholds.perFoldAggregate, perFold)) :| "perFold" &&
            Prop((fd.thresholds.smoothAggregateThreshold, smoothAgg) match {
              case (Some(a), Some(b)) => deq(a, b)
              case (None, None) => true
              case _ => false
            }) :| "smoothAgg" &&
            Prop(fd.tags == tags) :| s"tags ${fd.tags} vs $tags" &&
            Prop(fd.targets == (if (sameTargets) tags else targets)) :|
            s"targets ${fd.targets}" &&
            Prop(fd.window == window) :| "window" &&
            Prop(loadedWindowing == windowing) :|
            s"windowing $loadedWindowing vs $windowing"
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
            .asScala.toList.reverse.foreach(p => java.nio.file.Files.delete(p))
        }
    }
}
