package graft

import graft.build.Persistence.toJson

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Materializes every query FULLY — `queryExecution.toRdd.count()` forces
  * each physical operator including final sorts and projections, which a
  * plain `df.count()` would let Catalyst prune away. Failures are surfaced
  * in the JSON (`errors` map) instead of silently recording a time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: session init, codegen, and file-index costs land
    // here instead of inside the alphabetically-first query's time
    try SparkEntry.queries.get("q03_revenue_filter")
      .foreach(_(spark, sfDir).queryExecution.toRdd.count())
    catch { case _: Throwable => () }
    // per-query time = MIN over `reps` repetitions (steady-state: JIT,
    // codegen cache, and file-system cache warm — the figure that tracks
    // plan quality rather than single-run machine noise); reps recorded
    // in the JSON
    // default 3: a shared box's noisy neighbor inflates min() of 2 reps
    // into a phantom regression (seen on q36/q37/q48; a re-run showed no
    // plan change)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // optional subset (comma-separated names) — scale-probe runs bench a
    // few targeted queries against synthesized larger inputs
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = subset.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.view.filterKeys(s).toMap)
    // sub-second queries get extra reps on top of `reps`: at the 0.3–1 s
    // scale a single noisy-neighbor rep dominates min-of-3: phantom
    // 4–11× "regressions" (q36/q37/q48, q31/q32/q42/q56) re-benched to
    // box noise
    val subSecExtra = sys.env.getOrElse("SPARK_GRAFT_SUBSEC_EXTRA", "2").toInt
    // machine-load context: on a shared box identical-code totals have
    // swung 59.8→81.1 s between
    // runs — the 1-min loadavg sampled at run start/end plus after each
    // query's reps lets a noisy record carry its own explanation
    // (NaN on platforms without /proc/loadavg)
    def loadavg1(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Exception => Double.NaN }
    val loadStart = loadavg1()
    var errors = List.empty[(String, String)]
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // only SUCCESSFUL reps contribute to the min — a fast-failing rep
      // of an intermittently failing query must not masquerade as its
      // steady-state time (it already surfaces in `errors`). All-failed
      // queries record NaN (strict-JSON-quoted below).
      def timeOnce(): Option[Double] = {
        var df: org.apache.spark.sql.DataFrame = null
        val t0 = System.nanoTime()
        val elapsed =
          try {
            df = fn(spark, sfDir)
            df.queryExecution.toRdd.count()
            // clock stops HERE: the post-rep release below is harness
            // bookkeeping, not query work — timing it would make q87's
            // figure incomparable with pre-release-era rounds
            Some((System.nanoTime() - t0) / 1e9)
          }
          catch { case e: Throwable =>
            if (!errors.exists(_._1 == name))
              errors ::= (name -> Option(e.getMessage)
                .getOrElse(e.getClass.getName).take(120))
            None
          }
        // release any checkpoint-backed storage the query's library call
        // pinned (q87's dup clusters) — ownership-guarded no-op
        // elsewhere; without it each rep leaks one node-label set for
        // the JVM's lifetime. A release failure must not void an
        // otherwise-valid rep (the result was already materialized),
        // but it MUST land in the JSON errors map: stderr has been
        // clipped two rounds running, and a silently-failing release is
        // the q87 leak coming back invisibly.
        if (df != null)
          graft.llm.Components.releaseQuietly(df).foreach { msg =>
            // MERGE with any rep error rather than suppressing: a flaky
            // query that already recorded a rep failure must not render
            // its leaking release invisible — both signals matter
            errors = errors.find(_._1 == name) match {
              case Some((_, prior)) if prior.contains(msg) => errors
              case Some((_, prior)) =>
                (name -> s"$prior; $msg".take(240)) ::
                  errors.filterNot(_._1 == name)
              case None => (name -> msg) :: errors
            }
          }
        elapsed
      }
      var times = (1 to reps).flatMap(_ => timeOnce())
      if (times.nonEmpty && times.min < 1.0)
        times = times ++ (1 to subSecExtra).flatMap(_ => timeOnce())
      // alongside min (the plan-quality figure), record median + spread
      // (max − min) per query: phantom spikes on untouched code each
      // needed a re-bench — a spike whose own record shows median ≈ min
      // with a fat spread self-identifies as box noise without one
      val (mn, md, sp) =
        if (times.isEmpty) (Double.NaN, Double.NaN, Double.NaN)
        else {
          val s = times.sorted
          val mid =
            if (s.size % 2 == 1) s(s.size / 2)
            else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
          (s.head, mid, s.last - s.head)
        }
      name -> (mn, md, sp, loadavg1())
    }
    // one JSON writer (Persistence.toJson): control chars escaped and
    // non-finite figures quoted, so no error text or NaN/Infinity time
    // can void the record. Figures round to 4 decimals (0.1 ms).
    def perQuery(f: ((Double, Double, Double, Double)) => Double): Map[String, Double] =
      results.map { case (k, t) => k -> round4(f(t)) }.toMap
    val total = results.map(_._2._1).filterNot(_.isNaN).sum
    val line = toJson(Map(
      "metric" -> "total", "value" -> round4(total), "unit" -> "sec",
      "reps" -> reps, "subsec_extra_reps" -> subSecExtra,
      "queries" -> perQuery(_._1), "medians" -> perQuery(_._2),
      "spreads" -> perQuery(_._3), "load_start" -> round4(loadStart),
      "load_end" -> round4(loadavg1()), "load_after_query" -> perQuery(_._4),
      "errors" -> errors.toMap, "sf" -> sfDir))
    println(line)
    // persist the full record as a file artifact too (BENCH_LOCAL.json
    // beside the repo root, or SPARK_GRAFT_BENCH_OUT) — the stdout line
    // is what the driver tails, and tailing has clipped it before.
    // SUBSET runs default to a /tmp artifact: a dev smoke over a few
    // queries must not clobber the committed full-suite record (which
    // happened once — a 4-query sf0.001 smoke overwrote the 91-query
    // sf0.1 record in the repo root and got committed)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (subset.isDefined) "/tmp/BENCH_SUBSET.json" else "BENCH_LOCAL.json")
    // shared best-effort artifact write: a failure must not void the
    // stdout record, but must be visible on stderr
    def writeArtifact(path: String, content: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (content + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
    writeArtifact(outPath, line)
    // a ~2000-char stdout tail clips the full line — such a tail holds
    // only the load_after_query map, which reads as absurd query times.
    // Print a SHORT summary line LAST: whatever suffix of stdout a
    // reader keeps ends with the totals, and a last-JSON-line parser
    // picks up a complete object. The per-query map rides it too (a
    // last-line parser only ever sees this line); medians/spreads stay
    // on the first line and in the $outPath artifact.
    val shortLine = summaryLine(total, reps, results.map { case (k, t) => k -> t._1 },
      errors.toMap, sfDir, outPath)
    println(shortLine)
    // file-artifact fallback for a last-line parser (a tail carrying
    // sbt's "[info] " prefix and "[success]" footer once parsed to null
    // — build.sbt strips both, and this file is the recipe-independent
    // copy). Subset smokes keep the committed
    // full-suite summary intact, same discipline as outPath above.
    val summaryPath =
      if (subset.isDefined) "/tmp/BENCH_SUBSET_SUMMARY.json"
      else "BENCH_SUMMARY.json"
    writeArtifact(summaryPath, shortLine)
    spark.stop()
  }

  private def round4(v: Double): Double = math.floor(v * 10000 + 0.5) / 10000

  /** The short last-stdout-line record (~2.8 KB for 91 queries against
    * an observed ~4 KB driver tail). The errors map rides along unless
    * it alone would blow the tail budget, in which case its count does. */
  private[graft] def summaryLine(total: Double, reps: Int,
                                 queries: Seq[(String, Double)],
                                 errors: Map[String, String],
                                 sfDir: String, outPath: String): String = {
    val errs: Any =
      if (toJson(errors).length <= 600) errors else Map("count" -> errors.size)
    toJson(Map(
      "metric" -> "total", "value" -> round4(total), "unit" -> "sec",
      "reps" -> reps, "n_queries" -> queries.size,
      "queries" -> queries.map { case (k, v) => k -> round4(v) }.toMap,
      "errors" -> errs, "sf" -> sfDir,
      "detail" -> s"medians/spreads/loads on the first stdout JSON line and in $outPath"))
  }
}
