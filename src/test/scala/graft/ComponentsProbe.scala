package graft

import org.apache.spark.sql.functions._

import graft.llm.{Components, TextDedup}

/** Dev-only connected-components scale probe (test scope — not part of
  * the shipped library): runs the q87 dup-cluster pipeline (MinHash
  * candidates → exact-Jaccard verify → transitive closure) over given
  * documents dirs and reports pair/node/cluster counts, the ROUND count
  * the label-propagation loop ran, and wall seconds — then a synthetic
  * deep-chain graph that proves the O(log diameter) claim directly.
  * It calls the loop entry (`Components.labelPropagation`) directly:
  * the public entry labels graphs this size in one task, in one round.
  *
  * Claims under test:
  *  - rounds grow ~log(diameter), not linearly: a 65 536-node chain
  *    (diameter 65 535 — plain one-hop propagation would need 65 535
  *    rounds, 1 638× the maxIter=40 budget) must converge within the
  *    default budget, in ≤ 2·log2(N) + 4 rounds;
  *  - on real near-dup graphs (shallow, many small clusters) rounds
  *    stay in single digits at every corpus scale, and wall tracks the
  *    pair-generation stage, not the closure;
  *  - every label is a cluster minimum: component ≤ node for all rows.
  *
  * Run: `sbt "Test/runMain graft.ComponentsProbe <dir>..."` over
  * /root/testdata/sf0.1, /tmp/scale10, /tmp/scale100.
  */
object ComponentsProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/scale10", "/tmp/scale100")
        .filter(d => new java.io.File(s"$d/documents.parquet").exists())
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    dirs.foreach { dir =>
      val docs = Tables(spark, dir, "documents")
      val shDf = TextDedup.withShingles(docs, "doc_id", "text", ngram = 3)
        .persist()
      val cands = TextDedup.candidatePairs(shDf, k = 12, bands = 6)
      val pairs = TextDedup.verifiedPairs(shDf, cands, threshold = 0.3)
        .select($"id_a".as("a"), $"id_b".as("b")).persist()
      val nPairs = pairs.count()
      // SPARK_GRAFT_CC_CKPT=<dir> probes the reliable-checkpoint (HA)
      // configuration: same results, lineage cut to files instead of
      // executor-local blocks, superseded rounds' files deleted in-loop
      val ckptDir = sys.env.get("SPARK_GRAFT_CC_CKPT")
      val t0 = System.nanoTime()
      val (labels, rounds) =
        Components.labelPropagation(pairs, 40, ckptDir)
      val nNodes = labels.count()
      val nComp = labels.select($"component").distinct().count()
      val badLabels = labels.filter($"component" > $"node").count()
      val wall = (System.nanoTime() - t0) / 1e9
      assert(badLabels == 0, s"$badLabels labels above their node id")
      assert(nComp <= nNodes)
      // HA mode: after in-loop cleanup exactly ONE rdd-* checkpoint dir
      // (the final labels') survives; release() removes it too
      val ckptDirsLeft = ckptDir.fold(-1) { d =>
        def count() = {
          val w = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          try {
            val it = w.iterator(); var n = 0
            while (it.hasNext) {
              if (it.next().getFileName.toString.startsWith("rdd-")) n += 1
            }
            n
          } finally w.close()
        }
        val live = count()
        assert(live == 1, s"expected 1 surviving checkpoint dir, got $live")
        Components.release(labels)
        val after = count()
        assert(after == 0, s"release must delete the final checkpoint, got $after")
        live
      }
      println(s"""{"probe":"components","dir":"$dir","pairs":$nPairs,""" +
        s""""nodes":$nNodes,"clusters":$nComp,"rounds":$rounds,""" +
        f""""wall_sec":$wall%.1f""" +
        ckptDir.fold("")(_ => s""","reliable_ckpt_dirs_live":$ckptDirsLeft""") +
        "}")
      pairs.unpersist()
      shDf.unpersist()
    }

    // synthetic deep chain: 0-1-2-...-(n-1); diameter n-1
    val n = 1 << 16
    val chain = spark.range(n - 1).select($"id".as("a"), ($"id" + 1).as("b"))
    val t0 = System.nanoTime()
    val (labels, rounds) = Components.labelPropagation(chain, 40, None)
    val allZero = labels.agg(max($"component")).as[Long].head()
    val nNodes = labels.count()
    val wall = (System.nanoTime() - t0) / 1e9
    assert(nNodes == n, s"expected $n nodes, got $nNodes")
    assert(allZero == 0L, s"chain must collapse to component 0, max=$allZero")
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 4
    assert(rounds <= bound,
      s"rounds $rounds exceeds the O(log d) bound $bound for a $n-chain")
    println(s"""{"probe":"components_chain","nodes":$n,"diameter":${n - 1},""" +
      s""""rounds":$rounds,"log2_bound":$bound,""" +
      f""""wall_sec":$wall%.1f}""")
    spark.stop()
  }
}
