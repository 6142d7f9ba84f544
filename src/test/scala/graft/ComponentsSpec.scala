package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Components

/** Connected components / dup-cluster resolution (graft.llm.Components):
  * pointer-jump correctness on deep chains, multi-component graphs,
  * convergence failure behavior, idempotence, and the dupClusters
  * keep-flag contract. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)], maxIter: Int = 40) =
    Components.connectedComponents(edges.toDF("a", "b"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("a deep chain collapses to its minimum id (pointer jumping)") {
    // 0-1-2-...-63: diameter 63 — plain one-hop propagation would need
    // 63 rounds; pointer jumping must land it well inside 40
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.size == 64)
    assert(got.values.forall(_ == 0L), s"all labels must be 0, got $got")
  }

  test("multiple components resolve independently") {
    // three clusters + edge order scrambled and reversed
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L), (100L, 50L),
      (50L, 70L), (70L, 100L), (9L, 5L))
    val got = components(edges)
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L,
      50L -> 50L, 70L -> 50L, 100L -> 50L))
  }

  test("isolated nodes are not materialized; self-loops are harmless") {
    val got = components(Seq((1L, 1L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("non-convergence throws (and does not loop forever)") {
    // maxIter=0 cannot converge on any non-trivial graph
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(Seq((1L, 2L)).toDF("a", "b"),
        maxIter = 0).collect()
    }
    assert(e.getMessage.contains("converge"))
  }

  test("idempotent: a second run over the same edges agrees") {
    val edges = Seq((7L, 2L), (2L, 11L), (4L, 6L))
    assert(components(edges) == components(edges))
  }

  test("storage returns to baseline across repeated runs (release lifecycle)") {
    val sc = spark.sparkContext
    val edges = (0L until 63L).map(i => (i, i + 1))
    // warm once so lazily-initialized session state doesn't count as leak
    Components.release(Components.connectedComponents(edges.toDF("a", "b")))
    val baseline = sc.getPersistentRDDs.keySet
    (1 to 3).foreach { n =>
      val cc = Components.connectedComponents(edges.toDF("a", "b"))
      assert(cc.count() == 64)
      // the returned frame holds exactly its own checkpoint until released
      Components.release(cc)
      val leaked = sc.getPersistentRDDs.keySet -- baseline
      assert(leaked.isEmpty,
        s"run $n leaked persistent RDDs: $leaked — in-loop intermediates " +
          "or the released result left blocks behind")
    }
  }

  test("release only frees checkpoints this module created") {
    val ext = spark.range(16).toDF("a")
      .withColumn("b", col("a") * 2).localCheckpoint()
    val extRdd = ext.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.head
    try {
      assert(extRdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
      Components.release(ext) // caller-owned checkpoint: must be untouched
      assert(extRdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "release must never unpersist storage it does not own")
    } finally extRdd.unpersist(false): Unit
  }

  test("reliableCheckpoint mode: correct result, files on disk, release removes them") {
    val dir = java.nio.file.Paths.get(Scratch.dir("graft-cc-reliable"))
    def rddDirs: Seq[String] = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(dir)
      try w.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .map(_.toString).toList
      finally w.close()
    }
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val (cc, rounds) = Components.connectedComponentsWithRounds(
      edges, 40, reliableCheckpoint = Some(dir.toString))
    val got = cc.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(rounds >= 1)
    // only the FINAL round's files remain (superseded rounds were
    // cleaned in-loop); release removes those too
    assert(rddDirs.size == 1, s"expected one surviving checkpoint: $rddDirs")
    Components.release(cc)
    assert(rddDirs.isEmpty, "release must delete the reliable checkpoint files")
  }

  test("a run over edges derived from a prior unreleased result leaves it intact (review fix)") {
    val cc1 = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"))
    assert(cc1.count() == 5)
    // feed cc1 back in as edges WITHOUT releasing it: the second run's
    // round-0 labels derive from cc1's checkpoint leaf, and a lineage-
    // scanning in-loop release would free cc1's blocks mid-life
    val cc2 = Components.connectedComponents(
      cc1.select(col("node").as("a"), col("component").as("b")))
    assert(cc2.count() == 5)
    assert(cc1.count() == 5,
      "the prior result must survive the second run's in-loop releases")
    Components.release(cc2)
    Components.release(cc1)
  }

  test("the harness lifecycle: a derived dupClusters frame releases to baseline (r10 review)") {
    // Verify/Bench consume each query's frame then call release on it —
    // the q87 shape is dupClusters(...).orderBy(...), a frame DERIVED
    // from the checkpoint-backed result. release must find the
    // checkpoint through the derived plan's scan leaf, and repeated
    // harness reps must not accumulate node-label sets
    val sc = spark.sparkContext
    def run() = {
      val pairs = Seq((10L, 11L), (11L, 12L), (30L, 31L)).toDF("id_a", "id_b")
      Components.dupClusters(pairs).orderBy(col("doc_id"))
    }
    Components.release(run()) // warm lazily-initialized session state
    val baseline = sc.getPersistentRDDs.keySet
    (1 to 3).foreach { rep =>
      val df = run()
      assert(df.count() == 5) // materialize (the harness's action)
      Components.release(df)
      val leaked = sc.getPersistentRDDs.keySet -- baseline
      assert(leaked.isEmpty, s"harness rep $rep leaked RDDs: $leaked")
    }
  }

  test("releaseQuietly: releases like release, None on success paths") {
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    Components.release(Components.dupClusters(pairs)) // warm session state
    val baseline = sc.getPersistentRDDs.keySet
    val df = Components.dupClusters(pairs)
    assert(df.count() == 3)
    assert(Components.releaseQuietly(df).isEmpty)
    assert((sc.getPersistentRDDs.keySet -- baseline).isEmpty)
    // a frame this module never checkpointed: quiet no-op, not an error
    assert(Components.releaseQuietly(pairs).isEmpty)
  }

  test("dupClusters: keeper = component min, keep flag, cluster sizes") {
    val pairs = Seq((10L, 11L), (11L, 12L), (30L, 31L))
      .toDF("id_a", "id_b")
    val got = Components.dupClusters(pairs)
      .as[(Long, Long, Boolean, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (10L, 10L, true, 3L), (11L, 10L, false, 3L), (12L, 10L, false, 3L),
      (30L, 30L, true, 2L), (31L, 30L, false, 2L)))
  }
}
