package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Components

/** Connected components / dup-cluster resolution (graft.llm.Components):
  * pointer-jump correctness on deep chains, multi-component graphs,
  * convergence failure behavior, idempotence, the dupClusters keep-flag
  * contract, and the rule that picks the one-task path or the loop.
  * Tests of the loop's own machinery (rounds, per-round checkpoints)
  * call the loop entry; the rest run on both paths ([[CcPath]]). */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def components(path: CcPath, edges: Seq[(Long, Long)],
                         maxIter: Int = 40) =
    path.components(edges.toDF("a", "b"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("a deep chain collapses to its minimum id (pointer jumping)") {
    // 0-1-2-...-63: diameter 63 — plain one-hop propagation would need
    // 63 rounds; pointer jumping must land it well inside 40
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = components(CcPath.Loop, chain)
    assert(got.size == 64)
    assert(got.values.forall(_ == 0L), s"all labels must be 0, got $got")
  }

  test("multiple components resolve independently") {
    // three clusters + edge order scrambled and reversed
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L), (100L, 50L),
      (50L, 70L), (70L, 100L), (9L, 5L))
    CcPath.both.foreach { path =>
      assert(components(path, edges) == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
        20L -> 20L, 21L -> 20L,
        50L -> 50L, 70L -> 50L, 100L -> 50L), path)
    }
  }

  test("isolated nodes are not materialized; self-loops are harmless") {
    CcPath.both.foreach { path =>
      assert(components(path, Seq((1L, 1L), (2L, 3L))) ==
        Map(1L -> 1L, 2L -> 2L, 3L -> 2L), path)
    }
  }

  test("non-convergence throws (and does not loop forever)") {
    // maxIter=0 cannot converge on any non-trivial graph
    CcPath.both.foreach { path =>
      val e = intercept[IllegalArgumentException] {
        path.components(Seq((1L, 2L)).toDF("a", "b"), maxIter = 0).collect()
      }
      assert(e.getMessage.contains("converge"), path)
    }
  }

  test("idempotent: a second run over the same edges agrees") {
    val edges = Seq((7L, 2L), (2L, 11L), (4L, 6L))
    CcPath.both.foreach { path =>
      assert(components(path, edges) == components(path, edges), path)
    }
  }

  test("storage returns to baseline across repeated runs (release lifecycle)") {
    val sc = spark.sparkContext
    val edges = (0L until 63L).map(i => (i, i + 1))
    CcPath.both.foreach { path =>
      // warm once so lazily-initialized session state doesn't count as leak
      Components.release(path.components(edges.toDF("a", "b")))
      val baseline = sc.getPersistentRDDs.keySet
      (1 to 3).foreach { n =>
        val cc = path.components(edges.toDF("a", "b"))
        assert(cc.count() == 64)
        // the returned frame holds exactly its own checkpoint until released
        Components.release(cc)
        val leaked = sc.getPersistentRDDs.keySet -- baseline
        assert(leaked.isEmpty,
          s"$path run $n leaked persistent RDDs: $leaked — in-loop " +
            "intermediates or the released result left blocks behind")
      }
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
    CcPath.both.foreach { path =>
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
      val (cc, rounds) = path.withRounds(
        edges, 40, reliableCheckpoint = Some(dir.toString))
      val got = cc.as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(rounds >= 1)
      // only the FINAL round's files remain (the loop cleans superseded
      // rounds in-loop; the one-task path writes one checkpoint on its
      // first action); release removes those too
      assert(rddDirs.size == 1, s"$path: expected one surviving checkpoint: $rddDirs")
      Components.release(cc)
      assert(rddDirs.isEmpty, s"$path: release must delete the reliable checkpoint files")
    }
  }

  test("a run over edges derived from a prior unreleased result leaves it intact (review fix)") {
    val cc1 = CcPath.Loop.components(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"))
    assert(cc1.count() == 5)
    // feed cc1 back in as edges WITHOUT releasing it: the second run's
    // round-0 labels derive from cc1's checkpoint leaf, and a lineage-
    // scanning in-loop release would free cc1's blocks mid-life
    val cc2 = CcPath.Loop.components(
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
    CcPath.both.foreach { path =>
      def run() = {
        val pairs = Seq((10L, 11L), (11L, 12L), (30L, 31L)).toDF("id_a", "id_b")
        path.dupClusters(pairs).orderBy(col("doc_id"))
      }
      Components.release(run()) // warm lazily-initialized session state
      val baseline = sc.getPersistentRDDs.keySet
      (1 to 3).foreach { rep =>
        val df = run()
        assert(df.count() == 5) // materialize (the harness's action)
        Components.release(df)
        val leaked = sc.getPersistentRDDs.keySet -- baseline
        assert(leaked.isEmpty, s"$path harness rep $rep leaked RDDs: $leaked")
      }
    }
  }

  test("releaseQuietly: releases like release, None on success paths") {
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    CcPath.both.foreach { path =>
      Components.release(path.dupClusters(pairs)) // warm session state
      val baseline = sc.getPersistentRDDs.keySet
      val df = path.dupClusters(pairs)
      assert(df.count() == 3)
      assert(Components.releaseQuietly(df).isEmpty, path)
      assert((sc.getPersistentRDDs.keySet -- baseline).isEmpty, path)
    }
    // a frame this module never checkpointed: quiet no-op, not an error
    assert(Components.releaseQuietly(pairs).isEmpty)
  }

  test("dupClusters: keeper = component min, keep flag, cluster sizes") {
    val pairs = Seq((10L, 11L), (11L, 12L), (30L, 31L))
      .toDF("id_a", "id_b")
    CcPath.both.foreach { path =>
      val got = path.dupClusters(pairs)
        .as[(Long, Long, Boolean, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq(
        (10L, 10L, true, 3L), (11L, 10L, false, 3L), (12L, 10L, false, 3L),
        (30L, 30L, true, 2L), (31L, 30L, false, 2L)), path)
    }
  }

  /** (node, component) rows of one path's result, in node order, with
    * the result's column types. */
  private def labelsOf(path: CcPath, edges: DataFrame)
      : (Seq[(Any, Any)], Seq[DataType]) = {
    val (cc, rounds) = path.withRounds(edges)
    if (path == CcPath.Public) assert(rounds == 1, "the one-task path runs one round")
    try (cc.collect().map(r => (r.get(0), r.get(1))).toSeq
           .sortBy(r => String.valueOf(r._1)), cc.schema.map(_.dataType))
    finally Components.release(cc)
  }

  test("both paths agree on self-loops, duplicate and reversed edges, null ids and no edges") {
    val cases: Seq[(String, Seq[(Option[Long], Option[Long])])] = Seq(
      "self-loops" -> Seq((Some(1L), Some(1L)), (Some(2L), Some(2L)),
        (Some(2L), Some(3L))),
      "duplicate and reversed edges" -> Seq((Some(5L), Some(3L)),
        (Some(3L), Some(5L)), (Some(5L), Some(3L)), (Some(7L), Some(5L))),
      // a null id joins nothing: 1 and 2 stay apart, 4 and 9 meet only
      // through their own edge, and the null node takes the least label
      // among its non-null neighbors
      "null ids" -> Seq((Some(1L), None), (None, Some(2L)), (None, None),
        (Some(9L), Some(4L)), (Some(4L), None)),
      "only null ids" -> Seq((None, None)),
      "no edges" -> Seq.empty[(Option[Long], Option[Long])])
    cases.foreach { case (name, edges) =>
      val df = edges.toDF("a", "b")
      val Seq(public, loop) = CcPath.both.map(labelsOf(_, df))
      assert(public == loop, s"$name: one-task ${public._1} != loop ${loop._1}")
    }
    val nullIds = labelsOf(CcPath.Public, cases(2)._2.toDF("a", "b"))._1
    assert(nullIds.toMap == Map(1L -> 1L, 2L -> 2L, 4L -> 4L, 9L -> 4L,
      (null, 1L)), nullIds)
    // narrower integral ids: same labels and the same widened column type
    Seq(
      Seq((3, 1), (1, 2), (8, 9)).toDF("a", "b"),
      Seq((3.toShort, 1L), (1.toShort, 2L)).toDF("a", "b"),
      Seq((3.toByte, 1.toByte)).toDF("a", "b")).foreach { df =>
      val Seq(public, loop) = CcPath.both.map(labelsOf(_, df))
      assert(public == loop, s"${df.schema.simpleString}: $public != $loop")
    }
  }

  test("the one-task path takes integral ids up to its edge bound; the loop takes the rest") {
    val bound = Components.OneTaskMaxEdges
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    integral.foreach { t =>
      assert(Components.fitsOneTask(Seq(t, LongType), bound), t)
      assert(Components.fitsOneTask(Seq(t, t), 0L), t)
      assert(!Components.fitsOneTask(Seq(t, t), bound + 1), t)
    }
    // non-integral ids take the loop at any size, and cost no count
    Seq(StringType, DoubleType, DecimalType(20, 0), BinaryType).foreach { t =>
      assert(!Components.fitsOneTask(Seq(t, t),
        fail("the edge count must not be read for non-integral ids")), t)
      assert(!Components.fitsOneTask(Seq(LongType, t),
        fail("the edge count must not be read for non-integral ids")), t)
    }
    // a string-keyed graph goes through the loop: more than one round
    val (cc, rounds) = Components.connectedComponentsWithRounds(
      Seq(("a", "b"), ("b", "c")).toDF("a", "b"))
    try {
      assert(cc.as[(String, String)].collect().toMap ==
        Map("a" -> "a", "b" -> "a", "c" -> "a"))
      assert(rounds > 1, s"a 3-node chain needs the loop's rounds, got $rounds")
    } finally Components.release(cc)
  }
}
