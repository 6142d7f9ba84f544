package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{ModelBuilder, Persistence, Project, Reporters, Serving}

class ProjectSpec2 extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def longFrame = {
    val t0 = 1704067200L
    val rows = for {
      tag <- Seq("tag-a", "tag-b"); i <- 0 until 120
    } yield (tag, t0 + i * 600L,
      if (tag == "tag-a") 5.0 + i * 0.3 else 50.0 - i * 0.1)
    rows.toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
  }

  private val projectYaml =
    """
      |globals:
      |  model:
      |    gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
      |      base_estimator:
      |        gordo.machine.model.models.KerasAutoEncoder:
      |          kind: feedforward_hourglass
      |machines:
      |  - name: machine-one
      |    metadata: {owner: team-x}
      |    dataset:
      |      tag_list: [tag-a, tag-b]
      |      resolution: 10T
      |  - name: machine-two
      |    dataset:
      |      tag_list: [tag-a, tag-b]
      |      resolution: 1H
      |""".stripMargin

  test("project parse + plan chunks machines with cache keys") {
    val spec = Project.parse(projectYaml, "proj-x")
    assert(spec.machines.map(_.name) == Seq("machine-one", "machine-two"))
    // both machines got the globals model
    assert(spec.machines.forall(_.model.keys.exists(_.contains("DiffBased"))))
    val plan = Project.plan(spec, maxPerWorkflow = 1)
    assert(plan.contains("\"n_machines\":2"))
    assert(plan.contains("\"workflow\":1")) // chunked into two workflows
    assert("\"cache_key\"".r.findAllIn(plan).size == 2)
  }

  test("buildAll trains every machine in parallel and registers them") {
    val tmp = Scratch.dir("graft-proj")
    val spec = Project.parse(projectYaml, "proj-x")
    val results = Project.buildAll(spec, longFrame, "tag", "ts", "value",
      outputRoot = s"$tmp/models", registryDir = Some(s"$tmp/registry"),
      parallelism = 2)
    assert(results.size == 2 && results.forall(!_.fromCache))
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/models/machine-one/model.json")))
    // fold scores landed in metadata with the reference stat keys
    val scores = results.head.metadata("model").asInstanceOf[Map[String, Any]]("cross_validation")
      .asInstanceOf[Map[String, Any]]("scores").asInstanceOf[Map[String, Any]]
    assert(scores.contains("r2-score"))
    val r2 = scores("r2-score").asInstanceOf[Map[String, Double]]
    assert(r2.keySet.intersect(Set("fold-mean", "fold-std", "fold-1")).size == 3)
    // machine metadata survives through the project build path
    val userDef = results.head.metadata("user_defined")
      .asInstanceOf[Map[String, Any]]
    assert(userDef("machine-metadata") == Map("owner" -> "team-x"))
  }

  test("plan reports closed-form cache keys when the run will use them") {
    val spec = Project.parse(projectYaml, "proj-x")
    val closed = Project.plan(spec, closedForm = true)
    assert(closed.contains("\"closed_form\":true"))
    // the emitted keys must be the keys a closedForm buildAll will
    // actually probe/register — the two modes never alias
    assert(closed.contains(
      Persistence.cacheKey(spec.machines.head, closedForm = true)))
    assert(!closed.contains(Persistence.cacheKey(spec.machines.head)))
    val full = Project.plan(spec)
    assert(full.contains(Persistence.cacheKey(spec.machines.head)))
  }

  test("empty project YAML raises a config error, not an NPE") {
    val e = intercept[graft.config.Config.ConfigException] {
      Project.parse("# comments only\n", "p")
    }
    assert(e.getMessage.contains("machines"))
  }

  test("verifyColumns reorders labeled input and renames unlabeled input") {
    val labeled = Seq((1.0, 2.0, 9L)).toDF("b", "a", "ts")
    val out = Serving.verifyColumns(labeled, Seq("a", "b"), orderCol = Some("ts"))
    assert(out.columns.toSeq == Seq("ts", "a", "b"))
    assert(out.head().getDouble(1) == 2.0)
    val unlabeled = Seq((3.0, 4.0)).toDF("_c0", "_c1")
    val out2 = Serving.verifyColumns(unlabeled, Seq("a", "b"))
    assert(out2.columns.toSeq == Seq("a", "b"))
    intercept[Serving.BadInputException] {
      Serving.verifyColumns(Seq((1.0, 2.0)).toDF("x", "y"), Seq("a", "b"))
    }
    intercept[Serving.BadInputException] {
      Serving.verifyColumns(Seq(Tuple1(1.0)).toDF("_c0"), Seq("a", "b"))
    }
    // pandas RangeIndex default names are the other unlabeled wire shape
    val ranged = Serving.verifyColumns(Seq((3.0, 4.0)).toDF("0", "1"),
      Seq("a", "b"))
    assert(ranged.columns.toSeq == Seq("a", "b"))
  }

  test("verifyColumns never relabels digit-NAMED columns positionally") {
    // a model whose tags are digits: reordered labeled input must be
    // matched BY NAME (the old all-digits heuristic classed this frame
    // unlabeled and crashed — or worse, accepted wrong tags positionally)
    val reordered = Serving.verifyColumns(
      Seq((2.0, 1.0)).toDF("2", "1"), Seq("1", "2"))
    assert(reordered.columns.toSeq == Seq("1", "2"))
    assert(reordered.head().getDouble(0) == 1.0)
    // digit names that are NOT the expected tags and NOT a RangeIndex
    // are labels for different tags — reject, never silently re-label
    intercept[Serving.BadInputException] {
      Serving.verifyColumns(Seq((1.0, 2.0)).toDF("10", "20"), Seq("1", "2"))
    }
    // same for a non-RangeIndex "_c"-prefixed labeled frame
    intercept[Serving.BadInputException] {
      Serving.verifyColumns(
        Seq((1.0, 2.0)).toDF("_cost", "_count"), Seq("a", "b"))
    }
  }

  test("model cache is LRU-bounded and serves loaded models") {
    val tmp = Scratch.dir("graft-cache")
    val spec = Project.parse(projectYaml, "proj-x")
    Project.buildAll(spec, longFrame, "tag", "ts", "value",
      outputRoot = s"$tmp/models", parallelism = 1)
    val cache = new Serving.ModelCache(capacity = 1)
    val m1 = cache.get(s"$tmp/models/machine-one")
    assert(cache.get(s"$tmp/models/machine-one") eq m1) // hit
    cache.get(s"$tmp/models/machine-two")               // evicts machine-one
    assert(cache.size == 1)
  }

  test("LruCache loads each key once under parallel access") {
    val loads = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val cache = new Serving.LruCache[Int, String](capacity = 8)(k => {
      loads.merge(k, 1, (a, b) => a + b)
      Thread.sleep(1) // widen the double-load race window
      s"v$k"
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futures = (0 until 200).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = cache.get(i % 8)
        })
      }
      futures.zipWithIndex.foreach { case (f, i) =>
        assert(f.get() == s"v${i % 8}")
      }
    } finally pool.shutdown()
    // load-under-lock: 16 threads hammering 8 keys within capacity must
    // invoke the loader exactly once per key
    assert((0 until 8).forall(k => loads.get(k) == 1))
    assert(cache.size == 8)
  }

  test("LruCache re-caches a value whose holder was evicted mid-load") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val loads = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val cache = new Serving.LruCache[String, String](capacity = 1)(k => {
      loads.merge(k, 1, (a, b) => a + b)
      if (k == "slow") { started.countDown(); gate.await(5, TimeUnit.SECONDS) }
      s"v$k"
    })
    val pool = Executors.newSingleThreadExecutor()
    try {
      val f = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = cache.get("slow")
      })
      assert(started.await(5, TimeUnit.SECONDS))
      cache.get("fast") // capacity 1: evicts the in-flight slow holder
      gate.countDown()
      assert(f.get() == "vslow")
      // the finished load must be re-inserted as MRU, not silently lost
      assert(cache.contains("slow"))
      assert(cache.get("slow") == "vslow")
      assert(loads.get("slow") == 1, "evicted-mid-load key must not reload")
    } finally pool.shutdown()
  }

  test("LruCache evicted-mid-load re-insert never clobbers a newer holder") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val loads = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    // returns "<key>-<load #>": the FIRST load of "k" blocks on the
    // gate, later loads run straight through — so a second get of "k"
    // after the first holder was evicted installs a NEWER value
    val cache = new Serving.LruCache[String, String](capacity = 1)(k => {
      val n = loads.merge(k, 1, (a, b) => a + b)
      if (k == "k" && n == 1) { started.countDown(); gate.await(5, TimeUnit.SECONDS) }
      s"$k-$n"
    })
    val pool = Executors.newSingleThreadExecutor()
    try {
      val f = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = cache.get("k")
      })
      assert(started.await(5, TimeUnit.SECONDS))
      cache.get("other") // capacity 1: evicts the in-flight first holder
      assert(cache.get("k") == "k-2") // fresh holder, second load
      gate.countDown()
      assert(f.get() == "k-1") // the stale load still returns its value...
      // ...but must NOT replace the newer cached one
      assert(cache.get("k") == "k-2")
      assert(loads.get("k") == 2)
    } finally pool.shutdown()
  }

  test("reporter upserts machine records keyed by name") {
    val tmp = Scratch.dir("graft-rep")
    val rep = new Reporters.JsonDirReporter(tmp)
    rep.report("m1", Map("model" -> "x"), Map("score" -> 1.0))
    rep.report("m1", Map("model" -> "y"), Map("score" -> 2.0)) // upsert
    val back = rep.read("m1")
    assert(back("machine").asInstanceOf[Map[String, Any]]("model") == "y")
  }

  test("JDBC reporter writes and updates the machine table (K4)") {
    // embedded Derby from Spark's classpath — derby.system.home keeps
    // derby.log out of the repo; memory: keeps the DB itself off disk
    System.setProperty("derby.system.home",
      Scratch.dir("graft-derby"))
    val rep = new Reporters.JdbcReporter("jdbc:derby:memory:graftdb;create=true")
    try {
      def machine(kind: String) = Map[String, Any](
        "dataset" -> Map("tag_list" -> List("tag-a", "tag-b"),
          "resolution" -> "10T"),
        "model" -> Map("gordo.machine.model.models.KerasAutoEncoder" ->
          Map("kind" -> kind)))
      rep.report("machine-one", machine("feedforward_hourglass"),
        Map("build" -> 1))
      // a second machine coexists
      rep.report("machine-two", machine("feedforward_symmetric"),
        Map("build" -> 1))
      // re-report UPDATES in place (postgres.py:84-95), no duplicate row
      rep.report("machine-one", machine("feedforward_simple"),
        Map("build" -> 2))
      val back = rep.read("machine-one")
      val model = back("model").asInstanceOf[Map[String, Any]](
        "gordo.machine.model.models.KerasAutoEncoder")
        .asInstanceOf[Map[String, Any]]
      assert(model("kind") == "feedforward_simple")
      assert(back("metadata").asInstanceOf[Map[String, Any]]("build") == 2)
      assert(back("dataset").asInstanceOf[Map[String, Any]](
        "tag_list") == List("tag-a", "tag-b"))
      val two = rep.read("machine-two")
      assert(two("metadata").asInstanceOf[Map[String, Any]]("build") == 1)
      // a reconnect sees the same rows (same in-memory DB instance) and
      // create-if-missing tolerates the existing table
      val rep2 = new Reporters.JdbcReporter("jdbc:derby:memory:graftdb")
      try assert(rep2.read("machine-one")("metadata")
        .asInstanceOf[Map[String, Any]]("build") == 2)
      finally rep2.close()
      intercept[Reporters.ReporterException](rep.read("no-such-machine"))
    } finally rep.close()
  }

  test("K5: metric batch of a real build flattens, logs, and reads back") {
    val tmp = Scratch.dir("graft-k5")
    val spec = Project.parse(projectYaml, "proj-x")
    val result = Project.buildAll(spec, longFrame, "tag", "ts", "value",
      outputRoot = s"$tmp/models", parallelism = 1).head
    val (metrics, params) = Reporters.machineLogItems(result.metadata,
      timestamp = 1718000000000L)

    // params carry project/name/dataset provenance + CV split metadata
    val pm = params.map(p => p.key -> p.value).toMap
    assert(pm("project_name") == "proj-x" && pm("name") == "machine-one")
    assert(pm("resolution") == "10T")
    assert(pm.contains("fold-1-n-train") && pm.contains("fold-3-n-test"))
    // fold spans tile: fold k's test follows its train (TimeSeriesSplit)
    assert(pm("fold-1-train-start") == "0")
    assert(pm("fold-1-test-start").toLong == pm("fold-1-train-end").toLong + 1)

    // one metric row per metric × fold with step = fold − 1, plus the
    // four summary stats at step 0 (mlflow.py:241-248)
    val r2Folds = metrics.filter(_.key == "r2-score")
    assert(r2Folds.map(_.step).sorted == Seq(0, 1, 2))
    for (sk <- Seq("mean", "max", "min", "std"))
      assert(metrics.count(m => m.key == s"r2-score-$sk" && m.step == 0) == 1)
    val agg = metrics.filter(_.key == "r2-score-mean").head.value
    assert(math.abs(agg - r2Folds.map(_.value).sum / 3) < 1e-12)

    System.setProperty("derby.system.home",
      Scratch.dir("graft-derby-k5"))
    val rep = new Reporters.JdbcReporter("jdbc:derby:memory:graftk5;create=true")
    try {
      // small caps force multi-batch slicing (batch_log_items)
      rep.reportMetrics("machine-one", metrics, params,
        nMaxMetrics = 10, nMaxParams = 10)
      val back = rep.readMetrics("machine-one")
      assert(back.size == metrics.size + params.size)
      assert(back.map(_._1).max > 0) // really sliced into >1 batch
      val backR2 = back.filter(r => r._2 == "metric" && r._3 == "r2-score")
      assert(backR2.map(_._6).sorted == Seq(0, 1, 2))
      assert(backR2.forall(_._4.isDefined))
      assert(back.find(r => r._2 == "param" && r._3 == "name")
        .flatMap(_._5).contains("machine-one"))
      // re-report replaces, never duplicates (run-scoped upsert)
      rep.reportMetrics("machine-one", metrics, params)
      assert(rep.readMetrics("machine-one").size == metrics.size + params.size)
    } finally rep.close()
  }
}
