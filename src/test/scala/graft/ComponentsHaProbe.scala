package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Components

/** Dev-only HA probe (test scope): exercises `reliableCheckpoint` under
  * a REAL executor loss — the contract `Components.scala`'s scaladoc
  * states but a happy-path probe never forces.
  *
  * Setup: `local-cluster[2,1,1024]` — a real standalone master + 2
  * workers inside the driver JVM, each launching its executor as a
  * SEPARATE OS process (classpath = SPARK_HOME/jars plus this repo's
  * sbt class dirs via executor.extraClassPath). The probe runs the
  * connected-components loop (`Components.labelPropagation`, called
  * directly: the public entry labels a graph this size in one task)
  * over a chain graph, materializes the result, then SIGKILLs one
  * executor JVM and evaluates the returned frame again:
  *
  *  - reliable mode (`reliableCheckpoint = Some(dir)`): the lost
  *    partitions' lineage ends at ReliableCheckpointRDD — recovery
  *    re-reads the checkpoint FILES and the post-loss evaluation must
  *    return the identical component labels;
  *  - localCheckpoint mode (default): lineage ends at blocks that
  *    lived ONLY on the dead executor — the post-loss evaluation must
  *    FAIL loudly (the documented trade for zero-infrastructure runs).
  *
  * Run: `SPARK_GRAFT_HA_MODE=both sbt "Test/runMain graft.ComponentsHaProbe"`.
  * Readings land in COVERAGE.md.
  */
object ComponentsHaProbe {

  private val ChainNodes = 512L // diameter 511 → ~9 pointer-jump rounds

  // not LocalSession: killing an executor needs local-cluster processes
  private def session(): SparkSession = {
    val cls = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .config("spark.executor.extraClassPath", cls)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Block until `n` executors (driver excluded) have registered. */
  private def awaitExecutors(spark: SparkSession, n: Int): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (spark.sparkContext.getExecutorMemoryStatus.size < n + 1) {
      require(System.nanoTime() < deadline, s"executors never registered")
      Thread.sleep(200)
    }
  }

  /** SIGKILL one live CoarseGrainedExecutorBackend child — a real
    * executor loss, not a graceful decommission. Returns its pid. */
  private def killOneExecutor(): Long = {
    import scala.jdk.CollectionConverters._
    val victims = ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false))
      .toSeq
    require(victims.nonEmpty, "no executor process found to kill")
    val v = victims.head
    val pid = v.pid()
    v.destroyForcibly()
    // wait until the OS reaps it — a half-dead executor would make the
    // "post-loss" evaluation race its own failure detection
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (v.isAlive && System.nanoTime() < deadline) Thread.sleep(100)
    require(!v.isAlive, s"executor $pid did not die")
    pid
  }

  private def chainEdges(spark: SparkSession): DataFrame =
    spark.range(ChainNodes - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))

  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_HA_MODE", "both")

    if (mode == "both" || mode == "reliable") {
      val spark = session()
      try {
        spark.sparkContext.setLogLevel("WARN")
        awaitExecutors(spark, 2)
        val ckpt = Scratch.dir("graft-ha-ckpt")
        val t0 = System.nanoTime()
        val (comp, rounds) = Components.labelPropagation(
          chainEdges(spark), 40, reliableCheckpoint = Some(ckpt))
        val pre = comp.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val pid = killOneExecutor()
        // labels for the lost partitions now exist ONLY as checkpoint
        // files; a full re-evaluation must recover from them
        val post = comp.agg(count(lit(1)), sum(col("component"))).collect()(0)
        val ok = pre == ChainNodes && post.getLong(0) == ChainNodes &&
          post.getLong(1) == 0L // chain: every label collapses to node 0
        println(f"HA_PROBE reliable: rounds=$rounds rows_pre=$pre " +
          f"rows_post=${post.getLong(0)} label_sum=${post.getLong(1)} " +
          f"killed_pid=$pid wall=$secs%.1fs verdict=" +
          (if (ok) "RECOVERED" else "WRONG_ANSWER"))
        Components.release(comp)
      } finally spark.stop()
    }

    if (mode == "both" || mode == "local") {
      val spark = session()
      try {
        spark.sparkContext.setLogLevel("ERROR") // the expected task-retry
        awaitExecutors(spark, 2)                // noise is not a finding
        val (comp, rounds) = Components.labelPropagation(
          chainEdges(spark), 40, None)
        val pre = comp.count()
        val pid = killOneExecutor()
        val outcome =
          try {
            val n = comp.agg(count(lit(1))).collect()(0).getLong(0)
            s"INCONCLUSIVE (post-loss evaluation returned $n rows — " +
              "every block happened to live on the survivor)"
          } catch {
            case e: Throwable => "FAILED_LOUDLY_AS_DESIGNED (" +
              Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.next().take(120) + ")"
          }
        println(s"HA_PROBE local: rounds=$rounds rows_pre=$pre " +
          s"killed_pid=$pid verdict=$outcome")
        Components.releaseQuietly(comp)
      } finally spark.stop()
    }
  }
}
