package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Single owners, enforced by a source scan.
  *
  * Spark storage: [[SessionCache]] (and the checkpoint primitive it
  * wraps) is the only library code that persists, unpersists or
  * checkpoints. Any other call site would bypass the reference count and
  * could drop a cache entry a plan-identical sibling still uses.
  *
  * Streaming sinks: [[graft.streaming.Forwarder]] is the only library
  * code that starts a `writeStream`, so every engine stream writes its
  * checkpoint through the manager Forwarder installs.
  *
  * Spark execution counts: [[ExecCounts]] is the only code in main or
  * test sources that registers a scheduler listener, so every job, stage
  * and shuffle count is scoped and drained the same way. */
class StorageOwnershipSpec extends AnyFunSuite {
  private val storageCall =
    """\.persist\(|\.cache\(\)|\.unpersist\(|\.checkpoint\(\)|localCheckpoint\(""".r
  private val listenerCall = """new\s+SparkListener\b|addSparkListener\(""".r

  /** `file:line: text` of every line under `roots` matching `pattern`,
    * skipping the files named in `owners`. */
  private def hits(roots: Seq[String], pattern: Regex,
                   owners: Set[String]): Seq[String] = {
    val sources: Seq[Path] = roots.flatMap { r =>
      val root = Paths.get(r)
      assert(Files.isDirectory(root), s"run from the repository root: $root")
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !owners.contains(p.getFileName.toString))
        .toList
      finally walk.close()
    }
    assert(sources.size > 10, s"scan found too few sources: ${sources.size}")
    for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
  }

  test("only SessionCache persists, unpersists or checkpoints in src/main") {
    val found = hits(Seq("src/main/scala"), storageCall,
      Set("SessionCache.scala", "CheckpointBridge.scala"))
    assert(found.isEmpty,
      "storage calls outside SessionCache (take a SessionCache lease):\n" +
        found.mkString("\n"))
  }

  test("only Forwarder starts a writeStream in src/main") {
    val found = hits(Seq("src/main/scala"), """\.writeStream\b""".r,
      Set("Forwarder.scala"))
    assert(found.isEmpty,
      "streams started outside Forwarder (their checkpoints skip " +
        "LocalCheckpointFileManager; sink through Forwarder.toParquet):\n" +
        found.mkString("\n"))
  }

  test("only ExecCounts registers a Spark listener in src/main and src/test") {
    val found = hits(Seq("src/main/scala", "src/test/scala"), listenerCall,
      Set("ExecCounts.scala"))
    assert(found.isEmpty,
      "Spark listeners outside ExecCounts (count through ExecCounts.during):\n" +
        found.mkString("\n"))
  }
}
