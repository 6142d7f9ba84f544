package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark storage has one owner: [[SessionCache]] (and the checkpoint
  * primitive it wraps) is the only library code that persists,
  * unpersists or checkpoints. Any other call site would bypass the
  * reference count and could drop a cache entry a plan-identical
  * sibling still uses. */
class StorageOwnershipSpec extends AnyFunSuite {
  private val storageCall =
    """\.persist\(|\.cache\(\)|\.unpersist\(|\.checkpoint\(\)|localCheckpoint\(""".r
  private val owners = Set("SessionCache.scala", "CheckpointBridge.scala")

  test("only SessionCache persists, unpersists or checkpoints in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val sources: Seq[Path] =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !owners.contains(p.getFileName.toString))
        .toList
      finally walk.close()
    assert(sources.size > 10, s"scan found too few sources: ${sources.size}")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if storageCall.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "storage calls outside SessionCache (take a SessionCache lease):\n" +
        hits.mkString("\n"))
  }
}
