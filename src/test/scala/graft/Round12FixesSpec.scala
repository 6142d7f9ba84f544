package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Regression coverage for the staged atomic publish behind q91's
  * stream-input cache (`Scratch.publishDir` — two JVMs must not race
  * interleaved part files into one shared cachedDir slot, and a crashed
  * partial slot must rebuild, not wedge).
  */
class Round12FixesSpec extends AnyFunSuite {

  private def mkStage(content: String, marker: Boolean = true): String = {
    val d = Paths.get(Scratch.dir("graft-r12-stage"))
    Files.writeString(d.resolve("part-0"), content)
    if (marker) Files.createFile(d.resolve("_SUCCESS"))
    d.toString
  }

  test("publishDir moves a complete stage into an empty slot atomically") {
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.delete(target) // cachedDir returns a path; the dir may not exist
    val stage = mkStage("winner")
    Scratch.publishDir(stage, target.toString)
    assert(Files.readString(target.resolve("part-0")) == "winner")
    assert(Files.exists(target.resolve("_SUCCESS")))
    assert(!Files.exists(Paths.get(stage)), "stage must be renamed away")
    Scratch.deleteTree(target)
  }

  test("a losing publisher adopts the winner's slot, never overwrites it") {
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.delete(target)
    Scratch.publishDir(mkStage("winner"), target.toString)
    // second JVM raced past the _SUCCESS check and staged its own copy:
    // its publish must be a quiet no-op against the complete slot
    Scratch.publishDir(mkStage("loser"), target.toString)
    assert(Files.readString(target.resolve("part-0")) == "winner")
    Scratch.deleteTree(target)
  }

  test("a partial slot without the marker is cleared and rebuilt") {
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.writeString(target.resolve("part-0"), "crashed-partial")
    // no _SUCCESS: a pre-staging-era writer died mid-write
    Scratch.publishDir(mkStage("rebuilt"), target.toString)
    assert(Files.readString(target.resolve("part-0")) == "rebuilt")
    assert(Files.exists(target.resolve("_SUCCESS")))
    Scratch.deleteTree(target)
  }

  test("a recovering publish leaves no .lock beside the completed slot") {
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.writeString(target.resolve("part-0"), "crashed-partial")
    Scratch.publishDir(mkStage("rebuilt"), target.toString)
    assert(Files.exists(target.resolve("_SUCCESS")))
    assert(!Files.exists(
      target.resolveSibling(target.getFileName.toString + ".lock")),
      "the recovery must delete its lock file once the slot is complete")
    Scratch.deleteTree(target)
  }

  test("concurrent publishers race one slot: exactly one complete copy wins") {
    // the race measured, not just argued: N threads all see
    // the slot missing, stage privately, and publish at once — the slot
    // must end up holding exactly ONE publisher's complete copy (never
    // interleaved files), and every loser must return without error
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.delete(target)
    val n = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val stages = (0 until n).map(i => mkStage(s"writer-$i"))
    val threads = stages.map { stage => // staged BEFORE the gun fires
      val t = new Thread(() => {
        try { start.await(); Scratch.publishDir(stage, target.toString) }
        catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(30000))
    // a wedged publisher must fail the test as a hang, not let the
    // asserts below race its still-in-flight rename
    threads.foreach(t => assert(!t.isAlive, "a publisher thread wedged"))
    assert(errs.isEmpty, s"racing publisher threw: ${errs.peek()}")
    assert(Files.exists(target.resolve("_SUCCESS")))
    val content = Files.readString(target.resolve("part-0"))
    assert(content.startsWith("writer-"), content)
    // exactly the winner's two files — no interleaving from losers
    val listing = Files.list(target)
    val names =
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.map(_.getFileName.toString).toSet
      } finally listing.close()
    assert(names == Set("part-0", "_SUCCESS"), names.toString)
    Scratch.deleteTree(target)
    stages.foreach(s => Scratch.deleteTree(Paths.get(s))) // losers' stages
  }

  test("concurrent recoverers of a partial slot leave one complete copy") {
    // the TOCTOU the lock closes: recoverers could quarantine each
    // other's freshly published complete dir; under the per-slot
    // monitor + advisory file lock, the end state must be exactly one
    // complete copy and no thread may error
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.writeString(target.resolve("part-0"), "crashed-partial") // no marker
    val n = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val stages = (0 until n).map(i => mkStage(s"recoverer-$i"))
    val threads = stages.map { stage =>
      val t = new Thread(() => {
        try { start.await(); Scratch.publishDir(stage, target.toString) }
        catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(30000))
    threads.foreach(t => assert(!t.isAlive, "a recoverer thread wedged"))
    assert(errs.isEmpty, s"racing recoverer threw: ${errs.peek()}")
    assert(Files.exists(target.resolve("_SUCCESS")))
    assert(Files.readString(target.resolve("part-0"))
      .startsWith("recoverer-"))
    Scratch.deleteTree(target)
    stages.foreach(s => Scratch.deleteTree(Paths.get(s)))
  }

  test("ensureBuilt builds exactly once, then serves the completed slot") {
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.delete(target)
    var builds = 0
    def build() = Scratch.ensureBuilt(target.toString) { st =>
      builds += 1
      Files.writeString(Paths.get(st).resolve("part-0"), "built")
      Files.createFile(Paths.get(st).resolve("_SUCCESS")); ()
    }
    assert(build() == target.toString)
    assert(build() == target.toString) // marker present: no rebuild
    assert(builds == 1)
    assert(Files.readString(target.resolve("part-0")) == "built")
    Scratch.deleteTree(target)
  }

  test("cachedDir: a bumped derivation version re-keys, same sweepable prefix") {
    val witness = Files.createTempFile("graft-r12-witness", ".parquet")
    val unv = Scratch.cachedDir("graft-r12-ver", witness.toString)
    val v1 = Scratch.cachedDir("graft-r12-ver", witness.toString, "v1")
    val v2 = Scratch.cachedDir("graft-r12-ver", witness.toString, "v2")
    assert(Set(unv, v1, v2).size == 3, "each version must key its own slot")
    // same prefix: superseded-version dirs stay age-sweepable siblings
    // instead of orphans under a prefix nothing requests anymore
    assert(Seq(unv, v1, v2).forall(p =>
      new java.io.File(p).getName.startsWith("graft-r12-ver-")))
    assert(v1 == Scratch.cachedDir("graft-r12-ver", witness.toString, "v1"),
      "same witness + same version must be a stable key")
    Files.delete(witness)
  }

  test("the age sweep reclaims stale sibling dirs AND their .lock files") {
    val tmp = System.getProperty("java.io.tmpdir")
    val prefix = "graft-r12-sweep"
    val stale = new java.io.File(tmp, s"$prefix-" + "0" * 16)
    assert(stale.mkdirs())
    val lock = new java.io.File(tmp, stale.getName + ".lock")
    assert(lock.createNewFile() || lock.exists())
    val old = System.currentTimeMillis() - 7L * 3600 * 1000
    stale.setLastModified(old); lock.setLastModified(old)
    val witness = Files.createTempFile("graft-r12-sweep-w", ".parquet")
    Scratch.cachedDir(prefix, witness.toString) // first call: sweeps
    assert(!stale.exists, "stale sibling dir must be swept")
    assert(!lock.exists,
      "a stale recovery .lock file must be swept with its dir " +
        "(the dir-only sweep used to leak them permanently)")
    Files.delete(witness)
  }

  test("publishDir refuses a stage missing its own completeness marker") {
    val target = Paths.get(Scratch.dir("graft-r12-slot"))
    Files.delete(target)
    val stage = mkStage("incomplete", marker = false)
    intercept[IllegalArgumentException] {
      Scratch.publishDir(stage, target.toString)
    }
    assert(!Files.exists(target), "a refused publish must not create the slot")
    Scratch.deleteTree(Paths.get(stage))
  }
}
