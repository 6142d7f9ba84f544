package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The [[Scratch]] cache slots: atomic publish, build-once, witness and
  * version keying, lease renewal and the age sweep, all under the one
  * invariant that a slot path is either absent or holds one complete
  * copy carrying its marker. */
class ScratchSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private val staleMs = System.currentTimeMillis() - 7L * 3600 * 1000

  private def mkStage(content: String, marker: Boolean = true): String = {
    val d = Paths.get(Scratch.dir("graft-scratch-stage"))
    Files.writeString(d.resolve("part-0"), content)
    if (marker) Files.createFile(d.resolve("_SUCCESS"))
    d.toString
  }

  /** The pre-format key of an unversioned or versioned FILE witness:
    * the key builds wrote before the slot-format tag joined it. */
  private def oldKey(witness: File, version: String = ""): String = {
    val ident = s"${witness.getCanonicalPath}:${witness.length}:${witness.lastModified}"
    val keyed = if (version.isEmpty) ident else s"$version|$ident"
    java.security.MessageDigest.getInstance("MD5")
      .digest(keyed.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  test("publishDir moves a complete stage into an empty slot atomically") {
    val target = Paths.get(Scratch.dir("graft-scratch-slot"))
    Files.delete(target) // cachedDir returns a path; the dir may not exist
    val stage = mkStage("winner")
    Scratch.publishDir(stage, target.toString)
    assert(Files.readString(target.resolve("part-0")) == "winner")
    assert(Files.exists(target.resolve("_SUCCESS")))
    assert(!Files.exists(Paths.get(stage)), "stage must be renamed away")
    Scratch.deleteTree(target)
  }

  test("a losing publisher adopts the winner's slot, never overwrites it") {
    val target = Paths.get(Scratch.dir("graft-scratch-slot"))
    Files.delete(target)
    Scratch.publishDir(mkStage("winner"), target.toString)
    // second JVM raced past the _SUCCESS check and staged its own copy:
    // its publish must be a quiet no-op against the complete slot
    Scratch.publishDir(mkStage("loser"), target.toString)
    assert(Files.readString(target.resolve("part-0")) == "winner")
    Scratch.deleteTree(target)
  }

  test("concurrent publishers race one slot: exactly one complete copy wins") {
    // the race measured, not just argued: N threads all see
    // the slot missing, stage privately, and publish at once — the slot
    // must end up holding exactly ONE publisher's complete copy (never
    // interleaved files), and every loser must return without error
    val target = Paths.get(Scratch.dir("graft-scratch-slot"))
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

  test("publishDir refuses a stage missing its own completeness marker") {
    val target = Paths.get(Scratch.dir("graft-scratch-slot"))
    Files.delete(target)
    val stage = mkStage("incomplete", marker = false)
    intercept[IllegalArgumentException] {
      Scratch.publishDir(stage, target.toString)
    }
    assert(!Files.exists(target), "a refused publish must not create the slot")
    Scratch.deleteTree(Paths.get(stage))
  }

  test("a slot without its marker is refused loudly, never repaired") {
    // no code here leaves a marker-less slot: one can only come from
    // outside, and serving or clearing it would hide that
    val target = Paths.get(Scratch.dir("graft-scratch-slot"))
    Files.writeString(target.resolve("part-0"), "foreign")
    val e = intercept[IllegalStateException] {
      Scratch.publishDir(mkStage("rebuilt"), target.toString)
    }
    assert(e.getMessage.contains(target.toString) &&
      e.getMessage.contains("delete"), e.getMessage)
    intercept[IllegalStateException] {
      Scratch.ensureBuilt(target.toString)(st => {
        Files.createFile(Paths.get(st).resolve("_SUCCESS")); ()
      })
    }
    assert(Files.readString(target.resolve("part-0")) == "foreign",
      "a refused slot is left as found")
    Scratch.deleteTree(target)
  }

  test("ensureBuilt builds exactly once, then serves the completed slot") {
    val target = Paths.get(Scratch.dir("graft-scratch-slot"))
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
    val witness = Files.createTempFile("graft-scratch-witness", ".parquet")
    val unv = Scratch.cachedDir("graft-scratch-ver", witness.toString)
    val v1 = Scratch.cachedDir("graft-scratch-ver", witness.toString, "v1")
    val v2 = Scratch.cachedDir("graft-scratch-ver", witness.toString, "v2")
    assert(Set(unv, v1, v2).size == 3, "each version must key its own slot")
    // same prefix: superseded-version dirs stay age-sweepable siblings
    // instead of orphans under a prefix nothing requests anymore
    assert(Seq(unv, v1, v2).forall(p =>
      new java.io.File(p).getName.startsWith("graft-scratch-ver-")))
    assert(v1 == Scratch.cachedDir("graft-scratch-ver", witness.toString, "v1"),
      "same witness + same version must be a stable key")
    Files.delete(witness)
  }

  test("a slot at the old key's path is not served") {
    // a complete slot a build before the slot-format tag wrote: the
    // current key never names it, so ensureBuilt rebuilds once
    val witness = Files.createTempFile("graft-scratch-oldkey", ".parquet").toFile
    val prefix = "graft-scratch-oldkey"
    for (version <- Seq("", "v1")) {
      val old = new File(tmp, s"$prefix-${oldKey(witness, version)}")
      assert(old.mkdir())
      Files.writeString(old.toPath.resolve("part-0"), "old-format")
      Files.createFile(old.toPath.resolve("_SUCCESS"))
      val slot = Scratch.cachedDir(prefix, witness.getPath, version)
      assert(slot != old.getPath, s"version '$version' served the old key")
      var builds = 0
      Scratch.ensureBuilt(slot) { st =>
        builds += 1
        Files.writeString(Paths.get(st).resolve("part-0"), "current")
        Files.createFile(Paths.get(st).resolve("_SUCCESS")); ()
      }
      assert(builds == 1)
      assert(Files.readString(Paths.get(slot).resolve("part-0")) == "current")
      Scratch.deleteTree(old.toPath); Scratch.deleteTree(Paths.get(slot))
    }
    witness.delete()
  }

  test("q69's stream-input cache is derivation-version-keyed (v1)") {
    // run the real query, then assert the slot it built is the
    // VERSIONED one — pins the call site, not just cachedDir's ability
    // to take a version (an unversioned witness would serve a stale
    // frame after a derivation change)
    SparkEntry.queries("q69_streaming_anomaly")(SparkTestSession.spark, sf)
      .count()
    val versioned = Scratch.cachedDir(
      "graft-stream-in", Tables.witness(sf, "events"), version = "v1")
    assert(Files.exists(Paths.get(versioned).resolve("_SUCCESS")),
      s"q69 must build its stream input under the v1 key: $versioned")
  }

  test("q76's stream-input cache is derivation-version-keyed (v1)") {
    SparkEntry.queries("q76_streaming_dedup")(SparkTestSession.spark, sf)
      .count()
    val versioned = Scratch.cachedDir(
      "graft-q76-in", Tables.witness(sf, "documents"), version = "v1")
    assert(Files.exists(Paths.get(versioned).resolve("_SUCCESS")),
      s"q76 must build its stream input under the v1 key: $versioned")
  }

  test("cachedDir sweeps aged-out siblings, spares fresh and unrelated dirs (advice r5)") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val sixHoursAgo = System.currentTimeMillis() - 7L * 3600 * 1000
    val witness = java.io.File.createTempFile("advice-witness", ".bin")
    witness.deleteOnExit()
    Files.write(witness.toPath, Array[Byte](1, 2, 3))
    // an aged-out sibling from a long-dead session...
    val stale = new java.io.File(tmp, "advice-sweep-0123456789abcdef")
    assert(stale.mkdir())
    Files.write(new java.io.File(stale, "payload").toPath, Array[Byte](9))
    assert(stale.setLastModified(sixHoursAgo))
    // ...a FRESH sibling with a different key (a live cache for another
    // witness — e.g. another sf dir in the same session) — must survive
    val fresh = new java.io.File(tmp, "advice-sweep-fedcba9876543210")
    assert(fresh.mkdir())
    // ...and an UNRELATED dir sharing the leading string but not the
    // `<prefix>-<16 hex>` shape — must survive the sweep
    val unrelated = new java.io.File(tmp, "advice-sweep-spec")
    assert(unrelated.mkdir() || unrelated.isDirectory)
    try {
      val d1 = Scratch.cachedDir("advice-sweep", witness.getPath)
      assert(!stale.exists(), "aged-out sibling must be swept")
      assert(fresh.exists(), "fresh sibling (live cache) must be spared")
      assert(unrelated.exists(), "non-key-shaped dir must be spared")
      // re-keying on a modified witness keeps the recent old-key cache
      // (no thrash / no mid-use deletion when witnesses alternate)...
      assert(new java.io.File(d1).mkdir())
      Files.write(witness.toPath, Array[Byte](1, 2, 3, 4))
      witness.setLastModified(witness.lastModified() + 5000)
      Scratch.sweepTimes.remove("advice-sweep") // re-arm the sweep throttle
      val d2 = Scratch.cachedDir("advice-sweep", witness.getPath)
      assert(d2 != d1)
      assert(new java.io.File(d1).exists(),
        "recent old-key cache dir must survive the sweep")
      // ...and sweeps it once it ages out
      assert(new java.io.File(d1).setLastModified(sixHoursAgo))
      Scratch.sweepTimes.remove("advice-sweep") // re-arm the sweep throttle
      Scratch.cachedDir("advice-sweep", witness.getPath)
      assert(!new java.io.File(d1).exists(),
        "aged-out old-key cache dir must be swept")
    } finally {
      fresh.delete()
      unrelated.delete()
      witness.delete()
    }
  }

  test("the sweep renames a stale slot aside before deleting it") {
    // the move is one atomic rename of the whole complete copy: the slot
    // path never holds a half-deleted tree
    val prefix = "graft-scratch-retire"
    val slot = new File(tmp, s"$prefix-00112233aabbccdd")
    assert(slot.mkdir())
    Files.writeString(slot.toPath.resolve("part-0"), "complete")
    Files.createFile(slot.toPath.resolve("_SUCCESS"))
    val aside = Scratch.moveAside(slot.toPath)
    assert(aside.isDefined && !slot.exists)
    val moved = aside.get
    assert(moved.getFileName.toString.startsWith(s"${slot.getName}-retired"),
      moved.toString)
    assert(Files.readString(moved.resolve("part-0")) == "complete" &&
      Files.exists(moved.resolve("_SUCCESS")), "the copy moves whole")
    assert(Scratch.moveAside(slot.toPath).isEmpty, "a gone slot is skipped")
    Scratch.deleteTree(moved)
    // through the sweep: a stale slot ends absent, with no renamed copy left
    assert(slot.mkdir())
    Files.createFile(slot.toPath.resolve("_SUCCESS"))
    assert(slot.setLastModified(staleMs))
    val witness = Files.createTempFile("graft-scratch-retire-w", ".parquet")
    Scratch.sweepTimes.remove(prefix)
    Scratch.cachedDir(prefix, witness.toString)
    assert(!slot.exists, "stale slot must be swept")
    assert(!tmp.list().exists(_.startsWith(s"${slot.getName}-retired")),
      "the renamed-aside copy is deleted by the same sweep")
    Files.deleteIfExists(witness)
  }

  test("a leftover stale renamed-aside copy is reclaimed and a fresh one survives") {
    // a crash between the sweep's rename and its delete leaves the
    // renamed copy, which keeps the slot's stale mtime
    val prefix = "graft-scratch-leftover"
    val stale = new File(tmp, s"$prefix-0123456789abcdef-retired1234")
    assert(stale.mkdir())
    Files.writeString(stale.toPath.resolve("part-0"), "leftover")
    assert(stale.setLastModified(staleMs))
    val fresh = new File(tmp, s"$prefix-fedcba9876543210-retired5678")
    assert(fresh.mkdir())
    val witness = Files.createTempFile("graft-scratch-leftover-w", ".parquet")
    Scratch.sweepTimes.remove(prefix)
    Scratch.cachedDir(prefix, witness.toString)
    assert(!stale.exists, "stale renamed-aside copy must be swept")
    assert(fresh.exists, "a fresh renamed-aside copy (a sweep in flight) survives")
    Scratch.deleteTree(fresh.toPath)
    Files.deleteIfExists(witness)
  }

  test("the age sweep reclaims abandoned ensureBuilt stage dirs") {
    // a SIGKILL between staging and publish skips the exit hook; the
    // abandoned '<prefix>-<key>-stage<rand>' dir must be reclaimed by
    // the next same-prefix sweep once stale (the sibling regex alone
    // never matches its name)
    val prefix = "graft-scratch-stagesweep"
    val stale = new File(tmp, s"$prefix-0123456789abcdef-stage777")
    assert(stale.mkdir())
    Files.writeString(stale.toPath.resolve("part-0"), "abandoned")
    assert(stale.setLastModified(staleMs))
    // a FRESH stage (a build in flight right now) must survive the sweep
    val fresh = new File(tmp, s"$prefix-fedcba9876543210-stage888")
    assert(fresh.mkdir())
    val witness = Files.createTempFile("graft-scratch-w", ".parquet")
    Scratch.sweepTimes.remove(prefix)
    Scratch.cachedDir(prefix, witness.toString)
    assert(!stale.exists, "stale abandoned stage must be swept")
    assert(fresh.exists, "an in-flight (fresh) stage must NOT be swept")
    Scratch.deleteTree(fresh.toPath)
    Files.deleteIfExists(witness)
    // the target dir cachedDir named was never created; nothing to clean
  }

  test("cachedDir renews the lease of an in-use cache on every access") {
    val witness = java.io.File.createTempFile("advice-lease-w", ".bin")
    Files.write(witness.toPath, Array[Byte](9, 9, 9))
    try {
      val d = new java.io.File(Scratch.cachedDir("advice-lease", witness.getPath))
      assert(d.mkdir() || d.isDirectory)
      // simulate a cache built long ago but still actively read: without
      // lease renewal a sibling session's sweep would delete it mid-read
      val old = System.currentTimeMillis() - 7L * 3600 * 1000
      assert(d.setLastModified(old))
      Scratch.cachedDir("advice-lease", witness.getPath) // a read access
      assert(d.lastModified > old + 3600 * 1000,
        "read access must refresh lastModified so the cache keeps its lease")
      d.delete()
    } finally witness.delete()
  }

  test("cachedDir keys a DIRECTORY witness by its file contents (lake layout)") {
    // the directory-per-table lake layout resolves through Tables, so a
    // cachedDir witness can be a partitioned directory — its identity
    // must re-key when any part file changes, and stay stable otherwise
    val w = new java.io.File(Scratch.dir("advice-dirw"))
    try {
      val part = new java.io.File(w, "event_date=2024-01-01")
      assert(part.mkdir())
      val f = new java.io.File(part, "part-0.parquet")
      Files.write(f.toPath, Array[Byte](1, 2, 3))
      val d1 = Scratch.cachedDir("advice-dirw", w.getPath)
      assert(d1 == Scratch.cachedDir("advice-dirw", w.getPath),
        "unchanged directory witness must keep its key")
      Files.write(f.toPath, Array[Byte](1, 2, 3, 4)) // length change
      val d2 = Scratch.cachedDir("advice-dirw", w.getPath)
      assert(d1 != d2, "a rewritten part file must re-key the cache")
      new java.io.File(d1).delete(); new java.io.File(d2).delete()
    } finally {
      val walk = Files.walk(w.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p): Unit)
      finally walk.close()
    }
  }

  test("directory-witness identity walk re-keys immediately on a witness change") {
    // the per-call full-lake stat walk is exact: every call re-reads the
    // lake, so a rewritten part file re-keys the very next call
    val lake = Paths.get(Scratch.dir("graft-scratch-lake"))
    val part = lake.resolve("part-0.parquet")
    Files.writeString(part, "v1")
    assert(part.toFile.setLastModified(1700000000000L))
    val prefix = "graft-scratch-wmemo"
    try {
      val key1 = Scratch.cachedDir(prefix, lake.toString)
      Files.writeString(part, "v2-longer")
      assert(part.toFile.setLastModified(1700000001000L))
      val key2 = Scratch.cachedDir(prefix, lake.toString)
      assert(key2 != key1, "witness change must re-key immediately")
    } finally Scratch.deleteTree(lake)
  }

  test("Tables.witness resolves the lake directory when present, else the single file") {
    val root = new java.io.File(Scratch.dir("advice-witness"))
    try {
      assert(Tables.witness(root.getPath, "events")
        == s"${root.getPath}/events.parquet")
      assert(new java.io.File(root, "events").mkdir())
      assert(Tables.witness(root.getPath, "events")
        == new java.io.File(root, "events").toString)
    } finally {
      new java.io.File(root, "events").delete(); root.delete()
    }
  }

  test("cachedDir demands an existing witness (missing => frozen identity)") {
    val e = intercept[IllegalArgumentException](
      graft.Scratch.cachedDir("graft-testwit", "/no/such/file.parquet"))
    assert(e.getMessage.contains("witness"))
  }
}
