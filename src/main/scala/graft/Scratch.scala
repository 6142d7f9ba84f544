package graft

import java.io.File
import java.nio.file.{Files, Path}

/** Scratch-space discipline for the gated queries: per-run temp
  * directories are registered for recursive deletion at JVM exit (a
  * bench looping a build query must not leak gigabytes into /tmp), and
  * derived inputs that are expensive to materialize (the q68 lake
  * layout, q69's stream input) cache in a directory keyed by the
  * SOURCE file's identity — canonical path + length + mtime — so a
  * regenerated source invalidates the cache instead of silently
  * serving stale data.
  */
object Scratch {

  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach(deleteRecursively)
    }, "graft-scratch-cleanup"))
  }

  /** Recursive delete with the walk stream closed; `keepRoot` leaves
    * the directory itself in place (cleared). Throws on failure — the
    * shared strict form behind every tree delete in the library (a
    * silent partial clear would corrupt checksummed layouts).
    *
    * Completeness markers (`_SUCCESS`, at any depth) are deleted in a
    * FIRST pass: the reverse-lexicographic walk would otherwise remove
    * part files before the marker (`p` sorts after `_`), so a crash
    * mid-clear could leave a marker over partial contents — which
    * every marker-guarded cache would then serve as complete. */
  def deleteTree(p: Path, keepRoot: Boolean = false): Unit =
    if (Files.exists(p)) {
      val markers = Files.walk(p)
      try markers
        .filter(f => f.getFileName != null &&
          f.getFileName.toString == "_SUCCESS")
        .forEach(f => { Files.deleteIfExists(f); () })
      finally markers.close()
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => if (!(keepRoot && f == p)) { Files.deleteIfExists(f); () })
      finally walk.close()
    }

  private def deleteRecursively(p: Path): Unit =
    try deleteTree(p)
    catch { case _: Exception => () } // best-effort: exit must not fail

  /** Fresh scratch directory, recursively deleted on JVM exit. */
  def dir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }

  // serializes same-JVM recoverers per slot (threads); the advisory
  // file lock below serializes across JVMs — FileChannel.lock throws
  // OverlappingFileLockException on a second same-JVM attempt, so both
  // layers are needed. The cachedDir sweep's held-lock probe takes the
  // SAME monitor (keyed on the slot path, .lock suffix stripped): on
  // POSIX, closing ANY channel to a file drops every fcntl lock this
  // process holds on it, so the probe must never open a .lock while a
  // same-JVM recovery is in flight — the monitor guarantees it.
  // private[graft]: the sweep-serialization test holds a slot monitor
  // to simulate an in-flight recovery
  private[graft] val recoveryMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomically publish a fully-written staging directory into a
    * [[cachedDir]] slot (two JVMs that both observe the
    * completeness marker missing must not race interleaved part files
    * into one shared dir). Each publisher stages privately ([[dir]])
    * and the FIRST rename wins; a loser adopts the winner's dir (its
    * own stage is reaped by the exit hook). The happy paths — empty
    * slot, or a complete slot to adopt — are lock-free.
    *
    * RECOVERY (a pre-existing slot WITHOUT the marker — a crashed
    * partial write) is serialized on a per-slot monitor (threads) plus
    * an advisory `.lock` file (JVMs), because un-serialized recoverers
    * could quarantine each other's freshly published COMPLETE dir: the
    * marker re-check under the lock is authoritative. The partial is
    * moved ASIDE by atomic rename — never cleared in place, where a
    * crash mid-clear leaves junk (or, pre-markers-first deleteTree, a
    * marker over partial contents) in the live slot — into a sibling
    * named like a [[cachedDir]] key, so even a SIGKILL between the
    * move and its delete leaves only an age-sweepable sibling the next
    * same-prefix cachedDir call reclaims, not a permanent orphan.
    *
    * A recovery that leaves the slot complete deletes its `.lock` while
    * still holding it. That is safe because every recoverer re-checks
    * the marker under its lock: one already waiting on the unlinked
    * inode, or one that locks a fresh `.lock`, finds the slot complete
    * and does nothing. */
  def publishDir(stage: String, target: String,
                 marker: String = "_SUCCESS"): Unit = {
    val src = java.nio.file.Paths.get(stage)
    val dst = java.nio.file.Paths.get(target)
    // the marker may be nested (events/_SUCCESS) but its BASENAME must
    // be _SUCCESS: deleteTree's crash-ordering first pass deletes
    // markers by that name, and a custom basename would re-open the
    // marker-over-partial-contents hole it closes
    require(marker == "_SUCCESS" || marker.endsWith("/_SUCCESS"),
      s"marker basename must be _SUCCESS (got $marker) — " +
        "deleteTree's markers-first crash ordering keys on it")
    require(Files.exists(src.resolve(marker)),
      s"refusing to publish a stage without its $marker marker: $stage")
    def moveErr(): Option[Throwable] =
      try {
        Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        None
      } catch {
        case e: java.nio.file.FileSystemException => Some(e)
      }
    def complete(): Boolean = Files.exists(dst.resolve(marker))
    if (moveErr().isEmpty || complete()) return
    // normalized key: two spellings of one slot path must share the
    // monitor, or the second thread's ch.lock() below throws
    // OverlappingFileLockException instead of waiting
    val monitor = recoveryMonitors
      .computeIfAbsent(dst.toAbsolutePath.normalize().toString,
        _ => new Object)
    monitor.synchronized {
      val lockPath =
        dst.resolveSibling(dst.getFileName.toString + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        // touch BEFORE acquisition: a pre-existing .lock
        // with a >=6h-stale mtime could otherwise be unlinked by a
        // sibling's sweep inside the open→lock→touch window, letting a
        // later recoverer lock a fresh inode alongside this one. The
        // sweep also tryLocks before unlinking (skipping HELD files),
        // so the residual race needs a recovery still in flight 6h
        // after this touch — at which point something else is wrong.
        def touch(): Unit =
          try Files.setLastModifiedTime(lockPath,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis()))
          catch { case _: Exception => () }
        touch()
        val lock = ch.lock()
        try {
          touch() // renew: the wait for a prior holder may have been long
          if (!complete()) { // authoritative re-check under the lock
            if (Files.exists(dst)) {
              val name = dst.getFileName.toString
              val base =
                if (name.matches(".*-[0-9a-f]{16}")) name.dropRight(17)
                else name
              val fresh = f"${ProcessHandle.current().pid() & 0xffffffffL}%08x" +
                f"${System.nanoTime() & 0xffffffffL}%08x"
              val quarantine = dst.resolveSibling(s"$base-$fresh")
              // BOTH steps tolerate the unserialized cachedDir age
              // sweep (it never takes this lock): a >=6h-stale partial
              // can vanish under the move (a vanished dst IS the goal),
              // and the quarantine inherits the stale mtime + a
              // sweepable name, so the sweep may race its deletion —
              // best-effort delete, the sweep reclaims leftovers
              try Files.move(dst, quarantine,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch { case _: java.nio.file.FileSystemException => () }
              try deleteTree(quarantine)
              catch { case _: Exception => () }
            }
            moveErr().foreach { e =>
              if (!complete())
                throw new IllegalStateException(
                  s"could not publish $stage into $target and no " +
                    "complete directory holds the slot", e)
            }
          }
          if (complete()) Files.deleteIfExists(lockPath)
        } finally lock.release()
      } finally ch.close()
    }
  }

  /** Serve-or-build for a [[cachedDir]] slot: if `marker` is present
    * the slot is served as-is; otherwise `write` builds the contents
    * into a PRIVATE stage directory and [[publishDir]] renames the
    * stage into the slot atomically. One helper, so no call site can
    * reintroduce the check-then-write-into-the-shared-slot race (two
    * JVMs that both see the marker missing must each build privately,
    * with exactly one rename winning). `marker` may be nested (`events/_SUCCESS`)
    * for slots whose contents are a directory tree. */
  def ensureBuilt(target: String, marker: String = "_SUCCESS")
                 (write: String => Unit): String = {
    if (!Files.exists(java.nio.file.Paths.get(target).resolve(marker))) {
      val stage = dir(new File(target).getName + "-stage")
      write(stage)
      publishDir(stage, target, marker)
    }
    target
  }

  /** A cache directory keyed by the witness's identity — for a file:
    * canonical path, length, mtime; for a DIRECTORY witness (the
    * directory-per-table lake layout `Tables` resolves): the sorted
    * (relative path, length, mtime) list of every regular file under it,
    * so adding/removing/rewriting any part file re-keys the cache.
    * Returns the path; contents persist across runs in one machine
    * session and rebuild whenever the witness changes. Callers mark
    * completeness themselves (e.g. `_SUCCESS`), or build through
    * [[ensureBuilt]].
    *
    * `version` tags the DERIVATION the cache holds (the
    * witness tracks only the SOURCE, so a changed derivation — a new
    * lag spec, a different projection — must bump its version or the
    * cache keeps serving the stale frame). It folds into the key, not
    * the prefix: old-version dirs stay same-prefix siblings, so the
    * age-gated sweep below reclaims them instead of orphaning them
    * under a prefix nothing requests anymore.
    *
    * A DIRECTORY witness's identity walk stats every regular file under
    * it on every call: exact, so a rewritten lake re-keys at once. Only
    * the gated queries and `Verify` call this, over lake copies of tens
    * of files. */
  def cachedDir(prefix: String, witnessFile: String,
                version: String = ""): String = {
    val f = new File(witnessFile)
    // a MISSING witness has length 0 and mtime 0 — a constant identity
    // that would never re-key, so a regenerated source would keep
    // serving the old cached contents forever; demand a real witness
    require(f.exists,
      s"cachedDir witness does not exist: $witnessFile — without it the " +
        "cache identity cannot track source changes")
    // unversioned callers keep their pre-version key (no cache churn)
    def hashKey(ident: String): String = {
      val keyed = if (version.isEmpty) ident else s"$version|$ident"
      java.security.MessageDigest.getInstance("MD5")
        .digest(keyed.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString
    }
    val key =
      if (f.isDirectory) {
        val root = f.toPath
        val walk = Files.walk(root)
        val parts =
          try {
            val b = Seq.newBuilder[String]
            walk.forEach { p =>
              if (Files.isRegularFile(p))
                b += s"${root.relativize(p)}:${Files.size(p)}:" +
                  s"${Files.getLastModifiedTime(p).toMillis}"
            }
            b.result().sorted
          } finally walk.close()
        hashKey((f.getCanonicalPath +: parts).mkString("|"))
      } else hashKey(s"${f.getCanonicalPath}:${f.length}:${f.lastModified}")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val target = new File(tmp, s"$prefix-$key")
    // best-effort sweep of STALE siblings — same prefix, different key:
    // every witness regeneration re-keys the cache, and without the
    // sweep each old dir would sit in /tmp forever. The strict
    // `<prefix>-<16 hex>` match keeps unrelated dirs (including other
    // prefixes that merely share a leading string) untouched. AGE-GATED:
    // a different key is NOT proof of staleness — distinct witnesses
    // (sf0.01 vs sf0.1 inputs) legitimately hold live sibling caches at
    // once, and an unconditional sweep would delete them mid-use (or
    // thrash rebuilds when scales alternate). Only siblings untouched
    // for 6+ hours — cross-session orphans —
    // are removed.
    // renew this cache's lease on EVERY access (reads included): the
    // sweep below keys staleness on lastModified, and a long-lived
    // session that only reads an old cache must not have it deleted
    // out from under it by a sibling session's sweep
    // a failed touch (foreign-owned dir, odd /tmp permissions) must be
    // VISIBLE: an unrenewable lease means a sibling session's 6h sweep
    // can delete this cache while it is in use
    if (target.isDirectory &&
        !target.setLastModified(System.currentTimeMillis()))
      System.err.println(
        s"[graft.Scratch] WARN: lease renewal (setLastModified) failed " +
        s"for $target — cache is eligible for a sibling session's sweep")
    // THROTTLED (once per prefix per hour per JVM): the sweep lists and
    // stats every /tmp entry, and paying that per cachedDir call — a
    // Verify run makes dozens, a bench loop one per rep — is an
    // O(|/tmp|) stat storm a 6-hour staleness threshold never needs
    val now = System.currentTimeMillis()
    val last = sweepTimes.getOrDefault(prefix, 0L)
    if (now - last > 3600L * 1000 &&
        sweepTimes.replace(prefix, last, now) ||
        sweepTimes.putIfAbsent(prefix, now) == null) {
      val sibling =
        s"^${java.util.regex.Pattern.quote(prefix)}-[0-9a-f]{16}$$".r
      val lockFile =
        s"^${java.util.regex.Pattern.quote(prefix)}-[0-9a-f]{16}\\.lock$$".r
      // ensureBuilt's private stages are createTempDirectory siblings
      // named '<prefix>-<16 hex>-stage<rand>'; a SIGKILL/OOM between
      // staging and publish skips the exit hook, and without this
      // pattern the abandoned stage (multi-GB parquet at sf0.1) would
      // leak in /tmp permanently
      val stageDir =
        s"^${java.util.regex.Pattern.quote(prefix)}-[0-9a-f]{16}-stage.*$$".r
      val staleBefore = now - 6L * 3600 * 1000
      Option(tmp.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName != target.getName &&
          f.lastModified < staleBefore)
        .foreach { f =>
          // publishDir's advisory .lock files are plain files the
          // dir-only sweep used to leak permanently — reclaim both
          if (f.isDirectory &&
              (sibling.matches(f.getName) || stageDir.matches(f.getName)))
            deleteRecursively(f.toPath)
          else if (f.isFile && lockFile.matches(f.getName)) {
            // only unlink a .lock nobody HOLDS: unlinking a
            // held file would let a later recoverer lock a fresh inode
            // alongside the ghost holder — two concurrent recoverers.
            // A cross-JVM holder makes tryLock return null → skip. A
            // same-JVM holder must be excluded WITHOUT opening the file
            // at all: on POSIX, closing any channel to a file drops
            // every fcntl lock this process holds on it, so an
            // open→tryLock(throws Overlapping…)→close probe would
            // silently RELEASE the recoverer's lock (confirmed
            // empirically). publishDir runs its whole
            // recovery under the per-slot monitor, so holding that
            // monitor here guarantees no same-JVM channel to this
            // .lock exists while we probe.
            val p = f.toPath.toAbsolutePath.normalize()
            val slotKey = p.resolveSibling(
              p.getFileName.toString.stripSuffix(".lock")).toString
            val monitor =
              recoveryMonitors.computeIfAbsent(slotKey, _ => new Object)
            monitor.synchronized {
              try {
                val ch = java.nio.channels.FileChannel.open(p,
                  java.nio.file.StandardOpenOption.WRITE)
                try {
                  val l = ch.tryLock()
                  if (l != null) try {
                    // re-stat UNDER the lock: a cross-JVM recoverer
                    // touches mtime BEFORE its lock attempt, so a
                    // fresh mtime here flags a recovery in its
                    // open→touch→lock window even though the
                    // listFiles-time stat said stale — skip it. The
                    // residual window is a cross-JVM recoverer
                    // between open and touch (microseconds), and its
                    // worst case stays a wasted rebuild, not
                    // corruption (all stages derive from one witness).
                    if (f.lastModified < staleBefore) { f.delete(): Unit }
                  } finally l.release()
                } finally ch.close()
              } catch { case _: Exception => () } // held or vanished: skip
            }
          }
        }
    }
    target.getPath
  }

  // per-prefix last-sweep stamps (JVM-local; see the throttle above).
  // private[graft]: sweep-behavior tests clear a prefix's stamp to
  // re-arm the throttle between phases
  private[graft] val sweepTimes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
}
