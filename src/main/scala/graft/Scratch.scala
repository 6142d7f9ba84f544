package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

/** Scratch-space discipline for the gated queries: per-run temp
  * directories are registered for recursive deletion at JVM exit (a
  * bench looping a build query must not leak gigabytes into /tmp), and
  * derived inputs that are expensive to materialize (the q68 lake
  * layout, the stream inputs, q73's Derby seed) cache in a [[cachedDir]]
  * slot keyed by the SOURCE's identity, so a regenerated source
  * invalidates the cache instead of silently serving stale data.
  *
  * One invariant keeps a slot safe to serve across threads and JVMs: a
  * slot path is either absent or holds one complete copy that carries
  * its marker. Every change to a slot is one atomic rename of a whole
  * directory — [[publishDir]] moves a complete stage in, and the age
  * sweep moves a stale slot out to a sweepable name before deleting it.
  * Nothing writes into or clears a slot in place.
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
    * silent partial clear would corrupt checksummed layouts). */
  def deleteTree(p: Path, keepRoot: Boolean = false): Unit =
    if (Files.exists(p)) {
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

  /** Publish a fully-written stage directory into a [[cachedDir]] slot
    * by one atomic rename, so the slot goes from absent to complete in
    * one step. Of racing publishers the first rename wins; a loser finds
    * the winner's complete copy and adopts it (its own stage is reaped
    * by the exit hook). A slot that exists without its marker breaks
    * the invariant and can only come from outside this code, so the
    * publish refuses it loudly instead of repairing it. */
  private[graft] def publishDir(stage: String, target: String,
                                marker: String = "_SUCCESS"): Unit = {
    val src = java.nio.file.Paths.get(stage)
    val dst = java.nio.file.Paths.get(target)
    require(Files.exists(src.resolve(marker)),
      s"refusing to publish a stage without its $marker marker: $stage")
    try Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException if Files.exists(dst) =>
        if (!Files.exists(dst.resolve(marker)))
          throw new IllegalStateException(
            s"cache slot $target exists without its $marker marker; this " +
              "code never leaves a slot in that state — delete the slot", e)
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

  /** Tags the slot format every [[cachedDir]] key folds in. Slots
    * written by builds with another format are never a target, only
    * stale same-prefix siblings the age sweep reclaims. */
  private val SlotFormat = "atomic-slot-1"

  /** A cache directory keyed by the witness's identity — for a file:
    * canonical path, length, mtime; for a DIRECTORY witness (the
    * directory-per-table lake layout `Tables` resolves): the sorted
    * (relative path, length, mtime) list of every regular file under it,
    * so adding/removing/rewriting any part file re-keys the cache.
    * Returns the path; contents persist across runs in one machine
    * session and rebuild whenever the witness changes. Callers build the
    * slot through [[ensureBuilt]].
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
    def hashKey(ident: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$SlotFormat|$version|$ident".getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString
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
    // for 6+ hours — cross-session orphans — are removed.
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
      val quoted = java.util.regex.Pattern.quote(prefix)
      val sibling = s"^$quoted-[0-9a-f]{16}$$".r
      // ensureBuilt's private stages ('<prefix>-<16 hex>-stage<rand>')
      // and slots the sweep renamed aside ('…-retired<rand>'): a
      // SIGKILL/OOM skips the exit hook or the delete after the rename,
      // and without this pattern the copy (multi-GB parquet at sf0.1)
      // would leak in /tmp permanently
      val aside = s"^$quoted-[0-9a-f]{16}-(stage|retired).*$$".r
      val staleBefore = now - 6L * 3600 * 1000
      Option(tmp.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName != target.getName &&
          f.lastModified < staleBefore)
        .foreach { f =>
          if (aside.matches(f.getName)) deleteRecursively(f.toPath)
          else if (sibling.matches(f.getName)) retire(f.toPath)
        }
    }
    target.getPath
  }

  /** Retire a stale slot: [[moveAside]], then delete the moved copy.
    * The slot path goes from complete to absent in one step; a crash
    * mid-delete leaves only the renamed copy, which keeps its stale
    * mtime for the next sweep. */
  private def retire(slot: Path): Unit =
    moveAside(slot).foreach(deleteRecursively)

  /** Rename `slot` to a unique `<slot>-retired<uuid>` sibling the sweep
    * matches; None when the slot is already gone (another sweep won). */
  private[graft] def moveAside(slot: Path): Option[Path] = {
    val aside = slot.resolveSibling(
      s"${slot.getFileName}-retired${java.util.UUID.randomUUID()}")
    try {
      Files.move(slot, aside, StandardCopyOption.ATOMIC_MOVE)
      Some(aside)
    } catch { case _: java.nio.file.FileSystemException => None }
  }

  // per-prefix last-sweep stamps (JVM-local; see the throttle above).
  // private[graft]: sweep-behavior tests clear a prefix's stamp to
  // re-arm the throttle between phases
  private[graft] val sweepTimes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
}
