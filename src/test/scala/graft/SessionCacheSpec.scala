package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.data.TimeSeries

/** Ownership of shared session caches: [[SessionCache]] leases, the
  * n_samples_threshold path's reference, and their interplay across
  * plan-identical frames (CacheManager keeps ONE entry per canonical
  * plan, so every claimant must count). */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("assembled-frame cache ownership is refcounted across plan-identical frames") {
    val long = Seq.tabulate(40)(i => ("t" + (i % 2), i.toDouble))
      .toDF("tag", "value")
    // two plan-IDENTICAL frames from different objects: CacheManager
    // dedups the cache by canonical plan, so ownership must refcount
    val df1 = long.select($"tag", $"value")
    val df2 = long.select($"tag", $"value")
    val rel1 = SessionCache.acquire(df1)
    assert(df1.storageLevel != StorageLevel.NONE)
    val rel2 = SessionCache.acquire(df2)
    rel1.close()
    // the first release must NOT yank the cache from the second owner
    assert(df2.storageLevel != StorageLevel.NONE)
    rel2.close()
    assert(df1.storageLevel == StorageLevel.NONE)
    // a frame the CALLER cached is used but never claimed or released
    val ext = long.select($"value").persist()
    try {
      SessionCache.acquire(ext).close()
      assert(ext.storageLevel != StorageLevel.NONE)
    } finally ext.unpersist(): Unit
  }

  test("close is idempotent: a second close never returns a sibling's reference") {
    val df = spark.range(6).toDF("bucket_ts")
      .withColumn("q", col("bucket_ts") * lit(11.0))
    val a = SessionCache.acquire(df)
    val b = SessionCache.acquire(df)
    a.close(); a.close()
    assert(df.storageLevel != StorageLevel.NONE,
      "a's double close must not release b's reference")
    b.close()
    assert(df.storageLevel == StorageLevel.NONE)
    assert(!SessionCache.isRegistered(df))
  }

  test("refcount keys distinguish plans sharing a truncated toString prefix (advice: medium)") {
    // plan toString truncates past spark.sql.debug.maxToStringFields
    // (default 25) to "... N more fields": these two 31-column frames
    // share their first 25 columns and differ only in the last — a
    // string-keyed refcount map collides them (second claimant never
    // persists its own frame; interleaved releases unpersist the wrong
    // one); the canonicalized-plan key must keep them separate
    val base = spark.range(5)
    val df1 = base.select(col("id") +: (1 to 30).map(i => lit(i).as(s"c$i")): _*)
    val df2 = base.select(col("id") +:
      ((1 to 29).map(i => lit(i).as(s"c$i")) :+ lit(999).as("c30")): _*)
    val r1 = SessionCache.acquire(df1.toDF())
    val r2 = SessionCache.acquire(df2.toDF())
    assert(df1.storageLevel != StorageLevel.NONE, "df1 claimed + persisted")
    assert(df2.storageLevel != StorageLevel.NONE,
      "df2 must persist its OWN frame, not alias df1's refcount entry")
    r1.close()
    assert(df1.storageLevel == StorageLevel.NONE)
    assert(df2.storageLevel != StorageLevel.NONE,
      "df1's release must not yank df2's cache")
    r2.close()
    assert(df2.storageLevel == StorageLevel.NONE)
  }

  test("threshold-cached assembly is claimed and released by the build path (advice: medium)") {
    val df = spark.range(10).toDF("bucket_ts")
      .withColumn("v", col("bucket_ts") * lit(2.0))
    // the build's lease IS the threshold count's reference
    val lease = TimeSeries.leaseMinSamples(df, 5)
    assert(lease.df.storageLevel != StorageLevel.NONE,
      "threshold path persists around its count")
    lease.close()
    assert(lease.df.storageLevel == StorageLevel.NONE,
      "build release must unpersist the threshold-path cache")
  }

  test("a failed threshold unregisters and unpersists (no stale claim)") {
    val df = spark.range(3).toDF("bucket_ts")
      .withColumn("w", col("bucket_ts") + lit(1.0))
    intercept[TimeSeries.InsufficientDataError] {
      TimeSeries.requireMinSamples(df, 1000)
    }
    assert(df.storageLevel == StorageLevel.NONE)
    assert(!SessionCache.isRegistered(df),
      "the failure path must remove its registration")
  }

  test("a build cannot yank a plan-identical direct caller's threshold cache (review fix)") {
    val df = spark.range(12).toDF("bucket_ts")
      .withColumn("z", col("bucket_ts") * lit(5.0))
    // direct caller borrows first and HOLDS the frame...
    val direct = TimeSeries.requireMinSamples(df, 3)
    assert(direct.storageLevel != StorageLevel.NONE)
    // ...then a plan-identical build runs: its getData path leases too
    val viaBuild = TimeSeries.leaseMinSamples(direct, 3)
    viaBuild.close() // build finishes
    assert(direct.storageLevel != StorageLevel.NONE,
      "the build's release must return ITS borrow, not unpersist the " +
        "direct caller's live cache")
    TimeSeries.releaseAssembled(direct)
    assert(direct.storageLevel == StorageLevel.NONE,
      "the last borrower's release unpersists")
  }

  test("releaseAssembled frees a direct caller's threshold cache; external caches stay external") {
    val direct = spark.range(7).toDF("bucket_ts")
      .withColumn("x", col("bucket_ts") * lit(3.0))
    val cached = TimeSeries.requireMinSamples(direct, 2)
    assert(cached.storageLevel != StorageLevel.NONE)
    TimeSeries.releaseAssembled(cached)
    assert(cached.storageLevel == StorageLevel.NONE)
    // a frame some OUTSIDE caller cached is used without claiming and
    // build release stays a no-op (their unpersist, their timing)
    val ext = spark.range(4).toDF("bucket_ts")
      .withColumn("y", col("bucket_ts") - lit(1.0))
    ext.persist()
    try {
      SessionCache.acquire(ext.toDF()).close()
      assert(ext.storageLevel != StorageLevel.NONE,
        "externally-owned cache must survive the build's release")
      TimeSeries.releaseAssembled(ext.toDF())
      assert(ext.storageLevel != StorageLevel.NONE,
        "releaseAssembled must not touch frames it never cached")
    } finally ext.unpersist(): Unit
  }

  test("a threshold-0 build cannot steal a threshold sibling's reference (r10 review)") {
    // Build A (n_samples_threshold = 5): its getData chain takes the
    // registry reference. Build B, plan-identical but threshold 0 (the
    // config DEFAULT): it must take its OWN reference — the dual-map
    // design handed B a release of A's borrow, unpersisting A's cache
    // mid-CV while A's own later release became a silent no-op
    val df = spark.range(9).toDF("bucket_ts")
      .withColumn("s", col("bucket_ts") * lit(7.0))
    val a = TimeSeries.requireMinSamples(df, 5)
    assert(a.storageLevel != StorageLevel.NONE)
    val relB = SessionCache.acquire(a) // B
    relB.close() // B finishes first
    assert(a.storageLevel != StorageLevel.NONE,
      "B's release must return B's own reference, never A's")
    TimeSeries.releaseAssembled(a) // A's finally
    assert(a.storageLevel == StorageLevel.NONE)
  }

  test("a threshold caller joins a build-owned cache instead of classifying it external (r10 review)") {
    // reverse hole: a threshold-0 build persists first; a plan-identical
    // threshold caller must CO-OWN that cache (same count), not classify
    // it external — otherwise the build's release unpersists it from
    // under the live direct caller
    val df = spark.range(11).toDF("bucket_ts")
      .withColumn("t", col("bucket_ts") + lit(4.0))
    val relBuild = SessionCache.acquire(df) // threshold-0 build
    assert(df.storageLevel != StorageLevel.NONE)
    val direct = TimeSeries.leaseMinSamples(df, 2)
    relBuild.close() // build finishes
    assert(SessionCache.isRegistered(direct.df),
      "a registry-owned cache must grant the caller a reference")
    assert(direct.df.storageLevel != StorageLevel.NONE,
      "the build's release must not yank the direct caller's live cache")
    direct.close()
    assert(direct.df.storageLevel == StorageLevel.NONE)
  }

  test("a registered cache dropped by outside code is repaired on the next claim (r10 review)") {
    // some outside code unpersists a registry-owned cache (the
    // clearCache-between-phases shape): the registry still counts a
    // reference, so the next claimant must RE-PERSIST, not hand out a
    // cache that no longer exists (silent per-action recompute)
    val df = spark.range(8).toDF("bucket_ts")
      .withColumn("u", col("bucket_ts") * lit(9.0))
    val cached = TimeSeries.requireMinSamples(df, 2)
    assert(cached.storageLevel != StorageLevel.NONE)
    cached.unpersist() // outside interference, registry count still 1
    assert(cached.storageLevel == StorageLevel.NONE)
    val rel = SessionCache.acquire(cached)
    assert(cached.storageLevel != StorageLevel.NONE,
      "the claim must repair the externally-dropped cache")
    rel.close()
    assert(cached.storageLevel != StorageLevel.NONE,
      "the original reference still holds the repaired cache")
    TimeSeries.releaseAssembled(cached)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("parallel plan-identical getData calls don't yank each other's resample cache, and release it") {
    // two builds of the SAME dataset config run concurrently
    // (Project.buildAll's dataset-sharing shape): CacheManager dedups
    // their plan-identical resample persists into ONE entry, so a bare
    // persist/unpersist pair let the first finisher's finally drop the
    // cache mid-assembly under the second — the scoped cache takes
    // leases instead. Both calls must succeed, and after the wide-frame
    // references are returned nothing may stay cached.
    val long = Seq.tabulate(400)(i =>
      ("t" + (i % 2), i.toLong * 60, i.toDouble)).toDF("tag", "epoch", "v")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"v")
    val cfg = TimeSeries.DatasetConfig(
      tags = Seq("t0", "t1"), resolution = "10T",
      nSamplesThreshold = 5)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = TimeSeries.getData(long, "tag", "ts", "v", cfg)
        }))
      val wides = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      wides.foreach(w => assert(w.count() > 0))
      // plan-identical wide frames share ONE refcounted cache entry:
      // while either reference is outstanding the frame stays cached
      assert(wides.forall(_.storageLevel != StorageLevel.NONE))
      // return the threshold path's wide-frame references (one per call)
      TimeSeries.releaseAssembled(wides.head)
      assert(wides.last.storageLevel != StorageLevel.NONE,
        "first release must not yank the sibling's shared cache")
      TimeSeries.releaseAssembled(wides.last)
      assert(wides.forall(_.storageLevel == StorageLevel.NONE),
        "last release unpersists the shared wide cache")
    } finally pool.shutdownNow(): Unit
  }

  test("DiffAnomaly.fit and fitKfcv never yank a caller's plan-identical indexed frame") {
    // the CV fit leases the frame CrossValidate.withRowIndexCounted
    // builds; a caller holding a plan-identical frame (same wide input,
    // same order column) shares ONE CacheManager entry with it, so a
    // bare unpersist in the fit would drop the caller's cache
    val wide = spark.range(48).toDF("bucket_ts")
      .select($"bucket_ts", ($"bucket_ts" * 0.5).as("tx"),
        ($"bucket_ts" * 1.5 + 2.0).as("ty"))
    val (indexed, _) = graft.ml.CrossValidate
      .withRowIndexCounted(wide, Seq(col("bucket_ts")))
    val lease = SessionCache.acquire(indexed)
    try {
      assert(indexed.storageLevel != StorageLevel.NONE)
      val base = new graft.ml.DiffAnomaly.TrendReconstructor("bucket_ts", 0L)
      graft.ml.DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts", base,
        nSplits = 3)
      assert(indexed.storageLevel != StorageLevel.NONE,
        "fit must return its reference, not unpersist the shared entry")
      graft.ml.DiffAnomaly.fitKfcv(wide, Seq("tx", "ty"), "bucket_ts", base,
        nSplits = 3, window = 6)
      assert(indexed.storageLevel != StorageLevel.NONE,
        "fitKfcv must return its reference, not unpersist the shared entry")
    } finally lease.close()
    assert(indexed.storageLevel == StorageLevel.NONE)
    assert(!SessionCache.isRegistered(indexed))
  }
}
