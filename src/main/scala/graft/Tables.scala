package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * Two layouts resolve per table, directory first:
  *
  *   - `dir/<name>/` — the 100 TB lake layout: directory-per-table, many
  *     files, Hive-style partition columns (events partitions on
  *     `event_date`). Spark discovers partitions natively; date-bounded
  *     reads prune at the scan ([[partitionedEvents]] /
  *     `Providers.partitionedParquet` put the partition predicate in the
  *     plan — verified by PartitionedSourceSpec's PartitionFilters
  *     assertion).
  *   - `dir/<name>.parquet` — the driver's single-file test layout.
  *
  * All queries read through here so the layout choice never touches
  * operator code.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimensions that should be broadcast in joins at any scale. */
  val broadcastable: Set[String] = Set("region", "nation")

  /** DERIVED Hive-partition columns of the lake layout, per table —
    * storage metadata (written by [[writeHybridLake]] /
    * [[writePartitionedEvents]]), not table schema. Directory reads drop
    * them so both layouts serve the IDENTICAL frame: partitionBy appends
    * the derived column after the data columns, so the drop also
    * restores the single-file column order. Partition-pruned scans
    * ([[partitionedEvents]], `Providers.partitionedParquet`) read the
    * lake directly and keep the column — the predicate needs it. */
  private val lakePartitionCols: Map[String, String] =
    Map("events" -> "event_date", "documents" -> "part_lang")

  /** `events.ts` is TIMESTAMP(NANOS) parquet, which Spark has no native
    * type for. Read it as raw nanos and truncate to microseconds —
    * exactly what DuckDB (µs-precision timestamps) does, so the oracle
    * compare sees identical instants. The conf is set unconditionally
    * before every read: it is idempotent, and a guarded once-only set
    * would leave a window where a concurrent first reader sees it unset
    * and fails on the nanos footer. The Long→timestamp rewrite applies
    * only to `events` — any future table with an epoch-seconds Long `ts`
    * column must opt in explicitly.
    */
  /** Resolved-plan memo (metadata caching): every
    * [[apply]] call previously re-ran `spark.read.parquet` — a parquet
    * footer/schema-inference JOB (~25-50 ms) plus a directory probe —
    * and the bench pays that per table per rep across 91 queries. The
    * memo holds the resolved lazy DataFrame (a PLAN: logical scan +
    * schema + file index), NOT data — every execution still reads the
    * parquet inputs, exactly like Spark's own catalog-table resolution
    * and file-status caches. Keys carry the witness file's
    * (mtime, length) so a rewritten table resolves fresh (0,0 on
    * non-local schemes — the memo then keys on path only, matching the
    * local-FS-only design of [[witness]]); the WeakHashMap keying lets
    * stopped sessions (test suites build many) be collected instead of
    * pinning their plans for the JVM lifetime. */
  private val planMemo = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, String, Long, Long), DataFrame]]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val w = new java.io.File(witness(dir, name))
    val key = (dir, name, w.lastModified, w.length)
    val memo = planMemo.synchronized {
      var m = planMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        planMemo.put(spark, m)
      }
      m
    }
    memo.getOrElseUpdate(key, resolve(spark, dir, name))
  }

  private def resolve(spark: SparkSession, dir: String, name: String): DataFrame = {
    // scheme-aware directory probe (java.io.File would be always-false
    // for s3://, hdfs://…, defeating the lake layout off local disk)
    val asDir = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val isDir =
      try asDir.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(asDir).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val raw = if (isDir) spark.read.parquet(asDir.toString)
              else spark.read.parquet(s"$dir/$name.parquet")
    val df =
      if (!isDir) raw
      else lakePartitionCols.get(name)
        .filter(raw.schema.fieldNames.contains).map(raw.drop)
        .getOrElse(raw)
    if (name == "events" &&
        df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" &&
        df.schema.fields.exists(f => f.name == "ts" && f.dataType == TimestampNTZType)) {
      // µs-precision rewrites of the table (the 10x scale probe) come out
      // as TIMESTAMP_NTZ; the NTZ→TZ cast is instant-preserving ONLY under
      // a UTC session, so a mis-pinned session must fail loudly here
      // rather than silently shift every timestamp
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC", s"events NTZ->TIMESTAMP cast requires " +
        s"spark.sql.session.timeZone=UTC, got $tz")
      df.withColumn("ts", col("ts").cast(TimestampType))
    }
    else df
  }

  /** Register every table as a temp view (for spark.sql users/tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** The locally-resolved path of a table under either layout —
    * `dir/<name>/` (lake) if it exists, else `dir/<name>.parquet` — for
    * use as a [[graft.Scratch.cachedDir]] witness. Hard-coding the
    * `.parquet` suffix at a cachedDir call site would make every
    * derived-artifact query fail its witness check on the directory
    * layout [[apply]] resolves fine. Local-FS only by design:
    * cachedDir's derived artifacts (a written lake, a Derby seed, a
    * stream input) are local-machine caches. */
  def witness(dir: String, name: String): String = {
    val d = new java.io.File(s"$dir/$name")
    if (d.isDirectory) d.toString else s"$dir/$name.parquet"
  }

  /** Materialize `events` in the lake layout: directory-per-table,
    * Hive-partitioned on `event_date` (UTC day of `ts`), multiple files
    * per partition at scale. This is the write side of the 100 TB
    * contract — a real deployment's ingest writes this shape once and
    * every date-bounded read prunes to the touched days. */
  def writePartitionedEvents(spark: SparkSession, srcDir: String,
                             outPath: String): Unit = {
    // event_date derives via the SESSION timezone while the read side
    // prunes with UTC ISO dates — a mis-pinned session would silently
    // misfile boundary rows into the neighboring day partition
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"partitioned-events date derivation requires " +
        s"spark.sql.session.timeZone=UTC, got $tz")
    apply(spark, srcDir, "events")
      .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("event_date").parquet(outPath)
  }

  /** Materialize a HYBRID lake copy of an sf dir (the layout-parity
    * probe's shape, now a harness mode — `SPARK_GRAFT_LAYOUT=partitioned`
    * in [[Verify]]): `events` and `documents` as Hive-partitioned
    * directory-per-table trees (`event_date=` day partitions; `part_lang=`
    * language partitions — a DERIVED copy of `lang`, so the drop on read
    * restores the exact single-file schema and column order), the other
    * eight tables byte-identical single-file copies. Every query then
    * reads the 100 TB deployment's layout through the same [[apply]]
    * resolution, and the driver's DuckDB compare (against the ORIGINAL
    * single-file tables) becomes a full-suite layout-parity gate: a
    * partition-column type coercion, a pruning bug, or an order/schema
    * drift fails 91 oracle rows instead of waiting for a hand-run probe.
    * The target is cleared first — a half-written lake from a crashed
    * run must rebuild, not serve a partial table. */
  def writeHybridLake(spark: SparkSession, srcDir: String,
                      outRoot: String): Unit = {
    Scratch.deleteTree(java.nio.file.Paths.get(outRoot), keepRoot = true)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outRoot))
    writePartitionedEvents(spark, srcDir, s"$outRoot/events")
    apply(spark, srcDir, "documents")
      .withColumn("part_lang", col("lang"))
      .write.mode("overwrite").partitionBy("part_lang")
      .parquet(s"$outRoot/documents")
    all.filterNot(lakePartitionCols.contains).foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$srcDir/$n.parquet"),
        java.nio.file.Paths.get(s"$outRoot/$n.parquet"))
    }
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$outRoot/_SUCCESS")): Unit
  }

  /** Date-bounded scan of a partitioned events layout: the [start, end)
    * ISO-instant bounds become an `event_date` PARTITION predicate (the
    * end day stays included — a ts upper bound mid-day still needs that
    * day's files; the caller's ts filter trims rows). String compare on
    * yyyy-MM-dd is chronological. Partition pruning leaves untouched
    * days unread — the scan's PartitionFilters, not a post-scan filter. */
  def partitionedEvents(spark: SparkSession, path: String,
                        startIso: String, endIso: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path)
      .filter(col("event_date") >= lit(startIso.take(10)) &&
        col("event_date") <= lit(endIso.take(10)))
  }
}
