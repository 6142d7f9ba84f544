package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryException}

/** K6 forwarder analog: the reference's client forwards resampled
  * sensors + predictions into InfluxDB measurements
  * (`tests/gordo/client/test_client.py:304-338`). The streaming-native
  * form is a `foreachBatch` sink — each micro-batch lands as an
  * idempotent append keyed by the batch id, and swapping the parquet
  * write for a JDBC/line-protocol call changes only the lambda body.
  */
object Forwarder {

  /** Forward a (possibly scored) stream to a parquet measurement
    * directory. Each micro-batch lands in its own `batch_id=N`
    * subdirectory with OVERWRITE mode, so a replay after a crash between
    * write and checkpoint commit rewrites the same directory instead of
    * appending duplicates — that is what makes restarts exactly-once.
    * Readers use `spark.read.parquet(outDir)` (partition discovery).
    *
    * The sink is FENCED to its checkpoint: the query id is recorded in
    * `_graft_query_id` at the sink root (underscore-prefixed — partition
    * discovery ignores it, like `_SUCCESS`). Restarting with the SAME
    * checkpoint resumes cleanly; pointing a FRESH checkpoint (or a
    * different query's) at a sink that already holds batch dirs is
    * rejected at start — batch ids would restart at 0 and overwrite only
    * the low-numbered dirs, silently interleaving new data with stale
    * high-numbered dirs from the old run. Clear the sink (or pick a new
    * one) when reprocessing from scratch.
    *
    * Fence ordering and portability:
    *  - the marker is written BEFORE any `batch_id=` dir can exist — at
    *    start when the checkpoint already has metadata (a restart), and
    *    inside the first `foreachBatch` otherwise (Spark has committed
    *    `<checkpoint>/metadata` by the time any batch runs) — so a crash
    *    can never leave batch dirs without a marker;
    *  - a marker-absent sink is LEGACY-ADOPTED (marker written from the
    *    checkpoint id) ONLY when the batch dirs line up with the
    *    checkpoint's commit log BOTH ways: no dir above the max
    *    committed batch AND the max committed batch's dir present — a
    *    pre-fencing sink of THIS query restarts cleanly, while a
    *    foreign sink paired with an unrelated checkpoint (high dirs
    *    the log can't explain, or a log whose newest batch the sink
    *    never wrote — a merely-OLDER foreign sink) is rejected;
    *  - all sink/checkpoint path ops go through the Hadoop FileSystem
    *    API resolved from each path's own scheme, so an `hdfs://` or
    *    `s3a://` outDir (which the parquet write already supports) is
    *    fenced for real — the previous `java.io` calls silently
    *    no-fenced remote sinks and dropped the marker in a stray local
    *    directory.
    *
    * Checkpoint I/O: unless the caller already named a manager in
    * `spark.sql.streaming.checkpointFileManagerClass`, this query runs
    * with [[LocalCheckpointFileManager]]; the key is set on the stream's
    * session for the query's start and unset again once the query has
    * initialized, so later streams on that session do not inherit it.
    * Spark's default manager pays ~30 ms of Hadoop local-filesystem work
    * per checkpoint file, and a stateful micro-batch writes one per log
    * plus two per state store; java.nio writes the same files, sidecars
    * included, in well under a millisecond each. Every non-`file:`
    * checkpoint still goes to Spark's own manager. */
  def toParquet(stream: DataFrame, outDir: String,
                checkpointDir: String): StreamingQuery = {
    val hconf = stream.sparkSession.sessionState.newHadoopConf()
    val outPath = new Path(outDir)
    val sinkFs = outPath.getFileSystem(hconf)
    val marker = new Path(outPath, "_graft_query_id")
    val ckptMeta = new Path(new Path(checkpointDir), "metadata")
    val ckptFs = ckptMeta.getFileSystem(hconf)

    def readUtf8(fs: FileSystem, p: Path): String = {
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    }
    def writeMarker(id: String): Unit = {
      // write-temp-then-rename: a crash mid-create+write would leave a
      // TRUNCATED marker over real batch dirs — recorded id "" matches
      // neither the owner nor the marker-absent adopt path, locking the
      // rightful query out of its own sink until manual cleanup. The
      // rename goes through FileContext Rename.OVERWRITE, which is
      // atomic only where the AbstractFileSystem implements
      // overwrite-rename natively (HDFS rename2); on the local FS the
      // default renameInternal still deletes dst then renames, so the
      // marker-less crash window is NARROWED there, not closed — a
      // crash inside it downgrades ownership to the weaker
      // max-committed-batch adopt heuristic, never to silent
      // corruption. Only where no AbstractFileSystem binding exists
      // for the scheme (most object stores) does it fall back to
      // explicit delete+rename — those stores rename by copy anyway,
      // so no atomicity is lost that the FS ever offered.
      sinkFs.mkdirs(outPath)
      val tmp = new org.apache.hadoop.fs.Path(outPath,
        s"._graft_query_id.$id.tmp")
      val out = sinkFs.create(tmp, /*overwrite=*/ true)
      try out.write(id.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val qTmp = sinkFs.makeQualified(tmp)
      val qMarker = sinkFs.makeQualified(marker)
      try
        org.apache.hadoop.fs.FileContext.getFileContext(qMarker.toUri, hconf)
          .rename(qTmp, qMarker, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          sinkFs.delete(marker, false)
          if (!sinkFs.rename(tmp, marker))
            throw new IllegalStateException(
              s"could not move fence marker into place: $tmp -> $marker")
      }
    }

    val batchDirNames: Seq[String] =
      if (!sinkFs.exists(outPath)) Nil
      else sinkFs.listStatus(outPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .map(_.getPath.getName)
    val sinkBatchIds: Seq[Long] =
      batchDirNames.flatMap(_.stripPrefix("batch_id=").toLongOption)
    // ANY batch_id-prefixed dir is evidence of an existing sink — if
    // unparseable names (a hand-renamed `batch_id=3.bak`, a copy
    // suffix) were dropped from the evidence, a sink holding ONLY such
    // dirs would read as empty, the stale marker would be deleted, and
    // fresh batches would silently interleave with the stale data the
    // fence exists to reject loudly
    val existingBatches = batchDirNames.nonEmpty
    // the query id is stable across restarts of one checkpoint and
    // recorded in <checkpoint>/metadata as {"id":"<uuid>"} — ONE parse
    // shared by the start-time fence and the first-batch marker write,
    // so a format-handling fix can never reach one and miss the other
    def readCkptId(): Option[String] =
      if (!ckptFs.exists(ckptMeta)) None
      else """"id"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(readUtf8(ckptFs, ckptMeta)).map(_.group(1))
    val ckptId: Option[String] = readCkptId()
    // highest batch id the checkpoint has COMMITTED (one file per batch
    // in <checkpoint>/commits) — the evidence that this checkpoint's
    // query is the one that wrote a marker-less sink
    def maxCommitted: Option[Long] = {
      val commits = new Path(new Path(checkpointDir), "commits")
      if (!ckptFs.exists(commits)) None
      else ckptFs.listStatus(commits).toSeq
        .flatMap(s => s.getPath.getName.toLongOption).maxOption
    }
    if (existingBatches) {
      val recorded =
        if (sinkFs.exists(marker)) Some(readUtf8(sinkFs, marker).trim)
        else None
      // adoptable = the commit log both ACCOUNTS FOR every batch dir
      // (none above max committed) and is COVERED by them (the newest
      // committed batch's dir is present — every committed batch ran
      // foreachBatch and wrote its dir; retention pruning only removes
      // OLD dirs). "All ids ≤ max committed" alone cannot distinguish
      // this query's pre-fencing sink from a FOREIGN sink that is
      // merely older — whose low-numbered dirs would never be rewritten
      // (batch ids are monotonic) and would silently interleave with
      // this query's output under an adopted marker.
      // max == mc is the whole two-way check: it fails when any dir
      // sits above the committed range AND when the newest committed
      // batch's dir is missing
      // an unparseable batch_id dir is NOT accounted for by the commit
      // log (and guards the .max against the all-unparseable case) —
      // such a sink always takes the loud-reject branch below
      val adoptable = recorded.isEmpty && ckptId.isDefined &&
        sinkBatchIds.size == batchDirNames.size &&
        sinkBatchIds.nonEmpty &&
        maxCommitted.exists(sinkBatchIds.max == _)
      (recorded, ckptId) match {
        case (Some(r), Some(c)) if r == c => // clean same-checkpoint restart
        case (None, Some(c)) if adoptable =>
          // legacy adopt: a marker-less sink whose batch dirs line up
          // with the checkpoint's commit log = a sink written by THIS
          // query before fencing existed (or a crash in the old
          // post-start marker window); adopt rather than force a wipe.
          // A sink with an UNCOMMITTED trailing dir (crash between
          // write and commit: max = committed + 1) still rejects —
          // loud, and the one manual-cleanup case the adopt path
          // accepts to keep the foreign-sink window narrow.
          writeMarker(c)
        case _ =>
          throw new IllegalArgumentException(
            s"sink $outDir already holds batch_id dirs from " +
              s"${recorded.fold("an unknown query")(id => s"query $id")} but " +
              s"checkpoint $checkpointDir is ${ckptId.fold("fresh")(id => s"query $id")}" +
              (if (recorded.isEmpty && ckptId.isDefined)
                " whose commit log does not line up with the sink's batch " +
                  "ids (dirs above the committed range, or the newest " +
                  "committed batch's dir missing)"
              else "") +
              " — a restarted batch counter would interleave new dirs with " +
              "stale ones; clear the sink directory (or use a new one) to reprocess")
      }
    } else ckptId match {
      case Some(c) => writeMarker(c) // restart of an empty-sink query
      case None =>
        // fresh checkpoint + batch-less sink: a leftover marker guards
        // NO data and would pin the sink to a dead query id (the first
        // batch skips writing when a marker exists) — drop it
        if (sinkFs.exists(marker)) sinkFs.delete(marker, false): Unit
    }
    // fresh checkpoint: the id doesn't exist yet — write the marker on
    // the FIRST batch, before its batch dir, from the by-then-committed
    // checkpoint metadata (never after start() on the driver thread,
    // where a crash in the gap left batch dirs unmarked)
    // memoized so only the FIRST batch pays the existence probe — on a
    // remote sink an exists() per micro-batch is a per-trigger round
    // trip for the lifetime of the query
    @volatile var markerDone = false
    // the checkpoint manager is this query's own setting: the caller's
    // session gets its value back once the query holds every manager it
    // makes. The offset and commit logs and the state stores read the
    // session clone the query takes at construction, but the file
    // source's metadata log reads the caller's session, on the query
    // thread while the query initializes — so the key is unset only
    // after initialization (a query that dies first surfaces its error
    // to the caller through the returned handle, as before).
    val conf = stream.sparkSession.conf
    val installed = conf.getOption(LocalCheckpointFileManager.confKey).isEmpty
    if (installed)
      conf.set(LocalCheckpointFileManager.confKey,
        classOf[LocalCheckpointFileManager].getName)
    try startQuery(stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!markerDone) {
          if (!sinkFs.exists(marker)) {
            val id = readCkptId().getOrElse(throw new IllegalStateException(
              s"checkpoint $checkpointDir has no metadata id at first batch"))
            writeMarker(id)
          }
          markerDone = true
        }
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId"): Unit
      }
      .option("checkpointLocation", checkpointDir))
    finally if (installed) conf.unset(LocalCheckpointFileManager.confKey)
  }

  /** Start `writer` and wait (up to a minute) until its query has
    * initialized its sources. */
  private def startQuery(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.start()
    q match {
      case w: StreamingQueryWrapper =>
        try w.streamingQuery.awaitInitialization(60000L)
        catch { case _: StreamingQueryException => }
      case _ =>
    }
    q
  }
}
