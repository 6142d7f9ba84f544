package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, ChecksumFileSystem, FSDataOutputStream,
  FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog,
  CommitMetadata, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
  StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.DiffAnomaly
import graft.streaming.{Forwarder, LocalCheckpointFileManager, StreamingScoring}

/** The raw local filesystem under a second scheme, `mirror:`, counting
  * its file creations: a non-`file:` filesystem for the delegation test. */
class MirrorSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mirror:///")
  override def getScheme: String = "mirror"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    MirrorSchemeFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object MirrorSchemeFs {
  val creates = new AtomicInteger
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val key = LocalCheckpointFileManager.confKey
  private val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName
  private val ours = classOf[LocalCheckpointFileManager].getName

  private def hpath(p: NioPath): Path = new Path(p.toUri)
  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }
  private def write(fm: LocalCheckpointFileManager, p: NioPath,
                    bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(bytes)
    out.close()
  }
  private def read(fm: LocalCheckpointFileManager, p: NioPath): Array[Byte] = {
    val in = fm.open(hpath(p))
    try in.readAllBytes() finally in.close()
  }
  private def sidecarOf(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  test("no overwrite: an existing file keeps its bytes and sidecar, a second commit is refused") {
    val root = Paths.get(Scratch.dir("graft-lcfm-noover"))
    val fm = new LocalCheckpointFileManager(hpath(root), new Configuration())
    val f = root.resolve("0")
    write(fm, f, "old".getBytes, overwrite = false)
    val sums = Files.readAllBytes(sidecarOf(f))
    val out = fm.createAtomic(hpath(f), overwriteIfPossible = false)
    out.write("new bytes".getBytes)
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next: a no-op now
    assert(new String(Files.readAllBytes(f)) == "old")
    assert(Files.readAllBytes(sidecarOf(f)).sameElements(sums))
    assert(names(root) == Set("0", ".0.crc"), "temp files left behind")
    // overwrite replaces both the bytes and the sidecar
    write(fm, f, "newer".getBytes, overwrite = true)
    assert(new String(read(fm, f)) == "newer")
    assert(names(root) == Set("0", ".0.crc"))

    val s = spark.newSession()
    s.conf.set(key, ours)
    val log = new CommitLog(s, root.resolve("commits").toString)
    assert(log.add(0L, CommitMetadata()))
    assert(!log.add(0L, CommitMetadata()), "a second commit of batch 0 must be refused")
    assert(log.get(0L).contains(CommitMetadata()))
    assert(names(root.resolve("commits")) == Set("0", ".0.crc"))
  }

  test("cancel leaves no data file, sidecar or temp file") {
    val root = Paths.get(Scratch.dir("graft-lcfm-cancel"))
    val fm = new LocalCheckpointFileManager(hpath(root), new Configuration())
    val out = fm.createAtomic(hpath(root.resolve("1.delta")), overwriteIfPossible = true)
    out.write(new Array[Byte](2000))
    out.cancel()
    out.close() // after cancel: a no-op, publishes nothing
    assert(names(root).isEmpty, s"left behind: ${names(root)}")
  }

  test("the sidecar is byte-identical to LocalFileSystem's and catches a flipped byte") {
    val root = Paths.get(Scratch.dir("graft-lcfm-crc"))
    val conf = new Configuration()
    val fm = new LocalCheckpointFileManager(hpath(root), conf)
    val local = FileSystem.getLocal(conf)
    val rnd = new java.util.Random(7)
    // empty, a partial chunk, exactly one chunk, and 2 chunks + a tail
    for (size <- Seq(0, 100, 512, 1300)) {
      val bytes = new Array[Byte](size)
      rnd.nextBytes(bytes)
      val mine = root.resolve(s"ours-$size")
      val out = fm.createAtomic(hpath(mine), overwriteIfPossible = false)
      // mix single-byte and array writes across chunk boundaries
      val cut = math.min(size, 3)
      bytes.take(cut).foreach(b => out.write(b.toInt))
      out.write(bytes, cut, size - cut)
      out.close()
      val theirs = root.resolve(s"hadoop-$size")
      val hout = local.create(hpath(theirs))
      hout.write(bytes)
      hout.close()
      assert(Files.readAllBytes(sidecarOf(mine))
        .sameElements(Files.readAllBytes(sidecarOf(theirs))),
        s"sidecar differs from LocalFileSystem's at $size bytes")
      assert(read(fm, mine).sameElements(bytes), s"read-back differs at $size bytes")
    }
    // a flipped byte fails Hadoop's checksummed read. The reader is a
    // bare ChecksumFileSystem: LocalFileSystem would move the failing
    // file into a bad_files directory at the top of the device, and
    // FileContext's LocalFs reads local files without checking their
    // sidecar
    val checked = new ChecksumFileSystem(new RawLocalFileSystem) {}
    checked.setConf(conf)
    checked.initialize(URI.create("file:///"), conf)
    def readChecked(p: NioPath): Array[Byte] = {
      val in = checked.open(hpath(p))
      try in.readAllBytes() finally in.close()
    }
    val victim = root.resolve("ours-1300")
    val bytes = readChecked(victim)
    val raf = new RandomAccessFile(victim.toFile, "rw")
    try {
      raf.seek(700)
      raf.write(bytes(700) ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](readChecked(victim))
  }

  test("open checks the sidecar: a flipped byte throws, an intact file reads back") {
    val root = Paths.get(Scratch.dir("graft-lcfm-open"))
    val fm = new LocalCheckpointFileManager(hpath(root), new Configuration())
    val bytes = new Array[Byte](1300)
    new java.util.Random(11).nextBytes(bytes)
    val (intact, victim) = (root.resolve("intact"), root.resolve("victim"))
    for (f <- Seq(intact, victim)) write(fm, f, bytes, overwrite = false)
    val raf = new RandomAccessFile(victim.toFile, "rw")
    try {
      raf.seek(700)
      raf.write(bytes(700) ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(fm, victim))
    assert(read(fm, intact).sameElements(bytes))
    // no sidecar: the bytes read unchecked, as Hadoop reads them
    Files.delete(sidecarOf(intact))
    assert(read(fm, intact).sameElements(bytes))
    assert(Files.exists(victim), "the failing file was moved away")
  }

  test("a non-file path delegates to Spark's manager") {
    val root = Paths.get(Scratch.dir("graft-lcfm-mirror"))
    val conf = new Configuration()
    conf.set("fs.mirror.impl", classOf[MirrorSchemeFs].getName)
    conf.setBoolean("fs.mirror.impl.disable.cache", true)
    val dir = new Path(s"mirror://${root.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(dir, conf)
    val before = MirrorSchemeFs.creates.get
    val out = fm.createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
    out.write("x".getBytes)
    out.close()
    assert(MirrorSchemeFs.creates.get > before, "the write bypassed the mirror filesystem")
    assert(fm.exists(new Path(dir, "0")))
    // the raw filesystem writes no sidecar; this manager would have
    assert(names(root) == Set("0"), s"files: ${names(root)}")
  }

  test("Forwarder.toParquet keeps the caller's manager and installs this one otherwise") {
    val s = spark.newSession()
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = Scratch.dir("graft-lcfm-fwd")
    /** The manager the running query's own session names. */
    def forward(tag: String): String = {
      val input = MemoryStream[(Long, Double)]
      val q = Forwarder.toParquet(input.toDF().toDF("ts", "value"),
        s"$root/$tag/out", s"$root/$tag/ckpt")
      try {
        input.addData((1L, 1.5))
        q.processAllAvailable()
        // the query's session clone (`protected[sql]`, public in bytecode)
        val se = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        se.getClass.getMethod("sparkSessionForStream").invoke(se)
          .asInstanceOf[org.apache.spark.sql.SparkSession].conf.get(key)
      } finally q.stop()
    }
    s.conf.set(key, sparkDefault)
    assert(forward("kept") == sparkDefault)
    assert(s.conf.get(key) == sparkDefault)
    s.conf.unset(key)
    // installed for the query alone: a later stream on the caller's
    // session must not inherit it
    assert(forward("installed") == ours)
    assert(s.conf.getOption(key).isEmpty, s"leaked: ${s.conf.getOption(key)}")
  }

  test("an anomalyJob checkpoint restarts across Spark's manager and this one") {
    val s = spark.newSession()
    import s.implicits._
    val res = 600L
    def sample(tag: String, i: Int): (String, Long, Double) =
      (tag, i * res + 30L,
        if (tag == "tx") 10.0 + i * 2.0 + (i % 3) else 25.0 + i * 1.5)
    val events = (0 until 12).flatMap(i => Seq(sample("tx", i), sample("ty", i)))
    val allEvents = events.toDF("tag", "epoch", "value")
      .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
    val wide = graft.data.TimeSeries.pivotWide(
      graft.data.TimeSeries.resample(allEvents, Seq("tag"), "ts", "value", res),
      "tag", Seq("tx", "ty"))
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      window = Some(3), smoothingMethod = "smm")
    // phase 2 ends with a far-future sentinel that closes every bucket
    val phases = Seq(events.filter(_._2 < 7 * res),
      events.filter(_._2 >= 7 * res) :+ (("tx", 20000L, 0.0)))
    val root = Scratch.dir("graft-lcfm-restart")

    /** Sink rows of a run that starts phase k's query under `managers(k)`
      * (None = what Forwarder installs); consecutive equal managers
      * share one uninterrupted query. */
    def run(tag: String, managers: Seq[Option[String]]): Seq[String] = {
      val in = Files.createDirectories(Paths.get(s"$root/$tag/in"))
      val stream = s.readStream.schema("tag STRING, epoch LONG, value DOUBLE")
        .json(in.toString)
        .select($"tag", timestamp_seconds($"epoch").as("ts"), $"value")
      def start(m: Option[String]) = {
        m.fold(s.conf.unset(key))(s.conf.set(key, _))
        StreamingScoring.anomalyJob(fitted, "m1", stream, "tag", "ts", "value",
          res, s"$root/$tag/out", s"$root/$tag/ckpt",
          watermarkDelay = "600 seconds")
      }
      var q = start(managers.head)
      try phases.zip(managers).zipWithIndex.foreach { case ((rows, m), k) =>
        if (k > 0 && m != managers(k - 1)) { q.stop(); q = start(m) }
        val tmp = in.resolve(s".part-$k.json.tmp")
        Files.write(tmp, rows.map { case (t, e, v) =>
          s"""{"tag":"$t","epoch":$e,"value":$v}""" }.asJava)
        Files.move(tmp, in.resolve(s"part-$k.json"), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      } finally q.stop()
      // the layout either manager leaves: a sidecar beside every file,
      // Spark's own state-store checksum files, no temp file
      val walk = Files.walk(Paths.get(s"$root/$tag/ckpt"))
      val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
        finally walk.close()
      val (sums, data) = files.partition(f =>
        f.getFileName.toString.startsWith(".") && f.getFileName.toString.endsWith(".crc"))
      assert(data.nonEmpty && data.forall(f => sums.contains(sidecarOf(f))),
        s"$tag: files without a sidecar: ${data.filterNot(f => sums.contains(sidecarOf(f)))}")
      for (suffix <- Seq(".delta", ".delta.crc"))
        assert(data.exists(_.getFileName.toString.endsWith(suffix)),
          s"$tag: no state-store $suffix files")
      assert(!files.exists(_.getFileName.toString.endsWith(".tmp")), s"$tag: temp files left")
      s.read.parquet(s"$root/$tag/out").drop("batch_id")
        .collect().map(_.toString).sorted.toSeq
    }

    val uninterrupted = run("straight", Seq(None, None))
    assert(uninterrupted.nonEmpty)
    assert(run("spark-then-local", Seq(Some(sparkDefault), None)) == uninterrupted)
    assert(run("local-then-spark", Seq(None, Some(sparkDefault))) == uninterrupted)
  }
}
