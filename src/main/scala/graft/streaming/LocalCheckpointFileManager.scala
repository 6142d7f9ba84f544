package graft.streaming

import java.io.{BufferedOutputStream, DataOutputStream, FileNotFoundException,
  IOException, OutputStream}
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption, NoSuchFileException,
  NotDirectoryException, Paths, StandardCopyOption, StandardOpenOption,
  Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A streaming [[CheckpointFileManager]] that writes `file:` checkpoints
  * through java.nio.
  *
  * Spark's default manager writes every checkpoint file through Hadoop's
  * local `FileContext`: create a temp file, write its `.name.crc`
  * sidecar, rename both. Without Hadoop's native library each such write
  * costs ~27–32 ms on a 4-vCPU box, against ~0.5 ms through java.nio, and
  * a stateful micro-batch makes one per log (offsets, commits, sources)
  * plus two per state store (the delta and Spark's `.delta.crc`).
  *
  * On a local path:
  *  - [[createAtomic]] streams the bytes to a hidden temp file and
  *    computes Hadoop's `ChecksumFileSystem` sidecar as they pass
  *    (`"crc\0"`, bytes per checksum, one CRC32 per chunk): the bytes
  *    `LocalFileSystem` writes, so a checksummed Hadoop reader verifies
  *    the file as if Hadoop wrote it. Nothing is buffered beyond a
  *    stream buffer.
  *  - Publishing moves the data file first, then its sidecar, as
  *    `ChecksumFs.rename` does. Overwrite is an atomic move; no-overwrite
  *    is a hard link, which fails on an existing target with Hadoop's
  *    `FileAlreadyExistsException` (the concurrent-writer signal
  *    `HDFSMetadataLog` catches).
  *  - `cancel`, and a failed publish, leave no temp file behind.
  *  - `list`, `exists`, `mkdirs` and `delete` are java.nio; `list` hides
  *    sidecars as `ChecksumFs` does, `delete` removes the sidecar too.
  *  - `open` reads through Hadoop's `ChecksumFileSystem`, which checks
  *    every chunk against the sidecar and throws `ChecksumException` on
  *    a mismatch; a file with no sidecar reads unchecked, as in Hadoop.
  *    Spark's own manager reads `file:` paths through `FileContext`'s
  *    `LocalFs`, which ignores sidecars, so a flipped byte would read
  *    back silently. The reader wraps the raw local filesystem rather
  *    than `LocalFileSystem`, whose checksum-failure hook moves the
  *    failing file into a `bad_files` directory at the top of the device.
  *
  * Any other scheme goes entirely to the manager
  * `CheckpointFileManager.create` picks when no class is configured.
  * [[Forwarder.toParquet]] installs this class through
  * [[LocalCheckpointFileManager.confKey]]. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  @volatile private var delegateMade = false
  private lazy val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(confKey)
    delegateMade = true
    CheckpointFileManager.create(path, conf)
  }

  private val local: Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"
  private val bytesPerSum = hadoopConf.getInt("file.bytes-per-checksum", 512)

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath).toAbsolutePath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(new ChecksummedFile(tmp, bytesPerSum), target,
        overwriteIfPossible)
    }

  private lazy val checksummed: FileSystem = {
    val fs = new ChecksumFileSystem(new RawLocalFileSystem) {}
    fs.setConf(hadoopConf)
    fs.initialize(URI.create("file:///"), hadoopConf)
    fs
  }

  override def open(p: Path): FSDataInputStream =
    if (!local) delegate.open(p) else checksummed.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (!local) delegate.list(p, filter)
    else {
      val dir = nio(p)
      val children =
        try {
          val s = Files.newDirectoryStream(dir)
          try s.iterator().asScala.toList finally s.close()
        } catch {
          case _: NoSuchFileException => throw new FileNotFoundException(s"$p")
          case _: NotDirectoryException => List(dir)
        }
      children.filterNot(c => isSidecar(c.getFileName.toString))
        .flatMap(status).filter(s => filter.accept(s.getPath)).toArray
    }

  override def mkdirs(p: Path): Unit =
    if (!local) delegate.mkdirs(p) else Files.createDirectories(nio(p)): Unit

  override def exists(p: Path): Boolean =
    if (!local) delegate.exists(p) else Files.exists(nio(p))

  override def delete(p: Path): Unit =
    if (!local) delegate.delete(p)
    else {
      val target = nio(p)
      if (Files.isDirectory(target, LinkOption.NOFOLLOW_LINKS)) {
        val walk = Files.walk(target)
        try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
        finally walk.close()
      } else {
        Files.deleteIfExists(target)
        Files.deleteIfExists(sidecar(target))
      }
    }

  override def isLocal: Boolean = local || delegate.isLocal

  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()

  override def close(): Unit = if (delegateMade) delegate.close()
}

object LocalCheckpointFileManager {
  /** The Spark SQL conf that names the checkpoint manager class. */
  val confKey = "spark.sql.streaming.checkpointFileManagerClass"

  private val magic = Array[Byte]('c', 'r', 'c', 0)

  /** Hadoop's sidecar name: `.name.crc` beside `name`. */
  private[streaming] def sidecar(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  private def isSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  /** A Hadoop `FileStatus` with a qualified `file:` path, or None when
    * the file vanished between listing and stat. */
  private def status(p: NioPath): Option[FileStatus] =
    try {
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      Some(new FileStatus(a.size, a.isDirectory, 1, 32L << 20,
        a.lastModifiedTime.toMillis,
        new Path("file", null, p.toAbsolutePath.toString)))
    } catch { case _: NoSuchFileException => None }

  /** The data bytes of one checkpoint file, written to `tmp` with the
    * Hadoop checksum sidecar of `tmp` beside it. */
  private final class ChecksummedFile(val tmp: NioPath, bytesPerSum: Int)
      extends OutputStream {
    val tmpSums: NioPath = sidecar(tmp)
    private val data = new BufferedOutputStream(Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    private val sums =
      try {
        val s = new DataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(tmpSums, StandardOpenOption.CREATE_NEW,
            StandardOpenOption.WRITE)))
        s.write(magic)
        s.writeInt(bytesPerSum)
        s
      } catch {
        case e: Throwable =>
          data.close()
          Files.deleteIfExists(tmp)
          throw e
      }
    private val crc = new CRC32
    private var filled = 0
    private var closed = false

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      filled = 0
    }

    override def write(b: Int): Unit = {
      data.write(b)
      crc.update(b)
      filled += 1
      if (filled == bytesPerSum) endChunk()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      data.write(b, off, len)
      var o = off
      val end = off + len
      while (o < end) {
        val n = math.min(end - o, bytesPerSum - filled)
        crc.update(b, o, n)
        filled += n
        o += n
        if (filled == bytesPerSum) endChunk()
      }
    }

    override def flush(): Unit = { data.flush(); sums.flush() }

    override def close(): Unit = if (!closed) {
      closed = true
      try {
        if (filled > 0) endChunk()
        data.close()
      } finally sums.close()
    }

    /** Close without caring how, then remove both temp files. */
    def discard(): Unit = {
      try close() catch { case _: IOException => }
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(tmpSums)
    }
  }

  private final class AtomicOutput(file: ChecksummedFile, target: NioPath,
                                   overwrite: Boolean)
      extends CancellableFSDataOutputStream(file) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          publish()
        } catch {
          case e: Throwable =>
            file.discard()
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        file.discard()
      }
    }

    private def publish(): Unit = {
      if (overwrite) {
        // drop the old sidecar first: a crash between the two moves then
        // leaves the new data unverified instead of beside stale sums
        Files.deleteIfExists(sidecar(target))
        Files.move(file.tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try {
          try Files.createLink(target, file.tmp)
          catch {
            // no hard links here: a plain move still refuses an
            // existing target, though not atomically
            case e @ (_: UnsupportedOperationException | _: FileSystemException)
                if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
              Files.move(file.tmp, target)
          }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$target already exists")
        }
        Files.deleteIfExists(file.tmp)
      }
      Files.move(file.tmpSums, sidecar(target), StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
