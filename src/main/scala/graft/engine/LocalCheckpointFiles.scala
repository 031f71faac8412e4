package graft.engine

import java.io.BufferedOutputStream
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files on the local disk without spawning a process.
  *
  * Without Hadoop's native library (`NativeCodeLoader.isNativeCodeLoaded`
  * false — the case for a plain Spark distribution) Hadoop's local file
  * system answers permission and status calls by shelling out to `chmod`,
  * `stat` and `ls`. Spark's default `FileContextBasedCheckpointFileManager`
  * pays that on every checkpoint file: each offset, commit and source log
  * entry, and each state-store zip and checksum file of every partition of
  * every stateful operator, every micro-batch. Measured on a 4-core
  * container, 100 create+close calls each: 55–66 ms and 20 processes per
  * file through FileContext, 12.8 ms and 4 processes through Spark's
  * `FileSystemBasedCheckpointFileManager`, 0.15 ms and none here. The cost
  * scales with partitions × stores × batches (the interval join keeps 4
  * stores per partition), and it was the per-batch floor of graft's
  * streaming sessions: on traced `stream_ingest` seed 7 WAL commit fell
  * from 256 to 8 ms per batch and state commit from 2,165 to 563 ms.
  *
  * For `file:` paths every call uses `java.nio`, or Hadoop's raw local file
  * system where that does not fork (`open`, `list`). Any other scheme gets
  * exactly Spark's default manager. Spark still wraps this manager in its
  * `ChecksumCheckpointFileManager`, so state files keep their `.crc`
  * sidecars.
  *
  * Installed by [[graft.streaming.Streaming.sessionForStreaming]] through
  * [[LocalCheckpointFiles.ConfKey]]. Spark's own
  * `FileSystemBasedCheckpointFileManager` was the simpler alternative (no
  * new class): it still forks 4 processes per file, and its p50 gain on
  * `stream_ingest` was −51%, −17% and −39% on three seeds, so it does not
  * reliably clear the benchmark's 0.24 bound.
  */
class LocalCheckpointFiles(root: Path, conf: Configuration) extends CheckpointFileManager {

  private val underlying: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocalPath(root, conf)) new NioCheckpointFiles(root, conf)
    else LocalCheckpointFiles.sparkDefault(root, conf)

  override def createAtomic(path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = underlying.list(path, filter)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFiles {

  /** `ConfKey = ClassName` installs this manager for every streaming query
    * of a session: its offset, commit and source logs and its state stores
    * all build their manager from this conf. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
  val ClassName: String = classOf[LocalCheckpointFiles].getName

  private def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's `CheckpointFileManager.create` without the configured class
    * (which would be this one again): FileContext-based, FileSystem-based
    * where the scheme has no `AbstractFileSystem`. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, conf)
    catch {
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
    }
}

/** The `file:` half of [[LocalCheckpointFiles]]. */
private final class NioCheckpointFiles(root: Path, conf: Configuration) extends CheckpointFileManager {

  // Status reads of the raw local FS are plain `java.io.File` calls; only
  // permission/owner reads (never made here) would fork
  private val fs = new RawLocalFileSystem()
  fs.initialize(URI.create("file:///"), conf)

  private def local(p: Path): NioPath = fs.pathToFile(p).toPath

  override def createAtomic(path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(path)
    Files.createDirectories(target.getParent)
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new AtomicFileOutput(temp, target, overwriteIfPossible)
  }

  override def open(path: Path): FSDataInputStream = fs.open(path)

  // In-flight writes are hidden siblings `.<name>.<uuid>.tmp` (Spark's own
  // managers name theirs the same way); `list` never returns them
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    fs.listStatus(path, (p: Path) => {
      val name = p.getName
      !(name.startsWith(".") && name.endsWith(".tmp")) && filter.accept(p)
    })

  override def mkdirs(path: Path): Unit = Files.createDirectories(local(path))

  override def exists(path: Path): Boolean = Files.exists(local(path))

  override def delete(path: Path): Unit =
    try deleteRecursively(local(path))
    catch { case _: NoSuchFileException => }

  private def deleteRecursively(p: NioPath): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.forEach(c => deleteRecursively(c)) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    mkdirs(root)
    fs.makeQualified(root)
  }

  /** Writes go to `temp`; `close` publishes them at `target` in one step:
    * a rename when overwriting, else a hard link, which fails atomically
    * when `target` exists. That failure must be Hadoop's
    * `FileAlreadyExistsException`: `HDFSMetadataLog` reads it as a second
    * writer on the same checkpoint. (Spark's `RenameBasedFSDataOutputStream`
    * needs its sealed `RenameHelperMethods`, hence this class.) */
  private final class AtomicFileOutput(temp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE),
        64 * 1024)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(target, temp)
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                val clash = new FileAlreadyExistsException(s"$target already exists")
                clash.initCause(e)
                throw clash
            }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case NonFatal(_) => }
        Files.deleteIfExists(temp)
      }
    }
  }
}
