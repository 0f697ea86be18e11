package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming checkpoint file manager (offsets, commits, source logs,
  * RocksDB state files) that sends `file:` paths through Hadoop's
  * FileSystem API instead of Spark's default FileContext one.
  *
  * Without the native Hadoop library, FileContext's local rename asks
  * `RawLocalFs.getFileLinkStatus` about source and destination, and
  * each ask forks a shell: a small atomic write costs ~28 ms against
  * a few ms through `FileSystemBasedCheckpointFileManager`
  * (docs/probes/checkpoint_io_r3.txt). The local branch writes through
  * Hadoop's own `LocalFileSystem`, the FileSystem twin of the `LocalFs`
  * that FileContext uses: both write a temp file plus a `.crc` sidecar,
  * rename with check-then-rename, and raise `FileAlreadyExistsException`
  * on an existing target, so the guarantees are unchanged. It is pinned
  * rather than taken from `Path.getFileSystem`, because another jar may
  * register its own class for `file:` (Spark's distribution ships
  * Hive's `ProxyLocalFileSystem`, whose rename never replaces a file,
  * so an overwriting write would silently keep the old content).
  * Its raw layer is [[ForkFreeRawLocalFileSystem]], which sets the
  * permissions of temp files, `.crc` sidecars and new directories
  * without forking `chmod`.
  * Every other scheme (HDFS, S3, ABFS) keeps Spark's own choice:
  * FileContext, or the FileSystem manager where FileContext has no
  * implementation.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val delegate = LocalCheckpointFileManager.select(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** The manager `path` gets: the FileSystem-based one over Hadoop's
    * `LocalFileSystem` (on [[ForkFreeRawLocalFileSystem]]) when
    * FileContext would have used the stock `LocalFs` for it, else what
    * `CheckpointFileManager.create` picks. */
  private[graft] def select(path: Path, conf: Configuration): CheckpointFileManager =
    if (onLocalFs(path, conf)) {
      val local = new Configuration(conf)
      local.setClass("fs.file.impl", classOf[ForkFreeLocalFileSystem], classOf[FileSystem])
      // the FileSystem cache is keyed by scheme, not class: bypass it so
      // a cached instance of another `file:` class is never handed back
      local.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, local)
    } else try new FileContextBasedCheckpointFileManager(path, conf) catch {
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
    }

  private def onLocalFs(path: Path, conf: Configuration): Boolean = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    scheme == "file" && conf.getClass("fs.AbstractFileSystem.file.impl", null) == classOf[LocalFs]
  }
}

/** Hadoop's checksummed `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the rwx bits with
  * `Files.setPosixFilePermissions` (one `chmod` system call) instead of
  * forking `/bin/chmod`, which is what Hadoop does without its native
  * library: once per created file and once more for its `.crc`, ~3 ms
  * each (one small checkpoint write ~7 ms -> ~0.7 ms,
  * docs/probes/checkpoint_commit_r5.txt). Hadoop's own path runs
  * wherever the result could differ: with the native library loaded, for
  * a sticky bit (not expressible as a `PosixFilePermission`), and on a
  * target already carrying setuid/setgid, which GNU `chmod` keeps on a
  * directory and a plain `chmod(2)` would clear. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (NativeIO.isAvailable || permission.getStickyBit ||
        !ForkFreeRawLocalFileSystem.posix ||
        (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0x0C00) != 0) // S_ISUID | S_ISGID
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, ForkFreeRawLocalFileSystem.bits(permission.toShort))
  }
}

object ForkFreeRawLocalFileSystem {
  private val posix = java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  // PosixFilePermission's declaration order is OWNER_READ ... OTHERS_EXECUTE,
  // i.e. mode bits 0400 down to 0001
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}
