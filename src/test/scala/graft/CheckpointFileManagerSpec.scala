package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ForkFreeLocalFileSystem, LocalCheckpointFileManager}

/** The atomic-write contract streaming checkpoints rely on, held by
  * [[LocalCheckpointFileManager]] on the local filesystem: no silent
  * overwrite, all-or-nothing visibility, a checksum that catches a
  * corrupted file on read, and the permissions Hadoop's own
  * `LocalFileSystem` would give each file and directory. */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def fresh(): (LocalCheckpointFileManager, Path) = {
    val dir = new Path(Files.createTempDirectory("cfm").toUri)
    (new LocalCheckpointFileManager(dir, conf), dir)
  }

  private def write(m: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: Path): Set[String] =
    new java.io.File(dir.toUri).list().toSet

  /** Permission, setuid/setgid and sticky bits of `p`. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("createAtomic without overwrite refuses an existing file") {
    val (m, dir) = fresh()
    val p = new Path(dir, "0")
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(read(m, p) == "first")
  }

  test("createAtomic with overwrite replaces the content") {
    val (m, dir) = fresh()
    val p = new Path(dir, "0")
    write(m, p, "first", overwrite = false)
    write(m, p, "second", overwrite = true)
    assert(read(m, p) == "second")
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("overwrite still replaces when another class is registered for file:") {
    val noReplace = new Configuration(conf)
    noReplace.set("fs.file.impl", classOf[NoReplaceLocalFs].getName)
    noReplace.setBoolean("fs.file.impl.disable.cache", true)
    val dir = new Path(Files.createTempDirectory("cfm").toUri)
    val p = new Path(dir, "0")
    // Spark's FileSystem-based manager over that class keeps the old file
    val plain = new FileSystemBasedCheckpointFileManager(dir, noReplace)
    write(plain, p, "first", overwrite = false)
    write(plain, p, "second", overwrite = true)
    assert(read(plain, p) == "first")
    val m = new LocalCheckpointFileManager(dir, noReplace)
    write(m, p, "third", overwrite = true)
    assert(read(m, p) == "third")
  }

  test("cancel leaves neither the target nor a temp file") {
    val (m, dir) = fresh()
    val p = new Path(dir, "0")
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!m.exists(p))
    assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
  }

  test("a .crc sidecar is written and a flipped byte fails the read") {
    val (m, dir) = fresh()
    val p = new Path(dir, "0")
    write(m, p, "v1\n{\"batchWatermarkMs\":0}", overwrite = false)
    assert(names(dir) == Set("0", ".0.crc"))
    val file = Paths.get(p.toUri)
    val bytes = Files.readAllBytes(file)
    bytes(3) = (bytes(3) ^ 0x01).toByte
    Files.write(file, bytes)
    intercept[ChecksumException](read(m, p))
  }

  test("file: selects the FileSystem-based manager; other schemes keep Spark's choice") {
    val local = Files.createTempDirectory("cfm")
    assert(LocalCheckpointFileManager.select(new Path(local.toUri), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    // a scheme-less path resolves through the default filesystem (file:)
    assert(LocalCheckpointFileManager.select(new Path(local.toString), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    // HDFS has a FileContext implementation: Spark's default manager
    assert(LocalCheckpointFileManager.select(new Path("hdfs://localhost:1/cp"), conf)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    // a FileSystem with no FileContext implementation: Spark's fallback
    val noFc = new Configuration(conf)
    noFc.set("fs.graftnofc.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    assert(LocalCheckpointFileManager.select(new Path("graftnofc:///cp"), noFc)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  for ((umask, fileMode, dirMode) <- Seq(("022", "644", "755"), ("077", "600", "700")))
    test(s"under umask $umask files, .crc sidecars and new directories get stock LocalFileSystem's permissions") {
      val masked = new Configuration(conf)
      masked.set("fs.permissions.umask-mode", umask)
      val stock = new Configuration(masked)
      stock.setClass("fs.file.impl", classOf[LocalFileSystem], classOf[FileSystem])
      stock.setBoolean("fs.file.impl.disable.cache", true)
      def layout(m: CheckpointFileManager, dir: Path): Map[String, Int] = {
        write(m, new Path(dir, "0"), "body", overwrite = false)
        m.mkdirs(new Path(dir, "sub/deeper"))
        // a new directory under a setgid one inherits the bit, which
        // Hadoop's forked chmod keeps
        Files.createDirectory(Paths.get(new Path(dir, "shared").toUri))
        Files.setAttribute(Paths.get(new Path(dir, "shared").toUri), "unix:mode", Integer.valueOf(octal("2775")))
        m.mkdirs(new Path(dir, "shared/state"))
        Seq("0", ".0.crc", "sub", "sub/deeper", "shared/state")
          .map(n => n -> mode(Paths.get(new Path(dir, n).toUri))).toMap
      }
      val ours = new Path(Files.createTempDirectory("cfm").toUri)
      val theirs = new Path(Files.createTempDirectory("cfm").toUri)
      val got = layout(new LocalCheckpointFileManager(ours, masked), ours)
      assert(got == layout(new FileSystemBasedCheckpointFileManager(theirs, stock), theirs))
      assert(got("0") == octal(fileMode) && got(".0.crc") == octal(fileMode) && got("sub/deeper") == octal(dirMode))
      assert(got("shared/state") == (octal("2000") | octal(dirMode)))
    }

  test("a sticky-bit setPermission still takes Hadoop's own path") {
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("cfm")
    fs.setPermission(new Path(dir.toUri), new FsPermission(octal("1777").toShort))
    // java.nio cannot set the sticky bit: only the forked chmod sets it
    assert(mode(dir) == octal("1777"))
    fs.setPermission(new Path(dir.toUri), new FsPermission(octal("750").toShort))
    assert(mode(dir) == octal("750"))
  }
}

/** A `file:` class whose rename refuses an existing target, as Hive's
  * `ProxyLocalFileSystem` does. */
class NoReplaceLocalFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = !exists(dst) && super.rename(src, dst)
}
