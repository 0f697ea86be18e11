package graft.streaming

import java.nio.file.Files

/** Filesystem helpers shared by the streaming state writers. Checks
  * that decide whether a state dir holds data go through Spark's
  * Hadoop FileSystem layer instead ([[ManifestState.requireNoLegacyLayout]]),
  * so remote roots are probed on the filesystem their URI names. */
object FsUtil {

  /** Local-filesystem recursive delete; a missing path is a no-op. */
  def deleteRecursively(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRecursively(c)) finally s.close()
    }
    Files.delete(p)
  }
}
