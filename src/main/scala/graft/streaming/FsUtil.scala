package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Filesystem helpers shared by the streaming state writers.
  *
  * State reads must probe existence through Spark's Hadoop
  * FileSystem layer — the SAME layer the writes go through — not
  * `java.io.File`, which only resolves local paths: an HDFS/S3 index
  * directory would always look absent to a local-file probe, and the
  * twin would silently treat a populated history as empty and reset
  * it. `Path.getFileSystem` routes by URI scheme, so local paths keep
  * their exact previous behavior and remote ones become correct.
  */
object FsUtil {

  /** True iff `dir` exists on whatever filesystem its URI names. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** True iff `dir` exists and holds top-level parquet files — the
    * shape of a plain append-mode state directory. The bucketed ingest
    * twins use this as a LOUD upgrade guard: a manifest-less directory
    * full of parquet fragments is a pre-bucketing index, and silently
    * treating it as empty would reset dedup/coverage/leakage history
    * (the exact failure class [[exists]] guards against for remote
    * filesystems). */
  def hasTopLevelParquet(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Refuse to treat a manifest-less directory of parquet fragments as
    * an empty bucketed state — shared loud guard for the ingest
    * twins' readers AND mergers (the merge path reads touched buckets
    * directly and would otherwise reset silently too). Call only when
    * the manifest has no buckets. */
  def requireNotAppendLayout(spark: SparkSession, dir: String,
                             migrate: String): Unit =
    require(!hasTopLevelParquet(spark, dir),
      s"$dir holds append-mode parquet fragments but no manifest — " +
      s"not a bucketed state; $migrate")

  /** Refuse a manifest-less root whose `b=<n>/` dirs hold parquet
    * files directly — the layout of the retired in-place bucket merge,
    * which [[ManifestState]] (buckets hold only `v-<epoch>-…/` version
    * dirs) would read as empty, silently resetting the view. The twin
    * of [[requireNotAppendLayout]] for the bucketed views; call only
    * when the manifest has no buckets. */
  def requireNotInPlaceBuckets(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(!(fs.exists(p) && fs.listStatus(p).exists(b =>
      b.isDirectory && b.getPath.getName.matches("b=\\d+") &&
        fs.listStatus(b.getPath).exists(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet")))),
      s"$dir holds b=<n> buckets from the retired in-place bucketed " +
      "merge but no MANIFEST; re-bootstrap it into a fresh root by " +
      "merging its rows (spark.read.parquet(<old root>).drop(\"b\")) " +
      "as one batch, the way CdcStream.bootstrapFromTable seeds a view")
  }

  /** Local-filesystem recursive delete; a missing path is a no-op. */
  def deleteRecursively(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRecursively(c)) finally s.close()
    }
    Files.delete(p)
  }
}
