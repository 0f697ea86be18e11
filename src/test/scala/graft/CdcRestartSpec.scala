package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.{TTLConfig, Trigger}

import graft.streaming.{CdcStream, LocalCheckpointFileManager}
import graft.streaming.CdcStream.{Change, ViewUpdate}

/** The stateful latest-wins stream resumes from a checkpoint that
  * Spark's default FileContext manager wrote: offsets, commits, the
  * file-source log and the RocksDB state all carry over to a session
  * that writes through [[LocalCheckpointFileManager]]. The RocksDB
  * state carries over in both directions between snapshot-only and
  * changelog checkpointing, for `flatMapGroupsWithState` and for
  * `transformWithState`'s column families. */
class CdcRestartSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val minDeltasKey = "spark.sql.streaming.stateStore.minDeltasForSnapshot"

  private def env(id: String, lsn: Long, msg: String): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":{"id":"$id","create_time":$lsn,"update_time":$lsn,"message":"$msg","username":"u"},"source":{"lsn":$lsn,"ts_ms":$lsn,"txId":$lsn},"op":"u","ts_ms":$lsn}}"""

  private def tombstone(id: String, lsn: Long): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":null,"source":{"lsn":$lsn,"ts_ms":$lsn,"txId":$lsn},"op":"d","ts_ms":$lsn}}"""

  /** One AvailableNow run of `pipeline` (by default `latestWinsUpdates`)
    * over `in`, one new file per micro-batch; returns the (id, present,
    * message) updates it emitted. */
  private def runOnce(session: SparkSession, in: String, cp: String,
                      pipeline: Dataset[Change] => Dataset[ViewUpdate] = CdcStream.latestWinsUpdates(_))
      : Seq[(String, Boolean, String)] = {
    val out = ArrayBuffer.empty[(String, Boolean, String)]
    val changes = CdcStream.asChanges(CdcStream.decodeFile(
      session.readStream.schema(CdcStream.fileRecordSchema).option("maxFilesPerTrigger", 1).json(in)))
    pipeline(changes).toDF().writeStream
      .option("checkpointLocation", cp)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out ++= b.select("id", "present", "message").collect()
          .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
        ()
      }
      .start().awaitTermination()
    out.toSeq.sortBy(_._1)
  }

  test("latestWinsUpdates resumes from a FileContext-written checkpoint") {
    assert(spark.conf.get(managerKey) == classOf[LocalCheckpointFileManager].getName)
    assert(spark.conf.get(changelogKey) == "true")
    val root = Files.createTempDirectory("cdcrestart").toString
    val in = s"$root/in"; val cp = s"$root/cp"
    Files.createDirectories(Paths.get(in))
    def append(name: String, lines: String*): Unit =
      Files.write(Paths.get(s"$in/$name.json"), lines.mkString("\n").getBytes("UTF-8"))

    val legacy = spark.newSession()
    legacy.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    append("b1", env("a", 1, "a1"), env("b", 2, "b1"), env("c", 3, "c1"), env("d", 4, "d1"))
    assert(runOnce(legacy, in, cp) == Seq(
      ("a", true, "a1"), ("b", true, "b1"), ("c", true, "c1"), ("d", true, "d1")))

    // resumed in the default session: only the new file is read, and
    // the restored state decides what changed — b's exact redelivery
    // and c's older change emit nothing
    append("b2", env("a", 5, "a2"), env("b", 2, "b1"), env("c", 0, "c0"),
      tombstone("d", 6), env("e", 7, "e1"))
    assert(runOnce(spark, in, cp) == Seq(
      ("a", true, "a2"), ("d", false, null), ("e", true, "e1")))

    // a stale redelivery of a pre-restart change after the restart
    append("b3", env("a", 1, "a1"), env("d", 4, "d1"))
    assert(runOnce(spark, in, cp).isEmpty)
  }

  /** A fresh input dir and checkpoint under one temp root, and an
    * `append(name, lines*)` that adds one input file. */
  private def fixture(prefix: String): (String, String, (String, Seq[String]) => Unit) = {
    val root = Files.createTempDirectory(prefix).toString
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    (in, s"$root/cp", (name, lines) =>
      Files.write(Paths.get(s"$in/$name.json"), lines.mkString("\n").getBytes("UTF-8")))
  }

  /** The state versions committed under `cp` as files ending in `ext`
    * (`zip` for a RocksDB snapshot, `changelog` for a changelog), over
    * every operator and partition. */
  private def stateVersions(cp: String, ext: String): Set[Long] = {
    val Name = raw"(\d+)(?:_.*)?\.$ext".r
    val files = Files.walk(Paths.get(cp, "state"))
    try files.iterator.asScala.map(_.getFileName.toString).collect {
      case Name(v) => v.toLong
    }.toSet finally files.close()
  }

  test("latestWinsUpdates resumes across changelog checkpointing switched on and back off") {
    val (in, cp, append) = fixture("cdcchangelog")
    def snapshotOnly(): SparkSession = {
      val s = spark.newSession()
      s.conf.set(changelogKey, "false")
      s
    }

    append("p1", Seq(env("a", 1, "a1"), env("b", 2, "b1"), env("c", 3, "c1"), env("d", 4, "d1")))
    assert(runOnce(snapshotOnly(), in, cp) == Seq(
      ("a", true, "a1"), ("b", true, "b1"), ("c", true, "c1"), ("d", true, "d1")))
    assert(stateVersions(cp, "zip") == Set(1L) && stateVersions(cp, "changelog").isEmpty)

    // changelog on, a snapshot due every 2 versions: versions 2-4 are
    // changelogs replayed on top of version 1's snapshot, and version 3
    // crosses the snapshot boundary
    append("p2a", Seq(env("a", 5, "a2"), env("b", 2, "b1"), env("c", 0, "c0")))
    append("p2b", Seq(tombstone("d", 6), env("e", 7, "e1"), env("a", 5, "a2")))
    append("p2c", Seq(env("f", 8, "f1"), env("a", 1, "a1"), env("c", 3, "c1")))
    spark.conf.set(minDeltasKey, "2")
    val phase2 = try runOnce(spark, in, cp) finally spark.conf.unset(minDeltasKey)
    assert(phase2 == Seq(("a", true, "a2"), ("d", false, null), ("e", true, "e1"), ("f", true, "f1")))
    assert(stateVersions(cp, "changelog") == Set(2L, 3L, 4L))

    // changelog off again: version 5 is a snapshot built on the replay
    append("p3", Seq(env("a", 5, "a2"), env("b", 1, "b0"), env("d", 4, "d1"),
      env("e", 9, "e2"), env("g", 10, "g1")))
    assert(runOnce(snapshotOnly(), in, cp) == Seq(("e", true, "e2"), ("g", true, "g1")))
    assert(stateVersions(cp, "zip").contains(5L))
    assert(stateVersions(cp, "changelog") == Set(2L, 3L, 4L))
  }

  for ((label, ttl) <- Seq("off" -> TTLConfig.NONE, "on" -> TTLConfig(java.time.Duration.ofHours(1))))
    test(s"latestWinsUpdatesTws resumes from a changelog checkpoint (TTL $label)") {
      val (in, cp, append) = fixture("cdctws")
      val tws = CdcStream.latestWinsUpdatesTws(_: Dataset[Change], ttl)
      append("t1", Seq(env("a", 1, "a1"), env("b", 2, "b1"), env("c", 3, "c1")))
      assert(runOnce(spark, in, cp, tws) == Seq(("a", true, "a1"), ("b", true, "b1"), ("c", true, "c1")))
      assert(stateVersions(cp, "changelog").nonEmpty)

      // the resumed query restores its value state from the changelog:
      // b's redelivery and c's older change emit nothing
      append("t2", Seq(env("a", 4, "a2"), env("b", 2, "b1"), env("c", 0, "c0")))
      assert(runOnce(spark, in, cp, tws) == Seq(("a", true, "a2")))
      append("t3", Seq(env("a", 4, "a2"), tombstone("b", 5), env("c", 3, "c1"), env("d", 6, "d1")))
      assert(runOnce(spark, in, cp, tws) == Seq(("b", false, null), ("d", true, "d1")))
    }
}
