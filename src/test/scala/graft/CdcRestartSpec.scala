package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CdcStream, LocalCheckpointFileManager}

/** The stateful latest-wins stream resumes from a checkpoint that
  * Spark's default FileContext manager wrote: offsets, commits, the
  * file-source log and the RocksDB state all carry over to a session
  * that writes through [[LocalCheckpointFileManager]]. */
class CdcRestartSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def env(id: String, lsn: Long, msg: String): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":{"id":"$id","create_time":$lsn,"update_time":$lsn,"message":"$msg","username":"u"},"source":{"lsn":$lsn,"ts_ms":$lsn,"txId":$lsn},"op":"u","ts_ms":$lsn}}"""

  private def tombstone(id: String, lsn: Long): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":null,"source":{"lsn":$lsn,"ts_ms":$lsn,"txId":$lsn},"op":"d","ts_ms":$lsn}}"""

  /** One AvailableNow run of `latestWinsUpdates` over `in`; returns
    * the (id, present, message) updates it emitted. */
  private def runOnce(session: SparkSession, in: String, cp: String): Seq[(String, Boolean, String)] = {
    val out = ArrayBuffer.empty[(String, Boolean, String)]
    val changes = CdcStream.asChanges(CdcStream.decodeFile(
      session.readStream.schema(CdcStream.fileRecordSchema).json(in)))
    CdcStream.latestWinsUpdates(changes).toDF().writeStream
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
}
