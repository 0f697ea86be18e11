package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{CdcStream, ManifestState}

/** End-to-end CDC round-trip, porting the reference's single
  * integration test (`CdcApplicationTests.kt:21-44`) to the file-source
  * envelope stream: insert -> update (create_time preserved) ->
  * delete -> reinsert (resurrection), plus malformed-record tolerance
  * and at-least-once redelivery idempotence.
  */
class CdcStreamSpec extends SparkSpec {

  private def env(id: String, lsn: Long, tsMs: Long,
                  createMs: Long, updateMs: Long,
                  message: String, user: String): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":{"id":"$id","create_time":$createMs,"update_time":$updateMs,"message":"$message","username":"$user"},"source":{"lsn":$lsn,"ts_ms":$tsMs,"txId":$lsn},"op":"i","ts_ms":$tsMs}}"""

  private def tombstone(id: String, lsn: Long, tsMs: Long): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":null,"source":{"lsn":$lsn,"ts_ms":$tsMs,"txId":$lsn},"op":"d","ts_ms":$tsMs}}"""

  test("file-source CDC stream materializes the latest-wins view") {
    val root = Files.createTempDirectory("cdc").toString
    val in = s"$root/in"; val cp = s"$root/cp"; val state = s"$root/state"
    Files.createDirectories(Paths.get(in))

    // Batch 1: insert a, insert b, update a (create_time preserved by
    // the writer, envelope carries it), delete b, insert+delete+
    // reinsert c, one malformed line, and a redelivered duplicate of
    // a's update (at-least-once).
    val lines = Seq(
      env("a", 1, 1000, 1000, 1000, "hello", "u1"),
      env("b", 2, 1500, 1500, 1500, "bye", "u2"),
      env("a", 3, 2000, 1000, 2000, "hello v2", "u1"),
      tombstone("b", 4, 2500),
      env("c", 5, 3000, 3000, 3000, "c1", "u3"),
      tombstone("c", 6, 3500),
      env("c", 7, 4000, 4000, 4000, "c2", "u3"),
      """this is not an envelope at all {{{""",
      env("a", 3, 2000, 1000, 2000, "hello v2", "u1") // redelivery
    )
    Files.write(Paths.get(s"$in/batch1.json"),
      lines.mkString("\n").getBytes("UTF-8"))

    val dead = s"$root/dead"
    val q = CdcStream.runFileStream(spark, in, cp, state, nBuckets = 1,
      deadLetterDir = Some(dead))
    q.awaitTermination()

    val view = CdcStream.readView(spark, state)
      .orderBy("id").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
                 r.getTimestamp(2).getTime, r.getString(3), r.getString(4)))
    assert(view.toSeq == Seq(
      ("a", 1000L, 2000L, "hello v2", "u1"),  // latest wins; create_time preserved
      ("c", 4000L, 4000L, "c2", "u3")))       // delete-then-reinsert resurrects
    // b tombstoned away

    // malformed record was counted AND dead-lettered, not fatal
    val batch = spark.read.schema(CdcStream.fileRecordSchema).json(in)
    assert(CdcStream.malformedCount(CdcStream.decodeFile(batch)) == 1)
    val dl = spark.read.parquet(dead)
    assert(dl.count() == 1 && dl.columns.contains("batch_id"))

    // Phase 2: append a new file (delete a), resume from checkpoint —
    // only the new file is processed.
    Files.write(Paths.get(s"$in/batch2.json"),
      tombstone("a", 8, 5000).getBytes("UTF-8"))
    val q2 = CdcStream.runFileStream(spark, in, cp, state, nBuckets = 1)
    q2.awaitTermination()

    val view2 = CdcStream.readView(spark, state).select("id").collect().map(_.getString(0))
    assert(view2.toSeq == Seq("c"))
  }

  test("presentView orders newest create_time first (reference R5)") {
    val root = Files.createTempDirectory("cdcr5").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    val lines = Seq(
      env("old", 1, 1000, 1000, 1000, "first", "u"),
      env("new", 2, 2000, 5000, 5000, "last", "u"),
      env("mid", 3, 3000, 3000, 3000, "middle", "u"))
    Files.write(Paths.get(s"$in/b.json"), lines.mkString("\n").getBytes("UTF-8"))
    val q = CdcStream.runFileStream(spark, in, s"$root/cp", s"$root/state", nBuckets = 1)
    q.awaitTermination()
    val ids = CdcStream.presentView(spark, s"$root/state")
      .select("id").collect().map(_.getString(0))
    assert(ids.toSeq == Seq("new", "mid", "old"), ids.toSeq)
  }

  test("decode classifies by after IS NULL, not op code (reference semantics)") {
    import spark.implicits._
    // op says 'u' but after is null -> DELETE (MessageConsumer.kt:32
    // branches on the payload, never on op)
    val line =
      """{"key":{"id":"x"},"value":{"before":null,"after":null,"source":{"lsn":9,"ts_ms":1,"txId":9},"op":"u","ts_ms":1}}"""
    val df = spark.read.schema(CdcStream.fileRecordSchema)
      .json(Seq(line).toDS())
    val out = CdcStream.decodeFile(df).select("event_type", "id").head()
    assert(out.getString(0) == CdcStream.Delete)
    assert(out.getString(1) == "x") // id recovered from the key
  }

  test("Debezium initial-snapshot records (op='r') materialize like inserts") {
    import spark.implicits._
    // Debezium's initial table snapshot emits op='r' with after set and
    // before=null; the pipeline classifies by the payload, so snapshot
    // rows bootstrap the view exactly like inserts (SURVEY R1 note).
    val lines = Seq(
      """{"key":{"id":"s1"},"value":{"before":null,"after":{"id":"s1","create_time":1,"update_time":1,"message":"from snapshot","username":"u"},"source":{"lsn":1,"ts_ms":1,"txId":1},"op":"r","ts_ms":1}}""",
      """{"key":{"id":"s1"},"value":{"before":null,"after":{"id":"s1","create_time":1,"update_time":2,"message":"streamed later","username":"u"},"source":{"lsn":2,"ts_ms":2,"txId":2},"op":"u","ts_ms":2}}""")
    val df = spark.read.schema(CdcStream.fileRecordSchema).json(lines.toDS())
    val view = CdcStream.materialize(CdcStream.decodeFile(df))
      .select("id", "message").collect().map(r => (r.getString(0), r.getString(1)))
    assert(view.toSeq == Seq(("s1", "streamed later")))
  }

  test("batch-table bootstrap then stream: fence keeps stale replays out") {
    import spark.implicits._
    val root = Files.createTempDirectory("cdcboot").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    val state = s"$root/state"

    // initial snapshot of the base table (batch read), fenced at lsn 100
    val snapshot = Seq(
      ("a", 10L, 10L, "a v1", "u1"),
      ("b", 20L, 20L, "b v1", "u2"))
      .toDF("id", "create_time", "update_time", "message", "username")
    CdcStream.bootstrapFromTable(snapshot, state, nBuckets = 1, fenceLsn = 100L)
    assert(CdcStream.readView(spark, state).count() == 2)

    // change stream on top: update a (post-fence), delete b
    // (post-fence), and a REPLAYED pre-fence change of a that must lose
    val lines = Seq(
      env("a", 150, 1000, 10, 1000, "a v2", "u1"),
      tombstone("b", 151, 1500),
      env("a", 50, 500, 10, 500, "a stale pre-snapshot", "u1"))
    Files.write(Paths.get(s"$in/changes.json"), lines.mkString("\n").getBytes("UTF-8"))
    val q = CdcStream.runFileStream(spark, in, s"$root/cp", state, nBuckets = 1)
    q.awaitTermination()

    val view = CdcStream.readView(spark, state)
      .select("id", "message").collect().map(r => (r.getString(0), r.getString(1)))
    assert(view.toSeq.sorted == Seq(("a", "a v2"))) // b deleted, stale replay lost
  }

  test("bucketed incremental merge produces the same view as the snapshot merge") {
    val root = Files.createTempDirectory("cdcbkt").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    val lines = Seq(
      env("a", 1, 1000, 1000, 1000, "hello", "u1"),
      env("b", 2, 1500, 1500, 1500, "bye", "u2"),
      env("a", 3, 2000, 1000, 2000, "hello v2", "u1"),
      tombstone("b", 4, 2500),
      env("c", 5, 3000, 3000, 3000, "c1", "u3"),
      tombstone("c", 6, 3500),
      env("c", 7, 4000, 4000, 4000, "c2", "u3"),
      env("a", 3, 2000, 1000, 2000, "hello v2", "u1") // redelivery
    )
    Files.write(Paths.get(s"$in/batch1.json"), lines.mkString("\n").getBytes("UTF-8"))

    val q2 = CdcStream.runFileStream(spark, in, s"$root/cp2", s"$root/bucketed", 8)
    q2.awaitTermination()

    def snap(dir: String) = CdcStream.readView(spark, dir).orderBy("id").collect()
      .map(_.toString).toSeq
    // the reference: one batch materialization of all input so far,
    // shaped like the view
    def reference() = CdcStream.materialize(CdcStream.decodeFile(
        spark.read.schema(CdcStream.fileRecordSchema).json(in)))
      .select(col("id"), timestamp_millis(col("create_time")).as("create_time"),
        timestamp_millis(col("update_time")).as("update_time"),
        col("message"), col("username"))
      .orderBy("id").collect().map(_.toString).toSeq
    assert(snap(s"$root/bucketed") == reference())
    assert(snap(s"$root/bucketed").size == 2) // a + resurrected c

    // second batch through the bucketed path: only affected buckets move
    Files.write(Paths.get(s"$in/batch2.json"),
      tombstone("a", 8, 5000).getBytes("UTF-8"))
    val q3 = CdcStream.runFileStream(spark, in, s"$root/cp2", s"$root/bucketed", 8)
    q3.awaitTermination()
    val ids = CdcStream.readView(spark, s"$root/bucketed").select("id")
      .collect().map(_.getString(0))
    assert(ids.toSeq == Seq("c"))
    assert(snap(s"$root/bucketed") == reference())
  }

  test("bucketed merge is idempotent under batch replay") {
    import spark.implicits._
    val root = Files.createTempDirectory("cdcidem").toString
    val batch = spark.read.schema(CdcStream.fileRecordSchema)
      .json(Seq(
        env("x", 1, 100, 100, 100, "one", "u"),
        env("y", 2, 200, 200, 200, "two", "u"),
        tombstone("x", 3, 300)).toDS())
    val decoded = CdcStream.decodeFile(batch)
    val sink = new graft.sinks.BucketedParquetSink(s"$root/state", 8)
    sink.merge(decoded)
    val first = ManifestState.read(spark, s"$root/state").orderBy("id", "lsn")
      .collect().map(_.toString).toSeq
    // at-least-once redelivery of the SAME batch
    sink.merge(decoded)
    val second = ManifestState.read(spark, s"$root/state").orderBy("id", "lsn")
      .collect().map(_.toString).toSeq
    assert(first == second)
  }
}
