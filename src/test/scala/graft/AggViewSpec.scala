package graft

import java.nio.file.{Files, Paths}

import graft.streaming.{AggView, CdcStream}

/** Delta-maintained aggregate view from before/after images — the
  * capability REPLICA IDENTITY FULL exists for (reference
  * `V1__init.sql:9`), which the reference's own consumer ignores.
  */
class AggViewSpec extends SparkSpec {

  private def rec(id: String, lsn: Long,
                  before: Option[(String, String)],
                  after: Option[(String, String)]): String = {
    def img(v: Option[(String, String)]): String = v match {
      case Some((msg, user)) =>
        s"""{"id":"$id","create_time":$lsn,"update_time":$lsn,"message":"$msg","username":"$user"}"""
      case None => "null"
    }
    s"""{"key":{"id":"$id"},"value":{"before":${img(before)},"after":${img(after)},"source":{"lsn":$lsn,"ts_ms":$lsn,"txId":$lsn},"op":"x","ts_ms":$lsn}}"""
  }

  test("aggregate view maintained by deltas across insert/update/delete/group-move") {
    val root = Files.createTempDirectory("aggview").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))

    val lines = Seq(
      rec("m1", 1, None, Some(("hello", "alice"))),                  // +alice(1,5)
      rec("m2", 2, None, Some(("hey", "bob"))),                      // +bob(1,3)
      rec("m1", 3, Some(("hello", "alice")), Some(("hi", "alice"))), // alice 5->2
      rec("m3", 4, None, Some(("yo", "alice"))),                     // alice(2,4)
      rec("m2", 5, Some(("hey", "bob")), Some(("hey", "alice"))),    // bob out, alice(3,7)
      rec("m3", 6, Some(("yo", "alice")), None)                      // alice(2,5)
    )
    Files.write(Paths.get(s"$in/all.json"), lines.mkString("\n").getBytes("UTF-8"))

    val q = AggView.run(spark, in, s"$root/cp", s"$root/state")
    q.awaitTermination()

    val view = AggView.readView(spark, s"$root/state")
      .orderBy("username").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // alice: rows m1("hi"=2) + m2("hey"=3) => (2, 5); bob: count 0 -> dropped
    assert(view.toSeq == Seq(("alice", 2L, 5L)), s"got ${view.toSeq}")
  }

  test("incremental result equals recompute-from-scratch over the final table") {
    val root = Files.createTempDirectory("aggview2").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))

    // two batches applied incrementally
    val batch1 = Seq(
      rec("a", 1, None, Some(("aaaa", "u1"))),
      rec("b", 2, None, Some(("bb", "u2"))),
      rec("c", 3, None, Some(("cccccc", "u1"))))
    val batch2 = Seq(
      rec("a", 4, Some(("aaaa", "u1")), Some(("a", "u2"))),   // move u1->u2
      rec("b", 5, Some(("bb", "u2")), None))                  // delete
    Files.write(Paths.get(s"$in/b1.json"), batch1.mkString("\n").getBytes("UTF-8"))
    val q1 = AggView.run(spark, in, s"$root/cp", s"$root/state")
    q1.awaitTermination()
    Files.write(Paths.get(s"$in/b2.json"), batch2.mkString("\n").getBytes("UTF-8"))
    val q2 = AggView.run(spark, in, s"$root/cp", s"$root/state")
    q2.awaitTermination()

    val incremental = AggView.readView(spark, s"$root/state")
      .orderBy("username").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // final table: a("a",u2), c("cccccc",u1) => u1:(1,6), u2:(1,1)
    assert(incremental.toSeq == Seq(("u1", 1L, 6L), ("u2", 1L, 1L)),
      s"got ${incremental.toSeq}")
  }

  test("delete replayed before its insert nets to zero, not a double count") {
    val root = Files.createTempDirectory("aggview3").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))

    // batch 1: the DELETE of carol's row arrives first (out-of-order
    // delivery), plus one normal row for dave
    val batch1 = Seq(
      rec("z", 2, Some(("hello", "carol")), None),
      rec("w", 3, None, Some(("hiya", "dave"))))
    // batch 2: the matching INSERT for carol's row arrives late
    val batch2 = Seq(rec("z", 1, None, Some(("hello", "carol"))))

    Files.write(Paths.get(s"$in/b1.json"), batch1.mkString("\n").getBytes("UTF-8"))
    val q1 = AggView.run(spark, in, s"$root/cp", s"$root/state")
    q1.awaitTermination()
    // mid-flight: the compensation (carol, -1) is state, not a result
    val mid = AggView.readView(spark, s"$root/state")
      .collect().map(_.getString(0)).sorted
    assert(mid.toSeq == Seq("dave"), s"got ${mid.toSeq}")

    Files.write(Paths.get(s"$in/b2.json"), batch2.mkString("\n").getBytes("UTF-8"))
    val q2 = AggView.run(spark, in, s"$root/cp", s"$root/state")
    q2.awaitTermination()

    val end = AggView.readView(spark, s"$root/state")
      .orderBy("username").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // carol's insert+delete net to zero; a dropped compensation would
    // have shown carol as (1, 5) here
    assert(end.toSeq == Seq(("dave", 1L, 4L)), s"got ${end.toSeq}")
  }

  test("a micro-batch replayed after its state commit is not counted twice") {
    import spark.implicits._
    val state = s"${Files.createTempDirectory("aggview4").toString}/state"
    def deltas(lines: String*) = AggView.deltas(
      spark.read.schema(CdcStream.fileRecordSchema).json(lines.toDS()))
    def view() = AggView.readView(spark, state).orderBy("username").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch0 = deltas(
      rec("a", 1, None, Some(("hello", "alice"))),
      rec("b", 2, None, Some(("hey", "bob"))))

    AggView.mergeDeltas(batch0, state, batchId = 0L)
    val once = view()
    assert(once == Seq(("alice", 1L, 5L), ("bob", 1L, 3L)), s"got $once")
    // a crash after the state commit but before Spark's checkpoint
    // commit: the stream hands the same batch id over again
    AggView.mergeDeltas(batch0, state, batchId = 0L)
    assert(view() == once, "the replayed batch was summed twice")

    // the next batch still merges; an id below the fence is refused
    AggView.mergeDeltas(deltas(rec("b", 3, Some(("hey", "bob")), None)), state, batchId = 1L)
    assert(view() == Seq(("alice", 1L, 5L)))
    intercept[IllegalStateException] {
      AggView.mergeDeltas(batch0, state, batchId = 0L)
    }
    assert(view() == Seq(("alice", 1L, 5L)))
  }
}
