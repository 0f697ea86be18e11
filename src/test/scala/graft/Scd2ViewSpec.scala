package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{CdcStream, Scd2View}

/** Streaming SCD Type-2 dimension maintenance ([[Scd2View]]) — the
  * streaming twin of `q104_scd2_build`: version chains built
  * incrementally per micro-batch, O(touched-id slice) per merge.
  */
class Scd2ViewSpec extends SparkSpec {

  private def ts(lsn: Long): Timestamp = new Timestamp(lsn * 1000L)

  /** One decoded change row (CdcStream.classify shape; times are
    * epoch millis, matching the envelope convention). */
  private def change(id: String, lsn: Long, msg: String, user: String,
                     delete: Boolean = false): (String, String, java.lang.Long, java.lang.Long, String, String, Long, Long) =
    (if (delete) CdcStream.Delete else CdcStream.Upsert, id,
     if (delete) null else java.lang.Long.valueOf(lsn * 1000L),
     if (delete) null else java.lang.Long.valueOf(lsn * 1000L),
     if (delete) null else msg, if (delete) null else user,
     lsn, lsn * 1000L)

  private def toDf(rows: Seq[(String, String, java.lang.Long, java.lang.Long, String, String, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_type", "id", "create_time", "update_time",
      "message", "username", "lsn", "ts_ms")
  }

  private def dim(stateDir: String) =
    Scd2View.readDim(spark, stateDir)
      .orderBy("id", "version").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getTimestamp(4)), r.getLong(5), r.getBoolean(6)))

  test("version chains across batches: update, delete, resurrection") {
    val root = Files.createTempDirectory("scd2").toString
    val state = s"$root/state"

    // batch 1: insert a, insert b
    Scd2View.mergeBatch(toDf(Seq(
      change("a", 1, "a-v1", "alice"),
      change("b", 2, "b-v1", "bob"))), state, nBuckets = 1)
    // batch 2: update a, delete b
    Scd2View.mergeBatch(toDf(Seq(
      change("a", 3, "a-v2", "alice"),
      change("b", 4, "", "", delete = true))), state, nBuckets = 1)
    // batch 3: update a again, resurrect b
    Scd2View.mergeBatch(toDf(Seq(
      change("a", 5, "a-v3", "alice"),
      change("b", 6, "b-v2", "bob"))), state, nBuckets = 1)

    val got = dim(state)
    assert(got.toSeq == Seq(
      ("a", "a-v1", Some(ts(3)), 1L, false),
      ("a", "a-v2", Some(ts(5)), 2L, false),
      ("a", "a-v3", None, 3L, true),
      ("b", "b-v1", Some(ts(4)), 1L, false),   // closed by the delete
      ("b", "b-v2", None, 2L, true)),          // resurrection = next version
      s"got ${got.toSeq}")
  }

  test("a delete closes the open version and leaves NO current row") {
    val root = Files.createTempDirectory("scd2d").toString
    val state = s"$root/state"
    Scd2View.mergeBatch(toDf(Seq(change("x", 1, "x-v1", "u"))), state, nBuckets = 1)
    Scd2View.mergeBatch(toDf(Seq(change("x", 2, "", "", delete = true))), state, nBuckets = 1)
    val got = dim(state)
    assert(got.toSeq == Seq(("x", "x-v1", Some(ts(2)), 1L, false)), s"got ${got.toSeq}")
    assert(!got.exists(_._5), "deleted id must have no current version")
  }

  test("bucketed sink equals the plain sink after every batch (incl. deletes, resurrection)") {
    val bRoot = Files.createTempDirectory("scd2bb").toString
    val batches = Seq(
      Seq(change("a", 1, "a-v1", "alice"), change("b", 2, "b-v1", "bob"),
          change("c", 3, "c-v1", "cyd")),
      Seq(change("a", 4, "a-v2", "alice"), change("b", 5, "", "", delete = true)),
      Seq(change("b", 6, "b-v2", "bob"), change("c", 7, "c-v2", "cyd")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      Scd2View.mergeBatch(toDf(rows), bRoot, nBuckets = 8)
      // the reference: one merge of every event so far into a fresh root
      val oneShot = s"${Files.createTempDirectory(s"scd2bp$i").toString}/state"
      Scd2View.mergeBatch(toDf(batches.take(i + 1).flatten), oneShot, nBuckets = 1)
      val want = Scd2View.readDim(spark, oneShot)
        .collect().map(_.toString).sorted.toSeq
      val bucketed = Scd2View.readDim(spark, bRoot)
        .collect().map(_.toString).sorted.toSeq
      assert(bucketed == want, s"batch $i: bucketed dim != one-shot dim")
    }
    // O(touched) rewrite: one id -> at most one superseded bucket
    val before = graft.streaming.ManifestState.readManifest(bRoot)
    Scd2View.mergeBatch(toDf(Seq(change("a", 8, "a-v3", "alice"))), bRoot, 8)
    val after = graft.streaming.ManifestState.readManifest(bRoot)
    val changed = after.buckets.filter { case (k, v) => before.buckets.get(k) != Some(v) }
    assert(changed.size == 1, s"single-id batch rewrote ${changed.size} buckets")
  }

  test("incremental merge equals one-shot rebuild; replay is idempotent") {
    val rootInc = Files.createTempDirectory("scd2i").toString
    val rootAll = Files.createTempDirectory("scd2a").toString
    val b1 = Seq(change("a", 1, "a1", "u1"), change("b", 2, "b1", "u2"))
    val b2 = Seq(change("a", 3, "a2", "u1"), change("b", 4, "", "", delete = true))
    val b3 = Seq(change("c", 5, "c1", "u3"), change("b", 6, "b2", "u2"))

    Scd2View.mergeBatch(toDf(b1), s"$rootInc/state", nBuckets = 1)
    Scd2View.mergeBatch(toDf(b2), s"$rootInc/state", nBuckets = 1)
    Scd2View.mergeBatch(toDf(b3), s"$rootInc/state", nBuckets = 1)
    Scd2View.mergeBatch(toDf(b1 ++ b2 ++ b3), s"$rootAll/state", nBuckets = 1)
    assert(dim(s"$rootInc/state").toSeq == dim(s"$rootAll/state").toSeq,
      "incremental != one-shot rebuild")

    // at-least-once: replaying the last batch changes nothing
    Scd2View.mergeBatch(toDf(b3), s"$rootInc/state", nBuckets = 1)
    assert(dim(s"$rootInc/state").toSeq == dim(s"$rootAll/state").toSeq,
      "replay broke idempotency")
  }

  test("property: incremental == one-shot for random op sequences and batch splits") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val ids = Seq("a", "b", "c")
      // random global op sequence with strictly increasing lsn
      val ops = (1 to 20).map { lsn =>
        val id = ids(rnd.nextInt(ids.length))
        if (rnd.nextDouble() < 0.25) change(id, lsn.toLong, "", "", delete = true)
        else change(id, lsn.toLong, s"$id-m$lsn", s"u${rnd.nextInt(2)}")
      }
      // random split into 1..6 batches (order preserved)
      val cuts = (0 +: Seq.fill(rnd.nextInt(5))(rnd.nextInt(ops.length)) :+ ops.length)
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (s, e) => ops.slice(s, e) }
        .filter(_.nonEmpty)

      val rootInc = Files.createTempDirectory(s"scd2p$trial").toString
      val rootAll = Files.createTempDirectory(s"scd2q$trial").toString
      batches.foreach(b => Scd2View.mergeBatch(toDf(b), s"$rootInc/state", nBuckets = 1))
      Scd2View.mergeBatch(toDf(ops), s"$rootAll/state", nBuckets = 1)
      assert(dim(s"$rootInc/state").toSeq == dim(s"$rootAll/state").toSeq,
        s"trial $trial: ${batches.map(_.size)} splits diverged from one-shot")
    }
  }

  test("file-source stream drives the dimension end-to-end") {
    val root = Files.createTempDirectory("scd2s").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    def rec(id: String, lsn: Long, after: Option[(String, String)]): String = {
      val img = after.map { case (m, u) =>
        s"""{"id":"$id","create_time":$lsn,"update_time":$lsn,"message":"$m","username":"$u"}"""
      }.getOrElse("null")
      s"""{"key":{"id":"$id"},"value":{"before":null,"after":$img,"source":{"lsn":$lsn,"ts_ms":$lsn,"txId":$lsn},"op":"x","ts_ms":$lsn}}"""
    }
    Files.write(Paths.get(s"$in/all.json"), Seq(
      rec("m", 1, Some(("first", "alice"))),
      rec("m", 2, Some(("second", "alice"))),
      rec("n", 3, Some(("only", "bob")))).mkString("\n").getBytes("UTF-8"))

    val q = Scd2View.run(spark, in, s"$root/cp", s"$root/state", nBuckets = 1)
    q.awaitTermination()

    val got = Scd2View.readDim(spark, s"$root/state")
      .orderBy("id", "version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(5), r.getBoolean(6)))
    assert(got.toSeq == Seq(
      ("m", "first", 1L, false), ("m", "second", 2L, true),
      ("n", "only", 1L, true)), s"got ${got.toSeq}")
  }

  test("file-source stream drives the BUCKETED dimension end-to-end, resume included") {
    val root = Files.createTempDirectory("scd2sb").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    def rec(id: String, lsn: Long, after: Option[(String, String)]): String = {
      val img = after.map { case (m, u) =>
        s"""{"id":"$id","create_time":$lsn,"update_time":$lsn,"message":"$m","username":"$u"}"""
      }.getOrElse("null")
      s"""{"key":{"id":"$id"},"value":{"before":null,"after":$img,"source":{"lsn":$lsn,"ts_ms":$lsn,"txId":$lsn},"op":"x","ts_ms":$lsn}}"""
    }
    Files.write(Paths.get(s"$in/b1.json"), Seq(
      rec("m", 1, Some(("first", "alice"))),
      rec("m", 2, Some(("second", "alice"))),
      rec("n", 3, Some(("only", "bob")))).mkString("\n").getBytes("UTF-8"))

    Scd2View.run(spark, in, s"$root/cp", s"$root/state", nBuckets = 8)
      .awaitTermination()
    def dim() = Scd2View.readDim(spark, s"$root/state")
      .orderBy("id", "version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(5), r.getBoolean(6)))
    assert(dim().toSeq == Seq(
      ("m", "first", 1L, false), ("m", "second", 2L, true),
      ("n", "only", 1L, true)), s"got ${dim().toSeq}")

    // resume from the SAME checkpoint: a delete and a resurrection in a
    // later file — the checkpoint skips b1, the merge applies only b2
    Files.write(Paths.get(s"$in/b2.json"), Seq(
      rec("n", 4, None),
      rec("n", 5, Some(("back", "bob")))).mkString("\n").getBytes("UTF-8"))
    Scd2View.run(spark, in, s"$root/cp", s"$root/state", nBuckets = 8)
      .awaitTermination()
    assert(dim().toSeq == Seq(
      ("m", "first", 1L, false), ("m", "second", 2L, true),
      ("n", "only", 1L, false), ("n", "back", 2L, true)), s"got ${dim().toSeq}")
  }

  test("clock-skewed update_time cannot invert validity intervals") {
    val root = Files.createTempDirectory("scd2skew").toString
    val state = s"$root/state"
    def jl(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    // Chain order is (lsn, ts_ms); the middle change's wall clock went
    // BACKWARDS (update_time 3000 after 5000). valid_from must clamp
    // to the running max so no interval has valid_to < valid_from.
    Scd2View.mergeBatch(toDf(Seq(
      (CdcStream.Upsert, "x", jl(5000), jl(5000), "v1", "u", 1L, 1000L),
      (CdcStream.Upsert, "x", jl(3000), jl(3000), "v2", "u", 2L, 2000L),
      (CdcStream.Upsert, "x", jl(7000), jl(7000), "v3", "u", 3L, 3000L))), state, nBuckets = 1)

    val got = Scd2View.readDim(spark, state).orderBy("version").collect()
      .map(r => (r.getString(1), r.getTimestamp(3), Option(r.getTimestamp(4)),
        r.getLong(5), r.getBoolean(6)))
    assert(got.map(_._4).toSeq == Seq(1L, 2L, 3L))
    got.foreach { case (m, from, to, _, _) =>
      to.foreach(t => assert(!t.before(from), s"inverted interval on $m: $from > $t"))
    }
    // the skewed version starts where its predecessor started
    assert(got(1)._2.getTime == 5000L && got(1)._3.get.getTime == 7000L)
    assert(got(2)._5, "latest version is current")
  }
}
