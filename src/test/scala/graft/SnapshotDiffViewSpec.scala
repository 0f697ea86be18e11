package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.SnapshotDiffView

class SnapshotDiffViewSpec extends SparkSpec {

  private def ev(rows: Seq[(Long, String, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (u, ts, id, v) => (u, Timestamp.valueOf(ts), id, v) }
      .toDF("user_id", "ts", "event_id", "value")
  }

  // Three ts-ordered batches over four keys, with an update (key 1),
  // a no-op late arrival (key 2 in batch 3 carries an OLDER ts than
  // its state), an equal-value update (key 3), and a late birth (4).
  private val b1 = Seq(
    (1L, "2024-01-01 10:00:00", 100L, 10.0),
    (2L, "2024-01-02 10:00:00", 101L, 20.0),
    (3L, "2024-01-03 10:00:00", 102L, 30.0))
  private val b2 = Seq(
    (1L, "2024-01-11 10:00:00", 200L, 15.5), // changed
    (3L, "2024-01-12 10:00:00", 201L, 30.0)) // same value, newer event
  private val b3 = Seq(
    (2L, "2024-01-01 09:00:00", 300L, 99.0), // late, loses -> same
    (4L, "2024-01-21 10:00:00", 301L, 40.0)) // added

  /** Naive latest-wins recompute over every event seen so far. */
  private def naiveView(all: Seq[(Long, String, Long, Double)]): Map[Long, Double] =
    all.groupBy(_._1).map { case (u, rows) =>
      u -> rows.maxBy(r => (r._2, r._3))._4
    }

  test("state tracks the batch recompute; diffs classify added/changed/same") {
    val root = Files.createTempDirectory("snapdiff").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    val batches = Seq(b1, b2, b3)
    var seen = Seq.empty[(Long, String, Long, Double)]
    batches.zipWithIndex.foreach { case (b, i) =>
      SnapshotDiffView.mergeBatch(ev(b), stateDir, diffDir, i.toLong)
      seen ++= b
      val got = SnapshotDiffView.readView(spark, stateDir)
        .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      assert(got == naiveView(seen), s"state drifted after batch $i")
    }

    def diff(i: Long): Map[Long, (Option[Double], Double, String)] =
      SnapshotDiffView.readDiff(spark, diffDir, i)
        .select($"user_id", $"v1_r", $"v2_r", $"status")
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)).map(_.asInstanceOf[Double]), r.getDouble(2), r.getString(3)))
        .toMap

    assert(diff(0) == Map(
      1L -> (None, 10.0, "added"),
      2L -> (None, 20.0, "added"),
      3L -> (None, 30.0, "added")))
    assert(diff(1) == Map(
      1L -> (Some(10.0), 15.5, "changed"),
      3L -> (Some(30.0), 30.0, "same")))
    assert(diff(2) == Map(
      2L -> (Some(20.0), 20.0, "same"), // late arrival never regresses
      4L -> (None, 40.0, "added")))
  }

  test("non-same diff rows equal the q150 classification between cutoffs") {
    val root = Files.createTempDirectory("snapdiff2").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L)
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L)

    // q150's spelling between cutoff T1 = end of batch 1 and T2 = end
    // of batch 2: one conditional max_by aggregate over ALL events.
    val t1 = lit("2024-01-04").cast("timestamp")
    val t2 = lit("2024-01-14").cast("timestamp")
    val batchStyle = ev(b1 ++ b2)
      .groupBy($"user_id")
      .agg(
        max_by($"value", when($"ts" <= t1, struct($"ts", $"event_id"))).as("v1"),
        max_by($"value", when($"ts" <= t2, struct($"ts", $"event_id"))).as("v2"))
      .filter($"v2".isNotNull)
      .select($"user_id", round($"v1", 4).as("v1_r"), round($"v2", 4).as("v2_r"),
        when($"v1".isNull, lit("added"))
          .when($"v1" === $"v2", lit("same"))
          .otherwise(lit("changed")).as("status"))
      .filter($"status" =!= "same")
      .collect().toSet

    val streaming = SnapshotDiffView.readDiff(spark, diffDir, 1L)
      .filter($"status" =!= "same")
      .select($"user_id", $"v1_r", $"v2_r", $"status")
      .collect().toSet
    assert(streaming == batchStyle)
  }

  test("replaying a batch is idempotent (state and diff slice unchanged)") {
    val root = Files.createTempDirectory("snapdiff3").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L)
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L)
    val view = SnapshotDiffView.readView(spark, stateDir)
      .as[(Long, Timestamp, Long, Double)].collect().toSet
    val slice = SnapshotDiffView.readDiff(spark, diffDir, 1L).collect().toSet

    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L) // replay
    assert(SnapshotDiffView.readView(spark, stateDir)
      .as[(Long, Timestamp, Long, Double)].collect().toSet == view)
    assert(SnapshotDiffView.readDiff(spark, diffDir, 1L).collect().toSet == slice)
  }

  test("a crash between the swap's renames heals: state restores from its backup") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val root = Files.createTempDirectory("snapdiff5").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L)
    val view = SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
    // simulate dying between swapDirs' two renames: live dir gone,
    // backup present (dot-prefixed so Spark readers skip it)
    JFiles.move(Paths.get(stateDir), Paths.get(s"$root/.state.old"),
      StandardCopyOption.ATOMIC_MOVE)
    val healed = SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
    assert(healed == view, "backup was not restored on read")
    // and the next merge proceeds from the healed state, fence intact
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L)
    assert(SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ b2))
  }

  test("a snapshot stranded under the LEGACY backup naming still heals when live is gone") {
    import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
    val root = Files.createTempDirectory("snapdiff7").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L)
    // pre-upgrade crash between the old swap's renames: the state
    // survives ONLY as `state.old` (no dot prefix) — restore it rather
    // than losing it
    val legacy = JPaths.get(s"$root/state.old")
    JFiles.move(JPaths.get(stateDir), legacy, StandardCopyOption.ATOMIC_MOVE)
    assert(SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1), "legacy-named stranded state was not healed on read")

    // a legacy backup beside a LIVE state is debris: the read path
    // deletes it (current code never writes that name, so it cannot be
    // a racing writer's in-flight backup) and never serves its rows
    Seq((1L, Timestamp.valueOf("1999-01-01 00:00:00"), 1L, -999.0))
      .toDF("user_id", "ts", "event_id", "value")
      .write.parquet(legacy.toString)
    assert(SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1), "legacy backup rows leaked into the view")
    assert(!JFiles.exists(legacy), "legacy backup not cleaned up")

    // and the next merge proceeds from the healed state, fence intact
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L)
    assert(SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ b2))
  }

  test("a batch id below the applied fence is an error, not a silent skip") {
    val root = Files.createTempDirectory("snapdiff6").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L)
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L)
    // checkpoint wiped while state survived -> ids restart at 0: the
    // merge must refuse (silently skipping would drop real batches)
    intercept[IllegalStateException] {
      SnapshotDiffView.mergeBatch(ev(b3), stateDir, diffDir, 0L)
    }
  }

  test("bucketed merge equals the plain merge: view and every diff slice") {
    val root = Files.createTempDirectory("snapdiffb").toString
    import spark.implicits._
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      SnapshotDiffView.mergeBatch(ev(b), s"$root/plain_state", s"$root/plain_diff", i.toLong)
      SnapshotDiffView.mergeBatchBucketed(ev(b), s"$root/bkt_state", s"$root/bkt_diff",
        i.toLong, nBuckets = 8)
    }
    val plainView = SnapshotDiffView.readView(spark, s"$root/plain_state")
      .select($"user_id", $"value").as[(Long, Double)].collect().toSet
    val bktView = SnapshotDiffView.readViewBucketed(spark, s"$root/bkt_state")
      .select($"user_id", $"value").as[(Long, Double)].collect().toSet
    assert(bktView == plainView)
    (0 to 2).foreach { i =>
      val p = SnapshotDiffView.readDiff(spark, s"$root/plain_diff", i.toLong).collect().toSet
      val b = SnapshotDiffView.readDiff(spark, s"$root/bkt_diff", i.toLong).collect().toSet
      assert(b == p, s"diff slice $i diverged")
    }
  }

  test("bucketed merge rewrites only touched buckets and replays idempotently") {
    import graft.streaming.ManifestState
    val root = Files.createTempDirectory("snapdiffb2").toString
    val (st, df) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    SnapshotDiffView.mergeBatchBucketed(ev(b1), st, df, 0L, nBuckets = 8)
    val before = ManifestState.readManifest(st)

    // a single-user batch touches exactly one bucket; every commit
    // names a fresh version, so an unchanged manifest entry proves an
    // untouched bucket was never rewritten
    val one = Seq((1L, "2024-01-15 10:00:00", 500L, 77.0))
    SnapshotDiffView.mergeBatchBucketed(ev(one), st, df, 1L, nBuckets = 8)
    val after = ManifestState.readManifest(st)
    assert(after.epoch == before.epoch + 1)
    assert(after.buckets.keySet == before.buckets.keySet)
    val changed = after.buckets.keySet.filter(k => before.buckets(k) != after.buckets(k))
    assert(changed.size == 1, s"expected exactly one bucket rewritten: $changed")
    assert(SnapshotDiffView.readViewBucketed(spark, st)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ one))

    // replay: view unchanged AND the committed diff slice survives
    // (a recompute against post-merge state would say "same", not
    // "changed" — the _SUCCESS guard must prevent that)
    val slice = SnapshotDiffView.readDiff(spark, df, 1L).collect().toSet
    SnapshotDiffView.mergeBatchBucketed(ev(one), st, df, 1L, nBuckets = 8)
    assert(SnapshotDiffView.readDiff(spark, df, 1L).collect().toSet == slice)
    assert(SnapshotDiffView.readViewBucketed(spark, st)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ one))
    assert(slice.exists(_.getString(3) == "changed"),
      "fixture must exercise the changed->same degradation hazard")
  }

  test("streaming run over a file source produces the same final view") {
    val root = Files.createTempDirectory("snapdiff4").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    val inDir = s"$root/in"
    import spark.implicits._

    // One parquet file per batch; maxFilesPerTrigger=1 makes each its
    // own micro-batch under AvailableNow.
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      ev(b).coalesce(1).write.parquet(s"$inDir/f$i")
    }
    val src = spark.readStream
      .schema(ev(b1).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inDir/f*")
    SnapshotDiffView.run(src, s"$root/ckpt", stateDir, diffDir)
      .awaitTermination(60000)

    val got = SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
    assert(got == naiveView(b1 ++ b2 ++ b3))
  }
}
