package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
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
      SnapshotDiffView.mergeBatch(ev(b), stateDir, diffDir, i.toLong, nBuckets = 1)
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

    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L, nBuckets = 1)
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L, nBuckets = 1)

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

    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L, nBuckets = 1)
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L, nBuckets = 1)
    val view = SnapshotDiffView.readView(spark, stateDir)
      .as[(Long, Timestamp, Long, Double)].collect().toSet
    val slice = SnapshotDiffView.readDiff(spark, diffDir, 1L).collect().toSet

    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L, nBuckets = 1) // replay
    assert(SnapshotDiffView.readView(spark, stateDir)
      .as[(Long, Timestamp, Long, Double)].collect().toSet == view)
    assert(SnapshotDiffView.readDiff(spark, diffDir, 1L).collect().toSet == slice)
  }

  /** A whole snapshot as the retired directory swap left it: the state
    * rows as top-level parquet, with the applied batch id beside them. */
  private def retiredSnapshot(dir: String, rows: Seq[(Long, String, Long, Double)]): Unit = {
    ev(rows).write.parquet(dir)
    Files.write(Paths.get(dir, "_applied_batch"), "0".getBytes)
  }

  private def refusedNaming(what: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(what), e.getMessage)
  }

  test("a swap backup stranded by a crash is refused, naming the backup") {
    val root = Files.createTempDirectory("snapdiff5").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    // dying between the retired swap's two renames left the live dir
    // gone and its only copy in the dot-prefixed backup: read as empty,
    // the next commit would reset the state
    retiredSnapshot(s"$root/.state.old", b1)
    refusedNaming(".state.old")(SnapshotDiffView.readView(spark, stateDir))
    refusedNaming(".state.old")(
      SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L, nBuckets = 1))
    assert(!Files.exists(Paths.get(stateDir)), "a refused merge committed")

    // renamed back, it is a whole snapshot: refused with the remedy
    Files.move(Paths.get(s"$root/.state.old"), Paths.get(stateDir),
      StandardCopyOption.ATOMIC_MOVE)
    refusedNaming("re-bootstrap")(SnapshotDiffView.readView(spark, stateDir))
    refusedNaming("re-bootstrap")(
      SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L, nBuckets = 1))
    assert(!Files.exists(Paths.get(stateDir, "MANIFEST")), "a refused merge committed")

    // the remedy: its rows merged as one batch into a fresh root, then
    // the stream continues on top
    val fresh = s"$root/fresh"
    SnapshotDiffView.mergeBatch(spark.read.parquet(stateDir), fresh, s"$root/fdiff", 0L,
      nBuckets = 1)
    SnapshotDiffView.mergeBatch(ev(b2), fresh, s"$root/fdiff", 1L, nBuckets = 1)
    assert(SnapshotDiffView.readView(spark, fresh)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ b2))
  }

  test("a backup stranded under the LEGACY name is refused, naming the backup") {
    val root = Files.createTempDirectory("snapdiff7").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")

    // a crash under the pre-dot-prefix naming: the state survives ONLY
    // as `state.old`
    retiredSnapshot(s"$root/state.old", b1)
    refusedNaming("state.old")(SnapshotDiffView.readView(spark, stateDir))
    refusedNaming("state.old")(
      SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L, nBuckets = 1))
    assert(!Files.exists(Paths.get(stateDir)), "a refused merge committed")
    assert(Files.exists(Paths.get(s"$root/state.old", "_applied_batch")),
      "the backup must be left as it was")
  }

  test("a batch id below the applied fence is an error, not a silent skip") {
    val root = Files.createTempDirectory("snapdiff6").toString
    val (stateDir, diffDir) = (s"$root/state", s"$root/diff")
    SnapshotDiffView.mergeBatch(ev(b1), stateDir, diffDir, 0L, nBuckets = 1)
    SnapshotDiffView.mergeBatch(ev(b2), stateDir, diffDir, 1L, nBuckets = 1)
    // checkpoint wiped while state survived -> ids restart at 0: the
    // merge must refuse (silently skipping would drop real batches)
    intercept[IllegalStateException] {
      SnapshotDiffView.mergeBatch(ev(b3), stateDir, diffDir, 0L, nBuckets = 1)
    }
  }

  test("bucketed merge equals the plain merge: view and every diff slice") {
    val root = Files.createTempDirectory("snapdiffb").toString
    import spark.implicits._
    // the reference: the naive recompute of the view, and each batch's
    // diff classified by hand (the same fixture as the first case)
    val wantDiffs = Seq(
      Map(1L -> (None, 10.0, "added"), 2L -> (None, 20.0, "added"),
          3L -> (None, 30.0, "added")),
      Map(1L -> (Some(10.0), 15.5, "changed"), 3L -> (Some(30.0), 30.0, "same")),
      Map(2L -> (Some(20.0), 20.0, "same"), 4L -> (None, 40.0, "added")))
    var seen = Seq.empty[(Long, String, Long, Double)]
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      SnapshotDiffView.mergeBatch(ev(b), s"$root/bkt_state", s"$root/bkt_diff",
        i.toLong, nBuckets = 8)
      seen ++= b
      val bktView = SnapshotDiffView.readView(spark, s"$root/bkt_state")
        .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      assert(bktView == naiveView(seen), s"state drifted after batch $i")
      val d = SnapshotDiffView.readDiff(spark, s"$root/bkt_diff", i.toLong)
        .select($"user_id", $"v1_r", $"v2_r", $"status")
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)).map(_.asInstanceOf[Double]), r.getDouble(2), r.getString(3)))
        .toMap
      assert(d == wantDiffs(i), s"diff slice $i diverged")
    }
  }

  test("bucketed merge rewrites only touched buckets and replays idempotently") {
    import graft.streaming.ManifestState
    val root = Files.createTempDirectory("snapdiffb2").toString
    val (st, df) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    SnapshotDiffView.mergeBatch(ev(b1), st, df, 0L, nBuckets = 8)
    val before = ManifestState.readManifest(st)

    // a single-user batch touches exactly one bucket; every commit
    // names a fresh version, so an unchanged manifest entry proves an
    // untouched bucket was never rewritten
    val one = Seq((1L, "2024-01-15 10:00:00", 500L, 77.0))
    SnapshotDiffView.mergeBatch(ev(one), st, df, 1L, nBuckets = 8)
    val after = ManifestState.readManifest(st)
    assert(after.epoch == before.epoch + 1)
    assert(after.buckets.keySet == before.buckets.keySet)
    val changed = after.buckets.keySet.filter(k => before.buckets(k) != after.buckets(k))
    assert(changed.size == 1, s"expected exactly one bucket rewritten: $changed")
    assert(SnapshotDiffView.readView(spark, st)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ one))

    // replay: view unchanged AND the committed diff slice survives
    // (a recompute against post-merge state would say "same", not
    // "changed" — the manifest's replay fence must prevent that)
    val slice = SnapshotDiffView.readDiff(spark, df, 1L).collect().toSet
    SnapshotDiffView.mergeBatch(ev(one), st, df, 1L, nBuckets = 8)
    assert(ManifestState.readManifest(st) == after, "a replay committed")
    assert(SnapshotDiffView.readDiff(spark, df, 1L).collect().toSet == slice)
    assert(SnapshotDiffView.readView(spark, st)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ one))
    assert(slice.exists(_.getString(3) == "changed"),
      "fixture must exercise the changed->same degradation hazard")
  }

  test("a root whose manifest records no batch id merges its next batch, then fences it") {
    import graft.streaming.ManifestState
    val root = Files.createTempDirectory("snapdiffup").toString
    val (st, df) = (s"$root/state", s"$root/diff")
    import spark.implicits._

    // the retired bucketed merge wrote manifests without an "applied" id
    SnapshotDiffView.mergeBatch(ev(b1), st, df, 0L, nBuckets = 1)
    val mf = java.nio.file.Paths.get(st, "MANIFEST")
    val text = new String(Files.readAllBytes(mf), "UTF-8")
    Files.write(mf, text.replace(""","applied":0""", "").getBytes("UTF-8"))
    assert(ManifestState.readManifest(st).applied.isEmpty)

    val one = Seq((1L, "2024-01-15 10:00:00", 500L, 77.0))
    SnapshotDiffView.mergeBatch(ev(one), st, df, 1L, nBuckets = 1)
    val after = ManifestState.readManifest(st)
    assert(after.applied.contains(1L))
    val slice = SnapshotDiffView.readDiff(spark, df, 1L).collect().toSet
    assert(slice.exists(_.getString(3) == "changed"))
    SnapshotDiffView.mergeBatch(ev(one), st, df, 1L, nBuckets = 1)
    assert(ManifestState.readManifest(st) == after, "a replay committed")
    assert(SnapshotDiffView.readDiff(spark, df, 1L).collect().toSet == slice)
    assert(SnapshotDiffView.readView(spark, st)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      == naiveView(b1 ++ one))
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
    SnapshotDiffView.run(src, s"$root/ckpt", stateDir, diffDir, nBuckets = 1)
      .awaitTermination(60000)

    val got = SnapshotDiffView.readView(spark, stateDir)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
    assert(got == naiveView(b1 ++ b2 ++ b3))
  }
}
