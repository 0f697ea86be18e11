package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Checkpoints, Iterate}
import graft.streaming._

/** The shared ingest skeleton: scoped pins (no merge leaves a pin
  * behind, not even when it throws, and none releases another thread's
  * pins) and the one streaming driver with its retention sweep.
  */
class BucketedIngestSpec extends SparkSpec {

  private val s10 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"

  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private def vectors(rows: (Long, Array[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "v")
  }

  private val corpusVecs = vectors((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
    (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9)))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** Runs `merge` on a fresh root twice (an empty then a populated
    * state) after `prepare`, and checks that each call leaves no new
    * persisted RDD but the frame it returns, and that a pin the caller
    * holds survives. */
  private def assertNoLeak(name: String, prepare: String => Unit)
                          (merge: (String, Int) => Option[DataFrame]): Unit = {
    val root = Files.createTempDirectory(s"pinleak-$name").toString
    prepare(root)
    val held = Checkpoints.track(spark.range(10).toDF("x").localCheckpoint())
    try for (round <- 1 to 2) {
      val before = persisted
      val out = merge(root, round)
      val returned = out.map(rddIds).getOrElse(Set.empty)
      assert(persisted -- before == returned,
        s"$name round $round left pins behind: ${persisted -- before -- returned}")
      out.foreach(Iterate.unpersistCheckpoint)
      assert(persisted -- before == Set.empty, s"$name round $round")
      assert(rddIds(held).subsetOf(persisted), s"$name round $round released a caller's pin")
    } finally Checkpoints.release()
  }

  private def batchOf(round: Int) =
    if (round == 1) docs((1L, s10, "A"), (2L, s"x $s10", "B"), (3L, "tiny doc", "A"))
    else docs((10L, s"$s10 y", "C"), (11L, "k1 k2 k3 k4 k5 k6", "A"))

  private val nothing: String => Unit = _ => ()

  private val cases: Seq[(String, String => Unit, (String, Int) => Option[DataFrame])] = Seq(
    ("IngestDedup", nothing, { (root, round) =>
      IngestDedup.mergeBatch(IngestDedup.withFingerprint(batchOf(round), "text"),
        s"$root/out", s"$root/idx")
      None
    }),
    ("DupSpanIngest", nothing, { (root, round) =>
      DupSpanIngest.mergeBatch(batchOf(round), "text", "doc_id", s"$root/idx", s"$root/cov")
      None
    }),
    ("LeakageIngest", nothing, { (root, round) =>
      LeakageIngest.mergeBatch(batchOf(round), "text", "doc_id", "source",
        s"$root/idx", s"$root/leak")
      None
    }),
    ("WinnowIngest", nothing, { (root, round) =>
      WinnowIngest.mergeBatch(batchOf(round), "text", "doc_id", s"$root/idx",
        s"$root/pairs", minShared = 1L)
      None
    }),
    // the refusal throws after the merge pinned its selection
    ("WinnowIngest legacy pair-log refusal", { root =>
      import spark.implicits._
      Seq((1L, 2L, 5L, 0.5)).toDF("doc_a", "doc_b", "n_shared", "overlap_r")
        .write.parquet(s"$root/pairs")
    }, { (root, round) =>
      intercept[IllegalArgumentException] {
        WinnowIngest.mergeBatch(batchOf(round), "text", "doc_id", s"$root/idx", s"$root/pairs")
      }
      None
    }),
    ("SpanIngest", nothing, { (root, round) =>
      SpanIngest.mergeBatch(batchOf(round), "text", "doc_id", "source",
        s"$root/covidx", s"$root/cov", s"$root/leakidx", s"$root/leak")
      None
    }),
    ("SpanIngest.mergeBatchAll", nothing, { (root, round) =>
      SpanIngest.mergeBatchAll(batchOf(round), "text", "doc_id", "source",
        s"$root/covidx", s"$root/cov", s"$root/leakidx", s"$root/leak",
        s"$root/winidx", s"$root/winpairs", minShared = 1L)
      None
    }),
    ("NearDedupIngest", nothing, { (root, round) =>
      Some(NearDedupIngest.mergeBatch(batchOf(round).drop("source"), "text", "doc_id",
        s"$root/out", s"$root/idx", epoch = round.toLong))
    }),
    // the commit throws after the returned verdicts are pinned
    ("NearDedupIngest failed commit", nothing, { (root, round) =>
      NearDedupIngest.onPatchCommitted = () => throw new IllegalStateException("crash")
      try intercept[IllegalStateException] {
        NearDedupIngest.mergeBatch(batchOf(round).drop("source"), "text", "doc_id",
          s"$root/out", s"$root/idx", epoch = round.toLong)
      } finally NearDedupIngest.onPatchCommitted = () => ()
      None
    }),
    ("IvfIngest", { root =>
      IvfIngest.seed(corpusVecs, s"$root/post", s"$root/quant", nlist = 2, iters = 1)
    }, { (root, round) =>
      IvfIngest.mergeBatch(vectors((10L + round, Array(0.8, 0.2))),
        s"$root/post", s"$root/quant")
      None
    }))

  for ((name, prepare, merge) <- cases)
    test(s"$name: a merge releases every pin it took, and only those") {
      assertNoLeak(name.replaceAll("[^A-Za-z]", ""), prepare)(merge)
    }

  test("IvfIngest.seed releases its own pins, not another thread's tracked frame") {
    val root = Files.createTempDirectory("ivfpins").toString
    val mine = Checkpoints.track(spark.range(1000).toDF("x").localCheckpoint())
    try {
      var failure: Throwable = null
      val other = new Thread(() =>
        try IvfIngest.seed(corpusVecs, s"$root/post", s"$root/quant", nlist = 2, iters = 1)
        catch { case t: Throwable => failure = t })
      other.start()
      other.join()
      assert(failure == null, String.valueOf(failure))
      assert(mine.count() == 1000L)
      assert(rddIds(mine).subsetOf(persisted))
      assert(IvfIngest.postings(spark, s"$root/post").count() == 4L)
    } finally Checkpoints.release()
  }

  test("run streams mergeBatchAll into the roots sequential merges write, pruning each at its cadence") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("ingestdriver").toString
    val batches = Seq(
      Seq((1L, s10, "A"), (2L, s"x $s10", "B"), (3L, "tiny doc", "A")),
      Seq((10L, s"$s10 y", "C"), (11L, "k1 k2 k3 k4 k5 k6", "A")),
      Seq((20L, s"z $s10", "B"), (21L, "tiny doc", "C")),
      Seq((30L, s10, "A"), (31L, "k1 k2 k3 k4 k5 k6 k7", "B")))
    def dirs(side: String) = Seq("covidx", "cov", "leakidx", "leak", "winidx", "winpairs")
      .map(d => s"$root/$side/$d")
    def roots(side: String) = {
      val d = dirs(side)
      d.take(4) ++ WinnowIngest.stateRoots(d(4), d(5))
    }
    def mergeAll(batch: DataFrame, side: String): Unit = {
      val d = dirs(side)
      SpanIngest.mergeBatchAll(batch, "text", "doc_id", "source",
        d(0), d(1), d(2), d(3), d(4), d(5), minShared = 1L)
    }
    def archived(r: String): Int =
      Option(Paths.get(r, "manifests").toFile.list()).map(_.length).getOrElse(0)

    val ms = MemoryStream[(Long, String, String)]
    val q = BucketedIngest.run(ms.toDF().toDF("doc_id", "text", "source"),
        s"$root/ckpt", Trigger.ProcessingTime(0), roots("stream"),
        Some(ManifestState.Retention(everyBatches = 2, keepLast = 1))) { (batch, _) =>
      mergeAll(batch, "stream")
    }
    try for ((b, i) <- batches.zipWithIndex) {
      ms.addData(b: _*)
      q.processAllAvailable()
      mergeAll(b.toDF("doc_id", "text", "source"), "seq")
      val n = i + 1
      // every batch commits every root once; the prunes after batches 2
      // and 4 keep one archived manifest
      for (r <- roots("seq")) assert(archived(r) == n, s"$r after batch $n")
      for (r <- roots("stream"))
        assert(archived(r) == Seq(1, 1, 2, 1)(i), s"$r after batch $n")
    } finally q.stop()

    for ((s, r) <- roots("stream").zip(roots("seq"))) {
      def rows(root: String): Set[Row] = ManifestState.read(spark, root).collect().toSet
      assert(ManifestState.readManifest(s).copy(buckets = Map.empty) ==
        ManifestState.readManifest(r).copy(buckets = Map.empty), s)
      assert(ManifestState.readManifest(s).buckets.keySet ==
        ManifestState.readManifest(r).buckets.keySet, s)
      assert(rows(s) == rows(r), s)
    }
  }
}
