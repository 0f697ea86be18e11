package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CdcMerge
import graft.streaming.{CdcStream, ManifestState}

/** Manifest-committed bucketed CDC state: snapshot-isolated reads and
  * optimistic multi-writer commits — the property a directory-swap
  * merge cannot provide beyond one JVM.
  */
class ManifestStateSpec extends SparkSpec {

  private def changes(rows: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_type", "id", "lsn")
      .select(col("event_type"), col("id"),
        lit(1L).as("create_time"), col("lsn").as("update_time"),
        concat(lit("m-"), col("id"), lit("-"), col("lsn")).as("message"),
        lit("u").as("username"), col("lsn"),
        (col("lsn") * 10).as("ts_ms"))
  }

  private def up(id: String, lsn: Long) = (CdcStream.Upsert, id, lsn)
  private def del(id: String, lsn: Long) = (CdcStream.Delete, id, lsn)

  test("sequential merges equal the single-writer bucketed merge") {
    val rootA = Files.createTempDirectory("mstate").toString
    val batches = Seq(
      Seq(up("a", 1), up("b", 2), up("c", 3)),
      Seq(up("a", 4), del("b", 5), up("d", 6)),
      Seq(del("d", 7), up("b", 8), up("a", 2) /* stale redelivery */ ))

    // the reference is one latest-wins pass over every batch: same
    // rows, tombstones retained, no buckets
    batches.foreach(b => ManifestState.mergeBatch(changes(b), rootA, nBuckets = 4))
    val got = ManifestState.read(spark, rootA)
      .select("id", "event_type", "lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val want = CdcMerge.latestWins(changes(batches.flatten), Seq("id"),
        Seq(col("lsn").desc_nulls_last, col("ts_ms").desc_nulls_last))
      .select("id", "event_type", "lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    assert(got.toSeq == want.toSeq, s"got ${got.toSeq}")
    // latest-wins semantics spot checks
    val byId = got.toSeq.groupBy(_._1)
    assert(byId("a") == Seq(("a", CdcStream.Upsert, 4L)))  // stale lsn=2 lost
    assert(byId("b") == Seq(("b", CdcStream.Upsert, 8L)))  // delete then re-upsert
    assert(byId("d") == Seq(("d", CdcStream.Delete, 7L)))  // tombstone retained
    // view hides tombstones
    val view = ManifestState.readView(spark, rootA).select("id")
      .collect().map(_.getString(0)).sorted
    assert(view.toSeq == Seq("a", "b", "c"))
  }

  test("concurrent writers lose no updates; epoch counts every commit") {
    val root = Files.createTempDirectory("mstate-conc").toString
    val writers = 4
    val batchesPerWriter = 3
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try (0 until batchesPerWriter).foreach { i =>
            // writers collide on ids AND buckets: w0/w2 share key
            // space, as do w1/w3; lsn encodes global order
            val base = (w % 2) * 100
            ManifestState.mergeBatch(
              changes(Seq(
                up(s"k${base + i}", w * 1000L + i * 10 + 1),
                up(s"shared${w % 2}", w * 1000L + i * 10 + 2))),
              root, nBuckets = 4)
          } catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers timed out")
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")

    val m = ManifestState.readManifest(root)
    assert(m.epoch == writers * batchesPerWriter, s"epoch ${m.epoch}")
    val state = ManifestState.read(spark, root)
      .select("id", "lsn").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // every non-shared key from every writer survived — no lost updates
    (0 until writers).foreach { w =>
      (0 until batchesPerWriter).foreach { i =>
        val id = s"k${(w % 2) * 100 + i}"
        assert(state.contains(id), s"lost $id")
      }
    }
    // shared keys hold the max-lsn write among their contenders:
    // shared0 is written by w0 (lsn 2,12,22) and w2 (2002,2012,2022),
    // shared1 by w1 (1002..1022) and w3 (3002..3022)
    assert(state("shared0") == 2022L, s"shared0 = ${state("shared0")}")
    assert(state("shared1") == 3022L, s"shared1 = ${state("shared1")}")
    // reads stay consistent after everything
    assert(ManifestState.readView(spark, root).count() == state.size)
  }

  test("a reader mid-stream always sees a complete committed snapshot") {
    val root = Files.createTempDirectory("mstate-read").toString
    ManifestState.mergeBatch(changes(Seq(up("a", 1), up("b", 1))), root, 4)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writer = new Thread(() => {
      try (2 to 12).foreach { lsn =>
        ManifestState.mergeBatch(
          changes(Seq(up("a", lsn.toLong), up(s"x$lsn", lsn.toLong))), root, 4)
      } catch { case t: Throwable => failures.add(t) }
      finally stop.set(true)
    })
    writer.start()
    try while (!stop.get()) {
      // each read resolves one manifest: per-snapshot invariants must
      // hold no matter where the writer is
      val rows = ManifestState.read(spark, root)
        .select("id", "lsn").collect().map(r => (r.getString(0), r.getLong(1)))
      val byId = rows.groupBy(_._1)
      assert(byId.forall(_._2.length == 1), s"dup ids in snapshot: ${rows.toSeq}")
      val aLsn = byId("a").head._2
      // x<k> committed implies a's lsn >= k (they commit in the same batch)
      byId.keys.filter(_.startsWith("x")).foreach { x =>
        assert(aLsn >= x.drop(1).toLong, s"snapshot tore: a@$aLsn but $x present")
      }
    } finally writer.join()
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
  }

  test("time travel: readAt returns each archived epoch within retention") {
    val root = Files.createTempDirectory("mstate-tt").toString
    // one key -> one bucket; keep 3 superseded generations
    ManifestState.mergeBatch(changes(Seq(up("k", 1))), root, 2, keepGenerations = 3)
    ManifestState.mergeBatch(changes(Seq(up("k", 2), up("j", 3))), root, 2,
      keepGenerations = 3)
    ManifestState.mergeBatch(changes(Seq(del("j", 4))), root, 2, keepGenerations = 3)
    ManifestState.mergeBatch(changes(Seq(up("k", 5))), root, 2, keepGenerations = 3)

    def viewAt(epoch: Long): Seq[(String, Long)] =
      ManifestState.readAt(spark, root, epoch)
        .filter(col("event_type") === CdcStream.Upsert)
        .select("id", "lsn").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

    assert(viewAt(1) == Seq(("k", 1L)))
    assert(viewAt(2) == Seq(("j", 3L), ("k", 2L)))
    assert(viewAt(3) == Seq(("k", 2L)))            // j tombstoned
    assert(viewAt(4) == Seq(("k", 5L)))
    // current read == latest archived epoch
    val cur = ManifestState.readView(spark, root)
      .select("id", "lsn").collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(cur == viewAt(4))
    // an unarchived epoch fails loudly, not with a wrong answer
    intercept[IllegalArgumentException](ManifestState.readAt(spark, root, 99))
  }

  test("change data feed: snapshot diff between epochs nets transient rows away") {
    val root = Files.createTempDirectory("mstate-cdf").toString
    ManifestState.mergeBatch(changes(Seq(up("k", 1))), root, 2, keepGenerations = 3)
    ManifestState.mergeBatch(changes(Seq(up("k", 2), up("j", 3))), root, 2,
      keepGenerations = 3)
    ManifestState.mergeBatch(changes(Seq(del("j", 4))), root, 2, keepGenerations = 3)

    def cdf(from: Long, to: Long): Seq[(String, String)] =
      ManifestState.changesBetween(spark, root, from, to)
        .select("change_type", "id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

    // 1 -> 2: j inserted, k updated
    assert(cdf(1, 2) == Seq(("INSERT", "j"), ("UPDATE", "k")))
    // 2 -> 3: j deleted
    assert(cdf(2, 3) == Seq(("DELETE", "j")))
    // 1 -> 3: j's insert+delete NETS AWAY; only k's update remains
    assert(cdf(1, 3) == Seq(("UPDATE", "k")))
    // no-op span
    assert(cdf(3, 3) == Seq.empty)
  }

  test("an analysis failure in the caller plan fails fast and leaves no orphan artifacts") {
    import spark.implicits._
    val root = Files.createTempDirectory("mstate-af").toString
    // seed real state so the failing patch has live buckets to orphan
    ManifestState.mergeBatch(changes(Seq(up("a", 1), up("b", 2))), root, nBuckets = 4)
    val epochBefore = ManifestState.readManifest(root).epoch

    var calls = 0
    val keys = Seq("a", "b").toDF("id")
    val template = changes(Seq(up("a", 1))).limit(0)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ManifestState.patchBuckets(root, 4, "id", keys, template.schema) { current =>
        calls += 1
        current.select(col("no_such_column")) // deterministic caller bug
      }
    }
    // fail-FAST: a caller bug must not re-run the heavy phase
    // maxRetries times and surface as "lost the commit race"
    assert(calls == 1, s"analysis failure retried $calls times")
    assert(e.getMessage.contains("no_such_column"))

    // no stage tmp dirs, no version dirs beyond the manifest's live
    // set — orphans would count against the steady-state file bound
    val stray = Files.walk(Paths.get(root)).toArray.map(_.toString)
      .filter(p => p.contains("/.stage-"))
    assert(stray.isEmpty, s"orphan stage artifacts: ${stray.toSeq}")
    val m = ManifestState.readManifest(root)
    assert(m.epoch == epochBefore, "failed patch must not advance the epoch")
    val liveDirs = m.buckets.map { case (k, v) => s"$root/b=$k/$v" }.toSet
    val versionDirs = Files.walk(Paths.get(root), 2).toArray.map(_.toString)
      .filter(p => p.matches(".*/b=\\d+/v-.*"))
    val orphans = versionDirs.filterNot(liveDirs.contains)
    // one superseded generation per bucket may remain (reader grace
    // window — the gc contract), but nothing from the FAILED attempt,
    // whose epoch would be epochBefore + 1
    assert(!orphans.exists(_.contains(s"/v-${epochBefore + 1}-")),
      s"failed attempt left version dirs: ${orphans.toSeq}")

    // and the state is still writable + correct afterwards
    ManifestState.mergeBatch(changes(Seq(up("c", 3))), root, nBuckets = 4)
    val ids = ManifestState.readView(spark, root).select("id")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("a", "b", "c"))
  }

  test("the manifest pins nBuckets: a mismatched merge fails loud instead of corrupting") {
    val root = Files.createTempDirectory("manifest-nb").toString
    ManifestState.mergeBatch(changes(Seq(up("a", 1))), root, nBuckets = 8)
    assert(ManifestState.readManifest(root).nb.contains(8))
    // Reads with the recorded count pass; a different count fails fast —
    // rows were routed by pmod(hash, 8), so pmod(hash, 4) reads would
    // miss history and a pmod(hash, 4) patch would re-route read-back
    // rows outside the affected buckets (dropped at GC).
    ManifestState.requireBucketCount(root, 8)
    intercept[IllegalArgumentException] {
      ManifestState.requireBucketCount(root, 4)
    }
    intercept[IllegalArgumentException] {
      ManifestState.mergeBatch(changes(Seq(up("b", 2))), root, nBuckets = 4)
    }
    // state unharmed by the refused merge
    assert(ManifestState.readView(spark, root).count() == 1)
    // a pre-nb manifest (None) passes any count and is stamped by the
    // next commit — the upgrade path for states written before round 14
    ManifestState.requireBucketCount(
      Files.createTempDirectory("manifest-none").toString, 99)
  }

  test("gc keeps one superseded generation per bucket") {
    val root = Files.createTempDirectory("mstate-gc").toString
    (1 to 6).foreach { lsn =>
      ManifestState.mergeBatch(changes(Seq(up("only", lsn.toLong))), root, 2)
    }
    val bucketDirs = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.contains("/b="))
    assert(bucketDirs.length == 1) // one key -> one bucket
    val versions = Files.list(Paths.get(bucketDirs.head)).toArray.length
    assert(versions <= 2, s"gc left $versions versions")
    val m = ManifestState.readManifest(root)
    assert(m.epoch == 6)
    val st = ManifestState.read(spark, root).select("lsn").collect().map(_.getLong(0))
    assert(st.toSeq == Seq(6L))
  }

  test("archived-manifest retention prunes old epochs; current state and recent time travel survive") {
    val root = Files.createTempDirectory("mstate-prune").toString
    (1 to 4).foreach { lsn =>
      ManifestState.mergeBatch(changes(Seq(up("k", lsn.toLong))), root, 2)
    }
    assert(ManifestState.pruneArchivedManifests(root, keepLast = 2) == 2L)
    // epochs 1-2 gone, 3-4 (and the live pointer) intact
    intercept[IllegalArgumentException](ManifestState.readManifestAt(root, 1))
    intercept[IllegalArgumentException](ManifestState.readManifestAt(root, 2))
    assert(ManifestState.readManifestAt(root, 4).epoch == 4)
    assert(ManifestState.readManifest(root).epoch == 4)
    val st = ManifestState.readView(spark, root).select("lsn").collect().map(_.getLong(0))
    assert(st.toSeq == Seq(4L))
    // idempotent; never drops below one archive
    assert(ManifestState.pruneArchivedManifests(root, keepLast = 2) == 0L)
    intercept[IllegalArgumentException](
      ManifestState.pruneArchivedManifests(root, keepLast = 0))
  }

  test("Retention fires on cadence, survives a partial prune, and never breaks live reads") {
    val root = Files.createTempDirectory("mstate-retention").toString
    val ret = ManifestState.Retention(everyBatches = 2, keepLast = 2)
    (1 to 6).foreach { lsn =>
      ManifestState.mergeBatch(changes(Seq(up("k", lsn.toLong))), root, 2)
      ret.maybePrune(lsn.toLong, Seq(root))
    }
    // after 6 batches at cadence 2, only the newest 2 archives remain
    val archives = Files.list(Paths.get(root, "manifests")).toArray
      .map(_.toString.split('/').last.toLong).sorted.toSeq
    assert(archives == Seq(5L, 6L), s"archives: $archives")
    // off-cadence batch counts are a no-op
    assert(ret.maybePrune(7L, Seq(root)) == 0L)
    // partial prune (crash window): an already-deleted doomed archive
    // is skipped, the rest still goes, live reads unaffected
    ManifestState.mergeBatch(changes(Seq(up("k", 7L))), root, 2)
    ManifestState.mergeBatch(changes(Seq(up("k", 8L))), root, 2)
    Files.deleteIfExists(Paths.get(root, "manifests", "5"))
    assert(ret.maybePrune(8L, Seq(root)) == 1L) // 6 doomed; 5 already gone
    assert(ManifestState.readManifest(root).epoch == 8)
    val live = ManifestState.readView(spark, root).select("lsn").collect().map(_.getLong(0))
    assert(live.toSeq == Seq(8L))
    // knob validation is loud
    intercept[IllegalArgumentException](ManifestState.Retention(0, 2))
    intercept[IllegalArgumentException](ManifestState.Retention(2, 0))
  }

  test("dataFileCount counts only committed version dirs, never in-flight staging files") {
    val root = Files.createTempDirectory("mstate-dfc").toString
    // committed layout: root/b=0/v-1-w1-1/part.parquet
    Files.createDirectories(Paths.get(s"$root/b=0/v-1-w1-1"))
    Files.write(Paths.get(s"$root/b=0/v-1-w1-1/part-0.parquet"), Array[Byte](1))
    // a concurrent (or crashed, pre-cleanup) writer's stage dir ALSO
    // contains /b=k/ segments — it must not count against the
    // steady-state bound a probe samples mid-commit
    Files.createDirectories(Paths.get(s"$root/.stage-v-2-w2-1/b=0"))
    Files.write(Paths.get(s"$root/.stage-v-2-w2-1/b=0/part-0.parquet"), Array[Byte](1))
    assert(ManifestState.dataFileCount(root) == 1L)
  }

  test("a root left by the retired in-place bucket merge fails loud instead of reading empty") {
    val root = Files.createTempDirectory("mstate-inplace").toString
    // the retired layout: root/b=<n>/part-*.parquet, no MANIFEST
    changes(Seq(up("a", 1), up("b", 2)))
      .withColumn("b", pmod(xxhash64(col("id")), lit(4)).cast("int"))
      .write.partitionBy("b").parquet(s"$root/old")
    def refused(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("no MANIFEST") && e.getMessage.contains("re-bootstrap"),
        e.getMessage)
    }
    refused(ManifestState.read(spark, s"$root/old"))
    refused(new graft.sinks.BucketedParquetSink(s"$root/old", 4).state(spark))
    refused(ManifestState.mergeBatch(changes(Seq(up("c", 3))), s"$root/old", 4))
    refused(graft.streaming.SnapshotDiffView.readView(spark, s"$root/old"))
    assert(!Files.exists(Paths.get(root, "old", "MANIFEST")), "a refused merge committed")

    // the documented migration: its rows merged as one batch into a
    // fresh root reproduce the state exactly
    val old = spark.read.parquet(s"$root/old").drop("b")
    ManifestState.mergeBatch(old, s"$root/new", 4)
    def rows(df: DataFrame) = df.select("id", "event_type", "lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(rows(ManifestState.read(spark, s"$root/new")) == rows(old))
    // a committed manifest state and a fresh root never trip the guard
    ManifestState.mergeBatch(changes(Seq(up("c", 3))), s"$root/new", 4)
    // a fresh root reads as zero rows with the change schema
    val fresh = ManifestState.read(spark, s"$root/fresh")
    assert(fresh.isEmpty &&
      fresh.dtypes.toSeq == ManifestState.read(spark, s"$root/new").dtypes.toSeq)
  }

  test("replay fence: a recorded id skips, a lower one throws, others carry it") {
    val root = Files.createTempDirectory("mstate-fence").resolve("state").toString
    def patch(rows: Seq[(String, String, Long)], batchId: Option[Long]): Boolean = {
      val delta = changes(rows)
      ManifestState.patchBuckets(root, 4, "id", delta.select("id"), CdcStream.changeSchema,
          batchId = batchId) { current =>
        current.join(delta.select("id"), Seq("id"), "left_anti").unionByName(delta)
      }
    }
    def ids() = ManifestState.read(spark, root).select("id").collect().map(_.getString(0)).sorted.toSeq

    assert(ManifestState.readManifest(root).applied.isEmpty)
    assert(patch(Seq(up("a", 1)), Some(5L)))
    assert(ManifestState.readManifest(root).applied.contains(5L))
    // the same id again: skipped before any work, nothing committed
    val epoch = ManifestState.readManifest(root).epoch
    assert(!patch(Seq(up("b", 2)), Some(5L)))
    assert(ManifestState.readManifest(root).epoch == epoch && ids() == Seq("a"))
    // a commit naming no batch id carries the fence forward
    assert(patch(Seq(up("c", 3)), None))
    assert(ManifestState.readManifest(root).applied.contains(5L))
    // an id below the fence is a desynced checkpoint — even when it
    // touches no key at all
    intercept[IllegalStateException](patch(Seq(up("d", 4)), Some(4L)))
    intercept[IllegalStateException](patch(Seq.empty, Some(4L)))
    assert(patch(Seq(up("d", 4)), Some(6L)))
    assert(ManifestState.readManifest(root).applied.contains(6L))
    assert(ids() == Seq("a", "c", "d"))
  }

  test("racing publishers of one epoch: exactly one wins each round") {
    val root = Files.createTempDirectory("mstate-race")
    val (threads, rounds) = (4, 500)
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val wins = new java.util.concurrent.atomic.AtomicIntegerArray(rounds + 1)
    val pool = Executors.newFixedThreadPool(threads)
    val runs = (0 until threads).map { t =>
      pool.submit(new Runnable {
        override def run(): Unit = (1 to rounds).foreach { r =>
          barrier.await()
          if (ManifestState.publish(root.toString,
              ManifestState.Manifest(r.toLong, Map(0 -> s"v-$r-t$t")))) wins.incrementAndGet(r)
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "publishers timed out")
    runs.foreach(_.get()) // surfaces a publisher's exception
    val multi = (1 to rounds).filter(r => wins.get(r) != 1)
    assert(multi.isEmpty, s"rounds without exactly one winner: ${multi.map(r => r -> wins.get(r))}")
    assert(ManifestState.readManifest(root.toString).epoch == rounds)
    // temp files are gone, and manifests/ holds epochs only
    val left = Files.list(root).toArray.map(_.toString.split('/').last).sorted.toSeq
    assert(left == Seq("MANIFEST", "manifests"), s"left in root: $left")
    assert(Files.list(root.resolve("manifests")).toArray.length == rounds)
  }

  test("a stale MANIFEST hint over a pruned archive reads, and commits, at the newest epoch") {
    val root = Files.createTempDirectory("mstate-hint").toString
    val hint = Paths.get(root, "MANIFEST")
    ManifestState.mergeBatch(changes(Seq(up("a", 1))), root, 2)
    ManifestState.mergeBatch(changes(Seq(up("b", 2))), root, 2)
    val old = Files.readAllBytes(hint)
    ManifestState.mergeBatch(changes(Seq(up("c", 3))), root, 2)
    ManifestState.mergeBatch(changes(Seq(up("d", 4))), root, 2)
    // a crash between publish and hint, or a slower writer's late hint
    Files.write(hint, old)
    assert(ManifestState.readManifest(root).epoch == 4)
    // ... whose own archive is pruned away
    assert(ManifestState.pruneArchivedManifests(root, keepLast = 1) == 3L)
    assert(ManifestState.readManifest(root).epoch == 4)
    ManifestState.mergeBatch(changes(Seq(up("e", 5))), root, 2)
    assert(ManifestState.readManifest(root).epoch == 5)
    val ids = ManifestState.readView(spark, root).select("id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("a", "b", "c", "d", "e"))
  }

  test("a state root with a URI scheme is refused, and nothing lands under the working directory") {
    val roots = Seq("hdfs://nn:8020/graft/state" -> "hdfs", "s3a://bucket/graft/state" -> "s3a",
      "file:/tmp/graft-state" -> "file", "file:///tmp/graft-state" -> "file")
    roots.foreach { case (root, scheme) =>
      def refused(f: => Any): Unit = {
        val e = intercept[IllegalArgumentException](f)
        assert(e.getMessage.contains(s"'$scheme'"), e.getMessage)
      }
      refused(ManifestState.mergeBatch(changes(Seq(up("a", 1))), root, 2))
      refused(ManifestState.patchBuckets(root, 2, "id", changes(Seq(up("a", 1))).select("id"),
        CdcStream.changeSchema)(identity))
      refused(ManifestState.read(spark, root))
      refused(ManifestState.readManifest(root))
      refused(ManifestState.readManifestAt(root, 1))
      refused(ManifestState.pruneArchivedManifests(root, 1))
      refused(ManifestState.dataFileCount(root))
      val local = Paths.get(s"$scheme:")
      assert(!Files.exists(local), s"$local was created under the working directory")
    }
  }
}
