package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the O(state)-vs-O(delta) difference between the snapshot
  * merge and the bucketed manifest merge: build a large state once,
  * then apply many small update batches to both and time them.
  *
  * Usage: runMain graft.streaming.IncrementalMergeBench [stateKeys] [batches] [batchSize]
  */
object IncrementalMergeBench {

  private def changes(spark: SparkSession, startLsn: Long, n: Long, keySpace: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      lit(CdcStream.Upsert).as("event_type"),
      concat(lit("k"), pmod(xxhash64($"id" + startLsn), lit(keySpace))).as("id"),
      (lit(startLsn) + $"id").as("create_time"),
      (lit(startLsn) + $"id").as("update_time"),
      concat(lit("payload message number "), $"id").as("message"),
      concat(lit("user"), pmod($"id", lit(100))).as("username"),
      (lit(startLsn) + $"id").as("lsn"),
      (lit(startLsn) + $"id").as("ts_ms"))
  }

  def main(args: Array[String]): Unit = {
    val stateKeys = args.headOption.map(_.toLong).getOrElse(1000000L)
    val batches = if (args.length > 1) args(1).toInt else 20
    val batchSize = if (args.length > 2) args(2).toLong else 1000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Graft.session(s"local[$cpus]", cpus.toInt)

    val root = Files.createTempDirectory("incmerge").toString
    val plainDir = s"$root/plain"
    val mfDir = s"$root/manifest"
    val nBuckets = 1024

    // seed both states with the same bulk load
    val base = changes(spark, 0, stateKeys, stateKeys)
    CdcStream.mergeBatch(base, plainDir)
    ManifestState.mergeBatch(base, mfDir, nBuckets)

    def applyDeltas(merge: DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      (1 to batches).foreach { i =>
        merge(changes(spark, stateKeys + i.toLong * batchSize, batchSize, stateKeys))
      }
      (System.nanoTime() - t0) / 1e9
    }

    val plainSec = applyDeltas(b => CdcStream.mergeBatch(b, plainDir))
    val mfSec = applyDeltas(b => ManifestState.mergeBatch(b, mfDir, nBuckets))

    // row-identity check point: both modes have seen exactly the same
    // deltas HERE (the concurrent phase below adds further batches to
    // the manifest state only)
    val a = spark.read.parquet(plainDir).count()
    val c = ManifestState.read(spark, mfDir).count()

    // concurrent manifest writers: same TOTAL batch count split over 2
    // threads against one state — measures what the optimistic commit
    // actually costs under contention (disjoint buckets mostly commit
    // in parallel; colliding ones retry)
    val concBatches = 2 * (batches / 2) // what actually runs below
    val mfcSec = {
      val t0 = System.nanoTime()
      val threads = (0 until 2).map { w =>
        new Thread(() => (1 to batches / 2).foreach { i =>
          ManifestState.mergeBatch(
            changes(spark, stateKeys + (w * batches + i + batches).toLong * batchSize,
                    batchSize, stateKeys),
            mfDir, nBuckets)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }

    // Steady-state small-file audit: there is no compaction debt to
    // measure AWAY, because every commit already compacts the buckets
    // it touches — the heavy phase rewrites each touched bucket IN
    // FULL into one immutable version dir holding ONE parquet file
    // (repartition(col("b")) puts a bucket's rows in one task;
    // partitionBy("b") gives that task one output file), and
    // generation-GC then caps live+superseded dirs per bucket. So
    // after ANY number of merges the data-file count is bounded by
    // nBuckets × (1 + keepGenerations), plus byte-sized archived
    // manifests (kept forever, O(commits), data-free). Measured here
    // after seed + serial + concurrent phases (~hundreds of commits
    // at the default args) and asserted against the bound.
    def countUnder(suffix: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(mfDir))
      try s.filter(p => p.toString.endsWith(suffix)).count()
      finally s.close()
    }
    val dataFiles = countUnder(".parquet")
    // bound derived from the same constant mergeBatch defaults to (a
    // hardcoded 2 would silently encode the wrong bound if the default
    // ever changed); a violation is reported IN-BAND before the metric
    // line — the driver parses stdout, and an assert here would abort
    // after all timing phases completed and lose the summary line
    val fileBound = nBuckets.toLong * (1 + ManifestState.DefaultKeepGenerations)
    if (dataFiles > fileBound)
      println(s"""{"bench_error":"file_bound","msg":"bucketed-state file count $dataFiles exceeds the GC bound $fileBound"}""")

    println(f"""{"metric":"incremental_merge","state_keys":$stateKeys,"batches":$batches,"batch_size":$batchSize,"plain_sec_per_batch":${plainSec / batches}%.3f,"manifest_sec_per_batch":${mfSec / batches}%.3f,"manifest_2writer_sec_per_batch":${mfcSec / math.max(1, concBatches)}%.3f,"speedup":${plainSec / mfSec}%.1f,"rows_plain":$a,"rows_manifest":$c,"manifest_data_files":$dataFiles,"file_bound":$fileBound}""")
    spark.stop()
  }
}
