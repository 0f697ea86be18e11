package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the per-batch cost of the incremental view maintainers
  * (JoinView, Scd2View) as a function of STATE size — the evidence
  * that per-batch work follows the touched slice, not the state. Each
  * view is probed at `stateKeys` and `10 × stateKeys` with identical
  * 1k-row batches, against the naive full-recompute spelling at the
  * same state sizes.
  *
  * Expected shape (and what SCALE.md records): the incremental JOIN /
  * window COMPUTE is O(touched slice) — flat in state — while the
  * plain-parquet harness's carryover REWRITE is O(view) by documented
  * design (JoinView.scala file-sink caveat; the production sink is the
  * bucketed ManifestState layout, whose flat-in-state behavior
  * IncrementalMergeBench measures separately). So incremental-vs-naive
  * is the honest headline ratio, and the 10×-state growth of the
  * incremental number isolates the sink rewrite term.
  *
  * Usage: runMain graft.streaming.ViewStateBench [stateKeys] [batches] [batchSize]
  */
object ViewStateBench {

  private val NDepts = 1024

  private def empBatch(spark: SparkSession, startLsn: Long, n: Long,
                       keySpace: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      pmod(xxhash64($"id" + startLsn), lit(keySpace)).as("uid"),
      concat(lit("d"), pmod(xxhash64($"id" + startLsn + 7), lit(NDepts.toLong))).as("dept"),
      concat(lit("name"), $"id").as("name"),
      (lit(startLsn) + $"id").as("lsn"),
      (lit(startLsn) + $"id").as("ts_ms"),
      lit("UPSERT").as("event_type"))
  }

  private def dptBatch(spark: SparkSession, startLsn: Long): DataFrame = {
    import spark.implicits._
    spark.range(NDepts.toLong).select(
      concat(lit("d"), $"id").as("did"),
      concat(lit("d"), $"id").as("dept"),
      concat(lit("Dept "), $"id").as("dname"),
      (lit(startLsn) + $"id").as("lsn"),
      (lit(startLsn) + $"id").as("ts_ms"),
      lit("UPSERT").as("event_type"))
  }

  private def cdcBatch(spark: SparkSession, startLsn: Long, n: Long,
                       keySpace: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      lit(CdcStream.Upsert).as("event_type"),
      concat(lit("k"), pmod(xxhash64($"id" + startLsn), lit(keySpace))).as("id"),
      (lit(startLsn) + $"id").as("create_time"),
      (lit(startLsn) + $"id").as("update_time"),
      concat(lit("payload "), $"id").as("message"),
      concat(lit("user"), pmod($"id", lit(100))).as("username"),
      (lit(startLsn) + $"id").as("lsn"),
      (lit(startLsn) + $"id").as("ts_ms"))
  }

  def main(args: Array[String]): Unit = {
    val stateKeys = args.headOption.map(_.toLong).getOrElse(100000L)
    val batches = if (args.length > 1) args(1).toInt else 10
    val batchSize = if (args.length > 2) args(2).toLong else 1000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Graft.session(s"local[$cpus]", cpus.toInt)
    val left = JoinView.Side("uid", "dept", empBatch(spark, 0, 0, 1).schema)
    val right = JoinView.Side("did", "dept", dptBatch(spark, 0).schema)

    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    /** sec/batch for JoinView at a given state size, plus the naive
      * full re-join + full rewrite per batch for comparison. */
    def probeJoin(keys: Long): (Double, Double) = {
      val dir = Files.createTempDirectory(s"vsb-join-$keys").toString
      JoinView.applyBatch(spark, empBatch(spark, 0, keys, keys),
        dptBatch(spark, 0), dir, left, right)
      val inc = secs {
        (1 to batches).foreach { i =>
          JoinView.applyBatch(spark,
            empBatch(spark, keys + i * batchSize, batchSize, keys),
            dptBatch(spark, 0).limit(0), dir, left, right)
        }
      } / batches
      // naive spelling: re-join the whole live state and rewrite the
      // view — what delta-key IVM exists to avoid
      val naive = secs {
        JoinView.naiveView(spark, dir, left, right)
          .write.mode("overwrite").parquet(s"$dir/naive")
      }
      (inc, naive)
    }

    def probeScd2(keys: Long): (Double, Double) = {
      // state path must NOT pre-exist (an existing-but-empty dir reads
      // as present state); naive output goes next to it, not inside
      val root = Files.createTempDirectory(s"vsb-scd2-$keys").toString
      val dir = s"$root/state"
      Scd2View.mergeBatch(cdcBatch(spark, 0, keys, keys), dir)
      val inc = secs {
        (1 to batches).foreach { i =>
          Scd2View.mergeBatch(
            cdcBatch(spark, keys + i * batchSize, batchSize, keys), dir)
        }
      } / batches
      // naive spelling: q104-style full SCD2 rebuild over ALL events
      // seen so far (state already holds them), rewritten wholesale
      val naive = secs {
        val ev = spark.read.parquet(dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("lsn"), col("ts_ms"))
        ev.withColumn("valid_to", lead(col("update_time"), 1).over(w))
          .withColumn("version", row_number().over(w))
          .write.mode("overwrite").parquet(s"$root/naive")
      }
      (inc, naive)
    }

    /** Bucketed-sink variants: nBuckets tracks state size (~1000 rows
      * per bucket), the flat-in-state discipline — per-batch rewrite
      * is (touched buckets) × (constant bucket size) regardless of
      * total state, which is exactly the sink term the plain-parquet
      * probes isolate at 10M keys. */
    def nBucketsFor(keys: Long): Int = math.max(64L, keys / 1000L).toInt

    def probeJoinBucketed(keys: Long): Double = {
      val root = Files.createTempDirectory(s"vsb-joinb-$keys").toString
      val nb = nBucketsFor(keys)
      JoinView.applyBatchBucketed(spark, empBatch(spark, 0, keys, keys),
        dptBatch(spark, 0), root, left, right, nb)
      secs {
        (1 to batches).foreach { i =>
          JoinView.applyBatchBucketed(spark,
            empBatch(spark, keys + i * batchSize, batchSize, keys),
            dptBatch(spark, 0).limit(0), root, left, right, nb)
        }
      } / batches
    }

    def probeScd2Bucketed(keys: Long): Double = {
      val root = Files.createTempDirectory(s"vsb-scd2b-$keys").toString
      val nb = nBucketsFor(keys)
      Scd2View.mergeBatchBucketed(cdcBatch(spark, 0, keys, keys), root, nb)
      secs {
        (1 to batches).foreach { i =>
          Scd2View.mergeBatchBucketed(
            cdcBatch(spark, keys + i * batchSize, batchSize, keys), root, nb)
        }
      } / batches
    }

    val (j1, jn1) = probeJoin(stateKeys)
    val (j10, jn10) = probeJoin(stateKeys * 10)
    val (s1, sn1) = probeScd2(stateKeys)
    val (s10, sn10) = probeScd2(stateKeys * 10)
    val jb1 = probeJoinBucketed(stateKeys)
    val jb10 = probeJoinBucketed(stateKeys * 10)
    val sb1 = probeScd2Bucketed(stateKeys)
    val sb10 = probeScd2Bucketed(stateKeys * 10)

    println(f"""{"metric":"view_state","state_keys":$stateKeys,"batches":$batches,"batch_size":$batchSize,"join_sec_per_batch":$j1%.3f,"join_sec_per_batch_10x":$j10%.3f,"join_naive_sec":$jn1%.3f,"join_naive_sec_10x":$jn10%.3f,"scd2_sec_per_batch":$s1%.3f,"scd2_sec_per_batch_10x":$s10%.3f,"scd2_naive_sec":$sn1%.3f,"scd2_naive_sec_10x":$sn10%.3f,"join_bucketed_sec_per_batch":$jb1%.3f,"join_bucketed_sec_per_batch_10x":$jb10%.3f,"scd2_bucketed_sec_per_batch":$sb1%.3f,"scd2_bucketed_sec_per_batch_10x":$sb10%.3f}""")
    spark.stop()
  }
}
