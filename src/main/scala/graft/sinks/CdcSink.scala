package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CdcMerge
import graft.streaming.{CdcStream, ManifestState}

/** The CDC state-sink seam: where each decoded micro-batch lands.
  *
  * Every implementation must keep the two invariants the streaming
  * tests pin down (CdcStreamSpec): (1) latest-wins under the
  * (lsn, ts_ms) order with tombstones RETAINED in state, so a
  * redelivered older upsert cannot resurrect a deleted key
  * (at-least-once safe); (2) idempotence under micro-batch replay —
  * a crash between merge and checkpoint commit replays the batch, and
  * the state must not change on the second application.
  *
  * The local implementation stores state as manifest-committed parquet
  * hash buckets ([[BucketedParquetSink]]; one bucket is one whole-state
  * file set); the production implementation point is
  * [[MergeIntoSink]] — MERGE INTO on a transactional v2 table
  * (Delta/Iceberg-style), same latest-wins plan, with the table format
  * supplying the file pruning that [[BucketedParquetSink]]
  * approximates with hash buckets.
  */
trait CdcSink extends Serializable {
  /** Merge one decoded micro-batch ([[CdcStream.classify]] schema). */
  def merge(batch: DataFrame): Unit

  /** Current state: live rows plus retained tombstones, in the
    * decoded-changelog schema. */
  def state(spark: SparkSession): DataFrame
}

/** Hash-bucketed parquet state committed through [[ManifestState]]: a
  * batch rewrites only the buckets its keys touch — O(delta + touched
  * buckets) per merge, the plain-file approximation of transactional
  * MERGE file pruning — and readers see exactly the committed
  * versions, so concurrent writers and readers stay consistent. */
final class BucketedParquetSink(stateDir: String, nBuckets: Int) extends CdcSink {
  override def merge(batch: DataFrame): Unit =
    ManifestState.mergeBatch(batch, stateDir, nBuckets)
  override def state(spark: SparkSession): DataFrame =
    ManifestState.read(spark, stateDir)
}

/** MERGE INTO on a transactional catalog table — the production sink.
  *
  * The batch first collapses to its latest change per id (same
  * [[CdcMerge.latestWins]] the bucketed sink uses, minus tombstone
  * removal), then one MERGE upserts rows whose (lsn, ts_ms) beats the
  * stored version. Tombstones are stored as rows (`event_type`
  * 'DELETE'), exactly like the parquet sink, so the resurrection
  * guard survives redelivery; replaying a batch re-applies equal
  * versions idempotently (`>=` on the tie so the same row rewrites
  * itself, not a duplicate).
  *
  * Requires `table` to live in a catalog whose format supports MERGE
  * (Delta, Iceberg, any v2 source with row-level ops). This container
  * ships none, so the class is exercised structurally: [[mergeSql]]
  * is pure and spec-asserted, and CdcDemo/e2e runs use the parquet
  * sink through the same [[CdcSink]] seam.
  */
final class MergeIntoSink(table: String) extends CdcSink {

  /** The MERGE statement applied per batch; `sourceView` is a temp
    * view holding the batch's latest change per id. */
  def mergeSql(sourceView: String): String =
    s"""MERGE INTO $table t
       |USING $sourceView s
       |ON t.id = s.id
       |WHEN MATCHED AND (s.lsn > t.lsn OR (s.lsn = t.lsn AND s.ts_ms >= t.ts_ms))
       |  THEN UPDATE SET *
       |WHEN NOT MATCHED THEN INSERT *""".stripMargin

  override def merge(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val latest = CdcMerge.latestWins(
      batch.filter(col("event_type") =!= CdcStream.Malformed),
      Seq("id"),
      Seq(col("lsn").desc_nulls_last, col("ts_ms").desc_nulls_last))
    val view = s"cdc_batch_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    latest.createOrReplaceTempView(view)
    try spark.sql(mergeSql(view))
    finally spark.catalog.dropTempView(view)
  }

  override def state(spark: SparkSession): DataFrame = spark.table(table)
}
