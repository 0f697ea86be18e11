package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained snapshot diff — the streaming twin of
  * `q150_snapshot_diff`: where q150 answers "what changed between two
  * cutoffs" with one batch aggregate, this maintains the latest-wins
  * view continuously and emits, per micro-batch, the per-key diff THAT
  * BATCH produced (added / changed / same with the value delta) — the
  * audit log of what each batch window did to the table.
  *
  * Per micro-batch over events (user_id, ts, event_id, value):
  *   1. reduce the batch to its per-key winner (one groupBy on the
  *      batch only — cost follows batch size);
  *   2. left-join the prior state on the touched keys, decide the
  *      per-key winner by the same (ts, event_id) total order q150
  *      uses (late/out-of-order events that lose emit `same`, they
  *      never regress the view);
  *   3. write the diff rows under `diffDir` and commit the updated
  *      buckets — carryover of untouched keys is an anti-join, exactly
  *      the [[Scd2View.mergeBatch]] touched-slice discipline; the
  *      state is bucketed and a batch rewrites only its buckets.
  *
  * Parity contract (spec-asserted): after any prefix of ts-ordered
  * batches, (a) the state equals the batch latest-wins recompute over
  * all events so far, and (b) the non-`same` diff rows of batch k
  * equal q150's classification between the k-1 and k cutoffs (q150
  * additionally lists every untouched key as `same`; the stream emits
  * diffs only for touched keys).
  */
object SnapshotDiffView {

  /** Merge events-shaped micro-batch `batchId` into the view at
    * `stateDir`, writing the batch's diff rows under
    * `diffDir/batch_seq=<id>`. State is a [[ManifestState]] root
    * bucketed by hash(user_id) % nBuckets, and a micro-batch reads and
    * rewrites ONLY its touched buckets ([[ManifestState.patchBuckets]]).
    *
    * Replay: a diff computed against POST-batch state would degrade
    * every `changed` row to `same`, so a redelivered batch must be
    * skipped outright, not re-merged. The batch id commits with the
    * buckets as the manifest's replay fence ([[ManifestState.patchBuckets]]):
    * an exact replay skips the whole merge, diff included, and an id
    * below the fence (streaming checkpoint wiped while the state was
    * kept) is refused rather than silently dropped. The diff is written
    * inside the patch's heavy phase, against the bucket snapshot the
    * commit replaces and before the manifest commit — every crash
    * window replays clean, and a commit retried after a lost race
    * rewrites the slice against the fresh snapshot.
    *
    * Upgrading a root that the retired bucketed merge wrote: its
    * manifest records no batch id (that merge fenced on the diff
    * slice's `_SUCCESS` marker, which is no longer read), so stop the
    * stream cleanly before upgrading. A batch whose state committed but
    * whose streaming checkpoint did not would merge once more: the
    * state stays right, but its diff slice is rewritten against the
    * post-batch state and its `changed` rows read `same`.
    */
  def mergeBatch(batch: DataFrame, stateDir: String, diffDir: String,
                 batchId: Long, nBuckets: Int): Unit = synchronized {
    // batchId is deliberately non-defaultable: with a default of 0,
    // two bare calls would silently no-op the second one at the
    // replay fence. Ids must strictly increase per state dir.
    require(nBuckets > 0)
    val spark = batch.sparkSession
    val delta = batchWinners(batch).localCheckpoint() // bucket list + winner join
    var pinned = List(delta)
    try {
      val committed = ManifestState.patchBuckets(stateDir, nBuckets, "user_id",
          delta.select(col("user_id")), StateSchema, batchId = Some(batchId)) { current =>
        val merged = mergeWinners(delta, current)
          .localCheckpoint() // diff emission + bucket rewrite
        pinned ::= merged
        writeDiff(merged, diffDir, batchId)
        nextState(current, merged)
      }
      // a batch that touched no key still leaves its (empty) slice
      if (!committed && delta.isEmpty)
        writeDiff(mergeWinners(delta, ManifestState.empty(spark, StateSchema)), diffDir, batchId)
    } finally pinned.foreach(graft.operators.Iterate.unpersistCheckpoint)
  }

  /** Per-key batch winner by the (ts, event_id) total order; value
    * rides in the struct but never decides (the pair is unique). */
  private def batchWinners(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("d"))

  /** The batch's touched keys with their prior row `o` (null when new)
    * and their winner `n` — a late event that loses keeps `o`. */
  private def mergeWinners(delta: DataFrame, state: DataFrame): DataFrame = {
    val touchedOld = state.join(delta.select(col("user_id")), Seq("user_id"), "left_semi")
      .select(col("user_id"), struct(col("ts"), col("event_id"), col("value")).as("o"))
    delta.join(touchedOld, Seq("user_id"), "left")
      .select(col("user_id"), col("o"),
        when(col("o").isNull || col("d") > col("o"), col("d")).otherwise(col("o")).as("n"))
  }

  /** Overwrite batch `batchId`'s diff slice from [[mergeWinners]] rows. */
  private def writeDiff(merged: DataFrame, diffDir: String, batchId: Long): Unit =
    merged.select(
      col("user_id"),
      round(col("o.value"), 4).as("v1_r"),
      round(col("n.value"), 4).as("v2_r"),
      when(col("o").isNull, lit("added"))
        .when(col("o.value") === col("n.value"), lit("same"))
        .otherwise(lit("changed")).as("status"),
      round(col("n.value") - col("o.value"), 4).as("delta_r"))
      .write.mode("overwrite").parquet(s"$diffDir/batch_seq=$batchId")

  /** `state` with the touched keys' rows replaced by their
    * [[mergeWinners]] winners; untouched keys carry over. */
  private def nextState(state: DataFrame, merged: DataFrame): DataFrame =
    state.join(merged.select(col("user_id")), Seq("user_id"), "left_anti")
      .unionByName(merged.select(col("user_id"), col("n.ts").as("ts"),
        col("n.event_id").as("event_id"), col("n.value").as("value")))

  private val StateSchema =
    StructType.fromDDL("user_id BIGINT, ts TIMESTAMP_LTZ, event_id BIGINT, value DOUBLE")

  /** The maintained latest-wins view: the committed manifest snapshot. */
  def readView(spark: SparkSession, stateDir: String): DataFrame =
    ManifestState.read(spark, stateDir, StateSchema)

  /** One batch's diff slice (empty if the batch touched nothing). */
  def readDiff(spark: SparkSession, diffDir: String, batchId: Long): DataFrame =
    spark.read.parquet(s"$diffDir/batch_seq=$batchId")

  /** Wire the merge into a streaming events source. */
  def run(events: DataFrame, checkpointDir: String, stateDir: String,
          diffDir: String, nBuckets: Int,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch, stateDir, diffDir, id, nBuckets)
      }
      .start()
}
