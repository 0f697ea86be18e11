package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Checkpoints

/** The skeleton every streaming ingest operator ([[IngestDedup]],
  * [[DupSpanIngest]], [[LeakageIngest]], [[WinnowIngest]],
  * [[SpanIngest]], [[NearDedupIngest]], [[IvfIngest]]) runs on: source
  * → stateful merge → commit, with the state access, the pin lifecycle
  * and the streaming driver written once here. Each operator keeps only
  * its key extraction and its merge body.
  *
  *  - [[State]] / [[Touched]]: a [[ManifestState]] root with its key,
  *    schema and bucket count. `touch(keys)` lists the buckets the keys
  *    hash to once; the probe read of those buckets and the patch of
  *    the same keys both use that list, so a merge that probes and then
  *    patches one key set pays one listing job, not two. Only `touch`
  *    builds a [[Touched]], so a bucket list always matches its keys.
  *  - [[pin]]: a merge's `localCheckpoint`. Each merge body runs in
  *    [[Checkpoints.scoped]], so every pin it takes — and every frame
  *    its callees [[Checkpoints.track]] on this thread — is released
  *    when the merge returns or throws; nothing else is. The one frame
  *    a merge hands back (NearDedupIngest's verdicts) is checkpointed
  *    untracked, so it outlives the scope.
  *  - [[run]]: the one `foreachBatch` driver, with archived-manifest
  *    retention over the operator's roots after each batch.
  */
object BucketedIngest {

  /** Bucket count of every ingest state a caller does not size. */
  val DefaultBuckets = 64

  /** One bucketed state: rows of `schema` routed by `key` into
    * `nBuckets` buckets under `root`. */
  final case class State(root: String, key: String, schema: StructType,
                         nBuckets: Int) {

    /** The buckets `keys` (a frame carrying column `key`) hash to —
      * one Spark job, shared by the probe and the patch. */
    def touch(keys: DataFrame): Touched =
      new Touched(this, keys, ManifestState.bucketsOf(keys, key, nBuckets))

    /** `touch(keys).patch(merged)`, for a patch without a probe. */
    def patch(keys: DataFrame, migrateInPlace: Boolean = false)
             (merged: DataFrame => DataFrame): Boolean =
      touch(keys).patch(merged, migrateInPlace)

    def isEmpty: Boolean = ManifestState.readManifest(root).buckets.isEmpty
  }

  /** The buckets a key set touches in one [[State]]. */
  final class Touched private[BucketedIngest] (state: State, keys: DataFrame,
                                               buckets: IndexedSeq[Int]) {

    /** The touched buckets' current content: every stored row whose
      * key is among the keys lives here. */
    def read: DataFrame = ManifestState.readBucketsOf(keys.sparkSession,
      state.root, state.nBuckets, buckets, state.schema)

    /** Rewrite the touched buckets with `merged(current content)`
      * ([[ManifestState.patchBuckets]]' contract); false when nothing
      * was touched. */
    def patch(merged: DataFrame => DataFrame,
              migrateInPlace: Boolean = false): Boolean =
      ManifestState.patchAffected(keys.sparkSession, state.root, state.nBuckets,
        state.key, buckets, state.schema, migrateInPlace = migrateInPlace)(merged)
  }

  /** `df.localCheckpoint(eager)`, tracked on this thread so the
    * enclosing [[Checkpoints.scoped]] merge releases it. */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    Checkpoints.track(df.localCheckpoint(eager))

  /** The streaming driver: `merge(batch, batchId)` per micro-batch of
    * `docs`, then [[ManifestState.Retention]] over `roots`. */
  def run(docs: DataFrame, checkpointDir: String, trigger: Trigger,
          roots: Seq[String], retention: Option[ManifestState.Retention])
         (merge: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        merge(batch, batchId)
        retention.foreach(_.maybePrune(batchId + 1, roots))
      }
      .start()
}
