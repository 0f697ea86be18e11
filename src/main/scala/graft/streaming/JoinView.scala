package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.CdcMerge

/** Incrementally-maintained equi-JOIN view over two CDC streams —
  * the join-side counterpart of [[AggView]]'s aggregate maintenance.
  *
  * The reference materializes exactly one single-table view (the
  * browser's `Map<id,row>`, `static/index.html:87-89`); an analytics
  * engine additionally wants joined views ("orders with their
  * customer row") kept fresh without re-joining the world every
  * batch. Classic delta-key IVM:
  *
  *   1. each SIDE is a keyed latest-wins table (tombstones retained),
  *      maintained exactly like the single-table CDC state;
  *   2. a micro-batch's AFFECTED join keys are the join-key values of
  *      touched ids in the OLD side states (covers deletes and
  *      join-key changes away) plus in the NEW side states (covers
  *      inserts and join-key changes toward);
  *   3. the view is rewritten as
  *         carryover (old view, join key ∉ Δ)
  *       ∪ recompute (live_left[jk ∈ Δ] ⋈ live_right[jk ∈ Δ])
  *      — the join work is O(slice of the affected keys), never
  *      O(|left| × |right|). Δ is a distinct-key frame derived from
  *      the (small) batch, so the anti/semi joins against it
  *      broadcast.
  *
  * Every state is a [[ManifestState]] root, so the carryover term
  * rewrites only Δ-touched buckets (per-batch cost measured flat in
  * state, docs/probes/viewstate_r11_*.txt); [[applyBatch]] gives the
  * layout and the commit order.
  *
  * Side schema contract (what [[CdcStream.classify]] emits, renamed):
  * an id column, a join-key column, payload columns, `lsn`/`ts_ms`
  * ordering columns, and an `event_type` column where DELETE marks a
  * tombstone. Tombstones keep their id but null payload/join key —
  * their removal from the view is driven by the OLD state's join key.
  */
object JoinView {

  /** One side of the join: its id and join-key columns, and `rows`,
    * the schema of its change rows — what an empty side state reads
    * as, and what its deltas carry. */
  final case class Side(idCol: String, joinKeyCol: String, rows: StructType)

  private def ordering: Seq[Column] =
    Seq(col("lsn").desc_nulls_last, col("ts_ms").desc_nulls_last)

  private def live(state: DataFrame): DataFrame =
    state.filter(col("event_type") =!= CdcStream.Delete)

  /** Live side rows with the join key renamed `jk` — the jk copies. */
  private def liveJk(df: DataFrame, side: Side): DataFrame =
    live(df).withColumnRenamed(side.joinKeyCol, "jk").filter(col("jk").isNotNull)

  /** Zero jk-copy rows of a side: what its empty jk state reads as. */
  private def noJkRows(spark: SparkSession, side: Side): DataFrame =
    liveJk(ManifestState.empty(spark, side.rows), side)

  /** The view's rows: `jk`, then left payload, then right payload. */
  private def joined(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, Seq("jk")).drop("event_type", "lsn", "ts_ms")

  /** Test seam: invoked after each manifest patch COMMITS inside
    * [[applyBatch]]. JoinViewSpec's crash-prefix replay test
    * throws from here to simulate a crash between any two commits of a
    * batch — the only way to exercise the commit-order invariant below
    * without a real kill. Production value: no-op. */
  private[graft] var onPatchCommitted: () => Unit = () => ()

  /** Apply one micro-batch of deltas (either side may be empty) to the
    * states under `stateRoot` and incrementally refresh the joined view.
    * View columns: `jk`, then left payload, then right payload —
    * callers pick non-colliding column names per side. A batch rewrites
    * ONLY the buckets its touched keys hash to, so the carryover term is
    * O(touched buckets), not O(view).
    *
    * Layout under `stateRoot` (5 manifest states):
    *  - `left_id/`, `right_id/`: the side states bucketed BY ID — the
    *    latest-wins merge needs the old rows of touched ids, an
    *    O(touched-bucket) lookup here;
    *  - `left_jk/`, `right_jk/`: LIVE side rows bucketed BY JOIN KEY —
    *    the secondary index that makes the recompute's
    *    `live[jk ∈ Δ]` an O(touched-bucket) read instead of a full
    *    side scan (the write amplification every keyed IVM pays for
    *    key-sliced lookups);
    *  - `view/`: the joined view bucketed by `jk`.
    *
    * Per batch, every term is O(touched slice): old/new rows of
    * touched ids from the id buckets; Δ = their old ∪ new join keys;
    * jk-copy patches remove touched ids' rows and insert their new
    * live rows (both live in Δ-side buckets); the recompute joins the
    * UPDATED jk copies restricted to Δ; the view patch swaps Δ's
    * buckets. Single-writer per view (synchronized).
    *
    * COMMIT ORDER = replay idempotence: the id states are the ONLY
    * input the Δ derivation reads, and they commit LAST — derive
    * (read-only) → jk patches → view patch → id patches.
    * An at-least-once replay of the batch after a crash at any prefix
    * therefore re-derives the SAME Δ (the id states are still
    * pre-batch), and every jk/view patch is a deterministic rewrite of
    * its buckets' full content given (pre-batch states, batch) — a
    * second application reproduces byte-identical buckets. Once an id
    * patch has committed, a replay's Δ for that side shrinks to
    * new-value keys only, but every bucket the shrunken replay then
    * rewrites was already correctly patched by the earlier attempt and
    * the rewrite reproduces the same content — still idempotent. (Were
    * the id states committed FIRST, a replay would lose the moved-away
    * old join keys and leave stale view rows forever.)
    *
    * A root still holding the retired whole-snapshot layout (`left/`,
    * `right/`, `view/` parquet dirs, or a swap backup of one) is
    * refused before the first patch commits.
    *
    * Read fusion (the measured per-batch constant on a local disk is
    * per-bucket FILE OPENS, not rows — docs/SCALE.md): the derivation
    * caches its id-bucket read and the jk-patch callback's merged
    * output (the side's post-patch Δjk-bucket content, materialized by
    * the patch write itself) is reused by the view recompute, which
    * reads from disk only the Δ buckets the OTHER side contributed.
    * Captures from a patch callback are safe under the retry contract:
    * a retried attempt recomputes against the fresh snapshot and
    * overwrites the capture, so only the winning attempt's frames
    * survive; they stay readable because version dirs are immutable
    * and the cache pins what the commit already materialized.
    *
    * nBuckets is the flat-in-state knob: size it so a bucket stays
    * roughly constant (state / targetBucketRows) — rewrite cost per
    * batch is then (touched buckets) × (bucket size), independent of
    * total state.
    */
  def applyBatch(spark: SparkSession,
                 leftDelta: DataFrame, rightDelta: DataFrame,
                 stateRoot: String, left: Side, right: Side,
                 nBuckets: Int): Unit = synchronized {
    // the view root would refuse a retired `view/` itself, but only
    // after both jk roots had committed
    Seq("left", "right", "view").foreach { d =>
      ManifestState.requireNoLegacyLayout(spark, s"$stateRoot/$d", s"$stateRoot/$d")
    }
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df; df.cache() }

    // per-side derived state, all cached and materialized before any
    // patch supersedes the buckets it was read from
    case class SideDelta(side: Side, idRoot: String, jkRoot: String,
                         ids: DataFrame, newTouched: DataFrame,
                         deltaJk: DataFrame) {
      def empty: Boolean = newTouched == null
    }

    // ---- phase 1 (read-only): old/new rows and Δjk from the PRE-batch
    // id state ----------------------------------------------------------
    def derive(delta: DataFrame, side: Side, idRoot: String,
               jkRoot: String): SideDelta = {
      val ids = pin(delta.select(side.idCol).distinct())
      if (ids.isEmpty)
        return SideDelta(side, idRoot, jkRoot, ids, null,
          pin(delta.select(col(side.joinKeyCol).as("jk")).limit(0)))
      val idBuckets = ManifestState.bucketsOf(ids, side.idCol, nBuckets)
      val oldTouched = pin(ManifestState
        .readBucketsOf(spark, idRoot, nBuckets, idBuckets, side.rows)
        .join(ids, Seq(side.idCol), "left_semi"))
      val newTouched = pin(CdcMerge.latestWins(
        oldTouched.unionByName(delta), Seq(side.idCol), ordering))
      // affected join keys of THIS side: old values (deletes, moves
      // away) ∪ new live values (inserts, moves toward)
      val deltaJk = pin(oldTouched.select(col(side.joinKeyCol).as("jk"))
        .unionByName(liveJk(newTouched, side).select(col("jk")))
        .filter(col("jk").isNotNull).distinct())
      deltaJk.count() // pin: its inputs' buckets get superseded below
      SideDelta(side, idRoot, jkRoot, ids, newTouched, deltaJk)
    }

    // ---- phase 2: jk copy — touched ids' old rows leave (they sit in
    // Δjk's buckets: their old jk is in Δjk by construction), new LIVE
    // rows enter. The callback's merged output IS the side's post-patch
    // Δjk-bucket content; the patch write materializes its cache and
    // the view recompute reuses it instead of re-reading those buckets.
    def patchJk(sd: SideDelta): DataFrame = {
      if (sd.empty) return noJkRows(spark, sd.side)
      var jkLive: DataFrame = null
      // committed=false means patchBuckets no-op'd (empty Δjk, e.g. a
      // tombstone-only delta for never-seen ids) — the crash-prefix
      // seam must only see REAL commit boundaries
      val committed = ManifestState.patchBuckets(
        sd.jkRoot, nBuckets, "jk", sd.deltaJk, noJkRows(spark, sd.side).schema) { current =>
        if (jkLive != null) jkLive.unpersist()
        jkLive = pin(current.join(sd.ids, Seq(sd.side.idCol), "left_anti")
          .unionByName(liveJk(sd.newTouched, sd.side)))
        jkLive
      }
      if (committed) onPatchCommitted()
      if (jkLive == null) noJkRows(spark, sd.side) else jkLive
    }

    try {
      val l = derive(leftDelta, left, s"$stateRoot/left_id", s"$stateRoot/left_jk")
      val r = derive(rightDelta, right, s"$stateRoot/right_id", s"$stateRoot/right_jk")
      val lLive = patchJk(l)
      val rLive = patchJk(r)
      val delta = pin(l.deltaJk.unionByName(r.deltaJk).distinct())

      // ---- phase 3: view patch — recompute from the UPDATED jk
      // copies, restricted to Δ: an O(Δ-bucket) read per side, never a
      // full side scan; each side's OWN Δjk buckets come from the
      // cached patch output, so only the buckets the other side
      // contributed are read from disk
      val jkBuckets = ManifestState.bucketsOf(delta, "jk", nBuckets)
      def liveSlice(sd: SideDelta, own: DataFrame): DataFrame = {
        val missing = jkBuckets.diff(ManifestState.bucketsOf(sd.deltaJk, "jk", nBuckets))
        own.unionByName(ManifestState.readBucketsOf(spark, sd.jkRoot, nBuckets, missing,
            noJkRows(spark, sd.side).schema))
          .join(broadcast(delta), Seq("jk"), "left_semi")
      }
      val recompute = joined(liveSlice(l, lLive), liveSlice(r, rLive))
      val viewCommitted = ManifestState.patchBuckets(
        s"$stateRoot/view", nBuckets, "jk", delta, recompute.schema) {
        current => current.join(broadcast(delta), Seq("jk"), "left_anti")
          .unionByName(recompute)
      }
      if (viewCommitted) onPatchCommitted()

      // ---- phase 4 (LAST): id copies — tombstones retained (they
      // fence late replays, exactly the CdcStream state contract);
      // latest-wins makes this patch idempotent on its own, and its
      // position makes every EARLIER patch replayable (scaladoc)
      Seq(l, r).foreach { sd =>
        if (!sd.empty) {
          val idCommitted = ManifestState.patchBuckets(
            sd.idRoot, nBuckets, sd.side.idCol, sd.ids, sd.side.rows) {
            current => current.join(sd.ids, Seq(sd.side.idCol), "left_anti")
              .unionByName(sd.newTouched)
          }
          if (idCommitted) onPatchCommitted()
        }
      }
    } finally pinned.foreach(_.unpersist())
  }

  /** The view's current snapshot (manifest-consistent); a
    * never-written view reads as zero rows of the view's columns. */
  def readView(spark: SparkSession, stateRoot: String,
               left: Side, right: Side): DataFrame =
    ManifestState.read(spark, s"$stateRoot/view",
      joined(noJkRows(spark, left), noJkRows(spark, right)).schema)

  /** The executable spec: the full re-join of the CURRENT live side
    * states — what [[readView]] must always equal. */
  def naiveView(spark: SparkSession, stateRoot: String,
                left: Side, right: Side): DataFrame = {
    def liveSide(root: String, side: Side) =
      liveJk(ManifestState.read(spark, root, side.rows), side)
    joined(liveSide(s"$stateRoot/left_id", left), liveSide(s"$stateRoot/right_id", right))
  }
}
