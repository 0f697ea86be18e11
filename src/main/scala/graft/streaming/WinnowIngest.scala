package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Checkpoints, Winnow}
import graft.streaming.BucketedIngest.{DefaultBuckets, State, pin}

/** Span-level dup detection ON INGEST: the streaming twin of
  * `q149_winnow_spans`, layered the same way [[IngestDedup]] twins
  * q12. Where IngestDedup drops EXACT duplicates by whole-document
  * fingerprint, this flags documents arriving with COPIED SPANS —
  * shared winnowed fingerprints ([[Winnow]]) against anything already
  * ingested or earlier in the same batch.
  *
  * Per micro-batch:
  *   1. winnow the incoming docs (per-doc window pass, map-side);
  *   2. pair-join the batch's selected fingerprints against
  *      (index ∪ batch) — candidates are batch-vs-history and
  *      batch-vs-batch; history never self-joins (the same asymmetric
  *      probe discipline as [[graft.operators.IncrementalDedup]]), so
  *      per-batch cost follows batch size, not corpus size;
  *   3. PATCH flagged pairs into the bucketed state at `pairsDir`
  *      (bucket by doc_a, max-merged content — see [[pairs]]) and the
  *      batch's fingerprints into the bucketed index under `indexDir`
  *      so the NEXT batch sees them.
  *
  * Index layout (round 15 — previously an append log re-scanned WHOLE
  * per batch: full-index distinct + a GLOBAL df aggregate + a GLOBAL
  * per-doc selected-count, three corpus-sized shuffles per batch).
  * Two [[ManifestState]] bucketed states under `indexDir`, kept
  * consistent by every merge:
  *
  *   - `indexDir/byh` (bucket by h): the occurrence rows (h, doc_id)
  *     of every LIVE fingerprint — one whose document frequency has
  *     never exceeded `maxDf`. A fingerprint that crosses `maxDf`
  *     collapses to a single (h, null) HOT MARKER forever (df only
  *     grows, so the guard verdict is monotone): a boilerplate gram
  *     is one index row no matter how many documents carry it — the
  *     same hot-key discipline as [[DupSpanIngest]]'s min/max index,
  *     and the live rows per fingerprint are ≤ maxDf by construction.
  *   - `indexDir/bydoc` (bucket by doc_id): the SAME live occurrences
  *     keyed by document. A doc's current guarded-fingerprint count
  *     (`sel_n`, the overlap_r denominator) is a bucket-local count
  *     here — the quantity the append-mode design had to recompute
  *     globally per batch because a history doc's fingerprints span
  *     arbitrary h-buckets (the limitation docs/SCALE.md named; this
  *     side table is the design it called for).
  *
  * Both states change only for the batch's fingerprints (df is
  * unchanged elsewhere), so each merge reads and rewrites only the
  * touched buckets; per-batch cost follows the batch's bucket
  * footprint and data files stay bounded by
  * nBuckets × (1 + keepGenerations) per state.
  *
  * Replay idempotence: every patch closure is a deterministic
  * function of (stored ∪ batch) under SET semantics — a replayed
  * batch finds its rows already stored, recomputes identical df
  * verdicts, and commits identical bucket content; re-emitted pairs
  * max-merge to the same survivors. Crash windows between the three
  * patches replay the same way because the patches commit in
  * dependency order — bydoc BEFORE byh: the touched-doc set is
  * derived from the pre-patch byh snapshot, so a crash between them
  * replays with the hot-crossing fingerprints' carriers still live in
  * byh, re-deriving the same touched set and re-committing identical
  * bydoc content; once byh has landed, the df aggregate over
  * stored ∪ batch is unchanged and the pair patch max-merges to the
  * same survivors.
  *
  * The hot-gram guard is evaluated at EMISSION time against the
  * current (index ∪ batch) document frequency: once a fingerprint's
  * df exceeds `maxDf` (site boilerplate), it stops generating new
  * candidate pairs from that batch on — and stops being stored or
  * counted in sel_n (exactly the guard the append-mode code computed
  * globally). Pairs already emitted stand — the guard bounds future
  * quadratic blowup, it does not rewrite history. With no hot grams
  * in the corpus the cumulative pair set is EXACTLY the batch
  * recompute (spec-asserted). `maxDf` is part of the state's
  * semantics: use one value for a state's lifetime (the hot markers
  * bake in the verdicts of the values used so far; raising maxDf
  * later does not resurrect a collapsed fingerprint).
  */
object WinnowIngest {

  private def byH(indexDir: String) = s"$indexDir/byh"
  private def byDoc(indexDir: String) = s"$indexDir/bydoc"
  private def hState(indexDir: String, nBuckets: Int) =
    State(byH(indexDir), "h", HSchema, nBuckets)
  private def docState(indexDir: String, nBuckets: Int) =
    State(byDoc(indexDir), "doc_id", DocSchema, nBuckets)

  /** The twin's ManifestState roots, for retention sweeps
    * ([[ManifestState.Retention]]) — the sub-state layout under
    * `indexDir` is private. */
  private[graft] def stateRoots(indexDir: String,
                                pairsDir: String): Seq[String] =
    Seq(byH(indexDir), byDoc(indexDir), pairsDir)

  /** Test seam: invoked after each of [[mergeBatch]]'s three state
    * commits (bydoc, byh, pairs — in that order), so specs can crash
    * at every patch prefix and assert replay convergence (the
    * JoinView crash-prefix discipline). */
  private[graft] var onPatchCommitted: () => Unit = () => ()

  private val HSchema = StructType.fromDDL("h BIGINT NOT NULL, doc_id BIGINT")
  private val DocSchema = StructType.fromDDL("doc_id BIGINT NOT NULL, h BIGINT NOT NULL")
  private val PairsSchema = StructType.fromDDL("doc_a BIGINT NOT NULL, " +
    "doc_b BIGINT NOT NULL, n_shared BIGINT NOT NULL, overlap_r DOUBLE NOT NULL")

  /** The pre-manifest index sat in `indexDir` itself, above both
    * sub-state roots, where no root's own legacy-layout check looks. */
  private def requireNoLegacyIndex(spark: SparkSession, indexDir: String): Unit =
    ManifestState.requireNoLegacyLayout(spark, byH(indexDir), indexDir)

  /** Current LIVE fingerprint index as a set: (doc_id, h) of every
    * fingerprint whose df has never exceeded the guard. Hot
    * fingerprints are present in the state only as single (h, null)
    * markers and are omitted here — they no longer pair, count, or
    * store occurrences. Empty if nothing ingested yet. */
  def index(spark: SparkSession, indexDir: String): DataFrame = {
    requireNoLegacyIndex(spark, indexDir)
    ManifestState.read(spark, byH(indexDir), HSchema)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("h"))
  }

  /** Bootstrap: seed the bucketed index from an already-winnowed
    * corpus of (doc_id, h) fingerprints WITHOUT emitting pairs — the
    * "history written once" path (and the migration path from a
    * pre-round-15 append-mode fragment dir: read the fragments, seed,
    * delete them). Applies the hot-gram guard at seed time with the
    * same `maxDf` later merges will use. Requires an empty state: a
    * seed is a statement of the FULL occurrence set of its
    * fingerprints, which cannot be merged into existing verdicts.
    *
    * Seeding into a directory that still holds legacy top-level
    * (append-mode) parquet fragments is refused by default — the same
    * stranding guard as [[IngestDedup.addToIndex]]: the seed would
    * commit manifests BESIDE the fragments, after which
    * [[index]]/[[mergeBatch]] see a non-empty manifest, never run the
    * legacy-layout check again, and silently ignore whatever fragment
    * content the seed missed. An in-place migration (read
    * the fragments → seed them → this call) passes
    * `migrateInPlace = true` and must delete the fragments after. */
  def seedIndex(fps: DataFrame, indexDir: String, maxDf: Long = 20L,
                nBuckets: Int = DefaultBuckets,
                migrateInPlace: Boolean = false): Unit = Checkpoints.scoped {
    val hs = hState(indexDir, nBuckets)
    require(hs.isEmpty,
      s"seedIndex requires an empty state at $indexDir — merge batches instead")
    if (!migrateInPlace) requireNoLegacyIndex(fps.sparkSession, indexDir)
    val s = pin(fps.select(col("doc_id"), col("h")).distinct())
    val hot = pin(s.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("h")))
    val live = pin(s.join(hot, Seq("h"), "left_anti"))
    val hRows = live.select(col("h"), col("doc_id"))
      .unionByName(hot.select(col("h"), lit(null).cast("long").as("doc_id")))
    hs.patch(hRows)(_.unionByName(hRows))
    docState(indexDir, nBuckets).patch(live)(
      _.unionByName(live.select(col("doc_id"), col("h"))))
  }

  /** Flagged pairs so far: (doc_a, doc_b, n_shared, overlap_r),
    * deduped on the pair key (replay contract). The same pair can be
    * re-emitted by later batches with different stats (n_shared and
    * overlap_r are computed against the emission-time index), so the
    * survivor must be deterministic: the strongest evidence wins —
    * max n_shared, with overlap_r taken from that same emission
    * (max_by). A bare dropDuplicates would keep an arbitrary row and
    * make repeated reads disagree.
    *
    * The max-merge is folded into the PATCH closure and the state
    * lives in [[ManifestState]]'s bucketed layout (bucket by doc_a,
    * pre-merged one-row-per-pair content), so this read is a plain
    * snapshot scan: file count bounded by nBuckets ×
    * (1 + keepGenerations) instead of one fragment per batch, and no
    * full-log groupBy per readout. */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    ManifestState.read(spark, pairsDir, PairsSchema)

  /** Patch pair emissions into the bucketed state's touched buckets
    * with pre-merged strongest-evidence content (max over the
    * (n_shared, overlap_r) struct — associative, so the folded merge
    * equals a read-time merge over the full emission history).
    * Package-visible so the determinism contract is spec-testable
    * against synthetic double-emissions. */
  private[graft] def patchPairs(newPairs: DataFrame, pairsDir: String,
                                nBuckets: Int): Unit = {
    State(pairsDir, "doc_a", PairsSchema, nBuckets).patch(newPairs) {
      _.unionByName(newPairs)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(struct(col("n_shared"), col("overlap_r"))).as("s"))
        .select(col("doc_a"), col("doc_b"),
                col("s.n_shared").as("n_shared"),
                col("s.overlap_r").as("overlap_r"))
    }
    ()
  }

  /** Merge one static micro-batch of documents (idCol, textCol). */
  def mergeBatch(batch: DataFrame, textCol: String, idCol: String,
                 indexDir: String, pairsDir: String,
                 k: Int = 5, w: Int = 4, minShared: Long = 3L,
                 maxDf: Long = 20L,
                 nBuckets: Int = DefaultBuckets): Unit =
    Checkpoints.scoped {
      // probed, paired, and stored; compute once
      val batchSel = pin(Winnow.selectFingerprints(batch, textCol, idCol, k, w)
        .withColumnRenamed(idCol, "doc_id"))
      mergeFromSelection(batch.sparkSession, batchSel, indexDir, pairsDir,
        minShared, maxDf, nBuckets)
    }

  /** Merge a precomputed winnow SELECTION — (doc_id, h) rows, pinned
    * by the caller — into the states. The seam
    * [[SpanIngest]]'s fused path uses to derive the selection from its
    * shared gram frame instead of re-tokenizing; [[mergeBatch]]
    * delegates here, so the two paths cannot diverge semantically. */
  private[streaming] def mergeFromSelection(spark: SparkSession,
                 batchSel: DataFrame,
                 indexDir: String, pairsDir: String,
                 minShared: Long, maxDf: Long,
                 nBuckets: Int): Unit = synchronized(Checkpoints.scoped {
    // refuse before the first of the three commits: the pair log is
    // only patched last, after bydoc and byh have committed
    requireNoLegacyIndex(spark, indexDir)
    ManifestState.requireNoLegacyLayout(spark, pairsDir, pairsDir)
    val hKeys = pin(batchSel.select(col("h")).distinct())

    // Only the batch's fingerprints can change state (df is untouched
    // elsewhere) — read exactly their buckets, restricted to them; the
    // byh patch below rewrites the same buckets.
    val byh = hState(indexDir, nBuckets).touch(hKeys)
    val stored = byh.read.join(hKeys, Seq("h"), "left_semi")
    val hotAlready = stored.filter(col("doc_id").isNull)
      .select(col("h")).distinct()
    // occurrences of an already-hot fingerprint neither pair nor store
    val liveBatch = batchSel.join(hotAlready, Seq("h"), "left_anti")
    // df aggregate + pair join + both patches
    val seen = pin(stored.filter(col("doc_id").isNotNull)
      .select(col("h"), col("doc_id"))
      .unionByName(liveBatch.select(col("h"), col("doc_id")))
      .distinct())
    // Emission-time guard over stored ∪ batch — exact: every
    // occurrence of a batch fingerprint lives in a touched bucket.
    val newlyHot = pin(seen.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("h")))
    val live = pin(seen.join(newlyHot, Seq("h"), "left_anti"))

    // 1) bydoc FIRST: the replacement keyed by document. A (doc, h)
    //    row with h in the batch exists only for docs in `seen`
    //    (stored carriers ∪ batch docs), so the touched-doc set is
    //    exactly seen's docs and no colocated doc loses rows.
    //    ORDER MATTERS for crash replay: `seen` is derived from the
    //    PRE-patch byh snapshot. If byh were patched first and the
    //    merge crashed before this patch, a fingerprint that crossed
    //    maxDf in the batch would replay as already-hot (byh holds
    //    only its null marker), its history carriers would never enter
    //    `seen`, and their stale bydoc rows for the now-hot h would
    //    survive forever — silently inflating sel_n. With bydoc
    //    committed first, a crash in between replays with the carriers
    //    still live in byh, re-deriving the same `seen` set and
    //    re-committing identical bydoc content (set semantics).
    val bydoc = docState(indexDir, nBuckets)
    bydoc.patch(seen) {
      _.join(hKeys, Seq("h"), "left_anti")
        .unionByName(live.select(col("doc_id"), col("h")))
    }
    onPatchCommitted()
    // 2) byh: replace the batch fingerprints' rows — live occurrences
    //    survive, hot fingerprints collapse to one null-doc marker.
    val hotMarkers = hotAlready.unionByName(newlyHot).distinct()
      .select(col("h"), lit(null).cast("long").as("doc_id"))
    byh.patch {
      _.join(hKeys, Seq("h"), "left_anti")
        .unionByName(live.select(col("h"), col("doc_id")))
        .unionByName(hotMarkers)
    }
    onPatchCommitted()

    // Asymmetric probe: every candidate pair has >=1 side in the
    // batch; a < b orientation dedups batch-vs-batch pairs counted
    // from both sides.
    val gBatch = liveBatch.join(newlyHot, Seq("h"), "left_anti")
    val rawPairs = pin(gBatch.select(col("doc_id").as("p"), col("h"))
      .join(live.select(col("doc_id").as("q"), col("h")), "h")
      .filter(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("doc_a"),
              greatest(col("p"), col("q")).as("doc_b"), col("h"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared))
    // sel_n (the overlap denominator) = each pair doc's CURRENT
    // guarded-fingerprint count — a bucket-local count over bydoc,
    // read AFTER the patch so batch arrivals and this batch's hot
    // crossings are reflected (the global-recompute semantics of the
    // append-mode design, now O(touched buckets)).
    val pairDocs = rawPairs.select(col("doc_a").as("doc_id"))
      .unionByName(rawPairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val selN = bydoc.touch(pairDocs).read
      .join(pairDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sel_n"))
    // bucket list + patch closure
    val newPairs = pin(rawPairs
      .join(selN.select(col("doc_id").as("doc_a"), col("sel_n").as("na")), "doc_a")
      .join(selN.select(col("doc_id").as("doc_b"), col("sel_n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("na"), col("nb")).cast("double"), 4).as("overlap_r")))
    patchPairs(newPairs, pairsDir, nBuckets)
    onPatchCommitted()
  })
}
