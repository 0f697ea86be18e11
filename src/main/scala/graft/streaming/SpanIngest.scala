package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Checkpoints, DupSpans, Winnow}
import graft.streaming.BucketedIngest.{DefaultBuckets, pin}

/** Fused span-level ingest: [[DupSpanIngest]] (per-doc duplicated-span
  * coverage) and [[LeakageIngest]] (cross-source leakage) over ONE
  * stream, one checkpoint, and one shared gram pass per micro-batch —
  * and, via [[mergeBatchAll]], optionally [[WinnowIngest]]
  * (span-overlap pairs) as a third consumer of the same pass.
  *
  * A pipeline that wants both accountings — the common case: q174's
  * coverage decides retention, q176's leakage audits train/eval
  * contamination — would otherwise run two streaming queries that
  * each re-read the source and tokenize/positional-gram the batch
  * independently (the two gram passes differ only in the carried
  * source column). Here the batch is grammed ONCE with the source
  * carried, materialized, and fed to both twins' merge bodies; the
  * coverage path ignores the extra column. Measured honestly
  * (docs/probes/spaningest_r15.txt, 200- and 4000-doc batches): the shared pass
  * saves 2-4% of per-batch compute — each twin's own state
  * maintenance (candidate joins, interval unions, two bucket patches)
  * dominates — so the operational win is the composition itself: one
  * source read, one checkpoint/offset log, and a single at-least-once
  * redelivery unit instead of two streams crashing at independent
  * offsets.
  *
  * Both entry points run one body: [[mergeBatch]] is [[mergeBatchAll]]
  * without the winnow consumer. The shared frame's `fullk` slice is
  * content-identical to [[DupSpans.grams]] with the source carried, so
  * the two span twins see exactly what their solo merges build.
  *
  * State equivalence is exact, not approximate: each twin's merge
  * body is a deterministic function of (its stored state ∪ the gram
  * frame), and the gram frame is content-identical to what the solo
  * twins build — so all four state directories (gram index + coverage
  * state; (h, source) index + leakage state) commit byte-equal
  * content to a solo run over the same batch sequence
  * (spec-asserted, [[graft.SpanIngestSpec]]). Replay/crash semantics
  * are each twin's own: the coverage patch is min-merge idempotent,
  * the leakage patch epoch-disciplined. The two merges commit
  * independently (no cross-twin transaction) — a crash between them
  * replays the batch into both, where each twin's idempotence already
  * absorbs its own redelivery, exactly as if the two solo streams had
  * crashed at different offsets.
  */
object SpanIngest {

  /** Merge one static micro-batch into BOTH span twins' states with a
    * single shared gram pass. Parameters are the union of the twins';
    * see their docs for per-state semantics. */
  def mergeBatch(batch: DataFrame, textCol: String, idCol: String,
                 sourceCol: String,
                 covIndexDir: String, covDir: String,
                 leakIndexDir: String, leakDir: String,
                 k: Int = 5, nBuckets: Int = DefaultBuckets): Unit =
    fused(batch, textCol, idCol, sourceCol, covIndexDir, covDir,
      leakIndexDir, leakDir, k, nBuckets, winnow = None)

  /** Fused merge of ALL THREE span-grain twins — coverage, leakage,
    * AND [[WinnowIngest]]'s span-overlap pairs — from ONE tokenize +
    * posexplode + md5 pass per micro-batch.
    *
    * The winnow twin consumes a different DERIVATION of the same gram
    * frame, not a different gram shape: its selection is the per-doc
    * trailing-w-window minimum over exactly the positional hashes the
    * span twins consume, plus the whole-text shingle rows of < k-token
    * documents (which [[DupSpans.grams]] excludes but
    * [[Winnow.selectFingerprints]] keeps — a < k doc winnows to its
    * single whole-text hash). So the shared frame here is the
    * UNFILTERED explode with a per-doc `fullk` marker: the span twins
    * read the `fullk` slice (content-identical to [[DupSpans.grams]]),
    * the winnow selection reads the whole frame. Equality with the
    * three solo twins is spec-asserted state-for-state
    * ([[graft.SpanIngestSpec]]); the winnow merge body itself is
    * [[WinnowIngest.mergeFromSelection]] — the exact code
    * [[WinnowIngest.mergeBatch]] runs, handed the derived selection.
    *
    * Honest accounting, per the 2-way fold's precedent: the shared
    * pass saves each twin's own tokenize/hash cost (the winnow twin's
    * was its whole map-side pass), but the three merge bodies'
    * candidate joins and seven bucket patches still dominate — the
    * operational win remains ONE source read, ONE checkpoint, one
    * at-least-once redelivery unit for all three accountings
    * (docs/probes/spaningest3_r16.txt measures the ratio). */
  def mergeBatchAll(batch: DataFrame, textCol: String, idCol: String,
                    sourceCol: String,
                    covIndexDir: String, covDir: String,
                    leakIndexDir: String, leakDir: String,
                    winIndexDir: String, winPairsDir: String,
                    k: Int = 5, w: Int = 4, minShared: Long = 3L,
                    maxDf: Long = 20L,
                    nBuckets: Int = DefaultBuckets): Unit =
    fused(batch, textCol, idCol, sourceCol, covIndexDir, covDir,
      leakIndexDir, leakDir, k, nBuckets,
      Some(Winnowing(winIndexDir, winPairsDir, w, minShared, maxDf)))

  /** The winnow consumer's dirs and knobs. */
  private final case class Winnowing(indexDir: String, pairsDir: String,
                                     w: Int, minShared: Long, maxDf: Long)

  private def fused(batch: DataFrame, textCol: String, idCol: String,
                    sourceCol: String,
                    covIndexDir: String, covDir: String,
                    leakIndexDir: String, leakDir: String,
                    k: Int, nBuckets: Int,
                    winnow: Option[Winnowing]): Unit = Checkpoints.scoped {
    // one pass, every twin, many consumers
    val gAll = pin(batch
      .filter(col(textCol).isNotNull)
      .withColumn("fullk", TF.tokenCount(col(textCol)) >= k)
      .select(col(idCol), col(sourceCol), col("fullk"),
        posexplode(TF.shingles(col(textCol), k)))
      .toDF(idCol, sourceCol, "fullk", "pos0", "gram")
      .select(col(idCol), col(sourceCol), col("fullk"),
        (col("pos0") + 1).cast("long").as("pos"),
        Winnow.gramHash(col("gram")).as("h")))
    // The fullk slice IS DupSpans.grams(batch, …, carry = source):
    // same filters, same 1-based long positions, same hash.
    val gSpan = gAll.filter(col("fullk"))
      .select(col(idCol), col(sourceCol), col("pos"), col("h"))
    DupSpanIngest.mergeFromGrams(batch, gSpan, textCol, idCol,
      covIndexDir, covDir, k, nBuckets)
    LeakageIngest.mergeFromGrams(batch, gSpan, textCol, idCol, sourceCol,
      leakIndexDir, leakDir, k, nBuckets)
    winnow.foreach { win =>
      // Winnow selection over the WHOLE frame (< k docs included): the
      // trailing-w-window minimum per doc — Winnow.selectedPositions'
      // window verbatim; 1-based vs 0-based pos orders identically.
      val wm = Window.partitionBy(col(idCol)).orderBy(col("pos"))
        .rowsBetween(-(win.w - 1), Window.currentRow)
      // probed, paired, and stored; compute once
      val sel = pin(gAll
        .withColumn("wmin", min(col("h")).over(wm))
        .filter(col("h") === col("wmin"))
        .select(col(idCol).as("doc_id"), col("h")).distinct())
      WinnowIngest.mergeFromSelection(batch.sparkSession, sel,
        win.indexDir, win.pairsDir, win.minShared, win.maxDf, nBuckets)
    }
  }
}
