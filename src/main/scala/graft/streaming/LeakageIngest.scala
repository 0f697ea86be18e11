package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Checkpoints, DupSpans}
import graft.streaming.BucketedIngest.{DefaultBuckets, State, pin}

/** Cross-source span leakage ON INGEST: the streaming twin of
  * `q176_source_leakage`, completing the dup-span family's symmetry
  * the way [[DupSpanIngest]] twins q177. Each arriving batch of
  * documents is scored for which OTHER sources (anything already
  * ingested, or elsewhere in the same batch) carry its 5-grams, and
  * the (h, source) gram index advances so the NEXT batch sees it.
  *
  * Per micro-batch:
  *   1. one positional-gram pass over the batch with the source
  *      carried through the Generate (never re-joined);
  *   2. counterpart sources = the batch's DISTINCT (h, source) ∪ the
  *      index rows in the batch's buckets — fanout per position stays
  *      bounded by |sources|, and history text is never re-read;
  *   3. PATCH per-(doc, counterpart) leakage rows
  *      (doc_id, src, src_other, leaked_tokens) into the bucketed
  *      state at `leakDir` (bucket by doc_id, min-epoch content — see
  *      [[leakage]]) and the batch's (h, source) rows into the
  *      bucketed index at `indexDir` ([[ManifestState]] layout, the
  *      same discipline as [[DupSpanIngest]]'s gram index).
  *
  * Replay idempotence (at-least-once redelivery of the LATEST batch):
  * the index at (h, source) grain is a SET contract — the patch
  * re-distincts, so a replayed patch commits identical bucket
  * content — and the leakage predicate is "a DIFFERENT source carries
  * the gram", so a batch re-scored against an index already holding
  * its own (h, source) rows can never see ITSELF as a counterpart:
  * same-source matches are filtered, and any cross-source row the
  * replay finds was already found by the first delivery (spec-
  * asserted value-identity).
  *
  * As-of-arrival is enforced STRUCTURALLY, not by precondition: every
  * emission is stamped with the index manifest's epoch at merge time
  * (a logical arrival clock — each gram-bearing merge advances it via
  * the bucket patch), and every batch doc additionally emits one
  * same-source sentinel row, so each doc's FIRST arrival is always
  * present in the state. The patch closure keeps only each doc's
  * minimum-epoch emission: a replayed latest batch re-emits at a
  * higher epoch and is dropped (its rows were value-identical
  * anyway), and an out-of-order re-merge of an OLDER batch — which
  * re-scores against a grown source set and would otherwise surface
  * retroactive (doc, src_other) rows the min-merge of shared keys
  * could not discard — is dropped wholesale for the same reason
  * (spec-asserted). The crash window (leakage rows patched, index
  * patch not yet committed) replays at the SAME epoch with identical
  * rows; the patch closure's distinct collapses them.
  *
  * As-of-arrival semantics (the q177 contract transplanted): a batch
  * doc's leakage counts sources seen UP TO its arrival; earlier docs
  * are not retroactively re-scored when a new source later copies
  * them. The cumulative per-doc rows therefore equal
  * [[DupSpans.crossSourceLeakagePerDoc]] over history ∪ batch
  * restricted to the batch's doc ids, batch by batch (spec-asserted).
  */
object LeakageIngest {

  private val IndexSchema = StructType.fromDDL("h BIGINT NOT NULL, source STRING")
  private val LeakSchema = StructType.fromDDL("doc_id BIGINT NOT NULL, src STRING, " +
    "src_other STRING, leaked_tokens BIGINT NOT NULL, epoch BIGINT NOT NULL")

  /** Current (h, source) gram index — stored distinct, bucketed by h.
    * Empty if nothing ingested yet. */
  def index(spark: SparkSession, indexDir: String): DataFrame =
    ManifestState.read(spark, indexDir, IndexSchema)

  /** Per-doc leakage rows as of each doc's FIRST arrival:
    * (doc_id, src, src_other, leaked_tokens). The min-epoch discipline
    * (see the object doc) is folded into the PATCH closure, so the
    * bucketed state (ManifestState layout, bucket by doc_id) holds
    * exactly each doc's first-arrival rows — distinct, sentinel
    * included as the arrival anchor. This read is therefore a plain
    * snapshot scan that drops the sentinels; file count stays bounded
    * by nBuckets × (1 + keepGenerations) instead of growing one
    * fragment per batch, and no full-log groupBy/distinct happens per
    * readout. */
  def leakage(spark: SparkSession, leakDir: String): DataFrame =
    ManifestState.read(spark, leakDir, LeakSchema)
      .filter(col("src") =!= col("src_other"))
      .select(col("doc_id"), col("src"), col("src_other"), col("leaked_tokens"))

  /** The cumulative leakage matrix: (src, src_other, leaked_tokens)
    * summed over ingested docs — pairs with observed leakage only
    * (join a source domain for zero rows, as q176 does). */
  def matrix(spark: SparkSession, leakDir: String): DataFrame =
    leakage(spark, leakDir)
      .groupBy(col("src"), col("src_other"))
      .agg(sum(col("leaked_tokens")).as("leaked_tokens"))

  /** Merge one static micro-batch of documents (idCol, textCol,
    * sourceCol). Out-of-order re-merges are structurally harmless
    * (epoch discipline, see object doc). */
  def mergeBatch(batch: DataFrame, textCol: String, idCol: String,
                 sourceCol: String, indexDir: String, leakDir: String,
                 k: Int = 5, nBuckets: Int = DefaultBuckets): Unit =
    Checkpoints.scoped {
      // counterpart build + leakage join
      val g = pin(DupSpans.grams(batch, textCol, idCol, k, carry = Seq(sourceCol)))
      mergeFromGrams(batch, g, textCol, idCol, sourceCol, indexDir, leakDir,
        k, nBuckets)
    }

  /** The merge body over a PRECOMPUTED (and materialized) gram frame —
    * the seam [[SpanIngest]] uses to share ONE gram pass between this
    * twin and [[DupSpanIngest]]. `g` must be `DupSpans.grams(batch,
    * textCol, idCol, k, carry = Seq(sourceCol))` content-wise. */
  private[streaming] def mergeFromGrams(batch: DataFrame, g: DataFrame,
                 textCol: String, idCol: String,
                 sourceCol: String, indexDir: String, leakDir: String,
                 k: Int, nBuckets: Int): Unit =
    synchronized(Checkpoints.scoped {
      // The arrival clock: the index manifest epoch BEFORE this
      // batch's patch — every gram-bearing merge advances it, so a
      // later re-merge of this same batch stamps a higher epoch and
      // loses the reader's min-epoch filter.
      val epoch = ManifestState.readManifest(indexDir).epoch
      // bucket list + counterpart union + patch retries
      val bySrc = pin(g.select(col("h"), col(sourceCol).as("source")).distinct())
      // the probe and the index patch below share one bucket list
      val index = State(indexDir, "h", IndexSchema, nBuckets).touch(bySrc)
      val counterpart = index.read.unionByName(bySrc).distinct()
        .withColumnRenamed("source", "src_other")
      val leaked = g.join(counterpart, "h")
        .filter(col(sourceCol) =!= col("src_other"))
        .select(col(idCol), col("pos"), col(sourceCol).as("src"), col("src_other"))
      val real = DupSpans.intervalUnion(leaked, Seq(idCol, "src", "src_other"), k)
        .withColumnRenamed("tokens", "leaked_tokens")
        .withColumnRenamed(idCol, "doc_id")
      // Sentinel: one same-source zero row per batch doc, so every
      // doc's first arrival exists in the log even when it had no
      // leakage then — the anchor the reader's min-epoch filter needs.
      val sentinel = batch.filter(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"), col(sourceCol).as("src"),
          col(sourceCol).as("src_other"), lit(0L).as("leaked_tokens"))
      val rows = pin(real.unionByName(sentinel).withColumn("epoch", lit(epoch)))

      // Patch the leakage state's touched buckets. The closure IS the
      // min-epoch discipline: per doc, only the minimum-epoch rows
      // survive — the stored state therefore always holds exactly each
      // doc's first-arrival emission (sentinel included as the
      // anchor). A replayed latest batch re-stamps a higher epoch and
      // loses here; a same-epoch crash replay collapses in the
      // distinct; an out-of-order older-batch re-merge is dropped
      // wholesale — identical outcomes to the old read-time filter
      // over the full log, because the state inductively holds each
      // doc's global min-epoch rows.
      State(leakDir, "doc_id", LeakSchema, nBuckets).patch(rows) { current =>
        val u = current.unionByName(rows).distinct()
        val first = u.groupBy(col("doc_id")).agg(min(col("epoch")).as("epoch"))
        u.join(first, Seq("doc_id", "epoch"))
          .select(rows.columns.map(col): _*)
      }
      index.patch(_.unionByName(bySrc).distinct())
    })
}
