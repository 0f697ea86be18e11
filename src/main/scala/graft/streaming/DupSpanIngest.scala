package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Checkpoints, DupSpans}
import graft.streaming.BucketedIngest.{DefaultBuckets, State, pin}

/** Exact duplicated-span coverage ON INGEST: the streaming twin of
  * `q177_incremental_dupspan`, layered the way [[WinnowIngest]] twins
  * q149 and [[IngestDedup]] twins q12. Each arriving batch gets the
  * Lee-et-al. duplicated-token accounting ([[DupSpans]]) against
  * everything already ingested plus itself, and the gram index
  * advances so the NEXT batch sees this one.
  *
  * Per micro-batch:
  *   1. one positional-gram pass over the batch (map-side);
  *   2. a batch position is duplicated iff its gram occurs in ≥ 2
  *      distinct batch docs OR the INDEX knows a different document
  *      carrying it — history text is never re-read, per-batch cost
  *      follows batch size;
  *   3. PATCH per-doc coverage rows into the bucketed state at
  *      `covDir` (bucket by doc_id, min-merged content — see
  *      [[coverages]]) and the batch's per-gram (min_id, max_id) into
  *      the bucketed index at `indexDir` (ManifestState layout — see
  *      the index notes below).
  *
  * Replay idempotence (at-least-once redelivery): the index stores
  * per-gram MIN and MAX document ids, not a bare hash set, and the
  * history predicate is "a doc OTHER than this one carries the gram"
  * (`min_id ≠ id OR max_id ≠ id`). A replayed batch therefore scores
  * against an index already containing its own grams WITHOUT seeing
  * itself as history — a bare hash-set index would flip every replayed
  * position to duplicated. Replayed rows are value-identical by
  * construction (spec-asserted), so readers dedup on the doc id; the
  * index is a mergeable min/max contract — order-independent and
  * idempotent, so a replayed patch commits identical bucket content.
  *
  * The min/max-id pair decides "exists a different doc" exactly: if
  * the only known carrier is X, min = max = X; any second carrier
  * moves one bound. Unlike [[WinnowIngest]]'s (doc_id, h) index this
  * stays ONE row per gram — a boilerplate gram carried by millions of
  * documents is still a single index row, so the probe join never
  * fans out by occurrence count.
  *
  * The gram index lives in [[ManifestState]]'s bucketed layout (bucket
  * by h): each batch REWRITES only the buckets its grams hash to with
  * pre-merged (h, min_id, max_id) content, instead of appending one
  * parquet fragment per batch — so the file count is bounded by
  * `nBuckets × (1 + keepGenerations)` forever, the probe reads only the
  * batch's buckets, and nothing ever re-aggregates the whole index per
  * batch (a thousand-batch stream would otherwise pay a thousand-file
  * O(index) re-agg every batch).
  */
object DupSpanIngest {

  private val IndexSchema =
    StructType.fromDDL("h BIGINT NOT NULL, min_id BIGINT NOT NULL, max_id BIGINT NOT NULL")
  private val CovSchema = StructType.fromDDL(
    "doc_id BIGINT NOT NULL, n_tokens BIGINT NOT NULL, dup_tokens BIGINT NOT NULL")

  /** Current gram index: (h, min_id, max_id) — stored pre-merged, one
    * row per gram (the bucketed patch re-merges on write, readers
    * never re-aggregate). Empty if nothing ingested yet. */
  def index(spark: SparkSession, indexDir: String): DataFrame =
    ManifestState.read(spark, indexDir, IndexSchema)

  /** Coverage rows so far: (doc_id, n_tokens, dup_tokens), one row per
    * ingested doc. The state keeps the MINIMUM dup_tokens per doc —
    * the as-of-first-arrival score. Under structured streaming's
    * at-least-once contract (only the latest uncommitted batch
    * replays) re-emissions are value-identical anyway (see object
    * doc), so min changes nothing; but [[mergeBatch]] is also a public
    * batch API, and a caller re-merging an OLDER batch after later
    * ingests scores it against an index that has since gained
    * carriers — flagging strictly MORE positions. min deterministically
    * discards those retroactive re-scores instead of letting a bare
    * doc-key dedup pick one emission arbitrarily.
    *
    * Like the gram index, the coverage state lives in
    * [[ManifestState]]'s bucketed layout (bucket by doc_id) with the
    * min-merge folded into the PATCH closure, so the stored content is
    * pre-merged: this read is a plain snapshot scan over a file count
    * bounded by nBuckets × (1 + keepGenerations) — an append-log
    * emission would instead accumulate one fragment per batch forever
    * and pay a full-log shuffle per readout (10k batches = 10k
    * fragments re-aggregated on every read). */
  def coverages(spark: SparkSession, covDir: String): DataFrame =
    ManifestState.read(spark, covDir, CovSchema)

  /** Merge one static micro-batch of documents (idCol, textCol).
    *
    * Replay precondition: redelivery is idempotent for the MOST RECENT
    * batch (structured streaming's at-least-once contract — exactly
    * what a streaming driver can replay). Re-merging an OLDER batch
    * after later ingests re-scores it against an index that has since
    * gained carriers; the index itself stays correct (min/max merge is
    * order-independent), and [[coverages]]' min-merge keeps the
    * original as-of-arrival coverage row rather than the retroactive
    * re-score (spec-asserted). */
  def mergeBatch(batch: DataFrame, textCol: String, idCol: String,
                 indexDir: String, covDir: String, k: Int = 5,
                 nBuckets: Int = DefaultBuckets): Unit =
    Checkpoints.scoped {
      // three consumers below + the index patch
      val g = pin(DupSpans.grams(batch, textCol, idCol, k))
      mergeFromGrams(batch, g, textCol, idCol, indexDir, covDir, k, nBuckets)
    }

  /** The merge body over a PRECOMPUTED (and materialized) gram frame —
    * the seam [[SpanIngest]] uses to share ONE gram pass between this
    * twin and [[LeakageIngest]] (the pass is each twin's dominant
    * map-side cost). `g` must be `DupSpans.grams(batch, textCol,
    * idCol, k)` content-wise; extra carried columns (e.g. the source)
    * are ignored by every consumer here, so a carried frame serves
    * both twins. */
  private[streaming] def mergeFromGrams(batch: DataFrame, g: DataFrame,
                 textCol: String, idCol: String,
                 indexDir: String, covDir: String, k: Int,
                 nBuckets: Int): Unit =
    synchronized(Checkpoints.scoped {
      // ONE aggregation pass serves both per-gram consumers: the
      // index delta (min/max id) and the within-batch duplicate
      // predicate (distinct-doc count) — two separate groupBys would
      // shuffle the gram frame twice per batch for nothing.
      // bucket list + join + patch retries
      val stats = pin(g.groupBy(col("h"))
        .agg(min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"),
             countDistinct(col(idCol)).as("nd")))
      val bagg = stats.select(col("h"), col("min_id"), col("max_id"))
      val perHash = stats.select(col("h"), col("nd"))
      // Probe ONLY the touched buckets: every history row relevant to
      // this batch has a gram hash the batch carries, and that hash
      // routes to a touched bucket by construction — per-batch read
      // cost follows the batch's bucket footprint, never index size.
      // The index patch below rewrites the same buckets.
      val index = State(indexDir, "h", IndexSchema, nBuckets).touch(bagg)
      val hist = index.read
      val dupPos = g
        .join(perHash, "h")
        .join(hist, Seq("h"), "left")
        .filter(col("nd") >= 2 ||
          (col("min_id").isNotNull &&
            (col("min_id") =!= col(idCol) || col("max_id") =!= col(idCol))))
        .select(col(idCol), col("pos"))
      val cov = DupSpans.intervalUnion(dupPos, Seq(idCol), k)
        .withColumnRenamed("tokens", "dup_tokens")
      val rows = pin(batch.filter(col(textCol).isNotNull)
        .select(col(idCol),
          graft.functions.TextFunctions.tokenCount(col(textCol)).as("n_tokens"))
        .join(cov, Seq(idCol), "left")
        .select(col(idCol).as("doc_id"), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens")))

      // Patch the coverage state's touched buckets with pre-merged
      // content. min over the (dup_tokens, n_tokens) STRUCT, not each
      // field independently: two emissions that differ in both fields
      // must merge to a row one of them actually produced, never a
      // cross-emission hybrid fraction. The min is associative, so
      // folding it into the patch equals the old read-time merge over
      // the full emission log — but the state stays one row per doc
      // and the reader never re-aggregates.
      State(covDir, "doc_id", CovSchema, nBuckets).patch(rows) {
        _.unionByName(rows)
          .groupBy(col("doc_id"))
          .agg(min(struct(col("dup_tokens"), col("n_tokens"))).as("m"))
          .select(col("doc_id"), col("m.n_tokens").as("n_tokens"),
            col("m.dup_tokens").as("dup_tokens"))
      }
      // Advance the index: rewrite the touched buckets with their
      // merged new content. min/max are order-independent and
      // idempotent under re-merge, so a replayed batch commits the
      // identical bucket content.
      index.patch {
        _.unionByName(bagg)
          .groupBy(col("h"))
          .agg(min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"))
      }
    })
}
