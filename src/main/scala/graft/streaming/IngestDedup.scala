package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.{TextFunctions => TF}
import graft.operators.Checkpoints
import graft.streaming.BucketedIngest.{DefaultBuckets, State, pin}

/** Dedup-on-ingest: exact content deduplication applied to a document
  * STREAM as it lands, instead of as a periodic batch sweep — the
  * shape a training-data pipeline actually runs (crawl → ingest →
  * dedup → corpus), streaming twin of the batch q12 contract and the
  * per-batch spelling of [[graft.operators.IncrementalDedup]]'s exact
  * tier.
  *
  * Three duplicate horizons, three mechanisms:
  *
  *   1. IN-BATCH + IN-HORIZON: the stream is keyed by content
  *      fingerprint ([[TF.fingerprint]]: md5 of the
  *      whitespace/case-canonical text — a fixed 32-byte key, never
  *      the full text) and deduped with
  *      `dropDuplicatesWithinWatermark`, whose per-key state is
  *      EVICTED once the watermark passes — bounded state, unlike
  *      plain `dropDuplicates` whose map grows with distinct keys
  *      forever.
  *   2. CROSS-HORIZON / HISTORICAL: each micro-batch anti-joins the
  *      persistent fingerprint index of everything already ingested —
  *      a stream-static equi-join on the 32-byte key. The index IS a
  *      bucketed table on fp ([[ManifestState]] layout, the
  *      [[BucketedIngest]] discipline every ingest twin shares): the
  *      anti-join reads ONLY the buckets the batch's fingerprints
  *      hash to — any colliding history fp lives in a touched bucket
  *      by construction, so the restriction is exact — and the text
  *      of the historical corpus is never read. A bloom prefilter
  *      ([[graft.operators.BloomPrefilter]]) can still front it.
  *   3. INDEX MAINTENANCE: survivors' fingerprints PATCH back into
  *      the touched buckets inside the same `foreachBatch`, so the
  *      NEXT batch sees them — the index is re-read per batch, not
  *      captured once at query start. A crash between the patch and
  *      the checkpoint commit can replay a batch; the index is a SET
  *      contract (the patch re-distincts, so a replayed patch commits
  *      identical bucket content) and the anti-join stays idempotent.
  *      Per-batch cost is flat across stream age and index data files
  *      stay bounded by nBuckets × (1 + keepGenerations) — the
  *      one-fragment-per-batch growth of an append-mode index never
  *      happens (probed in docs/probes/dupspaningest_r14.txt for the
  *      shared mechanism).
  *
  * Reference tie-in: the reference pipeline has no dedup at all (its
  * keyed map is latest-WINS, id-keyed — `static/index.html:87-89`);
  * this is north-star training-pipeline surface per SURVEY.md §2.B.
  */
object IngestDedup {

  /** Canonical-content fingerprint column, shared with q12/q103/q143
    * so batch and streaming dedup agree on what "exact duplicate"
    * means. */
  def withFingerprint(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fp", TF.fingerprint(col(textCol)))

  /** Declarative in-stream slice: first-seen-per-fingerprint within
    * the watermark horizon survives. State is per-fp and evicted at
    * the horizon. */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermark: String): DataFrame =
    withFingerprint(docs, textCol)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  private val IndexSchema = StructType.fromDDL("fp STRING")

  private def index(indexDir: String, nBuckets: Int) =
    State(indexDir, "fp", IndexSchema, nBuckets)

  /** The fingerprint index as a readable set — stored distinct in the
    * bucketed layout, so readers never re-aggregate. Empty frame if
    * nothing has been ingested yet. */
  def historyIndex(spark: SparkSession, indexDir: String): DataFrame =
    ManifestState.read(spark, indexDir, IndexSchema)

  /** Patch fingerprints into the bucketed index — the per-batch
    * advance, and the bootstrap path for seeding the index from an
    * already-ingested corpus. Idempotent (set contract).
    *
    * Seeding into a directory that still holds legacy top-level
    * (append-mode) parquet fragments is refused by default: the first
    * patch would commit a manifest BESIDE the fragments, after which
    * [[historyIndex]]/[[mergeBatch]] see a non-empty manifest, never
    * run the legacy-layout check again, and silently ignore whatever
    * fragment content was not part of the seed. An in-place migration
    * (read the fragments → seed them → this call) passes
    * `migrateInPlace = true` and must delete the fragments afterwards. */
  def addToIndex(fps: DataFrame, indexDir: String,
                 nBuckets: Int = DefaultBuckets,
                 migrateInPlace: Boolean = false): Unit = {
    index(indexDir, nBuckets).patch(fps, migrateInPlace) {
      _.unionByName(fps.select(col("fp"))).distinct()
    }
    ()
  }

  /** One micro-batch of the ingest pipeline: anti-join the batch
    * against ONLY the index buckets its fingerprints hash to, append
    * survivors to `outDir`, and patch their fingerprints into the
    * index. Public so the batch semantics are probe- and spec-visible
    * without a MemoryStream harness. */
  def mergeBatch(batch: DataFrame, outDir: String, indexDir: String,
                 nBuckets: Int = DefaultBuckets): Unit = synchronized {
    // Collapse IN-BATCH duplicates first: the anti-join below screens
    // only against HISTORY, so a batch carrying two rows with one fp
    // would append both, violating the out-is-fp-unique contract. The
    // streaming path is already fp-unique within the watermark horizon
    // (dropDuplicatesWithinWatermark), but this API is public for
    // bootstrap/bench callers. The survivor is the min-struct
    // representative over the remaining columns — DETERMINISTIC, so a
    // crash-replay of the same batch picks the same row (an arbitrary
    // dropDuplicates pick could append two different survivors of one
    // fp across the crash window).
    val others = batch.columns.filterNot(_ == "fp")
    // min(struct(...)) needs an ordering over every non-fp column —
    // validate up front with a named error instead of letting the
    // analyzer throw mid-plan (a map column, say, is not orderable).
    others.foreach { c =>
      val dt = batch.schema(c).dataType
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt),
        s"mergeBatch picks a deterministic min-struct survivor per fp, " +
        s"which requires orderable columns; column '$c' is $dt — drop or " +
        s"re-encode it before ingest")
    }
    // backtick-quote source names for the same reason (col("a.b") would
    // parse as a nested-field path, not the column literally named a.b)
    def q(c: String) = col(s"`${c.replace("`", "``")}`")
    val unique =
      if (others.isEmpty) batch.distinct()
      else batch.groupBy(col("fp"))
        .agg(min(struct(others.map(q): _*)).as("_r"))
        // getField, not col("_r." + c): a dotted source column name
        // would mis-resolve through the string path
        .select(batch.columns.map(c =>
          if (c == "fp") col("fp") else col("_r").getField(c).as(c)): _*)
    val hist = index(indexDir, nBuckets).touch(batch).read
    Checkpoints.scoped {
      // two writes below; don't recompute the join
      val fresh = pin(unique.join(hist, Seq("fp"), "left_anti"))
      fresh.write.mode("append").parquet(outDir)
      addToIndex(fresh, indexDir, nBuckets)
    }
  }

  /** Full ingest pipeline: watermarked in-stream dedup → per-batch
    * anti-join against the historical index → append survivors to
    * `outDir` and their fingerprints to `indexDir`. Default trigger is
    * the continuous micro-batch one (a live ingest keeps consuming);
    * pass `Trigger.AvailableNow()` for drain-and-stop backfills. */
  def runIngest(spark: SparkSession, docs: DataFrame, textCol: String,
                tsCol: String, watermark: String, checkpointDir: String,
                outDir: String, indexDir: String,
                trigger: Trigger = Trigger.ProcessingTime(0),
                nBuckets: Int = DefaultBuckets,
                retention: Option[ManifestState.Retention] = None): StreamingQuery =
    // The in-stream dedup guarantees fp-uniqueness only across the
    // stateful horizon; a batch can still carry one row per fp that
    // collides with history — and the index must be the CURRENT one
    // (previous batches' patches included), so its touched buckets are
    // read per batch, not captured at stream build.
    BucketedIngest.run(dedupStream(docs, textCol, tsCol, watermark),
        checkpointDir, trigger, Seq(indexDir), retention) { (batch, _) =>
      mergeBatch(batch, outDir, indexDir, nBuckets)
    }
}
