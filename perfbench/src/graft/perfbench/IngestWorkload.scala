package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.{IngestDedup, ManifestState, NearDedupIngest}

/** Seeded ingest batches over documents.text with planted labels. Base
  * documents are pairwise far apart (3-shingle Jaccard <= 0.2); planted
  * near duplicates sit at Jaccard >= 0.8 to their base, planted exact
  * duplicates differ from theirs only in whitespace and case. */
final class IngestCorpus(docs: Seq[(Long, String)], seed: Long) {
  import IngestCorpus._
  private val rnd = new Random(seed)
  private val vocab = docs.flatMap(d => tokens(d._2)).distinct.sorted.toIndexedSeq

  /** Base pool, chosen greedily in doc_id order, then shuffled by seed. */
  val pool: IndexedSeq[String] = {
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val sizes = mutable.ArrayBuffer.empty[Int]
    val texts = mutable.ArrayBuffer.empty[String]
    docs.sortBy(_._1).foreach { case (_, text) =>
      val sh = shingles(text)
      if (tokens(text).size >= 40) {
        val shared = mutable.HashMap.empty[Int, Int]
        sh.foreach(s => index.get(s).foreach(_.foreach(i => shared(i) = shared.getOrElse(i, 0) + 1)))
        if (shared.forall { case (i, c) => c.toDouble / (sh.size + sizes(i) - c) <= 0.2 }) {
          sh.foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += sizes.size)
          sizes += sh.size
          texts += text
        }
      }
    }
    rnd.shuffle(texts.toIndexedSeq)
  }

  /** A copy of `text` with one inner token replaced: Jaccard >= 0.8. */
  def nearDup(text: String): String = {
    val t = tokens(text).toArray
    Iterator.continually {
      val c = t.clone()
      val i = 1 + rnd.nextInt(c.length - 2)
      c(i) = Iterator.continually(vocab(rnd.nextInt(vocab.size))).find(_ != t(i)).get
      c.mkString(" ")
    }.find(c => jaccard(shingles(c), shingles(text)) >= 0.8).get
  }

  /** Same content under the engine's canonical form (whitespace, case). */
  def exactDup(text: String): String = tokens(text).mkString("  ").toUpperCase
}

object IngestCorpus {
  def tokens(text: String): Seq[String] = text.trim.split("\\s+").toSeq
  def shingles(text: String): Set[String] = tokens(text).sliding(3).map(_.mkString(" ")).toSet
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size
}

/** Write-heavy ingest state: each batch goes through
  * `IngestDedup.mergeBatch` and `NearDedupIngest.mergeBatch`, both on
  * `ManifestState`, and a reader then reads the kept-doc outputs and the
  * fingerprint indexes through their public readers. */
final class IngestWorkload extends Workload {
  import IngestWorkload.Roots
  private var corpus: IngestCorpus = _
  private var setups = 0

  private def frame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def merge(spark: SparkSession, r: Roots, rows: Seq[(Long, String)], epoch: Long,
                    tracer: Tracer, trace: String): (Seq[(Long, String)], Span, Span) = {
    val batch = frame(spark, rows)
    val (_, exact) = tracer.phase(trace, "ingest.exact") {
      IngestDedup.mergeBatch(IngestDedup.withFingerprint(batch, "text"), r.exactOut, r.exactIdx)
    }
    val (verdicts, near) = tracer.phase(trace, "ingest.near") {
      val v = NearDedupIngest.mergeBatch(batch, "text", "doc_id", r.nearOut, r.nearIdx, epoch)
      val got = v.select("doc_id", "verdict").collect().map(x => (x.getLong(0), x.getString(1))).toSeq
      graft.operators.Iterate.unpersistCheckpoint(v)
      got
    }
    (verdicts, exact, near)
  }

  private def read(spark: SparkSession, r: Roots): Seq[Long] = Seq(
    spark.read.parquet(r.exactOut).count(),
    IngestDedup.historyIndex(spark, r.exactIdx).count(),
    spark.read.parquet(r.nearOut).count(),
    NearDedupIngest.fpIndex(spark, r.nearIdx).count())

  def setup(spark: SparkSession, ctx: Ctx, tracer: Tracer): Unit = {
    setups += 1
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, ctx.sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq.filter(_._2 != null)
    corpus = new IngestCorpus(docs, ctx.seed)
    // warm-up: one small batch through both merges and the reader
    val warm = Roots(ctx.dir.resolve(s"ingest-warm-$setups"))
    val rows = corpus.pool.takeRight(10).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    merge(spark, warm, rows, 1, tracer, "warmup")
    read(spark, warm)
    CatalogWorkload.reclaim(spark)
  }

  def run(spark: SparkSession, ctx: Ctx, tracer: Tracer): Outcome = {
    val out = new Outcome
    val r = Roots(ctx.dir.resolve("ingest"))
    val perBatch = IngestWorkload.BatchDocs
    val rnd = new Random(ctx.seed)
    val pool = corpus.pool.dropRight(10) // the tail fed the warm-up
    var next = 0
    val keptTexts = mutable.ArrayBuffer.empty[String]
    var exactKept = 0L
    var nearKept = 0L
    var candidates = 0L
    if (tracer.enabled) NearDedupIngest.onCandidates = Some((n: Long) => candidates += n)
    val batches = mutable.ArrayBuffer.empty[(Span, Span, Span, Int)]
    val epochs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var b = 0
    try while ((b < 2 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) &&
               next + perBatch <= pool.size) {
      b += 1
      val trace = s"batch-$b"
      // planted mix: ~70% fresh, ~15% exact and ~10% near duplicates of
      // earlier kept docs, ~5% exact duplicates within the batch
      val labelled = mutable.ArrayBuffer.empty[(String, String)] // (text, near-twin verdict)
      while (labelled.size < perBatch) {
        val p = rnd.nextDouble()
        if (keptTexts.nonEmpty && p < 0.15) labelled += ((corpus.exactDup(keptTexts(rnd.nextInt(keptTexts.size))), "exact"))
        else if (keptTexts.nonEmpty && p < 0.25) labelled += ((corpus.nearDup(keptTexts(rnd.nextInt(keptTexts.size))), "neardup"))
        else if (p < 0.30 && labelled.exists(_._2 == "kept"))
          labelled += ((corpus.exactDup(labelled.filter(_._2 == "kept").last._1), "exact"))
        else { labelled += ((pool(next), "kept")); next += 1 }
      }
      val rows = labelled.zipWithIndex.map { case ((t, _), i) => (b * 1000000L + i, t) }.toSeq
      val want = labelled.zipWithIndex.map { case ((_, v), i) => (b * 1000000L + i) -> v }.toMap
      val epochBefore = r.stateRoots.map(ManifestState.readManifest(_).epoch).sum
      val (verdicts, exact, near) = merge(spark, r, rows, b, tracer, trace)
      epochs += (r.stateRoots.map(ManifestState.readManifest(_).epoch).sum - epochBefore).toDouble / r.stateRoots.size
      val (counts, reader) = tracer.phase(trace, "ingest.read")(read(spark, r))
      CatalogWorkload.reclaim(spark)
      batches += ((exact, near, reader, rows.size))

      // ---- correctness of this batch (not timed) ----
      val fresh = labelled.filter(_._2 == "kept").map(_._1)
      keptTexts ++= fresh
      exactKept += fresh.size + labelled.count(_._2 == "neardup")
      nearKept += fresh.size
      out.attempted += rows.size
      val got = verdicts.toMap
      val wrong = want.count { case (id, v) => !got.get(id).contains(v) }
      if (wrong > 0) {
        out.failed += wrong
        out.notes += s"$trace: $wrong of ${rows.size} verdicts differ from the planted labels"
      }
      val expectCounts = Seq(exactKept, exactKept, nearKept, nearKept)
      if (counts != expectCounts) out.fail(s"$trace: reader counts $counts, expected $expectCounts")
    } finally NearDedupIngest.onCandidates = None

    val batchMs = batches.map(x => x._1.ms + x._2.ms).toSeq
    val docs = batches.map(_._4).sum
    out.e2e.put("latency_ms", Stats.median(batchMs), "ms")
    out.e2e.put("latency_tail_ms", Stats.quantile(batchMs, 0.9), "ms")
    out.e2e.put("throughput_per_s", docs / (batchMs.sum / 1000.0), "1/s")
    out.named.put("docs_per_s", docs / (batchMs.sum / 1000.0), "docs/s")
    out.named.put("batch_p50_ms", Stats.median(batchMs), "ms")
    out.named.put("batch_p90_ms", Stats.quantile(batchMs, 0.9), "ms")
    out.named.put("read_p50_ms", Stats.median(batches.map(_._3.ms).toSeq), "ms")
    out.named.put("batches", batches.size, "count")
    out.named.put("batch_docs", perBatch, "docs")
    val stateMb = r.stateRoots.map(root => Stats.diskMb(Path.of(root))).sum
    out.named.put("state_mb", stateMb, "MB")
    out.layers.put("state.disk_mb", stateMb, "MB")

    if (tracer.enabled) {
      tracer.drain()
      val n = math.max(1, batches.size).toDouble
      val l = out.layers
      val js = tracer.jobs.all.filter(_.trace.startsWith("batch-"))
      Layering.jobMetrics(js, n, batchMs.sum, ctx.cores, out)
      l.put("streaming.ingest.exact_ms", batches.map(_._1.ms).sum / n, "ms")
      l.put("streaming.ingest.near_ms", batches.map(_._2.ms).sum / n, "ms")
      l.put("streaming.ingest.kept_ratio", nearKept.toDouble / math.max(1, docs), "ratio")
      l.put("streaming.ingest.near_candidates_per_doc", candidates.toDouble / math.max(1, docs), "count")
      l.put("streaming.state.data_files", r.stateRoots.map(ManifestState.dataFileCount).sum.toDouble, "count")
      l.put("streaming.state.epochs_per_batch", Stats.mean(epochs.toSeq), "count")
      out.rows ++= batches.zipWithIndex.map { case ((e, nr, rd, size), i) =>
        val mine = js.filter(_.trace == s"batch-${i + 1}")
        Json.obj(Seq("workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> s"batch-${i + 1}",
          "docs" -> size, "exact_ms" -> e.ms, "near_ms" -> nr.ms, "read_ms" -> rd.ms,
          "jobs" -> mine.size, "layer_job_ms" -> mine.groupBy(_.layer).map { case (k, g) => k -> g.map(_.ms).sum }))
      }
    }
    out
  }
}

object IngestWorkload {
  /** Docs per ingest batch; with both merges at their default 64
    * buckets, this is graft.streaming.IngestIndexBench's traffic. */
  val BatchDocs = 200
  /** Output and state directories of one ingest stream. */
  final case class Roots(base: Path) {
    val exactOut = base.resolve("exact-out").toString
    val exactIdx = base.resolve("exact-idx").toString
    val nearOut = base.resolve("near-out").toString
    val nearIdx = base.resolve("near-idx").toString
    def stateRoots: Seq[String] = exactIdx +: Seq("fp", "pre", "doc", "df").map(s => s"$nearIdx/$s")
  }
}
