package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.annotation.tailrec

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.CdcMerge

/** The engine's one bucketed-state layer: versioned bucket directories
  * committed through a single manifest file — the plain-filesystem
  * approximation of a transactional table format's snapshot +
  * optimistic-commit protocol. Every maintained state commits here: the
  * CDC view ([[graft.sinks.BucketedParquetSink]]), the aggregate,
  * snapshot-diff, join and SCD2 views, and the ingest twins. A view
  * that wants one whole-state file set passes `nBuckets = 1`.
  *
  * Swapping state directories in place would only be safe under one
  * `synchronized` JVM: a second writer interleaves swaps, and a reader
  * can catch a directory mid-move. Here:
  *
  *  - Layout: `root/b=<k>/v-<epoch>-<writer>/part-*.parquet` —
  *    versions are immutable once written; `root/manifests/<epoch>`
  *    maps each bucket to its version as of that commit, and
  *    `root/MANIFEST` is a hint to the newest epoch.
  *  - Readers load the manifest once and read exactly the listed
  *    version dirs: a consistent snapshot, never a half-committed mix.
  *  - Writers do ALL heavy work (read touched buckets, union delta,
  *    latest-wins, write new versions) first, then commit with one
  *    exclusive publish of `manifests/<epoch+1>` ([[publish]]): the
  *    archive is the commit log, and of all writers publishing one
  *    epoch exactly one wins. A writer re-reads the manifest before it
  *    publishes; if a commit since its snapshot touched its buckets, it
  *    cleans up and retries against the newer state (optimistic
  *    concurrency), and a lost publish re-runs that check at the new
  *    newest epoch. Contention cost is O(manifest), not O(data).
  *  - GC keeps one superseded version per bucket as a grace window
  *    for readers that loaded the previous manifest, deleting older
  *    generations.
  *  - Replay fence: a commit that names its micro-batch id records it
  *    in the manifest, so the id moves atomically with the buckets;
  *    a later commit of the same id is skipped, a lower one refused
  *    ([[fenced]]).
  *
  * State roots are local paths ([[localRoot]]): the publish is a hard
  * link, and link(2) refuses an existing name atomically. Spark's
  * `createAtomic(…, overwriteIfPossible = false)` is not exclusive —
  * it checks `exists` and then renames, and a local rename replaces
  * the target. A store without hard links needs its conditional put in
  * [[publish]], with the rest of the protocol unchanged.
  *
  * Empty-state contract: every access names the state's schema, and a
  * root with no committed bucket reads as zero rows of it ([[empty]]),
  * never as a zero-column frame. On that path [[read]],
  * [[readBucketsOf]], [[patchBuckets]] and [[mergeBatch]] first refuse
  * a pre-manifest layout in the root ([[requireNoLegacyLayout]]), and
  * the bucketed ones check the recorded bucket count
  * ([[requireBucketCount]]), so callers carry no guards of their own.
  */
object ManifestState {

  /** Every-N-batches archived-manifest retention for the ingest twins'
    * run paths — the automated spelling of the
    * [[pruneArchivedManifests]] operational contract, so a long-lived
    * production stream no longer needs an out-of-band sweep. Attach
    * via the twins' `retention` parameter; after every `everyBatches`
    * micro-batches the twin prunes each of its state roots down to
    * `keepLast` archived epochs.
    *
    * Crash safety: the prune runs AFTER the batch's state commits,
    * deletes only archive files strictly older than the `keepLast`
    * newest, and is idempotent — a crash mid-prune leaves a partial
    * archive that the replayed batch's next prune finishes; the live
    * MANIFEST, data files, and crash recovery never depend on the
    * archive. Pruning only bounds time-travel depth
    * ([[readAt]]/[[changesBetween]]). */
  final case class Retention(everyBatches: Int, keepLast: Int = 8) {
    require(everyBatches >= 1, s"everyBatches must be >= 1, got $everyBatches")
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")

    /** Prune `stateRoots` if this batch count hits the cadence;
      * returns archives removed (0 on off-cadence batches). */
    def maybePrune(batchesDone: Long, stateRoots: Seq[String]): Long =
      if (batchesDone % everyBatches == 0)
        stateRoots.map(pruneArchivedManifests(_, keepLast)).sum
      else 0L
  }

  /** Superseded versions per bucket that survive GC. Shared constant so
    * anything asserting the steady-state file bound (nBuckets ×
    * (1 + keepGenerations), docs/probes/incmerge_inplace_vs_manifest.txt)
    * derives it from the same value mergeBatch defaults to, instead of
    * hardcoding it. */
  val DefaultKeepGenerations = 1

  /** Count of parquet DATA files under `root`'s bucket dirs (`b=k/…`)
    * — the scan surface the steady-state bound `nBuckets ×
    * (1 + keepGenerations)` governs; manifest files are excluded. One
    * shared spelling for every probe that asserts the bound. */
  def dataFileCount(root: String): Long = {
    val p = localRoot(root)
    // committed version dirs only (root/b=<k>/v-.../...): an in-flight
    // or crashed-pre-cleanup write's .stage-<version>/b=<k>/ files also
    // contain "/b=", and a probe sampling during a concurrent commit
    // would spuriously breach the steady-state bound if they counted
    val committed = java.util.regex.Pattern.compile("/b=\\d+/v-[^/]+/")
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
        committed.matcher(f.toString).find() && f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  /** `nBuckets` is part of the state's identity: rows were routed by
    * `pmod(xxhash64(key), nBuckets)`, so reading or patching with a
    * different bucket count silently probes the wrong buckets (missed
    * history) and re-routes read-back rows outside the affected set
    * (permanently dropped at GC). The manifest therefore records the
    * count at first commit and every later commit must match
    * ([[requireBucketCount]] lets readers/writers validate up front).
    * Manifests written before this field exist with `nb = None` and
    * are stamped by their next commit.
    *
    * `applied` is the last micro-batch id a fenced commit recorded
    * ([[fenced]]); `None` means none applied, and a commit that names
    * no batch id carries it forward. */
  final case class Manifest(epoch: Long, buckets: Map[Int, String],
                            nb: Option[Int] = None, applied: Option[Long] = None)

  // -- manifest codec (tiny hand-rolled JSON — no extra deps) ---------

  private def render(m: Manifest): String = {
    val bs = m.buckets.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val nb = m.nb.map(n => s""","nb":$n""").getOrElse("")
    val applied = m.applied.map(a => s""","applied":$a""").getOrElse("")
    s"""{"epoch":${m.epoch}$nb$applied,"buckets":{$bs}}"""
  }

  private def parse(s: String): Manifest = {
    val epoch = """"epoch":(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"bad manifest: $s"))
    val nb = """"nb":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    val applied = """"applied":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    val buckets = """"(\d+)":"([^"]+)"""".r.findAllMatchIn(s)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
    Manifest(epoch, buckets, nb, applied)
  }

  /** Fail fast when `root`'s manifest was committed with a different
    * bucket count (see [[Manifest]]) — [[readBucketsOf]],
    * [[patchBuckets]] and [[mergeBatch]] run it before touching
    * buckets, where the mismatch would otherwise corrupt silently. A
    * missing manifest or a pre-`nb` manifest passes. */
  def requireBucketCount(root: String, nBuckets: Int): Unit =
    checkBucketCount(root, readManifest(root), nBuckets)

  private def checkBucketCount(root: String, m: Manifest, nBuckets: Int): Unit =
    m.nb.foreach { n =>
      require(n == nBuckets,
        s"bucketed state at $root was committed with nBuckets=$n; " +
        s"caller passed $nBuckets — reads/patches would route to the wrong buckets")
    }

  /** The replay fence, for a commit of micro-batch `batchId` to `root`.
    * Spark replays at most the last uncommitted micro-batch, so against
    * the id the state last recorded the only legitimate ids are that id
    * (an exact replay: true, skip the whole merge) and anything above
    * (false, merge). An id BELOW it means the streaming checkpoint was
    * wiped while the state survived; skipping would silently drop every
    * batch until the ids catch up, so that desync is refused. */
  private def fenced(root: String, m: Manifest, batchId: Long): Boolean =
    m.applied.exists { applied =>
      if (applied > batchId)
        throw new IllegalStateException(
          s"state at $root has applied batch $applied but received batch " +
          s"$batchId: the streaming checkpoint and the state are out of " +
          "sync (checkpoint dir wiped while state was kept?); refusing to " +
          "silently drop batches")
      applied == batchId
    }

  /** Zero rows of `schema`: what a root with no committed bucket reads
    * as. A local relation, the plan `Seq.empty.toDF` gives. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Refuse a pre-manifest layout in `dir` while `root` has no
    * committed bucket — such a root would read as empty and the next
    * commit would silently reset the state it holds. Three layouts:
    *  - parquet files at the top level: a view's whole snapshot, which
    *    the retired directory swap installed, or an append-mode log,
    *    the ingest twins' layout before bucketing;
    *  - `b=<n>/` dirs holding parquet files directly: the retired
    *    in-place bucketed merge (versions live in `b=<n>/v-…/`);
    *  - no `dir`, but a `.<name>.old` or `<name>.old` sibling: a
    *    whole-snapshot swap cut between its two renames, whose backup
    *    is the only copy of the state.
    * Every access runs it on its own root (`dir = root`). A caller runs
    * it directly only where no access would in time: WinnowIngest's
    * index sat above its two sub-state roots, and its pair log is
    * patched after two other commits; JoinView's retired `left/`,
    * `right/` and `view/` dirs sit beside roots that commit before its
    * view root is touched. Seeds that migrate a dir in
    * place skip it ([[patchBuckets]]' `migrateInPlace`). */
  def requireNoLegacyLayout(spark: SparkSession, root: String,
                            dir: String): Unit =
    if (readManifest(root).buckets.isEmpty) refuseLegacyLayout(spark, dir)

  private def refuseLegacyLayout(spark: SparkSession, dir: String): Unit = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def parquetFile(s: FileStatus) =
      s.isFile && s.getPath.getName.endsWith(".parquet")
    if (fs.exists(p)) {
      val top = fs.listStatus(p)
      require(!top.exists(parquetFile),
        s"$dir holds parquet files at its top level but no MANIFEST, so it " +
        "is not a bucketed state. A view's whole snapshot from the retired " +
        "directory swap: re-bootstrap it into a fresh root by merging its " +
        "rows (spark.read.parquet(<old root>)) as one batch, the way " +
        "CdcStream.bootstrapFromTable seeds a view. An ingest twin's " +
        "append-mode fragments: seed this dir with migrateInPlace = true " +
        "(IngestDedup.addToIndex, WinnowIngest.seedIndex) and delete the " +
        "fragments after — a plain seed would strand them beside a fresh manifest")
      require(!top.exists(b => b.isDirectory &&
          b.getPath.getName.matches("b=\\d+") && fs.listStatus(b.getPath).exists(parquetFile)),
        s"$dir holds b=<n> buckets from the retired in-place bucketed " +
        "merge but no MANIFEST; re-bootstrap it into a fresh root by " +
        "merging its rows (spark.read.parquet(<old root>).drop(\"b\")) " +
        "as one batch, the way CdcStream.bootstrapFromTable seeds a view")
    } else {
      val backup = Seq(s".${p.getName}.old", s"${p.getName}.old")
        .map(new HPath(p.getParent, _)).find(fs.exists)
      require(backup.isEmpty,
        s"$dir is missing but ${backup.get} holds its state: a retired " +
        "whole-snapshot directory swap was cut between its two renames. " +
        s"Rename the backup to $dir, then re-bootstrap it into a fresh root " +
        "by merging its rows as one batch; read as empty, the next commit " +
        "would reset the state")
    }
  }

  /** `root` as a local path. A root with a URI scheme (`hdfs://…`,
    * `s3a://…`, `file:/…`) is refused: `Paths.get` would make it a
    * relative path under the working directory, while Spark wrote the
    * parquet to the store itself, so the commit would find no staged
    * bucket and record every touched bucket as emptied. */
  private def localRoot(root: String): Path = {
    """^([A-Za-z][A-Za-z0-9+.-]*):""".r.findFirstMatchIn(root).foreach { m =>
      throw new IllegalArgumentException(
        s"state root $root names the URI scheme '${m.group(1)}'; ManifestState " +
        "roots are local paths (commits publish by hard link), so give the bare path")
    }
    Paths.get(root)
  }

  private def parseFile(p: Path): Option[Manifest] =
    try Some(parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    catch { case _: NoSuchFileException => None }

  private def archivedEpochs(hist: Path): Array[Long] =
    if (!Files.isDirectory(hist)) Array.empty
    else {
      val listing = Files.list(hist)
      try listing.toArray.map(_.toString)
        .flatMap(p => scala.util.Try(p.substring(p.lastIndexOf('/') + 1).toLong).toOption)
      finally listing.close()
    }

  /** The newest committed manifest: the `MANIFEST` hint, walked forward
    * while `manifests/<epoch+1>` exists. The hint can lag (a crash
    * between publish and hint, or a slower writer's late hint); when
    * its own archive was pruned, the walk starts from the newest
    * archived epoch instead — pruning keeps a contiguous newest suffix. */
  def readManifest(root: String): Manifest = {
    val dir = localRoot(root)
    val hist = dir.resolve("manifests")
    val hint = parseFile(dir.resolve("MANIFEST")).getOrElse(Manifest(0L, Map.empty))
    val start =
      if (Files.exists(hist.resolve(hint.epoch.toString))) hint
      else archivedEpochs(hist).maxOption.filter(_ > hint.epoch)
        .flatMap(e => parseFile(hist.resolve(e.toString))).getOrElse(hint)
    @tailrec def walk(m: Manifest): Manifest =
      parseFile(hist.resolve((m.epoch + 1).toString)) match {
        case Some(next) => walk(next)
        case None => m
      }
    walk(start)
  }

  /** Manifest as of a past commit (time travel). Every commit is the
    * publish of `manifests/<epoch>` — a few bytes each, kept until
    * [[pruneArchivedManifests]]; whether the DATA a historical
    * manifest references still exists is governed by `keepGenerations`
    * at merge time. */
  def readManifestAt(root: String, epoch: Long): Manifest = {
    val p = localRoot(root).resolve("manifests").resolve(epoch.toString)
    parseFile(p).getOrElse(
      throw new IllegalArgumentException(s"no archived manifest for epoch $epoch at $p"))
  }

  /** Archived-manifest retention: delete `root/manifests/<epoch>`
    * files older than the most recent `keepLast` epochs, returning how
    * many were removed. The archive otherwise grows by one tiny file
    * per commit forever — harmless for weeks, but on a genuinely
    * long-lived stream (millions of commits) the small-file count
    * becomes its own filesystem-pressure problem, so a retention sweep
    * is part of the operational contract (call it at checkpoint-
    * compaction cadence). Pruning only bounds TIME TRAVEL depth
    * ([[readAt]]/[[changesBetween]] need both endpoints' archives);
    * the newest `keepLast` epochs, the data and the commit are
    * untouched. Deleting oldest first keeps a contiguous newest suffix,
    * which [[readManifest]] relies on. A pruned name is free again: a
    * concurrent writer that reads epoch e, then stalls while `keepLast`
    * + 1 other commits and a prune pass, would publish e + 1 below the
    * newest epoch, where no reader looks. So a root with several
    * writers keeps `keepLast` above the commits a writer can fall
    * behind by. Never prunes below keepLast = 1. */
  def pruneArchivedManifests(root: String, keepLast: Int): Long = {
    require(keepLast >= 1, "must keep at least the latest archived manifest")
    val hist = localRoot(root).resolve("manifests")
    val doomed = archivedEpochs(hist).sorted.dropRight(keepLast)
    doomed.foreach(e => Files.deleteIfExists(hist.resolve(e.toString)))
    doomed.length.toLong
  }

  /** Commit `m`: hard-link a fully written temp file to
    * `manifests/<m.epoch>`. link(2) fails with EEXIST when the name is
    * taken, so of all writers publishing one epoch exactly one wins;
    * false means another commit took it. The winner then overwrites
    * the `MANIFEST` hint, best effort. Temp files are named per call,
    * not per JVM — threads of one JVM publish concurrently — and live
    * in `root`, so `manifests/` holds epochs only. Package-visible for
    * the race spec; every commit goes through [[optimisticCommit]]. */
  private[graft] def publish(root: String, m: Manifest): Boolean = {
    val dir = Paths.get(root)
    val hist = Files.createDirectories(dir.resolve("manifests"))
    val bytes = render(m).getBytes(StandardCharsets.UTF_8)
    def temp() = dir.resolve(s".manifest-${m.epoch}-${UUID.randomUUID()}.tmp")
    val tmp = Files.write(temp(), bytes)
    // nothing after a won link may throw: the caller would take the
    // commit for a lost race and delete the versions it just published
    def bestEffort(f: => Any): Unit = try f catch { case _: java.io.IOException => () }
    val won =
      try { Files.createLink(hist.resolve(m.epoch.toString), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
      finally bestEffort(Files.deleteIfExists(tmp))
    if (won) {
      val hint = temp()
      bestEffort(
        try Files.move(Files.write(hint, bytes), dir.resolve("MANIFEST"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        finally Files.deleteIfExists(hint))
    }
    won
  }

  // -- snapshot reads -------------------------------------------------

  private def versionPath(root: String, bucket: Int, version: String): String =
    s"$root/b=$bucket/$version"

  /** Read the given committed bucket versions of `root`. */
  private def readSnapshot(spark: SparkSession, root: String,
                           buckets: Map[Int, String], schema: StructType): DataFrame = {
    val paths = buckets.toSeq.sortBy(_._1)
      .map { case (k, v) => versionPath(root, k, v) }
    if (paths.isEmpty) empty(spark, schema) else spark.read.parquet(paths: _*)
  }

  /** Read the current state (latest committed snapshot) of a state
    * with `schema` — by default [[mergeBatch]]'s change rows. */
  def read(spark: SparkSession, root: String,
           schema: StructType = CdcStream.changeSchema): DataFrame = {
    val m = readManifest(root)
    if (m.buckets.isEmpty) refuseLegacyLayout(spark, root)
    readSnapshot(spark, root, m.buckets, schema)
  }

  /** Time travel: the change state exactly as of commit `epoch`. Valid
    * while the versions that manifest references survive GC — i.e.
    * for the most recent `keepGenerations` commits touching each
    * bucket (older reads fail on the missing version dir). */
  def readAt(spark: SparkSession, root: String, epoch: Long): DataFrame =
    readSnapshot(spark, root, readManifestAt(root, epoch).buckets, CdcStream.changeSchema)

  /** Change data feed: the NET row-level changes between two archived
    * epochs, derived by diffing the snapshots (an id that was inserted
    * and deleted between the epochs nets to no change — this is the
    * snapshot delta, not the event log). Emits
    * `(change_type ∈ INSERT|UPDATE|DELETE, id, <row columns from the
    * newer epoch — null for DELETE>, old_lsn, new_lsn)`. One
    * full-outer join on the key; both sides are manifest snapshots, so
    * the diff is consistent regardless of concurrent writers. */
  def changesBetween(spark: SparkSession, root: String,
                     fromEpoch: Long, toEpoch: Long): DataFrame = {
    require(fromEpoch <= toEpoch, s"fromEpoch $fromEpoch > toEpoch $toEpoch")
    def live(e: Long) = readAt(spark, root, e)
      .filter(col("event_type") === CdcStream.Upsert)
    val a = live(fromEpoch).select(
      col("id").as("a_id"), col("lsn").as("old_lsn"))
    val b = live(toEpoch).select(
      col("id").as("b_id"), col("create_time"), col("update_time"),
      col("message"), col("username"), col("lsn").as("new_lsn"))
    a.join(b, a("a_id") === b("b_id"), "full_outer")
      .filter(col("a_id").isNull || col("b_id").isNull ||
              col("old_lsn") =!= col("new_lsn"))
      .select(
        when(col("a_id").isNull, lit("INSERT"))
          .when(col("b_id").isNull, lit("DELETE"))
          .otherwise(lit("UPDATE")).as("change_type"),
        coalesce(col("b_id"), col("a_id")).as("id"),
        col("create_time"), col("update_time"), col("message"),
        col("username"), col("old_lsn"), col("new_lsn"))
  }

  /** The queryable latest-wins view: state minus tombstones. */
  def readView(spark: SparkSession, root: String): DataFrame =
    read(spark, root).filter(col("event_type") === CdcStream.Upsert)

  // -- the optimistic merge -------------------------------------------

  /** Merge one micro-batch of decoded changes ([[CdcStream.classify]]
    * schema) into the manifest state. Safe for concurrent writers:
    * lost updates are prevented by the per-bucket check at commit; a
    * loser recomputes against the winner's state and retries. It is a
    * [[patchBuckets]] keyed by `id` whose closure keeps the latest
    * change per id (`lsn`, then `ts_ms`); malformed rows never reach
    * the state. `keepGenerations` superseded versions per bucket survive GC —
    * generation 1 is the reader grace window, more buys time travel
    * depth ([[readAt]]).
    */
  def mergeBatch(batch: DataFrame, root: String, nBuckets: Int,
                 maxRetries: Int = 20,
                 keepGenerations: Int = DefaultKeepGenerations): Unit = {
    val delta = batch.filter(col("event_type") =!= CdcStream.Malformed).cache()
    try patchBuckets(root, nBuckets, "id", delta, delta.schema, maxRetries,
        keepGenerations) { current =>
      CdcMerge.latestWins(
        current.unionByName(delta), Seq("id"),
        Seq(col("lsn").desc_nulls_last, col("ts_ms").desc_nulls_last))
    }
    finally delta.unpersist()
  }

  /** Generic bucketed PATCH — the schema-agnostic core the IVM views
    * (JoinView, Scd2View) use as their production sink: rewrite ONLY
    * the buckets that `touchedKeys` (single-column frame named
    * `keyCol`, O(batch) rows by contract) hash to, committing through
    * the same manifest/GC protocol as [[mergeBatch]].
    *
    * `buildMerged` receives the CURRENT full content of the affected
    * buckets (zero rows of `schema` when the state is new) and
    * must return their full NEW content — typically
    * `current.anti(touched) ∪ replacement`. It is re-invoked against
    * the fresh snapshot on every commit retry, so a lost race
    * recomputes instead of clobbering. CONTRACT: every returned row's
    * `keyCol` must hash into the affected buckets (i.e. replacement
    * keys ⊆ touchedKeys) — a row outside them would be silently
    * dropped from the state, since only affected buckets commit.
    *
    * `migrateInPlace` lets the first commit land in a dir that still
    * holds append-mode fragments — the seed of an in-place migration
    * (IngestDedup.addToIndex), whose caller deletes them after.
    *
    * `batchId` names the micro-batch for the replay fence ([[fenced]]):
    * the commit records it, and a patch of an id already recorded is
    * skipped before any work.
    */
  def patchBuckets(root: String, nBuckets: Int, keyCol: String,
                   touchedKeys: DataFrame, schema: StructType,
                   maxRetries: Int = 20,
                   keepGenerations: Int = DefaultKeepGenerations,
                   migrateInPlace: Boolean = false,
                   batchId: Option[Long] = None)
                  (buildMerged: DataFrame => DataFrame): Boolean =
    patchAffected(touchedKeys.sparkSession, root, nBuckets, keyCol,
      bucketsOf(touchedKeys, keyCol, nBuckets), schema, maxRetries,
      keepGenerations, migrateInPlace, batchId)(buildMerged)

  /** [[patchBuckets]] over a bucket list already computed from the
    * touched keys ([[BucketedIngest.Touched]] carries one), so a probe
    * read and the patch of the same keys share one listing job. The
    * list is by-name: the checks and the fence run before it is
    * computed. */
  private[streaming] def patchAffected(spark: SparkSession, root: String,
                                       nBuckets: Int, keyCol: String,
                                       affected: => IndexedSeq[Int], schema: StructType,
                                       maxRetries: Int = 20,
                                       keepGenerations: Int = DefaultKeepGenerations,
                                       migrateInPlace: Boolean = false,
                                       batchId: Option[Long] = None)
                                      (buildMerged: DataFrame => DataFrame): Boolean = {
    require(nBuckets > 0)
    val m = checkRoot(spark, root, nBuckets, migrateInPlace)
    // returns whether a commit actually happened — a replayed batch or
    // an empty delta is a no-op, and callers instrumenting commit
    // boundaries (crash-prefix replay seams) must not count it as one.
    // The fence comes first: a desynced id is refused whatever it touches.
    if (batchId.exists(fenced(root, m, _))) return false
    val buckets = affected
    buckets.nonEmpty && optimisticCommit(spark, root, buckets, nBuckets,
      keyCol, schema, maxRetries, keepGenerations, batchId)(buildMerged)
  }

  /** The buckets `keys` hash to — O(distinct buckets) driver memory,
    * bounded by min(nBuckets, |keys|). */
  def bucketsOf(keys: DataFrame, keyCol: String, nBuckets: Int): IndexedSeq[Int] =
    keys.select(pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq

  /** Read ONLY the given buckets' current content — the O(touched)
    * lookup the bucketed layout exists for. Version dirs are immutable
    * and `keepGenerations ≥ 1` keeps the superseded generation through
    * the next commit, so the returned frame stays readable across one
    * subsequent patch of the same buckets (the reader grace window).
    */
  def readBucketsOf(spark: SparkSession, root: String, nBuckets: Int,
                    buckets: Seq[Int], schema: StructType): DataFrame = {
    val m = checkRoot(spark, root, nBuckets, migrateInPlace = false)
    readSnapshot(spark, root, m.buckets.filter { case (k, _) => buckets.contains(k) }, schema)
  }

  /** The checks every bucketed access runs before it touches a bucket:
    * the recorded bucket count, and while no bucket is committed, the
    * legacy-layout refusal (unless a seed migrates the dir in place). */
  private def checkRoot(spark: SparkSession, root: String, nBuckets: Int,
                        migrateInPlace: Boolean): Manifest = {
    val m = readManifest(root)
    checkBucketCount(root, m, nBuckets)
    if (m.buckets.isEmpty && !migrateInPlace) refuseLegacyLayout(spark, root)
    m
  }

  /** The shared optimistic heavy-phase + commit loop: read affected
    * buckets, `buildMerged`, stage, per-bucket atomic move, exclusive
    * manifest publish, GC. False when the fence skipped a batch another
    * commit applied first. */
  private def optimisticCommit(spark: SparkSession, root: String,
                               affected: IndexedSeq[Int], nBuckets: Int,
                               keyCol: String, schema: StructType,
                               maxRetries: Int, keepGenerations: Int,
                               batchId: Option[Long])
                              (buildMerged: DataFrame => DataFrame): Boolean = {
    Files.createDirectories(Paths.get(root))
    // distinguishes concurrent merges from the SAME writer object
    // (threads sharing this JVM) — version/stage dirs must be unique
    // per invocation, not per process
    val callId = UUID.randomUUID().toString.take(8)
    var attempt = 0
    var committed = false
    var lastFailure: Throwable = null
    while (!committed) {
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"merge lost the commit race $maxRetries times", lastFailure)
      val base = readManifest(root)
      // a concurrent first writer may have stamped another count
      checkBucketCount(root, base, nBuckets)
      if (batchId.exists(fenced(root, base, _))) return false
      val version = s"v-${base.epoch + 1}-$callId-$attempt"
      // drop THIS attempt's on-disk artifacts: the stage tmp dir (a
      // heavy-phase exception can leave it mid-write) and any version
      // dirs already moved into place — orphans would otherwise count
      // against the steady-state file bound forever. Shared by the
      // lost-race retry and the fail-fast rethrow below.
      def dropAttemptArtifacts(): Unit = {
        FsUtil.deleteRecursively(Paths.get(s"$root/.stage-$version"))
        affected.foreach { k =>
          FsUtil.deleteRecursively(Paths.get(versionPath(root, k, version)))
        }
      }
      try {
        // heavy phase
        val current = readSnapshot(spark, root,
          base.buckets.filter { case (k, _) => affected.contains(k) }, schema)
        val merged = buildMerged(current)
          .withColumn("b", pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int"))
        // one writer task per touched bucket, one immutable version dir
        // per bucket per commit
        val tmp = s"$root/.stage-$version"
        merged.repartition(col("b"))
          .write.mode("overwrite").partitionBy("b").parquet(tmp)
        // a bucket with no surviving rows (cannot happen while
        // tombstones are retained, but don't bake that in) leaves the
        // manifest instead of committing an unreadable empty dir
        val written = affected.filter { k =>
          val src = Paths.get(s"$tmp/b=$k")
          val dst = Paths.get(versionPath(root, k, version))
          Files.createDirectories(dst.getParent)
          if (Files.exists(src)) {
            Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE); true
          } else false
        }
        val emptied = affected.diff(written)
        FsUtil.deleteRecursively(Paths.get(tmp))

        // commit phase. Conflict detection is PER-BUCKET: a concurrent
        // commit to disjoint buckets does not invalidate this one (a
        // global epoch compare would make disjoint writers livelock
        // under load). A publish lost to another commit of the same
        // epoch re-runs the checks against the winner.
        @tailrec def commit(): Boolean = {
          val now = readManifest(root)
          // two simultaneous FIRST writers with different counts and
          // disjoint buckets would both pass the per-bucket conflict
          // check (the pre-loop require saw nb = None for both); the
          // loser must not stamp its count over the winner's state.
          // Returning false sends it around the loop, where the
          // re-read manifest now carries the winner's nb and the
          // require fails loud.
          val nbConflict = now.nb.exists(_ != nBuckets)
          // a commit of the same or a later batch id since the snapshot
          // sends this one around the loop, where the fence decides
          val fenceConflict = batchId.exists(id => now.applied.exists(_ >= id))
          val conflict = nbConflict || fenceConflict || affected.exists(k =>
            now.buckets.get(k) != base.buckets.get(k))
          if (conflict) false
          else if (publish(root, Manifest(now.epoch + 1,
              now.buckets ++ written.map(k => k -> version) -- emptied,
              Some(nBuckets), batchId.orElse(now.applied)))) true
          else commit()
        }
        committed = commit()
      } catch {
        // a deterministic caller bug is not a race: buildMerged is
        // caller-supplied since the patchBuckets refactor, and a
        // schema/resolution error in it would otherwise re-run the
        // heavy phase maxRetries times and surface as a misleading
        // "lost the commit race" — analysis failures can't be healed
        // by a fresh snapshot, so rethrow them immediately. Cleanup
        // still applies: a lazily-resolved caller plan can fail AFTER
        // the stage dir / per-bucket version dirs were created (the
        // write itself triggers analysis), so run the SAME artifact
        // cleanup the lost-race path runs before propagating.
        case e: org.apache.spark.sql.AnalysisException =>
          dropAttemptArtifacts()
          throw e
        // the heavy phase reads version dirs that concurrent GC may
        // delete once their grace window closes — that's a lost race,
        // not a caller-visible failure; recompute on the new manifest
        case e: Exception => lastFailure = e; committed = false
      }
      // lost the race: drop this attempt's artifacts, then retry on
      // top of the winner's state
      if (!committed) dropAttemptArtifacts()
    }
    // only this commit's buckets can have gained a superseded
    // version — scanning all buckets would pay nBuckets directory
    // listings per merge for nothing
    gc(root, affected, keepGenerations)
    true
  }

  /** Drop version dirs at least two generations behind the manifest in
    * the given buckets. Only versions with an epoch strictly BELOW the
    * live one are candidates — a higher-epoch dir is another writer's
    * in-flight (pre-commit) version and must be left alone (its writer
    * deletes it on race loss, or it becomes live). Of the superseded
    * versions, the newest survives one more merge as a grace window
    * for readers holding the previous manifest. */
  private def gc(root: String, bucketsToScan: Seq[Int],
                 keepGenerations: Int = DefaultKeepGenerations): Unit = {
    val m = readManifest(root)
    bucketsToScan.flatMap(k => m.buckets.get(k).map(k -> _)).foreach { case (k, live) =>
      val dir = Paths.get(s"$root/b=$k")
      if (Files.isDirectory(dir)) {
        val listing = Files.list(dir)
        val versions =
          try listing.toArray.map(_.toString)
            .map(p => p.substring(p.lastIndexOf('/') + 1))
            .filter(_.startsWith("v-"))
          finally listing.close()
        val superseded = versions
          .filter(v => versionEpoch(v) < versionEpoch(live))
          .sortBy(versionEpoch)
        superseded.dropRight(math.max(1, keepGenerations)).foreach(v =>
          FsUtil.deleteRecursively(Paths.get(versionPath(root, k, v))))
      }
    }
  }

  private def versionEpoch(v: String): Long =
    v.split("-").lift(1).flatMap(e => scala.util.Try(e.toLong).toOption).getOrElse(0L)
}
