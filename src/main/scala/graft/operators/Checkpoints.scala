package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.DataFrame

/** Registry for checkpointed frames that a RETURNED plan still
  * references — the one checkpoint lifecycle [[Iterate]]'s
  * release-after-next-round discipline cannot cover. PrefixScan's
  * pid-stamped frame and CosinePairs.clustered's corpus/centroid
  * frames are materialized inside the operator but consumed by the
  * caller at some later action, so the operator has no point at which
  * unpersisting is safe; without a release lever each invocation
  * pins one input-scale copy in block-manager memory for the session
  * lifetime.
  *
  * The registry is scoped PER TRACKING THREAD: operators build their
  * plans (and hence [[track]]) on the caller's thread, so a caller at
  * its own quiesce point calls [[release]] and can only drop frames
  * it created — a concurrent caller on another thread (e.g. Verify's
  * query pool) cannot have its still-unconsumed plan's blocks yanked
  * out from under it, which the old process-global queue allowed.
  * Releasing a frame whose plan is mid-execution remains unsafe the
  * same way unpersisting any localCheckpoint is (the lineage is
  * truncated, so the blocks are the only copy) — the scoping reduces
  * that contract from "no tracked plan in flight anywhere" to "no
  * tracked plan of MINE in flight".
  *
  * [[releaseAll]] keeps the global sweep for true full-session
  * quiesce points (Bench between queries of its single-threaded loop;
  * Verify after its pool drains; ScaleSmoke between probes), where no
  * tracked plan is in flight on ANY thread.
  */
object Checkpoints {

  // Keyed on the Thread OBJECT, not Thread.getId: the JVM reuses
  // numeric thread ids after a thread dies, so an id-keyed entry could
  // be claimed by an unrelated new thread whose release() would yank
  // checkpoint blocks out from under the dead thread's still-unconsumed
  // returned plan — the exact hazard the per-thread scoping prevents.
  // Object identity can never be reused while the map holds the
  // reference; dead threads' queues drain at the next releaseAll()
  // quiesce sweep, same as before.
  private val live = new ConcurrentHashMap[Thread, ConcurrentLinkedQueue[DataFrame]]

  private[graft] def track(df: DataFrame): DataFrame = {
    live.computeIfAbsent(Thread.currentThread(),
      _ => new ConcurrentLinkedQueue[DataFrame]).add(df)
    df
  }

  /** Size-guarded pin (round-17 scale-posture guard): lazy
    * localCheckpoint + [[track]] ONLY when the optimizer's estimated
    * size of `df` fits the pin budget; above it, return `df`
    * unchanged — the recompute posture. A localCheckpoint
    * materializes the frame in executor memory+disk AND truncates
    * lineage (executor loss loses the only copy), which is the right
    * trade for grain-level frames whose lineage holds shuffles or
    * windows, and the wrong one for fact-scale frames at 100 TB —
    * there the pin IS the memory problem, and re-running a map-only
    * slice is cheaper than holding it (the PqAnn rejection rule).
    * Budget: `SPARK_GRAFT_PIN_BUDGET_MB`, default 4096 — far above
    * every sf0.1 frame (local behavior unchanged) and far below
    * fact scale on a production cluster. Unknown estimates (Catalyst
    * defaults them to huge, e.g. over a LogicalRDD) do NOT pin,
    * which is the safe direction. Posture notes: docs/SCALE.md.
    */
  def pinIfSmall(df: DataFrame): DataFrame = {
    val budget = BigInt(pinBudgetMb()) << 20
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val pin = est <= budget
    if (sys.env.contains("SPARK_GRAFT_PIN_DEBUG"))
      System.err.println(s"[pinIfSmall] est=$est budget=$budget pin=$pin")
    if (pin) track(df.localCheckpoint(eager = false)) else df
  }

  /** `SPARK_GRAFT_PIN_BUDGET_MB` as a non-negative MB count, default
    * 4096. `Graft.builder` calls this too, so a malformed value fails
    * at session build with the variable named, not at the first
    * [[pinIfSmall]] inside a query. */
  def pinBudgetMb(env: Map[String, String] = sys.env): Long =
    env.get("SPARK_GRAFT_PIN_BUDGET_MB").fold(4096L) { raw =>
      scala.util.Try(raw.trim.toLong).toOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_PIN_BUDGET_MB must be a non-negative integer (MB), got '$raw'"))
    }

  private def drain(q: ConcurrentLinkedQueue[DataFrame]): Unit = {
    var df = q.poll()
    while (df != null) { Iterate.unpersistCheckpoint(df); df = q.poll() }
  }

  /** Unpersist only the frames tracked by the CALLING thread — safe at
    * a caller-local quiesce point (its returned plans fully consumed)
    * even while other threads' tracked plans are still in flight.
    * Safe to call repeatedly; unpersisting an already-dropped RDD is a
    * no-op.
    */
  def release(): Unit = {
    val q = live.remove(Thread.currentThread())
    if (q != null) drain(q)
  }

  /** Unpersist EVERY tracked frame's checkpoint blocks, all threads.
    * Only safe at a full-session quiesce point: no tracked plan still
    * in flight on any thread. Safe to call repeatedly.
    */
  def releaseAll(): Unit = {
    val it = live.keySet().iterator()
    while (it.hasNext) {
      val q = live.remove(it.next())
      if (q != null) drain(q)
    }
  }

  /** Run `body` and unpersist exactly the frames it tracked on this
    * thread, when it returns or throws. Frames the thread tracked
    * before the scope stay tracked, and other threads' frames are never
    * touched — the release for an operator that consumes everything it
    * tracks before returning (the streaming ingest merges), where
    * [[releaseAll]] would yank other threads' in-flight blocks. */
  def scoped[T](body: => T): T = {
    val t = Thread.currentThread()
    val outer = live.remove(t)
    try body
    finally {
      val inner = live.remove(t)
      if (outer != null) live.put(t, outer)
      if (inner != null) drain(inner)
    }
  }
}
