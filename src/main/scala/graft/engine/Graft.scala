package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's pinned configuration.
  *
  * Pinned for determinism (the DuckDB-oracle hash compare needs UTC
  * timestamps and stable plans) and for local[32] scale posture that
  * translates to a real cluster:
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join
  *    splitting, dynamic join-strategy switch — the knobs that keep a
  *    plan healthy at 1000x the data without re-tuning.
  *  - shuffle.partitions matched to cores locally; on a cluster this
  *    is sized to ~2-3x total cores and AQE coalesces down.
  *  - broadcast threshold 64 MB: TPC-H-ish dimension tables (region,
  *    nation, supplier, part, customer at small SF) broadcast instead
  *    of shuffling the fact side.
  *  - streaming checkpoints (offsets, commits, source logs, RocksDB
  *    state files) go through [[graft.streaming.LocalCheckpointFileManager]]:
  *    `file:` paths use Hadoop's FileSystem API, which writes a small
  *    checkpoint file ~5x faster than Spark's default FileContext
  *    manager without the native Hadoop library; cluster filesystems
  *    keep Spark's default.
  *  - those local checkpoint files (and their `.crc` sidecars and new
  *    directories) get their permissions from one `chmod` system call
  *    instead of a forked `/bin/chmod` each
  *    ([[graft.streaming.ForkFreeRawLocalFileSystem]]).
  *  - RocksDB changelog checkpointing: a state commit writes one
  *    changelog file per partition holding the batch's changed keys;
  *    the memtable flush, local checkpoint and SST upload happen only
  *    every `minDeltasForSnapshot` versions (Spark's default, 10), the
  *    upload on the state-store maintenance thread. Commit I/O follows
  *    the batch, not the size of the state; a checkpoint written with
  *    it off resumes with it on and back (CdcRestartSpec).
  */
object Graft {

  val DefaultShufflePartitions = 32

  /** AQE pre-coalesce width policy (probed round 9, promoted to
    * builder policy round 10): AQE can only MERGE shuffle partitions,
    * so `initialPartitionNum` floors partition SIZE — at the 100×
    * probe, raising it to 8× cores halves the spill-bound join+agg
    * (87 s → 51 s) because each reduce partition fits in memory, but
    * on local[32]'s SINGLE disk the extra reduce width multiplies
    * seeks and regressed the PrefixScan window probe ~5×. Hence:
    *  - non-local master (a real cluster, many spindles): default to
    *    8× `shufflePartitions` — the measured anti-spill sizing, free
    *    when AQE coalesces the width back down for small stages;
    *  - local master (one disk): keep the floor at `shufflePartitions`
    *    — the measured-best single-disk posture;
    *  - `SPARK_GRAFT_INIT_PARTITIONS` overrides either, validated here
    *    so a typo fails at session build with the env var named, not
    *    as an opaque Spark failure at first execution.
    * PrefixScan pins its own fact-scale exchange width explicitly
    * (PrefixScan.scala), so it keeps its measured sizing under either
    * policy value.
    */
  def initialPartitionNum(master: String, shufflePartitions: Int): Int = {
    val default =
      if (master.startsWith("local")) shufflePartitions
      else shufflePartitions * 8
    sys.env.get("SPARK_GRAFT_INIT_PARTITIONS").map { raw =>
      val n = scala.util.Try(raw.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_INIT_PARTITIONS must be a positive integer, got '$raw'"))
      require(n > 0,
        s"SPARK_GRAFT_INIT_PARTITIONS must be a positive integer, got '$raw'")
      n
    }.getOrElse(default)
  }

  def builder(master: String = "local[*]",
              shufflePartitions: Int = DefaultShufflePartitions): SparkSession.Builder = {
    graft.operators.Checkpoints.pinBudgetMb() // validated here, read per pin
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // SQL-callable registration of the engine's custom expressions
      // (graft_dot_product, graft_minhash_signature, ...).
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
              initialPartitionNum(master, shufflePartitions).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      // RocksDB state store: keyed streaming state (CDC latest-wins,
      // dedup, windows) spills to local disk instead of executor heap —
      // the difference between "works at sf0.1" and "works with 10^9
      // live keys per executor" (SURVEY §4 streaming state row).
      .config("spark.sql.streaming.stateStore.providerClass",
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
              classOf[graft.streaming.LocalCheckpointFileManager].getName)
  }

  def session(master: String = "local[*]",
              shufflePartitions: Int = DefaultShufflePartitions): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
