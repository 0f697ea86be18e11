package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.{BucketedParquetSink, MergeIntoSink}
import graft.streaming.CdcStream

/** The kafka path minus only the broker: kafka-shaped (key, value)
  * string records driven through [[CdcStream.decodeKafka]] and the
  * SAME [[CdcStream.runDecodedStream]] pipeline `runKafkaStream` uses,
  * asserted equal to the file-source result on equivalent envelopes.
  * Broker integration itself is environment-blocked (no kafka
  * connector jar in this container); the reference's parity target is
  * its Testcontainers e2e (`TestcontainersConfiguration.kt:17-129`).
  */
class KafkaParitySpec extends SparkSpec {

  private def value(id: String, lsn: Long, tsMs: Long, createMs: Long,
                    updateMs: Long, message: String, user: String): String =
    s"""{"before":null,"after":{"id":"$id","create_time":$createMs,"update_time":$updateMs,"message":"$message","username":"$user"},"source":{"lsn":$lsn,"ts_ms":$tsMs,"txId":$lsn},"op":"i","ts_ms":$tsMs}"""

  private def tombstoneValue(id: String, lsn: Long, tsMs: Long): String =
    s"""{"before":null,"after":null,"source":{"lsn":$lsn,"ts_ms":$tsMs,"txId":$lsn},"op":"d","ts_ms":$tsMs}"""

  private def key(id: String): String = s"""{"id":"$id"}"""

  test("kafka-shaped stream through runDecodedStream equals the file-source view") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("kafka-parity").toString

    val records = Seq(
      (key("a"), value("a", 1, 1000, 1000, 1000, "hello", "u1")),
      (key("b"), value("b", 2, 1500, 1500, 1500, "bye", "u2")),
      (key("a"), value("a", 3, 2000, 1000, 2000, "hello v2", "u1")),
      (key("b"), tombstoneValue("b", 4, 2500)),
      (key("c"), value("c", 5, 3000, 3000, 3000, "c1", "u3")),
      ("not json {{", "neither is this"))

    // Kafka-shaped path: MemoryStream of raw (key, value) strings —
    // exactly what the connector's CAST(key/value AS STRING) yields.
    val ms = MemoryStream[(String, String)]
    ms.addData(records: _*)
    val decoded = CdcStream.decodeKafka(ms.toDF().toDF("key", "value"))
    val qk = CdcStream.runDecodedStream(decoded, s"$root/cpk",
      new BucketedParquetSink(s"$root/statek", 1),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    qk.awaitTermination()

    // File path on the same envelopes.
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val lines = records.map { case (k, v) =>
      if (k.startsWith("{")) s"""{"key":$k,"value":$v}""" else "malformed {{"
    }
    Files.write(Paths.get(s"$in/batch.json"), lines.mkString("\n").getBytes("UTF-8"))
    val qf = CdcStream.runFileStream(spark, in, s"$root/cpf", s"$root/statef", nBuckets = 1)
    qf.awaitTermination()

    val viewK = CdcStream.readView(spark, s"$root/statek").orderBy("id")
      .collect().map(_.toSeq).toSeq
    val viewF = CdcStream.readView(spark, s"$root/statef").orderBy("id")
      .collect().map(_.toSeq).toSeq
    assert(viewK == viewF && viewK.map(_.head) == Seq("a", "c"))
  }

  test("snapshot and bucketed sinks agree through the CdcSink seam") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("sink-seam").toString
    val records = (1 to 40).map { i =>
      (key(s"k${i % 10}"), value(s"k${i % 10}", i.toLong, i * 100L,
        1000L, i * 100L, s"m$i", "u"))
    } :+ ((key("k3"), tombstoneValue("k3", 99, 9900)))

    val ms = MemoryStream[(String, String)]
    records.foreach(r => ms.addData(r))
    val q = CdcStream.runDecodedStream(
      CdcStream.decodeKafka(ms.toDF().toDF("key", "value")), s"$root/cp",
      new BucketedParquetSink(s"$root/s2", 4),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()

    // the reference: one batch materialization of every record, shaped
    // like the view
    val v1 = CdcStream.materialize(CdcStream.decodeKafka(records.toDF("key", "value")))
      .select(col("id"), timestamp_millis(col("create_time")).as("create_time"),
        timestamp_millis(col("update_time")).as("update_time"),
        col("message"), col("username"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val v2 = CdcStream.readView(spark, s"$root/s2").orderBy("id")
      .collect().map(_.toSeq).toSeq
    assert(v1 == v2 && v1.size == 9) // k3 tombstoned of the 10 keys
  }

  test("MergeIntoSink emits the latest-wins MERGE with resurrection guard") {
    val sql = new MergeIntoSink("prod.cdc.messages").mergeSql("batch_latest")
    assert(sql.contains("MERGE INTO prod.cdc.messages t"))
    assert(sql.contains("USING batch_latest s"))
    assert(sql.contains("ON t.id = s.id"))
    // version guard: strictly newer lsn, or equal lsn with ts_ms >=
    // (idempotent replay re-applies the same row instead of dropping it)
    assert(sql.contains("s.lsn > t.lsn OR (s.lsn = t.lsn AND s.ts_ms >= t.ts_ms)"))
    assert(sql.contains("WHEN NOT MATCHED THEN INSERT *"))
  }

  test("kafka reader option wiring matches the reference consumer contract") {
    val opts = graft.streaming.CdcStream.kafkaReaderOptions("broker:9092", "messages.public.messages")
    // reference application.yaml:10-12: latest offsets, the one CDC topic
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribe") == "messages.public.messages")
    assert(opts("startingOffsets") == "latest")
    // strict by default: a broker-side offset gap (retention aged out
    // records while the query was down) must FAIL the query, not be
    // silently skipped - a skipped update/delete would leave the view
    // permanently stale for that key. The opt-out exists for
    // deployments with a re-snapshot reconciliation path.
    assert(opts("failOnDataLoss") == "true")
    val lossy = graft.streaming.CdcStream.kafkaReaderOptions(
      "broker:9092", "messages.public.messages", failOnDataLoss = false)
    assert(lossy("failOnDataLoss") == "false")
    // subscribe, not subscribePattern/assign - exactly one topic key
    assert(opts.keySet.intersect(Set("subscribePattern", "assign")).isEmpty)
    // GOLDEN MAP: the full option set, exact equality. This is the
    // permanent closure of the real-broker e2e item (docs/OPERATORS.md
    // R1): the image ships no Kafka artifact of any kind (connector,
    // client, or broker) and has zero egress, so the only untested
    // surface of runKafkaStream is this option wiring — pinned here in
    // full so no stray or missing reader option can creep in unseen.
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "messages.public.messages",
      "startingOffsets" -> "latest",
      "failOnDataLoss" -> "true"))
  }
}
