package graft

import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, Timestamp}

import graft.streaming.CdcStream

/** Live-database snapshot bootstrap against an embedded Apache Derby
  * instance (on the Spark classpath) — the `spark.read.jdbc` seam of
  * R1's initial snapshot exercised against an actual SQL database:
  * CREATE/INSERT over JDBC, snapshot via Spark's JDBC source, change
  * stream merged on top with the lsn fence. Postgres differs only in
  * url/driver.
  */
class CdcJdbcBootstrapSpec extends SparkSpec {

  private def env(id: String, lsn: Long, tsMs: Long,
                  createMs: Long, updateMs: Long,
                  message: String, user: String): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":{"id":"$id","create_time":$createMs,"update_time":$updateMs,"message":"$message","username":"$user"},"source":{"lsn":$lsn,"ts_ms":$tsMs,"txId":$lsn},"op":"u","ts_ms":$tsMs}}"""

  private def tombstone(id: String, lsn: Long, tsMs: Long): String =
    s"""{"key":{"id":"$id"},"value":{"before":null,"after":null,"source":{"lsn":$lsn,"ts_ms":$tsMs,"txId":$lsn},"op":"d","ts_ms":$tsMs}}"""

  private def seedDb(name: String, rows: Seq[(String, Long, Long, String, String)]): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE messages (
        id VARCHAR(64) PRIMARY KEY,
        create_time TIMESTAMP NOT NULL,
        update_time TIMESTAMP NOT NULL,
        message VARCHAR(1024) NOT NULL,
        username VARCHAR(128) NOT NULL)""")
      val ps = conn.prepareStatement("INSERT INTO messages VALUES (?, ?, ?, ?, ?)")
      rows.foreach { case (id, cMs, uMs, msg, user) =>
        ps.setString(1, id)
        ps.setTimestamp(2, new Timestamp(cMs))
        ps.setTimestamp(3, new Timestamp(uMs))
        ps.setString(4, msg)
        ps.setString(5, user)
        ps.executeUpdate()
      }
      ps.close(); st.close()
    } finally conn.close()
    url
  }

  private val seed = Seq(
    ("a", 1755000000000L, 1755000000000L, "a v1", "u1"),
    ("b", 1755000100000L, 1755000100000L, "b v1", "u2"),
    ("c", 1755000200000L, 1755000200000L, "c v1", "u3"))

  test("jdbc snapshot bootstrap: live table rows land with epoch-millis times") {
    val url = seedDb("boot1", seed)
    val state = Files.createTempDirectory("jdbcboot1").toString + "/state"
    CdcStream.bootstrapFromJdbc(spark, url, "messages", state, nBuckets = 1, fenceLsn = 100L)
    val got = CdcStream.readView(spark, state)
      .select("id", "create_time", "message", "username")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getString(2), r.getString(3)))
      .toSet
    assert(got == seed.map(s => (s._1, s._2, s._4, s._5)).toSet)
  }

  test("jdbc bootstrap then change stream: fence keeps stale replays out") {
    val url = seedDb("boot2", seed)
    val root = Files.createTempDirectory("jdbcboot2").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    val state = s"$root/state"

    CdcStream.bootstrapFromJdbc(spark, url, "messages", state, nBuckets = 1, fenceLsn = 100L)

    // post-fence update of a, post-fence delete of b, and a REPLAYED
    // pre-fence change of c that must lose to the snapshot
    val lines = Seq(
      env("a", 150, 1000, 1755000000000L, 1755000900000L, "a v2", "u1"),
      tombstone("b", 151, 1500),
      env("c", 50, 500, 1755000200000L, 1755000250000L, "c stale pre-snapshot", "u3"))
    Files.write(Paths.get(s"$in/changes.json"), lines.mkString("\n").getBytes("UTF-8"))
    val q = CdcStream.runFileStream(spark, in, s"$root/cp", state, nBuckets = 1)
    q.awaitTermination()

    val view = CdcStream.readView(spark, state)
      .select("id", "message").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(view == Set(("a", "a v2"), ("c", "c v1")))
  }

  test("normalizeJdbcSnapshot: golden schema + values for the Postgres type mapping") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // Postgres-shaped frame, exactly as pgjdbc surfaces the reference
    // schema (reference V1__init.sql): id BIGSERIAL -> LongType;
    // TIMESTAMP and TIMESTAMPTZ both -> TimestampType (the instant is
    // absolute either way under the engine's pinned UTC session), so
    // a real Postgres deployment differs from Derby in url/driver only
    val t1 = java.time.Instant.parse("2026-08-14T12:34:56.789Z")
    val t2 = java.time.Instant.parse("2026-01-02T00:00:00Z")
    val pg = Seq((42L, java.sql.Timestamp.from(t1), java.sql.Timestamp.from(t2),
      "hello", "alice"))
      .toDF("id", "create_time", "update_time", "message", "username")
    val norm = CdcStream.normalizeJdbcSnapshot(pg)
    val golden = Seq(
      ("id", StringType), ("create_time", LongType), ("update_time", LongType),
      ("message", StringType), ("username", StringType))
    assert(norm.schema.map(f => (f.name, f.dataType)) == golden,
      norm.schema.treeString)
    val r = norm.head
    assert(r.getString(0) == "42")
    assert(r.getLong(1) == t1.toEpochMilli && r.getLong(2) == t2.toEpochMilli)

    // uuid primary keys (pgjdbc surfaces uuid as StringType) pass
    // through textually — the envelope's key type is already string
    val uid = "123e4567-e89b-12d3-a456-426614174000"
    val pgU = Seq((uid, java.sql.Timestamp.from(t1), java.sql.Timestamp.from(t1),
      "m", "u")).toDF("id", "create_time", "update_time", "message", "username")
    val ru = CdcStream.normalizeJdbcSnapshot(pgU)
    assert(ru.schema.map(f => (f.name, f.dataType)) == golden)
    assert(ru.head.getString(0) == uid)

    // text-typed timestamps (a driver surfacing timestamptz as text)
    // cast through TimestampType interpreted as UTC — same instant
    val pgS = Seq((7L, "2026-08-14 12:34:56.789", "2026-01-02 00:00:00", "m", "u"))
      .toDF("id", "create_time", "update_time", "message", "username")
    val rs = CdcStream.normalizeJdbcSnapshot(pgS).head
    assert(rs.getLong(1) == t1.toEpochMilli && rs.getLong(2) == t2.toEpochMilli)
  }

  test("predicate-partitioned jdbc snapshot equals the single-reader snapshot") {
    val url = seedDb("boot3", seed)
    val root = Files.createTempDirectory("jdbcboot3").toString
    CdcStream.bootstrapFromJdbc(spark, url, "messages", s"$root/single", nBuckets = 1)
    CdcStream.bootstrapFromJdbc(spark, url, "messages", s"$root/parts", nBuckets = 1,
      predicates = Array("id < 'b'", "id >= 'b'"))
    val a = CdcStream.readView(spark, s"$root/single").collect().map(_.toString).sorted
    val b = CdcStream.readView(spark, s"$root/parts").collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.length == 3)
  }
}
