package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.sinks.BucketedParquetSink
import graft.streaming.{AggView, CdcStream, IvfIngest, JoinView, Scd2View, SnapshotDiffView}
import graft.streaming.JoinView.Side

/** The empty-state contract of the bucketed state layer: a root no
  * batch has reached reads as zero rows with the columns and types its
  * first merge gives it — never a zero-column frame that each reader
  * has to special-case.
  */
class EmptyStateSpec extends SparkSpec {

  /** Column names and types. Nullability is left out: parquet reads
    * every column back as nullable. */
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.catalogString).toSeq

  private def sameShapeAfterOneMerge(read: => DataFrame)(merge: => Unit): Unit = {
    val fresh = read
    assert(fresh.isEmpty)
    merge
    val merged = read
    assert(!merged.isEmpty, "the merge committed nothing")
    assert(shape(fresh) == shape(merged),
      s"fresh ${shape(fresh)} vs after one merge ${shape(merged)}")
  }

  private def root(name: String): String = Files.createTempDirectory(name).toString

  private def changes(): DataFrame = {
    import spark.implicits._
    Seq((CdcStream.Upsert, "a", 1000L, 1000L, "m", "u", 1L, 10L),
        (CdcStream.Upsert, "b", 2000L, 2000L, "n", "v", 2L, 20L))
      .toDF("event_type", "id", "create_time", "update_time",
        "message", "username", "lsn", "ts_ms")
  }

  test("BucketedParquetSink.state") {
    val sink = new BucketedParquetSink(s"${root("empty-cdc")}/state", 4)
    sameShapeAfterOneMerge(sink.state(spark))(sink.merge(changes()))
  }

  test("JoinView.readViewBucketed") {
    import spark.implicits._
    val left = Side("uid", "dept", StructType.fromDDL("uid BIGINT NOT NULL, " +
      "dept STRING, name STRING, lsn BIGINT NOT NULL, ts_ms BIGINT NOT NULL, event_type STRING"))
    val right = Side("did", "dept", StructType.fromDDL("did STRING, " +
      "dept STRING, dname STRING, lsn BIGINT NOT NULL, ts_ms BIGINT NOT NULL, event_type STRING"))
    val r = root("empty-join")
    sameShapeAfterOneMerge(JoinView.readView(spark, r, left, right)) {
      JoinView.applyBatch(spark,
        Seq((1L, "eng", "ada", 1L, 1L, "UPSERT"))
          .toDF("uid", "dept", "name", "lsn", "ts_ms", "event_type"),
        Seq(("eng", "eng", "Engineering", 2L, 2L, "UPSERT"))
          .toDF("did", "dept", "dname", "lsn", "ts_ms", "event_type"),
        r, left, right, nBuckets = 4)
    }
  }

  test("Scd2View.readDimBucketed") {
    val r = s"${root("empty-scd2")}/state"
    sameShapeAfterOneMerge(Scd2View.readDim(spark, r))(
      Scd2View.mergeBatch(changes(), r, nBuckets = 4))
  }

  test("SnapshotDiffView.readViewBucketed") {
    import spark.implicits._
    val r = root("empty-diff")
    val events = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 100L, 10.0))
      .toDF("user_id", "ts", "event_id", "value")
    sameShapeAfterOneMerge(SnapshotDiffView.readView(spark, s"$r/state"))(
      SnapshotDiffView.mergeBatch(events, s"$r/state", s"$r/diff", 0L, nBuckets = 4))
  }

  test("AggView.readView") {
    import spark.implicits._
    val r = s"${root("empty-agg")}/state"
    val deltas = Seq(("u", 1L, 5L)).toDF("username", "dc", "dv")
    sameShapeAfterOneMerge(AggView.readView(spark, r))(
      AggView.mergeDeltas(deltas, r, batchId = 0L))
  }

  test("IvfIngest.centroids") {
    import spark.implicits._
    val r = root("empty-ivf")
    val corpus = (1L to 8L).map(i => (i, Array(i.toDouble, (9 - i).toDouble)))
      .toDF("vec_id", "v")
    sameShapeAfterOneMerge(IvfIngest.centroids(spark, s"$r/quant"))(
      IvfIngest.seed(corpus, s"$r/postings", s"$r/quant", nlist = 2, iters = 1))
  }
}
