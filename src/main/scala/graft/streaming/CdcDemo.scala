package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Runnable demo of the CDC pipeline (reference R1–R6 end-to-end):
  * consume Debezium-envelope JSON files, maintain the latest-wins
  * materialized view, print it.
  *
  * Usage: runMain graft.streaming.CdcDemo <inputDir> <workDir> [mode]
  *   mode = snapshot (default): foreachBatch merge into manifest-committed parquet state
  *   mode = lowlatency: flatMapGroupsWithState per-key update stream
  *   mode = tws: transformWithState (Spark 4 StatefulProcessor) update stream
  *   mode = aggview: delta-maintained aggregate view from before/after images
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    val Array(inputDir, workDir) = args.take(2)
    val mode = if (args.length > 2) args(2) else "snapshot"
    val spark = graft.engine.Graft.session("local[4]", 4)

    def decodedChanges(): Dataset[CdcStream.Change] = {
      val raw = spark.readStream.schema(CdcStream.fileRecordSchema).json(inputDir)
      CdcStream.asChanges(CdcStream.decodeFile(raw))
    }

    /** Shared console-sink wiring for the two push-based view modes. */
    def runPush(updates: Dataset[CdcStream.ViewUpdate], tag: String): Unit = {
      val q = updates.writeStream
        .option("checkpointLocation", s"$workDir/checkpoint")
        .format("console").option("truncate", "false")
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(s"${tag}_done")
    }

    mode match {
      case "tws" =>
        runPush(CdcStream.latestWinsUpdatesTws(decodedChanges()), "tws")
      case "lowlatency" =>
        runPush(CdcStream.latestWinsUpdates(decodedChanges()), "lowlatency")
      case "aggview" =>
        val q = AggView.run(spark, inputDir, s"$workDir/checkpoint", s"$workDir/aggstate")
        q.awaitTermination()
        val view = AggView.readView(spark, s"$workDir/aggstate").orderBy("username")
        view.show(100, truncate = false)
        println(s"agg_rows=${view.count()}")
      case "snapshot" =>
        val q = CdcStream.runFileStream(
          spark, inputDir, s"$workDir/checkpoint", s"$workDir/state", nBuckets = 1)
        q.awaitTermination()
        // reference presentation order: create_time DESC (R5)
        val view = CdcStream.presentView(spark, s"$workDir/state")
        view.show(100, truncate = false)
        println(s"view_rows=${view.count()}")
      case other =>
        System.err.println(s"unknown mode '$other' (snapshot|lowlatency|tws|aggview)")
        sys.exit(2)
    }
    spark.stop()
  }
}
