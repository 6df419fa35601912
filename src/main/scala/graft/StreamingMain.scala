package graft

import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import graft.streaming.StreamPipelines

/** Runnable continuous pipeline — the streaming twin of [[PipelineMain]].
  *
  * Watches a landing dir (the streaming sensor), deduplicates re-delivered
  * event ids, maintains watermarked per-type windowed aggregates, and
  * upserts the latest event per user into a curated state dir — i.e. the
  * reference's sensor→ingest→staging→curation chain running incrementally.
  *
  * Usage: graft.StreamingMain <watchDir> <stateDir> [runSeconds]
  * Seeds the watch dir from sf0.001 events if it is empty, runs for
  * `runSeconds` (default 20), then reports the sink states.
  */
object StreamingMain {
  def main(args: Array[String]): Unit = {
    val watchDir = if (args.length > 0) args(0) else Files.createTempDirectory("graft_watch").toString
    val stateDir = if (args.length > 1) args(1) else Files.createTempDirectory("graft_state").toString
    val runSeconds = if (args.length > 2) args(2).toInt else 20
    val spark = GraftSession.local(
      GraftSession.coresFrom(sys.env.get("SPARK_GRAFT_CPUS"), 8), shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")

    Files.createDirectories(Paths.get(watchDir))
    // seed a first drop if the landing zone is empty (demo/smoke path)
    if (Files.list(Paths.get(watchDir)).count() == 0) {
      val seed = Files.createTempDirectory("graft_seed")
      Tables.load(spark, "/root/testdata/sf0.001", "events")
        .coalesce(1).write.mode("overwrite").parquet(seed.toString)
      val part = Files.walk(seed).filter(_.toString.endsWith(".parquet")).iterator().next
      Files.copy(part, Paths.get(watchDir, "drop0.parquet"))
    }

    val events = StreamPipelines.dedupStream(
      StreamPipelines.fileStream(spark, watchDir, StreamPipelines.EventsSchema), Seq("event_id"))

    val windows = StreamPipelines.windowedTypeCountsPreWatermarked(events)
      .writeStream.format("memory").queryName("event_windows")
      .outputMode("append").trigger(Trigger.ProcessingTime("2 seconds")).start()

    val curated = StreamPipelines.upsertSink(spark,
      events.selectExpr("user_id", "event_id", "event_type", "value",
        "unix_micros(ts) AS ts_us"),
      stateDir, Seq("user_id"), "ts_us", "event_id")
      .trigger(Trigger.ProcessingTime("2 seconds")).start()

    Thread.sleep(runSeconds * 1000L)
    windows.processAllAvailable(); curated.processAllAvailable()
    println(s"[stream] closed windows: ${spark.table("event_windows").count()}")
    StreamPipelines.currentState(spark, stateDir).foreach(df =>
      println(s"[stream] curated users: ${df.count()}"))
    windows.stop(); curated.stop()
    spark.stop()
  }
}
