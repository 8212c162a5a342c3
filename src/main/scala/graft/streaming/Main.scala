package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** Runnable streaming demo — the honest upgrade of the reference's
  * `schedule.every(N).hours` batch loop (SURVEY §2.8): an unbounded
  * file-source stream of event JSON, watermarked tumbling counts, and a
  * keyed-upsert state table maintained exactly-once per micro-batch.
  *
  * Usage:
  *   sbt 'runMain graft.streaming.Main <inDir> <outDir> [--follow]'
  *
  * Default processes everything currently in `inDir` and exits
  * (`Trigger.AvailableNow` — the streaming analogue of `--once`);
  * `--follow` keeps running with a processing-time trigger, picking up new
  * files as they arrive (drop-in for a Kafka source at scale).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Main <inDir> <outDir> [--follow]")
    val Array(inDir, outDir) = args.take(2)
    val follow = args.contains("--follow")
    val spark = graft.Session("graft-streaming")

    val events = StreamOps.readEventStream(spark, inDir)
    val trigger =
      if (follow) Trigger.ProcessingTime("10 seconds") else Trigger.AvailableNow()

    val windows = StreamOps.toParquet(
      StreamOps.tumblingCounts(events),
      s"$outDir/window_counts", s"$outDir/ckpt/window_counts")
      .trigger(trigger).start()
    val state = StreamOps.upsertSink(
      events.selectExpr("user_id", "event_type", "event_id", "ts"),
      s"$outDir/latest_events", s"$outDir/ckpt/latest_events",
      Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .trigger(trigger).start()

    spark.streams.awaitAnyTermination()
    if (!follow) { windows.awaitTermination(); state.awaitTermination() }
    spark.stop()
  }
}
