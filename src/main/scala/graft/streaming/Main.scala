package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.ops.{BatchDirs, Sketch, Text}

/** The streaming entry point — the honest upgrade of the reference's
  * `schedule.every(N).hours` batch loop (SURVEY §2.8): one program that
  * starts every kept sink of `StreamOps` over the two inputs the engine
  * streams, each sink with its own checkpoint under `outDir/ckpt/<name>`.
  *
  * Usage:
  *   sbt 'runMain graft.streaming.Main <events|documents> <inDir> <outDir> [--follow]'
  *
  *  - `events` reads event JSON (`readEventStream`) and writes
  *    window_counts, sessions, first_arrivals, sequence_matches,
  *    last_touch, twap and holt (append-mode parquet files), latest_events
  *    and user_counts (keyed upserts) and hourly_users (mergeable partials,
  *    `IncrAgg.mergeState` reads them);
  *  - `documents` reads document JSON (`readDocumentStream`) and writes the
  *    dedup state (survivors under dedup/out), oov, perplexity, drift, pmi
  *    and token_cms. When an AvailableNow run ends it also writes the
  *    serving readouts pmi_top and token_heavy_hitters and compacts the
  *    dedup state.
  *
  * Default processes everything currently in `inDir` and exits
  * (`Trigger.AvailableNow` — the streaming analogue of `--once`);
  * `--follow` keeps running with a processing-time trigger, picking up new
  * files as they arrive (drop-in for a Kafka source at scale).
  */
object Main {
  val Usage = "usage: Main <events|documents> <inDir> <outDir> [--follow]"

  /** One sink: its writer, given its output path and checkpoint. */
  private type Sink = (String, String) => DataStreamWriter[Row]

  def main(args: Array[String]): Unit = {
    val run = job(args)
    val spark = graft.Session("graft-streaming")
    try run(spark) finally spark.stop()
  }

  /** The run `args` ask for; fails with `Usage` on anything else, before
    * any session exists. The run starts every sink of the mode, waits for
    * all of them and, after an AvailableNow run, writes the readouts.
    */
  def job(args: Array[String]): SparkSession => Unit = {
    val follow = args.contains("--follow")
    val (mode, inDir, outDir) = args.filterNot(_ == "--follow") match {
      case Array(m @ ("events" | "documents"), in, out) => (m, in, out)
      case _ => throw new IllegalArgumentException(Usage)
    }
    spark => {
      val sinks =
        if (mode == "events") eventSinks(spark, inDir) else documentSinks(spark, inDir)
      val trigger =
        if (follow) Trigger.ProcessingTime("10 seconds") else Trigger.AvailableNow()
      val queries = sinks.map { case (name, sink) =>
        sink(s"$outDir/$name", s"$outDir/ckpt/$name").trigger(trigger).start()
      }
      if (follow) spark.streams.awaitAnyTermination()
      else {
        queries.foreach(_.awaitTermination())
        if (mode == "documents") documentReadouts(spark, inDir, outDir)
      }
    }
  }

  private def eventSinks(spark: SparkSession, inDir: String): Seq[(String, Sink)] = {
    val events = StreamOps.readEventStream(spark, inDir)
    def file(df: DataFrame): Sink = StreamOps.toParquet(df, _, _)
    Seq[(String, Sink)](
      ("window_counts", file(StreamOps.tumblingCounts(events))),
      ("sessions", file(StreamOps.sessionize(events))),
      ("first_arrivals", file(StreamOps.dedupFirstArrival(events))),
      ("sequence_matches", file(StreamOps.sequenceMatchStream(spark, events,
        firstType = "signup", thenType = "purchase", guardType = "error",
        withinSec = 21600L))),
      ("last_touch", file(StreamOps.attributionLastTouchStream(spark, events))),
      ("twap", file(StreamOps.twapStream(spark, events))),
      ("holt", file(StreamOps.holtStream(spark, events))),
      ("latest_events", StreamOps.upsertSink(
        events.selectExpr("user_id", "event_type", "event_id", "ts"), _, _,
        Seq("user_id", "event_type"), Seq("ts", "event_id"))),
      // mapGroupsWithState emits in Update mode, which a file sink refuses
      ("user_counts", StreamOps.upsertSink(StreamOps.runningUserCounts(spark, events),
        _, _, Seq("user_id"), Seq("n_events")).outputMode("update")),
      ("hourly_users", StreamOps.incrementalAggSink(
        events.select(unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
          col("user_id")),
        _, _, Seq("h"), lit(1L), col("user_id"))))
  }

  private def documentSinks(spark: SparkSession, inDir: String): Seq[(String, Sink)] = {
    val docs = StreamOps.readDocumentStream(spark, inDir)
    Seq[(String, Sink)](
      ("dedup", StreamOps.incrementalDedupSink(docs, _, _)),
      ("oov", StreamOps.oovSink(docs, _, _)),
      ("perplexity", StreamOps.perplexitySink(docs, _, _)),
      ("drift", StreamOps.driftSink(docs, _, _, lengthBucket, nBuckets = 10)),
      ("pmi", StreamOps.pmiSink(docs, _, _, window = 3)),
      ("token_cms", StreamOps.cmsSink(tokens(docs), _, _, col("token"))))
  }

  /** Token-count decile band, as `quality_drift_psi` buckets documents. */
  private def lengthBucket = least(floor(size(split(col("text"), " ")) / 10), lit(9L))

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(explode(Text.tokens(col("text"))).as("token"))

  /** The serving reads over the stored state, once some batch committed. */
  private def documentReadouts(spark: SparkSession, inDir: String, outDir: String): Unit = {
    if (BatchDirs.ids(spark, s"$outDir/pmi")(_ => true).nonEmpty) {
      StreamOps.pmiTopK(spark, s"$outDir/pmi", topK = 50, minCount = 5)
        .write.mode("overwrite").parquet(s"$outDir/pmi_top")
      val docs = spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(inDir)
      Sketch.heavyHittersCmsStored(spark, s"$outDir/token_cms", tokens(docs),
          col("token"), k = 10)
        .write.mode("overwrite").parquet(s"$outDir/token_heavy_hitters")
    }
    StreamOps.maintainDedupState(spark, s"$outDir/dedup")
  }
}
