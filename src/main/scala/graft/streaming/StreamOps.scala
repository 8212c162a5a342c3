package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.ops.{EventOps, Exact}

/** Structured-Streaming surface (SURVEY §2.8): the same event-time operators
  * as `graft.ops.EventOps`, applied to an unbounded `readStream` input with
  * watermarks. One logical definition, two execution modes — the batch form
  * is what the DuckDB oracle checks; this form is what runs on a live feed.
  *
  * The reference's "streaming" is `schedule.every(N).hours` around a batch
  * re-run (etl/pipeline.py:379-384); these are its honest upgrade:
  * incremental state, event-time semantics, late-data bounds.
  */
object StreamOps {

  /** File-source stream of events rows (schema = the events table). At scale
    * this is the drop-in for a Kafka source — same downstream plan.
    */
  def readEventStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(dir)
  }

  /** Tumbling window counts with a watermark: state for a window is dropped
    * once the watermark passes its end — bounded state at any scale. The
    * aggregation itself IS `EventOps.tumblingCounts` — one definition, so
    * the batch form the DuckDB oracle certifies is exactly what streams.
    */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes",
                     watermark: String = "30 minutes"): DataFrame =
    EventOps.tumblingCounts(events.withWatermark("ts", watermark), width)

  /** BATCH-CHECKABLE model of the watermark's LATE-DATA semantics for a
    * tumbling windowed aggregation — the piece `tumblingCounts` alone
    * can't pin, because a batch oracle never sees arrival order.
    *
    * The model replays Structured Streaming's contract exactly:
    *  - rows arrive in micro-batches (`batchCol` — any deterministic
    *    arrival grouping);
    *  - the watermark in effect WHILE batch k processes is
    *    max(event time over batches < k) − delay — Spark advances the
    *    watermark only at batch boundaries, from data fully processed
    *    before the batch started (no watermark yet for the first batch);
    *  - an arriving row is DROPPED iff its tumbling window's END ≤ that
    *    watermark (the window's state was already evicted); a row merely
    *    older than the watermark whose window is still open aggregates
    *    normally.
    * Output: (window_start, event_type, n_events, sum_value) over the
    * kept rows — `tumblingCounts`' schema, minus the dropped late data.
    *
    * Scale shape: the only non-keyed step is the running max over
    * PER-BATCH maxima — a #batches-sized frame (bounded metadata, not
    * the stream), broadcast back onto the events; everything else is the
    * usual keyed window aggregate. StreamOpsSpec's twin proves this model
    * emits exactly what a real `withWatermark` + append-mode query does
    * on a controlled out-of-order feed.
    */
  def watermarkTumblingModel(events: DataFrame, batchCol: Column,
                             delaySec: Long,
                             width: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.withColumn("_b", batchCol)
    val perBatch = e.groupBy(col("_b"))
      .agg(max(unix_timestamp(col("ts"))).as("_mx"))
    // strictly-earlier running max: unpartitioned, but over #batches rows
    val wmFrame = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = perBatch.select(col("_b"),
      (max(col("_mx")).over(wmFrame) - delaySec).as("_wm"))
    e.join(broadcast(wm), "_b")
      .withColumn("_w", window(col("ts"), width))
      .filter(col("_wm").isNull ||
        unix_timestamp(col("_w.end")) > col("_wm"))
      .groupBy(col("_w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Exact.dollars(sum(Exact.cents(col("value")))).as("sum_value"))
      .select(unix_timestamp(col("_w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Session windows per user with watermark-bounded state — delegates to
    * the oracle-checked batch definition (`EventOps.sessionize`).
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "30 minutes"): DataFrame =
    EventOps.sessionize(events.withWatermark("ts", watermark), gap)

  /** Streaming dedup: first arrival per (user_id, event_type) wins, with
    * watermark-bounded dedup state — the streaming twin of
    * `EventOps.dedupEarliest`.
    */
  def dedupFirstArrival(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Custom per-key state: running per-user event count + last-seen ts via
    * mapGroupsWithState — the escape hatch for state machines the built-in
    * windows can't express.
    */
  final case class UserState(userId: Long, nEvents: Long, lastTs: Long)
  def runningUserCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.selectExpr("user_id", "CAST(ts AS LONG) AS ts_epoch")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, 0L))
          val batch = rows.toSeq
          val next = UserState(uid, prev.nEvents + batch.size,
            math.max(prev.lastTs, batch.map(_._2).max))
          state.update(next)
          next
      }
      .toDF("user_id", "n_events", "last_ts")
  }

  /** Streaming twin of `EventOps.sequenceMatch` — the MATCH_RECOGNIZE-lite
    * pattern (firstType → next thenType within `withinSec`, no guardType
    * between) as BOUNDED custom state via flatMapGroupsWithState: per
    * user, state is only the open firstType events still awaiting their
    * next thenType. A thenType arrival resolves EVERY open first (match
    * if within the bound; closed either way — its "next then" is now
    * known), a guardType arrival clears the set, so state empties on
    * every then/guard and is bounded by concurrently-open firsts.
    *
    * Equals the batch operator when each user's events arrive in
    * (ts, event_id) order ACROSS micro-batches — the per-key-ordered-log
    * deployment shape; within a micro-batch, arrival order is irrelevant
    * (events sort before the fold). StreamOpsSpec pins stream ≡ batch
    * with state carried across micro-batch boundaries.
    */
  final case class SeqOpen(firstSec: Long, firstId: Long)
  final case class SeqMatchState(open: List[SeqOpen])
  def sequenceMatchStream(spark: SparkSession, events: DataFrame,
                          firstType: String, thenType: String,
                          guardType: String, withinSec: Long): DataFrame = {
    require(withinSec >= 0, s"withinSec must be >= 0, got $withinSec")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SeqMatchState, (Long, Long, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var open = state.getOption.map(_.open).getOrElse(Nil)
          val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, eid, sec, typ) =>
            if (typ == guardType) open = Nil
            else if (typ == thenType) {
              open.reverse.foreach { a =>
                if (sec <= a.firstSec + withinSec)
                  out += ((uid, a.firstId, a.firstSec, sec, sec - a.firstSec))
              }
              open = Nil
            } else if (typ == firstType) open = SeqOpen(sec, eid) :: open
          }
          state.update(SeqMatchState(open))
          out.result().iterator
      }
      .toDF("user_id", "first_event_id", "first_sec", "then_sec", "gap_sec")
  }

  /** Streaming twin of `EventOps.attributionLastTouch` — last-touch
    * conversion credit as BOUNDED custom state: per user, state is only
    * the LATEST marketing touch (sec, event_id, type) — three fields
    * regardless of history length, the smallest state any attribution
    * model admits. A marketing arrival advances the state if it is later
    * in (sec, event_id) order; a conversion reads it and emits
    * (conv_id, sec, value_c, channel) with the same in-window /
    * else-'direct' rule as the batch operator. Equality requires each
    * user's events to arrive in order ACROSS micro-batches (the
    * per-key-ordered-log shape, same contract as `sequenceMatchStream`);
    * within a batch, events sort before the fold, so a same-batch
    * touch-then-purchase credits correctly.
    */
  final case class TouchState(sec: Long, id: Long, typ: String)
  def attributionLastTouchStream(spark: SparkSession, events: DataFrame,
                                 marketingTypes: Seq[String] = Seq("click", "view"),
                                 convType: String = "purchase",
                                 windowSec: Long = 604800L): DataFrame = {
    require(windowSec >= 0, s"windowSec must be >= 0, got $windowSec")
    require(!marketingTypes.contains(convType),
      "conversion type cannot also be a marketing type")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val mk = marketingTypes.toSet
    events.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("event_type"),
        Exact.cents(col("value")).as("value_c"))
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, (Long, Long, Long, Long, String)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var s = state.getOption.orNull
          val out = Seq.newBuilder[(Long, Long, Long, Long, String)]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach {
            case (_, eid, sec, typ, vc) =>
              if (mk.contains(typ)) {
                if (s == null || sec > s.sec || (sec == s.sec && eid > s.id))
                  s = TouchState(sec, eid, typ)
              } else if (typ == convType) {
                val channel =
                  if (s != null && s.sec >= sec - windowSec) s.typ
                  else "direct"
                out += ((uid, eid, sec, vc, channel))
              }
          }
          if (s != null) state.update(s)
          out.result().iterator
      }
      .toDF("user_id", "event_id", "sec", "value_c", "channel")
  }

  /** Streaming twin of `EventOps.twapCents` — the LOCF time-weighted
    * average as BOUNDED custom state: per user, state is only
    * (last observation, running Σcents·Δsec, running Σ Δsec) — four longs,
    * regardless of event count. Each micro-batch folds its events in
    * (sec, event_id) order and emits the user's RUNNING
    * (twap_cents, span_sec); the latest emission per user equals the batch
    * operator over everything seen so far. Equality requires each user's
    * events to arrive in order ACROSS micro-batches (the per-key-ordered-
    * log deployment shape, same contract as `sequenceMatchStream`);
    * within a batch arrival order is irrelevant (events sort first).
    */
  final case class TwapState(lastSec: Long, lastCents: Long,
                             num: Long, den: Long)
  def twapStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), Exact.cents(col("value")).as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TwapState, (Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var s = state.getOption.orNull
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, sec, cents) =>
            s = if (s == null) TwapState(sec, cents, 0L, 0L)
            else TwapState(sec, cents,
              s.num + s.lastCents * (sec - s.lastSec),
              s.den + (sec - s.lastSec))
          }
          if (s == null) Iterator.empty
          else {
            state.update(s)
            if (s.den > 0) Iterator((uid, s.num / s.den, s.den))
            else Iterator.empty
          }
      }
      .toDF("user_id", "twap_cents", "span_sec")
  }

  final case class HoltState(l: Long, b: Long, n: Long)

  /** ONLINE Holt forecasting — `EventOps.holtForecastBp` as bounded
    * custom state: per user the state is exactly (level, trend, count) —
    * three longs REGARDLESS of history length, where the batch form
    * collects the key's full series (its documented bound). Each
    * micro-batch folds its (sec, event_id)-ordered arrivals through the
    * identical truncating recurrence and emits the user's refreshed
    * h-step forecast — a live per-key forecaster whose latest emission
    * matches the batch operator bit-for-bit on the same prefix.
    * Per-key-ordered-log arrival contract (the twapStream shape): late
    * cross-batch events would fold out of order, exactly as they would
    * in any online smoother.
    */
  def holtStream(spark: SparkSession, events: DataFrame,
                 alphaBp: Long = 5000L, betaBp: Long = 3000L,
                 horizon: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(alphaBp >= 0 && alphaBp <= 10000, s"alphaBp out of range: $alphaBp")
    require(betaBp >= 0 && betaBp <= 10000, s"betaBp out of range: $betaBp")
    val a = alphaBp; val na = 10000L - alphaBp
    val bw = betaBp; val nb = 10000L - betaBp
    events.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"),
        (Exact.cents(col("value")) * 10000L).as("v"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HoltState, (Long, Long, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var s = state.getOption.orNull
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, _, v) =>
            s = if (s == null) HoltState(v, 0L, 1L)
            else {
              val l = (a * v + na * (s.l + s.b)) / 10000L
              HoltState(l, (bw * (l - s.l) + nb * s.b) / 10000L, s.n + 1)
            }
          }
          if (s == null) Iterator.empty
          else {
            state.update(s)
            Iterator((uid, s.n, s.l, s.b, s.l + horizon * s.b))
          }
      }
      .toDF("user_id", "n_events", "level_bp", "trend_bp", "forecast_bp")
  }

  /** Stream-stream interval join: each `click` joined to the same user's
    * `signup` that happened at most `horizon` earlier. Both sides carry
    * watermarks and the join condition bounds event-time distance, so join
    * state is dropped once the watermark passes — bounded state, the
    * canonical streaming enrichment shape.
    */
  def clicksAfterSignup(events: DataFrame, horizon: String = "1 hour",
                        watermark: String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", watermark)
    clicks.join(signups,
      col("user_id") === col("s_user_id") &&
        col("click_ts") >= col("signup_ts") &&
        col("click_ts") <= col("signup_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("click_id"),
        unix_timestamp(col("signup_ts")).as("signup_epoch"),
        unix_timestamp(col("click_ts")).as("click_epoch"))
  }

  /** The driver every `foreachBatch` sink here runs on — the streaming
    * counterpart of `graft.ops.Iterate.run`. `StateSink.sink` is the only
    * `foreachBatch` wiring in the file; `StateSink.run` hands one
    * micro-batch its state handle and, in a `finally`, releases every
    * cache the step registered (`cache`, `onEnd`), latest first — a batch
    * that throws leaks nothing either.
    *
    * The state contract, written once for every sink. State is one
    * `batch=<id>` dir per micro-batch under each state root
    * (`graft.ops.BatchDirs`). EXACTLY-ONCE under restart follows by
    * construction, not from marker files: foreachBatch re-delivers the
    * last uncommitted batch id after a crash, batch ids are
    * checkpoint-stable, and a step
    *  - reads prior state only from dirs OTHER than its own
    *    (`priorDirs`, `readPrior`): a half-committed previous attempt
    *    cannot poison its own recomputation — reading its own digests back
    *    would kill every row as a "duplicate" and overwrite good output
    *    with nothing;
    *  - writes only by OVERWRITING its own dir (`overwriteOwn`), so a
    *    replay converges to identical state wherever the previous attempt
    *    died. One `overwriteOwn` call commits its writes concurrently:
    *    each targets a different dir and none reads another's own dir, so
    *    no order among them is observable, and a batch that dies with
    *    some written and some not is the same half-committed attempt the
    *    replay already overwrites. The call returns only once every write
    *    has finished, before the batch's caches are released;
    *  - folds only dirs BELOW the in-flight id (`foldDue`, then
    *    `IncrAgg.foldState(before = id)`): a fold that absorbed the
    *    in-flight dir would let a crash-replay count its rows twice.
    * Prior reads pin the state's known schema, so they launch no
    * schema-inference job; a root with no prior dir (or none at all) reads
    * as an empty frame of that schema, and a prior dir with no committed
    * file (an attempt that died mid-write) reads as no rows.
    */
  private final class StateSink(batch: DataFrame, batchId: Long) {
    import graft.ops.BatchDirs
    val spark: SparkSession = batch.sparkSession
    private var releases: List[() => Unit] = Nil

    /** The prior `batch=<id>` dirs under `root` (this batch's excluded),
      * listed on the driver, so a reader knows which partitions it reads. */
    def priorDirs(root: String): Seq[String] =
      BatchDirs.ids(spark, root)(_ != batchId).map(BatchDirs.dir(root, _))
    def readDirs(dirs: Seq[String], schema: StructType): DataFrame =
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).parquet(dirs: _*)
    def readPrior(root: String, schema: StructType): DataFrame =
      readDirs(priorDirs(root), schema)
    def ownDir(root: String): String = BatchDirs.dir(root, batchId)
    /** Overwrite this batch's dir under each `(frame, root)` pair, all
      * pairs at once (`Load.concurrently`); no frame may read another
      * pair's own dir. */
    def overwriteOwn(writes: (DataFrame, String)*): Unit =
      graft.etl.Load.concurrently(writes.map { case (df, root) =>
        () => df.write.mode(SaveMode.Overwrite).parquet(ownDir(root))
      })
    /** Whether `foldEvery` dirs below this batch's id sit under `root`. */
    def foldDue(root: String, foldEvery: Int): Boolean =
      BatchDirs.ids(spark, root)(_ < batchId).size >= foldEvery
    /** `df` cached MEMORY_ONLY until the batch ends. */
    def cache(df: DataFrame): DataFrame = {
      val cached = df.persist(StorageLevel.MEMORY_ONLY)
      onEnd(() => { cached.unpersist(); () })
      cached
    }
    /** Run `release` when the batch ends, before anything registered earlier. */
    def onEnd(release: () => Unit): Unit = releases ::= release
    private def end(): Unit = releases.foreach(_())
  }

  private object StateSink {
    def sink(df: DataFrame, checkpoint: String)
            (perBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
      df.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, batchId: Long) => perBatch(batch, batchId) }

    def run(batch: DataFrame, batchId: Long)(step: StateSink => Unit): Unit = {
      val st = new StateSink(batch, batchId)
      try step(st) finally st.end()
    }
  }

  /** Keyed-upsert sink via foreachBatch: each micro-batch MERGEs into a
    * Parquet table by key (latest event per key wins within the batch via
    * deterministic ordering). The streaming twin of the reference's
    * `INSERT OR REPLACE` run-metadata sink (K3) — exactly-once per key given
    * checkpointed batch ids.
    *
    * The merged table is committed through `Load.commit`: staged, then
    * swapped in by rename, so at every crash point the previous or the new
    * table is complete on disk, and a replayed batch merges into the
    * recovered table — never into a missing one, which would keep only the
    * batch's own keys.
    *
    * COST: the merge rewrites the WHOLE table every micro-batch — right for
    * its run-metadata-sized use (the reference's etl_runs table), O(table)
    * per trigger on anything larger.
    */
  def upsertSink(df: DataFrame, path: String, checkpoint: String,
                 keys: Seq[String], orderCols: Seq[String]): DataStreamWriter[Row] =
    StateSink.sink(df, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val latest = graft.ops.Relational.firstPerKey(
        batch, keys, orderCols.map(c => col(c).desc))
      graft.etl.Load.commit(spark, path) { staging =>
        // checked after the commit's recovery pass has restored the table
        val merged =
          if (graft.etl.Load.fsFor(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
            graft.ops.Relational.upsertByKey(spark.read.parquet(path), latest, keys)
          else latest
        merged.write.parquet(staging.toString)
        ((), Some(staging))
      }
    }

  /** Sink helper: append to Parquet with checkpointing (exactly-once file
    * sink semantics).
    */
  def toParquet(df: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)

  /** File-source stream of documents rows (schema = the documents table's
    * core columns) — the ingest feed for `incrementalDedupSink`.
    */
  def readDocumentStream(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema("doc_id BIGINT, lang STRING, text STRING")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(dir)
  }

  /** `df` in at most as many partitions as the micro-batch it derives
    * from. The exact step's keyed shuffle would otherwise set the
    * partition count of a batch's cached frames, and with it the file
    * count of every state table the batch writes: AQE does not coalesce
    * the shuffles of a cached plan.
    */
  private def batchSized(df: DataFrame, batch: DataFrame): DataFrame =
    df.coalesce(batch.queryExecution.toRdd.getNumPartitions)

  /** The steady-state corpus-ingest loop as a STREAMING sink: every
    * micro-batch is (1) exact-deduped against the stored digest set,
    * (2) shingled and MinHash-signed ONCE, (3) near-dup-probed with that
    * signature against the stored MinHash index (band probes plus an
    * id-keyed verify — the corpus is never re-shingled), (4) its novel
    * survivors land in `stateDir/out/`, and (5) the survivors'
    * digests/shingles/bands are appended to the stored state so the NEXT
    * batch dedups against them — the index rows come from the batch's own
    * signature.
    *
    * Per-batch shape. The exact step is one keyed pass over the batch and
    * an anti join against the stored digests, with no aggregate over the
    * stored state. The batch has two caches, filled by one action: the
    * exact survivors with their shingle sets (the shingle-set frame is a
    * projection of it) and the band rows, signed by one compiled
    * `MinHashSignature` per row. The probe is one leg
    * (`Dedup.minHashProbePairs`): one band join of the batch bands against
    * the stored and batch bands together, then one shingle join. When the
    * batch's measured size is within the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the batch bands, the
    * candidates and the batch shingle sets are broadcast (three
    * broadcasts), so the stored index is streamed, never shuffled; the
    * flagged ids are then collected once with no shuffle, made distinct on
    * the driver, and filter the survivors and the appended index rows.
    * Otherwise (or at -1) the joins shuffle and the flagged ids stay a
    * distributed anti join. The stored index's geometry is checked once
    * per stored partition and parameter set (`Dedup.minHashPreflightDirs`):
    * partitions this sink wrote in this JVM count as checked, so a steady
    * batch samples nothing. A steady micro-batch runs at most 13 Spark
    * jobs, the bootstrap batch at most 12 (StreamOpsSpec pins both).
    *
    * State layout — every table batch-partitioned (`.../batch=<id>/`,
    * under the `StateSink` contract):
    * {{{
    *   stateDir/digests/batch=<id>/        content_md5 of survivors
    *   stateDir/index/toks/batch=<id>/     shingle sets  (id, ts)
    *   stateDir/index/banded/batch=<id>/   band keys     (id, band, band_key)
    *   stateDir/out/batch=<id>/            surviving document rows
    * }}}
    */
  def incrementalDedupSink(docs: DataFrame, stateDir: String, checkpoint: String,
                           threshold: Double = 0.5,
                           numHashes: Int = 16, bands: Int = 8,
                           shingleSize: Int = 3,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataStreamWriter[Row] =
    StateSink.sink(docs, checkpoint) { (batch, batchId) =>
      dedupDocumentBatch(batch, batchId, stateDir, threshold,
        numHashes, bands, shingleSize, idCol, textCol)
    }

  /** One ingest iteration of `incrementalDedupSink`, public so replay
    * semantics are directly testable: calling it twice with the same
    * `batchId` (the crash-replay case) must leave state and output
    * byte-identical in content to calling it once.
    */
  def dedupDocumentBatch(batch: DataFrame, batchId: Long, stateDir: String,
                         threshold: Double = 0.5,
                         numHashes: Int = 16, bands: Int = 8,
                         shingleSize: Int = 3,
                         idCol: String = "doc_id", textCol: String = "text"): Unit =
    StateSink.run(batch, batchId) { st =>
      import graft.ops.Dedup
      val spark = st.spark
      val digestsRoot = s"$stateDir/digests"
      val toksRoot = s"$stateDir/index/toks"
      val bandedRoot = s"$stateDir/index/banded"
      val priorDigests = st.readPrior(digestsRoot,
        Dedup.contentDigests(batch.limit(0), textCol).schema)
      // the exact survivors carry their shingle sets: one cache, and the
      // batch's shingle-set frame is a projection of it
      val exact = st.cache(batchSized(
        Dedup.exactIncremental(batch, priorDigests, idCol, textCol)
          .withColumn("__shingles", Dedup.shingles(col(textCol), shingleSize)), batch))
      val nToks = exact.select(col(idCol).as("id"), col("__shingles").as("ts"))
      val nBand = st.cache(Dedup.minHashBands(nToks, numHashes, bands))
      // one action fills both caches (the bands read the survivors), so the
      // broadcast gate below sees measured sizes, not plan estimates; a
      // plain scan, not count(), whose aggregate would add an exchange
      nBand.foreachPartition((rows: Iterator[Row]) => rows.foreach(_ => ()))
      val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
      // a fresh plan over the cache re-reads its stats (sizes are >= 0, so a
      // threshold of -1 never fits); the survivors bound the shingle sets
      // they carry
      def fits(df: DataFrame) =
        df.select(col("*")).queryExecution.optimizedPlan.stats.sizeInBytes <= limit
      val broadcastBatch = fits(exact) && fits(nBand)
      // the stored index is read as the listed prior dirs, so the geometry
      // check covers exactly what the probe reads; the bootstrap batch probes
      // an empty index (in-batch near-dups are caught by the batch half of
      // the probe's band union)
      val (toksDirs, bandedDirs) = (st.priorDirs(toksRoot), st.priorDirs(bandedRoot))
      Dedup.minHashPreflightDirs(spark, toksDirs, bandedDirs, numHashes, bands,
        shingleSize)
      val flagged = Dedup.minHashProbePairs(nToks, nBand,
          st.readDirs(toksDirs, nToks.schema), st.readDirs(bandedDirs, nBand.schema),
          threshold, broadcastBatch, distinctCandidates = false)
        .select(col("i").as(idCol))
      // survivors and the index rows kept for them. Flagged ids are batch
      // ids, so they fit wherever the batch does: collected once (a pair
      // per agreeing band and text, made distinct here on the driver), they
      // filter all three frames with no further join. A NULL id is never
      // flagged and survives, as under the anti join (the exact step drops
      // NULL ids, so none reach here).
      val rows = exact.drop("__shingles")
      val (survivors, kept) =
        if (broadcastBatch) {
          val ids = flagged.collect().filterNot(_.isNullAt(0)).map(_.get(0)).distinct
          def novel(df: DataFrame, c: String) =
            if (ids.isEmpty) df else df.filter(col(c).isNull || !col(c).isin(ids: _*))
          (novel(rows, idCol), novel(_: DataFrame, "id"))
        } else {
          val surv = st.cache(rows.join(flagged, Seq(idCol), "left_anti"))
          val keptIds = surv.select(col(idCol).as("id"))
          (surv, (df: DataFrame) => df.join(keptIds, Seq("id"), "left_semi"))
        }
      st.overwriteOwn(survivors.drop("content_md5") -> s"$stateDir/out",
        survivors.select(col("content_md5")) -> digestsRoot,
        kept(nToks) -> toksRoot, kept(nBand) -> bandedRoot)
      Dedup.markIndexDirsChecked(spark, Seq(toksRoot, bandedRoot).map(st.ownDir),
        numHashes, bands, shingleSize)
    }

  /** `incrementalDedupSink`'s EXACT-ONLY sibling behind a Bloom pre-probe
    * — the streaming twin of `Dedup.exactIncrementalBloom`: every
    * micro-batch consults a driver-held Bloom sketch of ALL prior
    * survivors' digests FIRST (misses are provably novel and never touch
    * the digest tables), confirms hits through the plain digest
    * anti-join, lands survivors in `stateDir/out/`, and appends both the
    * survivors' digests AND the batch's OWN sketch to the state dir so
    * the NEXT batch probes the union. Sketch state layout mirrors the
    * digest state: one `batch=<id>` partition per micro-batch under
    * `stateDir/bloom/`, each holding that batch's serialized sketch as a
    * single binary row; the prior state is the OR-fold
    * (`BloomFilter.mergeInPlace` — Spark's own sketch, the same bytes
    * `BloomFilterAggregate` emits and `might_contain` consumes) of every
    * prior partition. Sketches are KB–MB-sized, so the fold is a
    * driver-side byte operation, not a job.
    *
    * Under the `StateSink` contract the sketch read excludes the batch's
    * own sketch too: reading it back would turn every row into a "hit"
    * that then fails the confirm join — correct, but wasteful. BOTH
    * `expectedItems` AND `numBits` must be constant per state dir:
    * mergeInPlace requires equal bit size AND equal hash-function count,
    * and the latter is derived from the (items, bits) PAIR — varying
    * either across batches of one state dir makes the next OR-fold throw
    * IncompatibleMergeException with the incompatible sketch already
    * persisted.
    */
  def bloomDedupSink(docs: DataFrame, stateDir: String, checkpoint: String,
                     expectedItems: Long = 1L << 17, numBits: Long = 1L << 21,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataStreamWriter[Row] =
    StateSink.sink(docs, checkpoint) { (batch, batchId) =>
      bloomDedupBatch(batch, batchId, stateDir, expectedItems, numBits,
        idCol, textCol)
    }

  /** One ingest iteration of `bloomDedupSink`, public so replay semantics
    * are directly testable (same-batchId re-run must converge).
    */
  def bloomDedupBatch(batch: DataFrame, batchId: Long, stateDir: String,
                      expectedItems: Long = 1L << 17, numBits: Long = 1L << 21,
                      idCol: String = "doc_id", textCol: String = "text"): Unit =
    StateSink.run(batch, batchId) { st =>
      import graft.ops.Dedup
      val spark = st.spark
      val digestsRoot = s"$stateDir/digests"
      val bloomRoot = s"$stateDir/bloom"
      val priorDigests = st.readPrior(digestsRoot,
        Dedup.contentDigests(batch.limit(0), textCol).schema)
      // OR-fold the prior sketches on the driver — KBs per batch, and
      // mergeInPlace is Spark's own compatibility-checked sketch union
      val priorSketches = st.readPrior(bloomRoot,
          StructType(Seq(StructField("bf", BinaryType))))
        .collect().map(_.getAs[Array[Byte]]("bf"))
      val survRaw =
        if (priorSketches.isEmpty)
          Dedup.exactIncremental(batch, priorDigests, idCol, textCol)
        else {
          val folded = priorSketches
            .map(b => org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(b)))
            .reduce { (a, b) => a.mergeInPlace(b); a }
          val out = new java.io.ByteArrayOutputStream()
          folded.writeTo(out)
          // the op's internal batch cache pins the sketch literal: one leaked
          // entry per batch would be unbounded driver growth
          val (surv, releaseBloom) = Dedup.exactIncrementalBloomWithHandle(
            batch, priorDigests, out.toByteArray, idCol, textCol)
          st.onEnd(releaseBloom)
          surv
        }
      val survivors = st.cache(batchSized(survRaw, batch))
      st.overwriteOwn(survivors.drop("content_md5") -> s"$stateDir/out",
        survivors.select(col("content_md5")) -> digestsRoot)
      // this batch's own sketch — built from the just-written digests so
      // the sketch and the table can never disagree about membership
      val own = Dedup.digestBloom(spark.read.parquet(st.ownDir(digestsRoot)),
        expectedItems, numBits)
      import spark.implicits._
      st.overwriteOwn(Seq(own).toDF("bf") -> bloomRoot)
    }

  /** Leaf-compact every batch-partitioned state root under `stateDir` that
    * has accumulated fragmented leaves — the run-over-run maintenance pass
    * (reference analogue: the scheduled re-run loop), run on whatever
    * cadence the operator of `incrementalDedupSink` chooses.
    */
  def maintainDedupState(spark: SparkSession, stateDir: String): Unit =
    Seq(s"$stateDir/digests", s"$stateDir/index/toks", s"$stateDir/index/banded")
      .foreach { root =>
        val fs = graft.etl.Load.fsFor(spark, root)
        val p = new org.apache.hadoop.fs.Path(root)
        if (fs.exists(p) &&
            fs.listStatus(p).exists(e => e.isDirectory && e.getPath.getName.contains("=")))
          graft.etl.Load.compactPartitioned(spark, root)
      }

  /** Streaming incremental aggregate maintenance (the live form of
    * `ops/IncrAgg`): every micro-batch lands ONLY its mergeable partials
    * (count/sum/min/max + HLL distinct sketch per group) under
    * `stateRoot/batch=<id>/`, so exact running aggregates are one
    * `IncrAgg.mergeState(IncrAgg.readState(...))` away at any moment —
    * over a state table of groups × batches rows, never the raw stream
    * history. The in-loop fold keeps that table bounded: once `foldEvery`
    * PRIOR batch dirs accumulate they collapse to one partial per group
    * (`IncrAgg.foldState`, bounded by the in-flight id as `StateSink`
    * requires).
    */
  def incrementalAggSink(rows: DataFrame, stateRoot: String,
                         checkpoint: String, keys: Seq[String],
                         value: org.apache.spark.sql.Column,
                         distinctOver: org.apache.spark.sql.Column,
                         foldEvery: Int = 8): DataStreamWriter[Row] =
    StateSink.sink(rows, checkpoint) { (batch, batchId) =>
      aggStateBatch(batch, batchId, stateRoot, keys, value, distinctOver, foldEvery)
    }

  /** One micro-batch of `incrementalAggSink`, public for direct testing
    * (and the crash-replay entry point: re-running the last uncommitted
    * batch id must leave state equivalent).
    */
  def aggStateBatch(batch: DataFrame, batchId: Long, stateRoot: String,
                    keys: Seq[String], value: org.apache.spark.sql.Column,
                    distinctOver: org.apache.spark.sql.Column,
                    foldEvery: Int = 8): Unit =
    StateSink.run(batch, batchId) { st =>
      st.overwriteOwn(
        graft.ops.IncrAgg.partialState(batch, keys, value, distinctOver) -> stateRoot)
      if (st.foldDue(stateRoot, foldEvery))
        graft.ops.IncrAgg.foldState(st.spark, stateRoot, keys, before = batchId)
    }

  /** Streaming vocabulary maintenance + OOV reporting: every micro-batch
    * of documents is scored against the vocabulary accumulated by PRIOR
    * batches (`Text.oovStats` — the vocab-drift monitor), then its own
    * vocabulary lands under `stateDir/vocab/batch=<id>/` so the NEXT batch
    * sees it. Reports land under `stateDir/report/batch=<id>/`.
    *
    * The per-batch vocab deltas carry duplicate (lang, token) rows across
    * batches by design (`oovStats` tests membership through a distinct);
    * `Load.compactPartitioned` folds the delta dirs on whatever
    * maintenance cadence the operator runs.
    */
  def oovSink(docs: DataFrame, stateDir: String,
              checkpoint: String): DataStreamWriter[Row] =
    StateSink.sink(docs, checkpoint) { (batch, batchId) =>
      oovDocumentBatch(batch, batchId, stateDir)
    }

  /** One micro-batch of `oovSink`, public for direct testing and crash
    * replay.
    */
  def oovDocumentBatch(batch: DataFrame, batchId: Long,
                       stateDir: String): Unit =
    StateSink.run(batch, batchId) { st =>
      val vocabRoot = s"$stateDir/vocab"
      val vocab = graft.ops.Text.vocabulary(batch)
      val prior = st.priorDirs(vocabRoot)
      val report =
        if (prior.isEmpty) // empty vocabulary: every occurrence is OOV
          batch.select(col("lang"),
              explode(graft.ops.Text.tokens(col("text"))).as("token"))
            .groupBy(col("lang"))
            .agg(count(lit(1)).as("n_tokens"), count(lit(1)).as("n_oov"))
            .withColumn("oov_bp", lit(10000L))
        else graft.ops.Text.oovStats(batch, st.readDirs(prior, vocab.schema))
      st.overwriteOwn(report -> s"$stateDir/report", vocab -> vocabRoot)
    }

  /** Streaming perplexity scoring — the log-domain sibling of `oovSink`:
    * every micro-batch of documents is scored by
    * `Text.unigramSurprisalAgainst` against the unigram LM accumulated by
    * PRIOR batches (per-token counts re-sum, so the merged LM is
    * identical to one trained on the union of every prior batch), then
    * its own token counts land under `stateDir/vocab/batch=<id>` for the
    * next batch. Per-doc surprisal reports land under
    * `stateDir/report/batch=<id>`. The FIRST batch has no LM — every
    * token prices at the 1e-6 clamp's maximum (13 815 510 µnat), the same
    * value the scorer gives an OOV token, so batch 0 is just the
    * everything-is-OOV corner of the same formula. `Load.compactPartitioned`
    * folds the vocab deltas on maintenance cadence (counts re-sum).
    */
  def perplexitySink(docs: DataFrame, stateDir: String,
                     checkpoint: String): DataStreamWriter[Row] =
    StateSink.sink(docs, checkpoint) { (batch, batchId) =>
      perplexityDocumentBatch(batch, batchId, stateDir)
    }

  /** One micro-batch of `perplexitySink`, public for direct testing and
    * crash replay.
    */
  def perplexityDocumentBatch(batch: DataFrame, batchId: Long,
                              stateDir: String): Unit =
    StateSink.run(batch, batchId) { st =>
      val vocabRoot = s"$stateDir/vocab"
      val counts = graft.ops.Text.tokenCounts(batch)
      val prior = st.priorDirs(vocabRoot)
      val report =
        if (prior.isEmpty) // no LM yet: every token at the clamp maximum
          batch.select(col("doc_id"),
              explode(graft.ops.Text.tokens(col("text"))).as("token"))
            .filter(col("token") =!= "")
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).cast("long").as("n_tokens"))
            .select(col("doc_id"), col("n_tokens"),
              (col("n_tokens") * lit(13815510L)).as("surprisal_total"),
              lit(13815510L).as("surprisal_per_tok"))
        else graft.ops.Text.unigramSurprisalAgainst(batch,
          st.readDirs(prior, counts.schema)
            .groupBy(col("token")).agg(sum(col("cnt")).as("cnt")))
      st.overwriteOwn(report -> s"$stateDir/report", counts -> vocabRoot)
    }

  /** Streaming collocation state: each micro-batch's windowed pair +
    * unigram counts (`Text.pmiState` — the mergeable PMI frame) land under
    * `stateDir/batch=<id>`; the top-k read side (`pmiTopK`) merges all
    * partials with one keyed sum, so the merged state — and therefore the
    * collocation report — is identical to one built from the union of
    * every batch (TextQueries' `text_pmi_incremental` pins the same
    * equivalence against the full-recompute oracle).
    * `Load.compactPartitioned` folds delta dirs on maintenance cadence
    * (partials stay partials — counts re-sum).
    */
  def pmiSink(docs: DataFrame, stateDir: String, checkpoint: String,
              window: Int): DataStreamWriter[Row] =
    StateSink.sink(docs, checkpoint) { (batch, batchId) =>
      pmiDocumentBatch(batch, batchId, stateDir, window)
    }

  /** One micro-batch of `pmiSink`, public for direct testing and crash
    * replay. Its token cache serves the multi-branch state build and is
    * released with the batch.
    */
  def pmiDocumentBatch(batch: DataFrame, batchId: Long, stateDir: String,
                       window: Int): Unit =
    StateSink.run(batch, batchId) { st =>
      val toks = st.cache(batch.select(graft.ops.Text.tokens(col("text")).as("l")))
      st.overwriteOwn(graft.ops.Text.pmiStateFromTokens(toks, window) -> stateDir)
    }

  /** Read side of `pmiSink`: top-k collocations from the merged stored
    * state — never the raw document history. cache=false: the state is a
    * parquet-backed table, so re-reading it per branch costs less than
    * leaking one session cache entry per monitoring call.
    */
  def pmiTopK(spark: SparkSession, stateDir: String, topK: Int,
              minCount: Long): DataFrame = {
    // explicit no-state-yet guard: before the first committed batch the
    // raw parquet read would throw an opaque unable-to-infer-schema error
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = graft.etl.Load.fsFor(spark, stateDir)
    require(fs.exists(dir) && fs.listStatus(dir).exists(_.isDirectory),
      s"no stored PMI state under $stateDir (has the pmiSink committed a batch yet?)")
    graft.ops.Text.pmiFromState(
      graft.ops.Text.mergePmiState(
        spark.read.parquet(stateDir).drop("batch")),
      topK, minCount, cache = false)
  }

  /** Streaming count-min frequency state: each micro-batch reduces to ONE
    * serialized fixed-size sketch row under `stateDir/batch=<id>` — the
    * cheapest possible streaming frequency monitor (no per-key state at
    * all; the sink ships depth×width counters per batch regardless of
    * cardinality). `Sketch.heavyHittersCmsStored` merges the stored
    * sketches cell-wise — exact counter addition, so the merged sketch is
    * bit-identical to a one-pass sketch over the whole stream.
    */
  def cmsSink(rows: DataFrame, stateDir: String, checkpoint: String,
              key: Column, eps: Double = 0.001, confidence: Double = 0.99,
              seed: Int = 42): DataStreamWriter[Row] =
    StateSink.sink(rows, checkpoint) { (batch, batchId) =>
      cmsBatch(batch, batchId, stateDir, key, eps, confidence, seed)
    }

  /** One micro-batch of `cmsSink`, public for direct testing and crash
    * replay.
    */
  def cmsBatch(batch: DataFrame, batchId: Long, stateDir: String,
               key: Column, eps: Double, confidence: Double,
               seed: Int): Unit =
    StateSink.run(batch, batchId) { st =>
      st.overwriteOwn(batch.agg(
        count_min_sketch(key, lit(eps), lit(confidence), lit(seed)).as("s")) -> stateDir)
    }

  /** Streaming distribution-drift monitoring: every micro-batch is scored
    * (`Quality.psiDriftFromCounts`) against the reference histogram
    * accumulated by PRIOR batches, then its own `(bucket, n)` histogram
    * lands under `stateDir/hist/batch=<id>/` so the reference grows with
    * the stream. Reports land under `stateDir/report/batch=<id>/`. The
    * FIRST batch scores against an empty reference — finite under the
    * Laplace smoothing (uniform prior), and flagged by `ref_n = 0` rows.
    * Per-batch histograms are ≤ `nBuckets` rows each; merging is one
    * keyed sum at read time, and `Load.compactPartitioned` folds the
    * delta dirs on maintenance cadence.
    */
  def driftSink(docs: DataFrame, stateDir: String, checkpoint: String,
                bucket: Column, nBuckets: Int): DataStreamWriter[Row] =
    StateSink.sink(docs, checkpoint) { (batch, batchId) =>
      driftDocumentBatch(batch, batchId, stateDir, bucket, nBuckets)
    }

  /** One micro-batch of `driftSink`, public for direct testing and crash
    * replay.
    */
  def driftDocumentBatch(batch: DataFrame, batchId: Long, stateDir: String,
                         bucket: Column, nBuckets: Int): Unit =
    StateSink.run(batch, batchId) { st =>
      val histRoot = s"$stateDir/hist"
      val hist = graft.ops.Quality.histogram(batch, bucket)
      val ref = st.readPrior(histRoot, hist.schema)
        .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
      st.overwriteOwn(
        graft.ops.Quality.psiDriftFromCounts(ref, batch, bucket, nBuckets) ->
          s"$stateDir/report",
        hist -> histRoot)
    }
}
