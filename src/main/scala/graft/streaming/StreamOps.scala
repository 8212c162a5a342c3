package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
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

  /** Stream-STATIC enrichment join: each streaming event decorated with a
    * static dimension row (user profile / segment lookup) — the third leg
    * of the streaming join taxonomy next to stream-stream
    * (`clicksAfterSignup`) and the stateful sinks. STATELESS by
    * construction: the static side needs no watermark and holds no join
    * state — every micro-batch is a plain batch join, and the dimension is
    * explicitly `broadcast` so at cluster scale each executor hash-probes
    * a local map instead of shuffling the event stream (dimension tables
    * are segment-sized; the 100 TB side must never move for them). LEFT
    * join: an event whose key is missing from the dimension passes through
    * with nulls — enrichment must not drop facts.
    */
  def enrichWithDimension(events: DataFrame, dim: DataFrame,
                          key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

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

  /** Keyed-upsert sink via foreachBatch: each micro-batch MERGEs into a
    * Parquet table by key (latest event per key wins within the batch via
    * deterministic ordering). The streaming twin of the reference's
    * `INSERT OR REPLACE` run-metadata sink (K3) — exactly-once per key given
    * checkpointed batch ids.
    *
    * COST: the merge rewrites the WHOLE table every micro-batch — right for
    * its run-metadata-sized use (the reference's etl_runs table), O(table)
    * per trigger on anything larger. For large keyed tables use
    * `upsertSinkPartitioned`, which rewrites only the key partitions a
    * batch touches.
    */
  def upsertSink(df: DataFrame, path: String, checkpoint: String,
                 keys: Seq[String], orderCols: Seq[String]): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val latest = graft.ops.Relational.firstPerKey(
          batch, keys, orderCols.map(c => col(c).desc))
        val fs = graft.etl.Load.fsFor(spark, path)
        val merged =
          if (fs.exists(new org.apache.hadoop.fs.Path(path)))
            graft.ops.Relational.upsertByKey(
              spark.read.parquet(path), latest, keys)
          else latest
        graft.etl.Load.replaceTable(spark, merged, path)
        ()
      }

  /** `upsertSink` for LARGE keyed tables: the table is hash-partitioned on
    * the key into `nParts` `_kp=<n>` directories, and each micro-batch
    * merges into and dynamically overwrites ONLY the partitions its keys
    * hash into — per-trigger cost is O(touched partitions), not O(table).
    * `_kp` is an internal layout column (readers can ignore or drop it).
    * Replay-idempotent: the merge is a keyed upsert, so re-running a batch
    * rewrites the same partitions to the same contents.
    */
  def upsertSinkPartitioned(df: DataFrame, path: String, checkpoint: String,
                            keys: Seq[String], orderCols: Seq[String],
                            nParts: Int = 64): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatchPartitioned(batch, path, keys, orderCols, nParts)
      }

  /** One micro-batch of `upsertSinkPartitioned`, public for direct testing
    * (and usable as a batch-mode MERGE). The touched-partition list is a
    * config-bounded driver collect (≤ `nParts` values).
    */
  def upsertBatchPartitioned(batch: DataFrame, path: String,
                             keys: Seq[String], orderCols: Seq[String],
                             nParts: Int): Unit = {
    val spark = batch.sparkSession
    val latest = graft.ops.Relational.firstPerKey(
        batch, keys, orderCols.map(c => col(c).desc))
      .withColumn("_kp", pmod(hash(keys.map(col): _*), lit(nParts)))
    val fs = graft.etl.Load.fsFor(spark, path)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
    val merged =
      if (!exists) latest
      else {
        val touched = latest.select(col("_kp")).distinct()
          .collect().map(_.getInt(0))
        // partition pruning keeps this read to the touched directories only
        val existing = spark.read.parquet(path)
          .filter(col("_kp").isin(touched.map(Int.box): _*))
        graft.ops.Relational.upsertByKey(existing, latest, keys)
      }
    merged.repartition(col("_kp"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_kp").parquet(path)
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

  /** The exactly-once batch-state primitives every foreachBatch sink here
    * shares — ONE copy of the discipline instead of a per-sink closure
    * trio: prior-state reads EXCLUDE the in-flight batch id (a
    * half-committed previous attempt cannot poison its own replay; a
    * root whose only content is a half-written dir with no committed
    * parquet reads as the empty fallback), and writes OVERWRITE exactly
    * that batch's `batch=<id>` partition, so replay converges to
    * identical state wherever the previous attempt died. Reads pin the
    * state's known schema, so they launch no schema-inference job.
    */
  private final class BatchState(spark: SparkSession, val batchId: Long) {
    def hasData(p: String): Boolean =
      graft.etl.Load.fsFor(spark, p).exists(new org.apache.hadoop.fs.Path(p))
    /** The prior `batch=<id>` dirs under `root` (this batch's excluded),
      * listed on the driver, so a reader knows which partitions it reads. */
    def priorDirs(root: String): Seq[String] =
      if (!hasData(root)) Nil
      else graft.etl.Load.fsFor(spark, root)
        .listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .map(_.getPath.getName)
        .filter(n => n.startsWith("batch=") && n != s"batch=$batchId")
        .sorted.map(n => s"$root/$n")
    def readDirsOr(dirs: Seq[String], schema: StructType): DataFrame =
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).parquet(dirs: _*)
    def readPriorOr(root: String, schema: StructType): DataFrame =
      readDirsOr(priorDirs(root), schema)
    def overwriteOwn(df: DataFrame, root: String): Unit =
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/batch=$batchId")
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
    * stored state. One action fills the batch's caches (exact survivors,
    * shingle sets, band rows). When the signed batch's measured size is
    * within the session's `spark.sql.autoBroadcastJoinThreshold`, the batch
    * side is broadcast into every band join and the corpus candidate pairs
    * into the stored-shingle join, so the stored index is streamed, never
    * shuffled; the flagged ids are then collected once and filter the
    * survivors and the appended index rows. Otherwise (or at -1) the joins
    * shuffle and the flagged ids stay a distributed anti join. The stored
    * index's geometry is checked once per stored partition and parameter
    * set (`Dedup.minHashPreflightDirs`): partitions this sink wrote in this
    * JVM count as checked, so a steady batch samples nothing. Every cache a
    * batch creates is released before it returns.
    *
    * State layout — every table batch-partitioned (`.../batch=<id>/`):
    * {{{
    *   stateDir/digests/batch=<id>/        content_md5 of survivors
    *   stateDir/index/toks/batch=<id>/     shingle sets  (id, ts)
    *   stateDir/index/banded/batch=<id>/   band keys     (id, band, band_key)
    *   stateDir/out/batch=<id>/            surviving document rows
    * }}}
    *
    * EXACTLY-ONCE under restart, by construction rather than by marker
    * files: foreachBatch re-delivers the last uncommitted batch id after a
    * crash, and `dedupDocumentBatch` (a) excludes the CURRENT batch id from
    * every state read — a half-committed previous attempt cannot poison
    * its own recomputation (reading this batch's own appended digests back
    * would kill every row as a "duplicate" and overwrite good output with
    * nothing) — and (b) OVERWRITES exactly its own `batch=<id>` dirs, so a
    * replay converges to the identical state no matter where the previous
    * attempt died. Batch ids are checkpoint-stable, which makes that
    * overwrite well-defined.
    */
  def incrementalDedupSink(docs: DataFrame, stateDir: String, checkpoint: String,
                           threshold: Double = 0.5,
                           numHashes: Int = 16, bands: Int = 8,
                           shingleSize: Int = 3,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
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
    minHashDedupBatch(batch, new BatchState(batch.sparkSession, batchId),
      stateDir, Nil, threshold, numHashes, bands, shingleSize, idCol, textCol)

  /** The per-batch body both MinHash dedup sinks share. The stored delta
    * index and each `baseIndexes` (toks, banded) pair are probed
    * separately, so a bucketed base keeps its layout in a shuffled probe.
    */
  private def minHashDedupBatch(batch: DataFrame, st: BatchState,
                                stateDir: String,
                                baseIndexes: Seq[(DataFrame, DataFrame)],
                                threshold: Double, numHashes: Int, bands: Int,
                                shingleSize: Int, idCol: String,
                                textCol: String): Unit = {
    import graft.ops.Dedup
    val spark = batch.sparkSession
    val digestsRoot = s"$stateDir/digests"
    val toksRoot = s"$stateDir/index/toks"
    val bandedRoot = s"$stateDir/index/banded"
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val priorDigests = st.readPriorOr(digestsRoot,
      Dedup.contentDigests(batch.limit(0), textCol).schema)
    val exact = batchSized(
      Dedup.exactIncremental(batch, priorDigests, idCol, textCol), batch)
      .persist(mem)
    val (nToks, nBand, releaseSigned) = Dedup.minHashSide(exact, numHashes,
      bands, shingleSize, idCol, textCol, mem)
    // one action fills all three caches (banded reads toks reads exact),
    // so the broadcast gate below sees measured sizes, not plan estimates;
    // a plain scan, not count(), whose aggregate would add an exchange
    nBand.foreachPartition((rows: Iterator[Row]) => rows.foreach(_ => ()))
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    // a fresh plan over the cache re-reads its stats (sizes are >= 0, so a
    // threshold of -1 never fits)
    def fits(df: DataFrame) =
      df.select(col("*")).queryExecution.optimizedPlan.stats.sizeInBytes <= limit
    val broadcastBatch = fits(nToks) && fits(nBand)
    // the delta index is read as the listed prior dirs, so the geometry
    // check covers exactly what the probe reads; the bootstrap batch probes
    // an empty delta index (in-batch near-dups are caught by the probe's
    // NEW×earlier-NEW leg)
    val (toksDirs, bandedDirs) = (st.priorDirs(toksRoot), st.priorDirs(bandedRoot))
    Dedup.minHashPreflightDirs(spark, toksDirs, bandedDirs, numHashes, bands,
      shingleSize)
    baseIndexes.foreach { case (toks, banded) =>
      Dedup.minHashPreflight(toks, banded, numHashes, bands, shingleSize)
    }
    val indexes = (st.readDirsOr(toksDirs, nToks.schema),
      st.readDirsOr(bandedDirs, nBand.schema)) +: baseIndexes
    val flagged = indexes.map { case (toks, banded) =>
      Dedup.minHashProbePairs(nToks, nBand, toks, banded, threshold,
        broadcastBatch).select(col("i").as(idCol))
    }.reduce(_ unionByName _).distinct()
    // survivors and the index rows kept for them. Flagged ids are distinct
    // batch ids, so they fit wherever the batch does: collected once, they
    // filter all three frames with no further join. A NULL id is never
    // flagged and survives, as under the anti join (the exact step drops
    // NULL ids, so none reach here).
    val (survivors, kept, releaseSurvivors) =
      if (broadcastBatch) {
        val ids = flagged.collect().filterNot(_.isNullAt(0)).map(_.get(0))
        def novel(df: DataFrame, c: String) =
          if (ids.isEmpty) df else df.filter(col(c).isNull || !col(c).isin(ids: _*))
        (novel(exact, idCol), novel(_: DataFrame, "id"), () => ())
      } else {
        val surv = exact.join(flagged, Seq(idCol), "left_anti").persist(mem)
        val keptIds = surv.select(col(idCol).as("id"))
        (surv, (df: DataFrame) => df.join(keptIds, Seq("id"), "left_semi"),
          () => { surv.unpersist(); () })
      }
    st.overwriteOwn(survivors.drop("content_md5"), s"$stateDir/out")
    st.overwriteOwn(survivors.select(col("content_md5")), digestsRoot)
    st.overwriteOwn(kept(nToks), toksRoot)
    st.overwriteOwn(kept(nBand), bandedRoot)
    Dedup.markIndexDirsChecked(spark, Seq(toksRoot, bandedRoot)
      .map(r => s"$r/batch=${st.batchId}"), numHashes, bands, shingleSize)
    releaseSurvivors()
    releaseSigned()
    exact.unpersist()
    ()
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
    * partition EXCEPT the current batch id. Sketches are KB–MB-sized, so
    * the fold is a driver-side byte operation, not a job.
    *
    * EXACTLY-ONCE inherits `dedupDocumentBatch`'s construction: state
    * reads exclude the current batch id (a half-committed previous
    * attempt cannot poison its own replay — reading this batch's own
    * sketch back would kill every row as a "hit" that then fails the
    * confirm join, which is CORRECT but wasteful; reading its own
    * digests back would kill rows as duplicates, which is WRONG — both
    * are excluded), and writes overwrite exactly their own `batch=<id>`
    * dirs, so replay converges to identical state. BOTH `expectedItems`
    * AND `numBits` must be constant per state dir: mergeInPlace requires
    * equal bit size AND equal hash-function count, and the latter is
    * derived from the (items, bits) PAIR — varying either across batches
    * of one state dir makes the next OR-fold throw
    * IncompatibleMergeException with the incompatible sketch already
    * persisted.
    */
  def bloomDedupSink(docs: DataFrame, stateDir: String, checkpoint: String,
                     expectedItems: Long = 1L << 17, numBits: Long = 1L << 21,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        bloomDedupBatch(batch, batchId, stateDir, expectedItems, numBits,
          idCol, textCol)
      }

  /** One ingest iteration of `bloomDedupSink`, public so replay semantics
    * are directly testable (same-batchId re-run must converge).
    */
  def bloomDedupBatch(batch: DataFrame, batchId: Long, stateDir: String,
                      expectedItems: Long = 1L << 17, numBits: Long = 1L << 21,
                      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    import graft.ops.Dedup
    val spark = batch.sparkSession
    val st = new BatchState(spark, batchId)
    import st.{readPriorOr, overwriteOwn}
    val digestsRoot = s"$stateDir/digests"
    val bloomRoot = s"$stateDir/bloom"
    val priorDigests = readPriorOr(digestsRoot,
      Dedup.contentDigests(batch.limit(0), textCol).schema)
    // OR-fold the prior sketches on the driver — KBs per batch, and
    // mergeInPlace is Spark's own compatibility-checked sketch union
    val priorSketches = readPriorOr(bloomRoot,
        StructType(Seq(StructField("bf", BinaryType))))
      .collect().map(_.getAs[Array[Byte]]("bf"))
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val (survRaw, releaseBloom) =
      if (priorSketches.isEmpty)
        (Dedup.exactIncremental(batch, priorDigests, idCol, textCol),
          () => ())
      else {
        val folded = priorSketches
          .map(b => org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(b)))
          .reduce { (a, b) => a.mergeInPlace(b); a }
        val out = new java.io.ByteArrayOutputStream()
        folded.writeTo(out)
        // WithHandle: the op's internal batch cache must be RELEASED per
        // micro-batch — one leaked CacheManager entry per batch, each
        // pinning the sketch literal, is unbounded driver growth
        Dedup.exactIncrementalBloomWithHandle(batch, priorDigests,
          out.toByteArray, idCol, textCol)
      }
    val survivors = batchSized(survRaw, batch).persist(mem)
    overwriteOwn(survivors.drop("content_md5"), s"$stateDir/out")
    overwriteOwn(survivors.select(col("content_md5")), digestsRoot)
    // this batch's own sketch — built from the just-written digests so
    // the sketch and the table can never disagree about membership
    val own = Dedup.digestBloom(
      spark.read.parquet(s"$digestsRoot/batch=$batchId"),
      expectedItems, numBits)
    import spark.implicits._
    overwriteOwn(Seq(own).toDF("bf"), bloomRoot)
    survivors.unpersist()
    releaseBloom()
    ()
  }

  /** `incrementalDedupSink` with a BUCKETED corpus index: the plain sink's
    * stored banded table is one parquet dir per micro-batch, so every probe
    * re-shuffles the whole corpus side; here the long-lived corpus rows
    * live in bucketed base tables (`<indexName>_toks` bucketed by id,
    * `<indexName>_banded` bucketed by (band, band_key) — exactly the probe
    * join's keys, so the corpus side reads pre-shuffled with ZERO exchange)
    * and only the most recent batches' rows wait in small `batch=<id>`
    * delta dirs. Maintenance runs inside the sink loop: once `foldEvery`
    * prior deltas accumulate they are folded into the base (one bucketed
    * append — the deltas are batch-sized, so the append's shuffle is tiny)
    * and the digest state is leaf-compacted.
    *
    * Exactly-once story is UNCHANGED from the plain sink: state reads
    * exclude the current batch id (base rows are always prior batches —
    * folding excludes the in-flight batch), writes overwrite exactly their
    * own `batch=<id>` dirs. A crash between fold's append and its delta
    * deletes re-folds on the next cadence — duplicated index rows cost
    * probe work but never correctness (candidates are distinct'ed, the
    * verify re-derives identical pairs): the same retry-then-compact
    * contract as `Dedup.appendToMinHashIndex`.
    */
  def incrementalDedupSinkBucketed(docs: DataFrame, stateDir: String,
                                   checkpoint: String,
                                   load: graft.etl.Load, indexName: String,
                                   buckets: Int, foldEvery: Int = 8,
                                   threshold: Double = 0.5,
                                   numHashes: Int = 16, bands: Int = 8,
                                   shingleSize: Int = 3,
                                   idCol: String = "doc_id",
                                   textCol: String = "text"): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupDocumentBatchBucketed(batch, batchId, stateDir, load, indexName,
          buckets, foldEvery, threshold, numHashes, bands, shingleSize,
          idCol, textCol)
      }

  /** One ingest iteration of `incrementalDedupSinkBucketed` (public for
    * replay testing, like `dedupDocumentBatch`): dedup against bucketed
    * base + unfolded deltas, land survivors + own deltas, then maintain.
    */
  def dedupDocumentBatchBucketed(batch: DataFrame, batchId: Long,
                                 stateDir: String,
                                 load: graft.etl.Load, indexName: String,
                                 buckets: Int, foldEvery: Int = 8,
                                 threshold: Double = 0.5,
                                 numHashes: Int = 16, bands: Int = 8,
                                 shingleSize: Int = 3,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    val st = new BatchState(spark, batchId)
    // the bucketed base (prior batches folded by maintenance) is probed
    // beside the unfolded deltas, not unioned with them: a union would
    // discard the bucket layout the shuffled probe relies on
    val base =
      if (spark.catalog.tableExists(s"${indexName}_toks") &&
          st.hasData(load.tablePath(s"${indexName}_toks")))
        Seq((spark.table(s"${indexName}_toks"), spark.table(s"${indexName}_banded")))
      else Nil
    minHashDedupBatch(batch, st, stateDir, base, threshold, numHashes, bands,
      shingleSize, idCol, textCol)
    foldIndexDeltas(spark, load, indexName, buckets, s"$stateDir/index/toks",
      s"$stateDir/index/banded", excludeBatch = batchId, foldEvery,
      numHashes, bands, shingleSize, alsoCompact = Seq(s"$stateDir/digests"))
  }

  /** Maintenance half of the bucketed sink: fold prior batches' index
    * deltas into the bucketed base tables (creating them on first fold) and
    * leaf-compact the listed batch-partitioned state roots. No-op until
    * `foldEvery` prior deltas exist, so steady-state batches pay nothing.
    */
  private def foldIndexDeltas(spark: SparkSession, load: graft.etl.Load,
                              indexName: String, buckets: Int,
                              toksRoot: String, bandedRoot: String,
                              excludeBatch: Long, foldEvery: Int,
                              numHashes: Int, bands: Int, shingleSize: Int,
                              alsoCompact: Seq[String]): Unit = {
    import graft.ops.Dedup
    val fs = graft.etl.Load.fsFor(spark, toksRoot)
    def deltaIds(root: String): Set[Long] = {
      val p = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).toSet - excludeBatch
    }
    // fold only dirs present on BOTH sides: a crash between the two delta
    // writes leaves a half-landed batch that its replay will overwrite
    val ids = (deltaIds(toksRoot) intersect deltaIds(bandedRoot)).toSeq.sorted
    if (ids.size < foldEvery) return
    val toksDf = spark.read.parquet(ids.map(i => s"$toksRoot/batch=$i"): _*)
    val bandedDf = spark.read.parquet(ids.map(i => s"$bandedRoot/batch=$i"): _*)
    if (!spark.catalog.tableExists(s"${indexName}_toks")) {
      Dedup.writeMinHashIndexBucketedFrames(load, toksDf, bandedDf,
        indexName, buckets)
    } else {
      Dedup.minHashPreflight(spark.table(s"${indexName}_toks"),
        spark.table(s"${indexName}_banded"), numHashes, bands, shingleSize)
      load.appendBucketed(toksDf, s"${indexName}_toks", buckets, Seq("id"))
      load.appendBucketed(bandedDf, s"${indexName}_banded", buckets,
        Seq("band", "band_key"))
    }
    ids.foreach { i =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$toksRoot/batch=$i"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$bandedRoot/batch=$i"), true)
    }
    alsoCompact.foreach(root => compactStateRoot(spark, root))
  }

  /** Leaf-compact every batch-partitioned state root under `stateDir` that
    * has accumulated fragmented leaves — the run-over-run maintenance pass
    * (reference analogue: the scheduled re-run loop). Public so operators
    * of the PLAIN `incrementalDedupSink` (whose index stays per-batch
    * parquet) can run it on their own cadence too.
    */
  def maintainDedupState(spark: SparkSession, stateDir: String): Unit =
    Seq(s"$stateDir/digests", s"$stateDir/index/toks", s"$stateDir/index/banded")
      .foreach(root => compactStateRoot(spark, root))

  private def compactStateRoot(spark: SparkSession, root: String): Unit = {
    val fs = graft.etl.Load.fsFor(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    if (fs.exists(p) &&
        fs.listStatus(p).exists(e => e.isDirectory && e.getPath.getName.contains("=")))
      graft.etl.Load.compactPartitioned(spark, root)
    ()
  }

  /** Streaming incremental aggregate maintenance (the live form of
    * `ops/IncrAgg`): every micro-batch lands ONLY its mergeable partials
    * (count/sum/min/max + HLL distinct sketch per group) under
    * `stateRoot/batch=<id>/`, so exact running aggregates are one
    * `IncrAgg.mergeState(IncrAgg.readState(...))` away at any moment —
    * over a state table of groups × batches rows, never the raw stream
    * history. The in-loop fold keeps that table bounded: once `foldEvery`
    * PRIOR batch dirs accumulate they collapse to one partial per group.
    *
    * Exactly-once: the partial write overwrites exactly its own
    * `batch=<id>` dir, and the fold passes the in-flight batch id as its
    * exclusive upper bound (`IncrAgg.foldState(before = id)`) — see the
    * fold's scaladoc for why absorbing the in-flight batch would let a
    * crash-replay double-count it.
    */
  def incrementalAggSink(rows: DataFrame, stateRoot: String,
                         checkpoint: String, keys: Seq[String],
                         value: org.apache.spark.sql.Column,
                         distinctOver: org.apache.spark.sql.Column,
                         foldEvery: Int = 8): DataStreamWriter[Row] =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        aggStateBatch(batch, id, stateRoot, keys, value, distinctOver, foldEvery)
      }

  /** One micro-batch of `incrementalAggSink`, public for direct testing
    * (and the crash-replay entry point: re-running the last uncommitted
    * batch id must leave state equivalent).
    */
  def aggStateBatch(batch: DataFrame, batchId: Long, stateRoot: String,
                    keys: Seq[String], value: org.apache.spark.sql.Column,
                    distinctOver: org.apache.spark.sql.Column,
                    foldEvery: Int = 8): Unit = {
    val spark = batch.sparkSession
    graft.ops.IncrAgg.writeState(
      graft.ops.IncrAgg.partialState(batch, keys, value, distinctOver),
      stateRoot, batchId)
    val fs = graft.etl.Load.fsFor(spark, stateRoot)
    val prior = fs.listStatus(new org.apache.hadoop.fs.Path(stateRoot))
      .count { s =>
        val n = s.getPath.getName
        s.isDirectory && n.startsWith("batch=") &&
          n.stripPrefix("batch=").forall(_.isDigit) &&
          n.stripPrefix("batch=").toLong < batchId
      }
    if (prior >= foldEvery)
      graft.ops.IncrAgg.foldState(spark, stateRoot, keys, before = batchId)
  }

  /** Streaming JOIN-view maintenance (ops/Ivm): a stream of SIGNED
    * left-fact deltas (+1 insert / −1 delete; an update is the pair)
    * maintains `γ_keys(count, Σ value)(L ⋈ dim)` without ever re-joining
    * or re-aggregating history — the foreachBatch form of the
    * `ivm_join_agg` delta rule for the streaming-facts / static-dim
    * shape. Each micro-batch broadcast-joins its (batch-sized) deltas
    * against the dim, writes signed view partials under `batch=<id>`
    * (own-dir overwrite ⇒ crash-replay idempotent, the IncrAgg state
    * contract), and folds accumulated dirs every `foldEvery` batches so
    * the read side stays O(groups). `Ivm.mergeView(baseView,
    * Ivm.readViewDeltas(...))` is the serving read.
    */
  def ivmViewSink(deltas: DataFrame, dim: DataFrame, stateRoot: String,
                  checkpoint: String, keys: Seq[String],
                  lKey: String, rKey: String, value: Column,
                  foldEvery: Int = 8): DataStreamWriter[Row] =
    deltas.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ivmDeltaBatch(batch, id, dim, stateRoot, keys, lKey, rKey, value,
          foldEvery)
      }

  /** One micro-batch of `ivmViewSink`, public for direct testing and as
    * the crash-replay entry point (re-running the last uncommitted batch
    * id must leave state equivalent). The in-flight batch id is excluded
    * from the fold — the aggStateBatch discipline; absorbing it would
    * double-count its rows when foreachBatch re-delivers after a crash.
    */
  def ivmDeltaBatch(batch: DataFrame, batchId: Long, dim: DataFrame,
                    stateRoot: String, keys: Seq[String],
                    lKey: String, rKey: String, value: Column,
                    foldEvery: Int = 8): Unit = {
    val spark = batch.sparkSession
    val joined = broadcast(batch).join(dim, col(lKey) === col(rKey))
    graft.ops.Ivm.writeViewDelta(
      graft.ops.Ivm.viewPartial(joined, keys, value, col("sign")),
      stateRoot, batchId)
    val fs = graft.etl.Load.fsFor(spark, stateRoot)
    val prior = fs.listStatus(new org.apache.hadoop.fs.Path(stateRoot))
      .count { s =>
        val n = s.getPath.getName
        s.isDirectory && n.startsWith("batch=") &&
          n.stripPrefix("batch=").forall(_.isDigit) &&
          n.stripPrefix("batch=").toLong < batchId
      }
    if (prior >= foldEvery)
      graft.ops.Ivm.foldViewDeltas(spark, stateRoot, keys, before = batchId)
  }

  /** File-source stream of embedding rows — the ingest feed for
    * `embeddingDedupSink`. JSON lines `{"vec_id": …, "embedding": […]}`.
    */
  def readEmbeddingStream(spark: SparkSession, dir: String,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(dir)
  }

  /** The EMBEDDING twin of `incrementalDedupSink`: every micro-batch of
    * vectors is probed against the stored sign-LSH index
    * (`Vectors.cosineIncrementalIndexed` — NEW×CORPUS and NEW×earlier-NEW
    * band joins only, the corpus is never re-banded), novel survivors land
    * in `stateDir/out/`, and the survivors' normed + banded rows are
    * appended so the NEXT batch dedups against them. This is the semantic
    * half of a streaming ingest pipeline (the MinHash sink is the lexical
    * half): paraphrase-duplicates arrive continuously too.
    *
    * State layout and EXACTLY-ONCE contract are identical to
    * `dedupDocumentBatch`: per-batch dirs (`normed/banded/out` under
    * `batch=<id>/`), state reads exclude the in-flight batch id, writes
    * overwrite exactly their own dirs — crash-replay converges to
    * identical state. Deltas are foldable by `Load.compactPartitioned` on
    * whatever maintenance cadence the operator runs.
    */
  def embeddingDedupSink(vecs: DataFrame, stateDir: String, checkpoint: String,
                         threshold: Double = 0.9,
                         planesPerBand: Int = 2, bands: Int = 16,
                         dims: Int = 64,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataStreamWriter[Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        embeddingDedupBatch(batch, batchId, stateDir, threshold,
          planesPerBand, bands, dims, idCol, vecCol)
      }

  /** One ingest iteration of `embeddingDedupSink`, public for replay
    * testing: same batch id twice must leave state and output identical.
    */
  def embeddingDedupBatch(batch: DataFrame, batchId: Long, stateDir: String,
                          threshold: Double = 0.9,
                          planesPerBand: Int = 2, bands: Int = 16,
                          dims: Int = 64,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Unit = {
    import graft.ops.Vectors
    val spark = batch.sparkSession
    val st = new BatchState(spark, batchId)
    import st.{readPriorOr, overwriteOwn}
    val none = org.apache.spark.storage.StorageLevel.NONE
    val emptyIndex =
      Vectors.cosineIndex(batch.limit(0), planesPerBand, bands, dims,
        idCol, vecCol, none)
    val priorNormed = readPriorOr(s"$stateDir/normed", emptyIndex._1.schema)
    val priorBanded = readPriorOr(s"$stateDir/banded", emptyIndex._2.schema)
    val flagged = Vectors.cosineIncrementalIndexed(batch, priorNormed,
      priorBanded, threshold, planesPerBand, bands, dims, idCol, vecCol)
    val survivors = batch
      .join(flagged.select(col(idCol)), Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    overwriteOwn(survivors, s"$stateDir/out")
    val (sNormed, sBanded) =
      Vectors.cosineIndex(survivors, planesPerBand, bands, dims,
        idCol, vecCol, none)
    overwriteOwn(sNormed, s"$stateDir/normed")
    overwriteOwn(sBanded, s"$stateDir/banded")
    survivors.unpersist()
    ()
  }

  /** Streaming vocabulary maintenance + OOV reporting: every micro-batch
    * of documents is scored against the vocabulary accumulated by PRIOR
    * batches (`Text.oovStats` — the vocab-drift monitor), then its own
    * vocabulary lands under `stateDir/vocab/batch=<id>/` so the NEXT batch
    * sees it. Reports land under `stateDir/report/batch=<id>/`.
    *
    * Exactly-once by the usual state-dir contract: reads exclude the
    * in-flight batch id, writes overwrite exactly their own `batch=` dirs
    * — a crash-replay recomputes the identical report from the identical
    * prior-batch state. The per-batch vocab deltas carry duplicate
    * (lang, token) rows across batches by design (`oovStats` tests
    * membership through a distinct); `Load.compactPartitioned` folds the
    * delta dirs on whatever maintenance cadence the operator runs.
    */
  def oovSink(docs: DataFrame, stateDir: String,
              checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        oovDocumentBatch(batch, id, stateDir)
      }

  /** One micro-batch of `oovSink`, public for direct testing and crash
    * replay.
    */
  def oovDocumentBatch(batch: DataFrame, batchId: Long,
                       stateDir: String): Unit = {
    val spark = batch.sparkSession
    val vocabRoot = s"$stateDir/vocab"
    val fs = graft.etl.Load.fsFor(spark, vocabRoot)
    val prior =
      if (!fs.exists(new org.apache.hadoop.fs.Path(vocabRoot))) None
      else {
        val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(vocabRoot))
          .filter { s =>
            val n = s.getPath.getName
            s.isDirectory && n.startsWith("batch=") &&
              n.stripPrefix("batch=").forall(_.isDigit) &&
              n.stripPrefix("batch=").toLong != batchId // exclude own replay
          }
        if (dirs.isEmpty) None
        else Some(spark.read.option("basePath", vocabRoot)
          .parquet(dirs.map(_.getPath.toString): _*).drop("batch"))
      }
    val report = prior match {
      case Some(vocab) => graft.ops.Text.oovStats(batch, vocab)
      case None => // empty vocabulary: every occurrence is OOV
        batch.select(col("lang"),
            explode(graft.ops.Text.tokens(col("text"))).as("token"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_tokens"), count(lit(1)).as("n_oov"))
          .withColumn("oov_bp", lit(10000L))
    }
    report.write.mode("overwrite")
      .parquet(s"$stateDir/report/batch=$batchId")
    graft.ops.Text.vocabulary(batch).write.mode("overwrite")
      .parquet(s"$vocabRoot/batch=$batchId")
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
    * everything-is-OOV corner of the same formula.
    *
    * Exactly-once by the usual state-dir contract: reads exclude the
    * in-flight batch id, writes overwrite exactly their own `batch=`
    * dirs — a crash-replay recomputes the identical report from the
    * identical prior-batch state; `Load.compactPartitioned` folds the
    * vocab deltas on maintenance cadence (counts re-sum).
    */
  def perplexitySink(docs: DataFrame, stateDir: String,
                     checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        perplexityDocumentBatch(batch, id, stateDir)
      }

  /** One micro-batch of `perplexitySink`, public for direct testing and
    * crash replay.
    */
  def perplexityDocumentBatch(batch: DataFrame, batchId: Long,
                              stateDir: String): Unit = {
    val spark = batch.sparkSession
    val vocabRoot = s"$stateDir/vocab"
    val fs = graft.etl.Load.fsFor(spark, vocabRoot)
    val prior =
      if (!fs.exists(new org.apache.hadoop.fs.Path(vocabRoot))) None
      else {
        val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(vocabRoot))
          .filter { s =>
            val n = s.getPath.getName
            s.isDirectory && n.startsWith("batch=") &&
              n.stripPrefix("batch=").forall(_.isDigit) &&
              n.stripPrefix("batch=").toLong != batchId // exclude own replay
          }
        if (dirs.isEmpty) None
        else Some(spark.read.option("basePath", vocabRoot)
          .parquet(dirs.map(_.getPath.toString): _*)
          .groupBy(col("token")).agg(sum(col("cnt")).as("cnt")))
      }
    val report = prior match {
      case Some(lm) => graft.ops.Text.unigramSurprisalAgainst(batch, lm)
      case None => // no LM yet: every token at the clamp maximum
        batch.select(col("doc_id"),
            explode(graft.ops.Text.tokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_tokens"))
          .select(col("doc_id"), col("n_tokens"),
            (col("n_tokens") * lit(13815510L)).as("surprisal_total"),
            lit(13815510L).as("surprisal_per_tok"))
    }
    report.write.mode("overwrite")
      .parquet(s"$stateDir/report/batch=$batchId")
    graft.ops.Text.tokenCounts(batch).write.mode("overwrite")
      .parquet(s"$vocabRoot/batch=$batchId")
  }

  /** Streaming collocation state: each micro-batch's windowed pair +
    * unigram counts (`Text.pmiState` — the mergeable PMI frame) land under
    * `stateDir/batch=<id>`; the top-k read side (`pmiTopK`) merges all
    * partials with one keyed sum, so the merged state — and therefore the
    * collocation report — is identical to one built from the union of
    * every batch (TextQueries' `text_pmi_incremental` pins the same
    * equivalence against the full-recompute oracle). Same exactly-once
    * state-dir contract as the other sinks: each write overwrites exactly
    * its own `batch=` dir, so crash-replay of an uncommitted batch is
    * idempotent; `Load.compactPartitioned` folds delta dirs on
    * maintenance cadence (partials stay partials — counts re-sum).
    */
  def pmiSink(docs: DataFrame, stateDir: String, checkpoint: String,
              window: Int): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        pmiDocumentBatch(batch, id, stateDir, window)
      }

  /** One micro-batch of `pmiSink`, public for direct testing and crash
    * replay. Owns its token cache's lifecycle — persisted for the
    * multi-branch state build, unpersisted once the write commits, so a
    * long-lived stream never accumulates dead per-batch cache entries
    * (same explicit-unpersist discipline as the dedup sinks).
    */
  def pmiDocumentBatch(batch: DataFrame, batchId: Long, stateDir: String,
                       window: Int): Unit = {
    val toks = batch
      .select(graft.ops.Text.tokens(col("text")).as("l"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try
      graft.ops.Text.pmiStateFromTokens(toks, window).write.mode("overwrite")
        .parquet(s"$stateDir/batch=$batchId")
    finally toks.unpersist(false)
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
    * bit-identical to a one-pass sketch over the whole stream. Same
    * exactly-once contract as the other sinks: each write overwrites
    * exactly its own `batch=` dir.
    */
  def cmsSink(rows: DataFrame, stateDir: String, checkpoint: String,
              key: Column, eps: Double = 0.001, confidence: Double = 0.99,
              seed: Int = 42): DataStreamWriter[Row] =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        cmsBatch(batch, id, stateDir, key, eps, confidence, seed)
      }

  /** One micro-batch of `cmsSink`, public for direct testing and crash
    * replay.
    */
  def cmsBatch(batch: DataFrame, batchId: Long, stateDir: String,
               key: Column, eps: Double, confidence: Double,
               seed: Int): Unit =
    batch.agg(count_min_sketch(key, lit(eps), lit(confidence), lit(seed))
        .as("s"))
      .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")

  /** Streaming distribution-drift monitoring: every micro-batch is scored
    * (`Quality.psiDriftFromCounts`) against the reference histogram
    * accumulated by PRIOR batches, then its own `(bucket, n)` histogram
    * lands under `stateDir/hist/batch=<id>/` so the reference grows with
    * the stream. Reports land under `stateDir/report/batch=<id>/`. The
    * FIRST batch scores against an empty reference — finite under the
    * Laplace smoothing (uniform prior), and flagged by `ref_n = 0` rows.
    *
    * Exactly-once by the usual state-dir contract: reads exclude the
    * in-flight batch id, writes overwrite exactly their own `batch=` dirs
    * — crash-replay recomputes the identical report from identical prior
    * state. Per-batch histograms are ≤ `nBuckets` rows each; merging is
    * one keyed sum at read time, and `Load.compactPartitioned` folds the
    * delta dirs on maintenance cadence.
    */
  def driftSink(docs: DataFrame, stateDir: String, checkpoint: String,
                bucket: Column, nBuckets: Int): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        driftDocumentBatch(batch, id, stateDir, bucket, nBuckets)
      }

  /** One micro-batch of `driftSink`, public for direct testing and crash
    * replay.
    */
  def driftDocumentBatch(batch: DataFrame, batchId: Long, stateDir: String,
                         bucket: Column, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val histRoot = s"$stateDir/hist"
    val fs = graft.etl.Load.fsFor(spark, histRoot)
    val prior =
      if (!fs.exists(new org.apache.hadoop.fs.Path(histRoot))) None
      else {
        val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(histRoot))
          .filter { s =>
            val n = s.getPath.getName
            s.isDirectory && n.startsWith("batch=") &&
              n.stripPrefix("batch=").forall(_.isDigit) &&
              n.stripPrefix("batch=").toLong != batchId // exclude own replay
          }
        if (dirs.isEmpty) None
        else Some(spark.read.option("basePath", histRoot)
          .parquet(dirs.map(_.getPath.toString): _*).drop("batch")
          .groupBy(col("bucket")).agg(sum(col("n")).as("n")))
      }
    val ref = prior.getOrElse( // empty reference: uniform Laplace prior
      spark.range(0).select(col("id").as("bucket"), col("id").as("n")))
    graft.ops.Quality.psiDriftFromCounts(ref, batch, bucket, nBuckets)
      .write.mode("overwrite").parquet(s"$stateDir/report/batch=$batchId")
    graft.ops.Quality.histogram(batch, bucket).write.mode("overwrite")
      .parquet(s"$histRoot/batch=$batchId")
  }

  /** Streaming SCD2 maintenance: every micro-batch of change events merges
    * into the stored, key-hash-bucketed history via
    * `History.scd2MergeStored` — per trigger, only the buckets the batch
    * touches are read and rewritten. Crash-replay is idempotent through
    * `scd2Merge`'s replay guard (events before a key's current valid_from
    * are already reflected and get dropped), so the usual
    * foreachBatch replay semantics hold without extra bookkeeping.
    */
  def scd2Sink(rows: DataFrame, root: String, checkpoint: String,
               keys: Seq[String], ts: org.apache.spark.sql.Column,
               tiebreak: org.apache.spark.sql.Column,
               attr: org.apache.spark.sql.Column,
               nParts: Int = 64): DataStreamWriter[Row] =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.History.scd2MergeStored(batch.sparkSession, root, batch,
          keys, ts, tiebreak, attr, nParts)
      }
}
