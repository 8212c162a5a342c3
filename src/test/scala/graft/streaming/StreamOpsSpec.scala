package graft.streaming

import graft.SparkSpec
import graft.ops.{Dedup, EventOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming twins of the batch event operators: a file-source
  * stream processed with Trigger.AvailableNow into a memory sink must agree
  * with the batch form on the same data (one definition, two modes).
  */
class StreamOpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val eventsJsonDir: String = {
    val dir = tmpDir("events-stream")
    StreamFixtures.write(dir, StreamFixtures.events)
    dir
  }

  private def readStreamBatched: DataFrame =
    StreamOps.readEventStream(spark, eventsJsonDir, maxFilesPerTrigger = Some(1))

  /** Run a streaming DataFrame to completion (AvailableNow) into a memory
    * sink and return the materialized result.
    */
  private def runToMemory(df: DataFrame, name: String,
                          outputMode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", tmpDir(s"ckpt-$name"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    spark.table(name)
  }

  private def batchEvents: DataFrame =
    spark.read.schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING").json(eventsJsonDir)

  test("tumblingCounts: streaming result equals the batch twin") {
    val streamed = runToMemory(
      StreamOps.tumblingCounts(readStreamBatched), "tumbling", "append")
      .filter("event_type <> 'sentinel'")
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = EventOps.tumblingCounts(
      batchEvents.filter("event_type <> 'sentinel'"))
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.size == 3) // (00:00 click), (00:10 view), (01:00 click)
  }

  test("sessionize: 30-min-gap sessions close at watermark, match expectations") {
    val out = runToMemory(
      StreamOps.sessionize(readStreamBatched), "sessions", "append")
      .filter("user_id <> 9")
      .orderBy("user_id", "session_start").collect()
    // user 1: events at 00:01/00:04/00:12 → one session; user 2: 01:00/01:05
    assert(out.map(_.getAs[Long]("user_id")).toSeq == Seq(1L, 2L))
    assert(out(0).getAs[Long]("n_events") == 3L)
    assert(out(1).getAs[Long]("n_events") == 2L)
    // FULL-ROW parity with the oracle-checked batch twin (one definition,
    // two modes): every emitted session — bounds, counts, exact sums —
    // matches EventOps.sessionize over the same data.
    val batch = EventOps.sessionize(batchEvents.filter("user_id <> 9"))
      .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
    assert(out.map(_.toSeq).toSeq == batch)
  }

  test("dedupFirstArrival: one survivor per (user_id, event_type)") {
    val out = runToMemory(
      StreamOps.dedupFirstArrival(readStreamBatched), "dedup", "append")
      .filter("event_type <> 'sentinel'")
    assert(out.count() == 3) // (1,click),(1,view),(2,click)
  }

  test("late data beyond the watermark is dropped from windowed aggregation") {
    val dir = tmpDir("events-late")
    def write(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(dir, name, rows)
    write("b1.json", Seq(
      """{"event_id":1,"ts":"2026-01-01T00:01:00Z","user_id":1,"event_type":"click","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2026-01-01T02:00:00Z","user_id":1,"event_type":"click","value":1.0,"props":"{}"}"""))
    // batch 2 (watermark now 01:30): in-time filler; window 00:00's state
    // is emitted and EVICTED at the end of this batch
    write("b2.json", Seq(
      """{"event_id":3,"ts":"2026-01-01T02:20:00Z","user_id":1,"event_type":"click","value":1.0,"props":"{}"}"""))
    // batch 3: event 28 min behind the watermark, for an already-evicted
    // window → must be dropped (a late row arriving while its window's
    // state is still live would instead be merged — eviction is the cutoff)
    write("b3.json", Seq(
      """{"event_id":4,"ts":"2026-01-01T00:02:00Z","user_id":1,"event_type":"click","value":99.0,"props":"{}"}"""))
    // sentinel advances the watermark past every real window so state flushes
    write("b4.json", Seq(
      """{"event_id":5,"ts":"2026-01-01T09:00:00Z","user_id":9,"event_type":"sentinel","value":0.0,"props":"{}"}"""))
    val out = runToMemory(
      StreamOps.tumblingCounts(
        StreamOps.readEventStream(spark, dir, maxFilesPerTrigger = Some(1))),
      "late", "append")
      .filter("event_type = 'click'")
      .orderBy("window_start").collect()
    val byWindow = out.map(r =>
      r.getAs[Long]("window_start") -> (r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))).toMap
    val w0 = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    // the late event 4 (value 99.0) must NOT appear anywhere
    assert(byWindow(w0) == (1L, 1.0))
    assert(byWindow(w0 + 7200) == (1L, 1.0))
    assert(byWindow(w0 + 8400) == (1L, 1.0))
    assert(!out.exists(_.getAs[Double]("sum_value") == 99.0))
  }

  test("sequenceMatchStream: custom state equals the batch operator, carried " +
      "across micro-batch boundaries") {
    val dir = tmpDir("seqmatch-events")
    StreamFixtures.write(dir, StreamFixtures.sequenceEvents)
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val streamed = runToMemory(
      StreamOps.sequenceMatchStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir),
        "signup", "purchase", "error", 300L),
      "seqmatch", "append")
      .collect().map(_.toSeq).toSet
    val batch = EventOps.sequenceMatch(
        spark.read.schema(schema).json(dir),
        "signup", "purchase", "error", 300L)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // the expected matches themselves, not just agreement: u1 cross-batch,
    // u3 twice in-batch; u2 guarded, u4 expired
    assert(batch.map(r => (r.head, r(1))) ==
      Set((1L, 1L), (3L, 3L), (3L, 10L)))
  }

  test("TopKAgg under streaming aggregation: k-bounded state merges " +
      "across micro-batches to the exact batch top-k") {
    // The typed Aggregator's merge is exercised by Structured Streaming's
    // incremental state (partial per micro-batch, merged into the store) —
    // a streaming leaderboard. maxFilesPerTrigger=1 forces ≥2 state merges.
    val dir = tmpDir("topk-events")
    def ev(id: Long, sec: Long, uid: Long, v: Double) =
      s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochSecond(sec)}",""" +
        s""""user_id":$uid,"event_type":"purchase","value":$v,"props":"{}"}"""
    StreamFixtures.writeFile(dir, "p1.json", Seq(
      ev(1, 10, 1, 5.0), ev(2, 20, 2, 9.0), ev(3, 30, 3, 1.0)
    ))
    StreamFixtures.writeFile(dir, "p2.json", Seq(
      ev(4, 40, 4, 7.0), ev(5, 50, 5, 9.0), ev(6, 60, 6, 2.0)
    ))
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    import org.apache.spark.sql.functions.{col => c}
    def topk(d: DataFrame) = d
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS c",
        "event_id")
      .groupBy(c("event_type"))
      .agg(graft.functions.TopKAgg.topKMax(c("c"), c("event_id"), 3).as("t"))
      .selectExpr("event_type", "CAST(t.entries AS STRING) AS entries")
    val streamed = runToMemory(
      topk(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(dir)),
      "topkstream", "complete")
      .collect().map(_.toSeq).toSet
    val batch = topk(spark.read.schema(schema).json(dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // the winners: 9.00 by id 2 (tie with id 5 at equal cents → smaller
    // id first), then id 5, then 7.00 by id 4 — one from each micro-batch
    assert(batch.head(1) == "[{900, 2}, {900, 5}, {700, 4}]")
  }

  test("attributionLastTouchStream: bounded state equals the batch " +
      "operator, touch carried across micro-batch boundaries") {
    val dir = tmpDir("attrib-events")
    def ev(id: Long, sec: Long, uid: Long, typ: String, v: Double) =
      s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochSecond(sec)}",""" +
        s""""user_id":$uid,"event_type":"$typ","value":$v,"props":"{}"}"""
    val wk = 604800L
    // batch 1: u1 click+view (view latest — crosses the batch boundary);
    // u2 stale click (out of window by batch 2); u3 nothing yet
    StreamFixtures.writeFile(dir, "part1.json", Seq(
      ev(1, 100, 1, "click", 0.0), ev(2, 200, 1, "view", 0.0),
      ev(3, 100, 2, "click", 0.0),
      ev(4, 100, 3, "purchase", 2.5) // no touch → direct, in-batch
    ))
    // batch 2: u1 converts (cross-batch view credit); u2 converts one
    // second past the window (direct); u1 then clicks and converts again
    // in-batch (click credit — state advanced by the newer touch)
    StreamFixtures.writeFile(dir, "part2.json", Seq(
      ev(5, 300, 1, "purchase", 10.0),
      ev(6, 101 + wk, 2, "purchase", 5.0),
      ev(7, 400, 1, "click", 0.0), ev(8, 500, 1, "purchase", 1.0)
    ))
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val streamed = runToMemory(
      StreamOps.attributionLastTouchStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir)),
      "attrib", "append")
      .collect().map(_.toSeq).toSet
    val batch = EventOps.attributionLastTouch(
        spark.read.schema(schema).json(dir))
      .selectExpr("user_id", "event_id", "sec", "value_c", "channel")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.map(r => (r(1), r(4))) == Set(
      (4L, "direct"), (5L, "view"), (6L, "direct"), (8L, "click")))
  }

  test("twapStream: running LOCF integral, latest emission per user equals " +
      "the batch operator across micro-batch boundaries") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("twap-events")
    def ev(id: Long, sec: Long, uid: Long, v: Double) =
      s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochSecond(sec)}",""" +
        s""""user_id":$uid,"event_type":"view","value":$v,"props":"{}"}"""
    // batch 1: u1 two observations; u2 one (no span yet)
    StreamFixtures.writeFile(dir, "part1.json", Seq(
      ev(1, 0, 1, 1.0), ev(2, 100, 1, 3.0),
      ev(3, 0, 2, 9.0)
    ))
    // batch 2: u1 extends the span (state carries 3.00 from batch 1);
    // u2 gets its first interval
    StreamFixtures.writeFile(dir, "part2.json", Seq(
      ev(4, 1000, 1, 5.0),
      ev(5, 10, 2, 1.0)
    ))
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val streamed = runToMemory(
      StreamOps.twapStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir)),
      "twap", "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // latest emission per user = max span (the running den only grows)
    val latest = streamed.groupBy(_._1).map { case (u, rows) =>
      val r = rows.maxBy(_._3); u -> ((r._2, r._3)) }
    val batch = EventOps.twapCents(
        spark.read.schema(schema).json(dir))
      .select(col("user_id"), col("twap_cents"), col("span_sec"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(latest == batch)
    // the cross-batch fold itself: u1 = (100*100 + 300*900) div 1000 = 280
    assert(latest(1L) == ((280L, 1000L)))
    // u2's first batch emitted nothing (zero span); batch 2 gives 900*10/10
    assert(latest(2L) == ((900L, 10L)))
    assert(!streamed.exists(r => r._1 == 2L && r._3 == 0L))
  }

  test("clicksAfterSignup: stream-stream interval join matches the batch join") {
    val dir = tmpDir("events-join")
    val rows = Seq(
      """{"event_id":10,"ts":"2026-01-01T00:00:30Z","user_id":1,"event_type":"signup","value":0,"props":"{}"}""",
      """{"event_id":11,"ts":"2026-01-01T00:05:00Z","user_id":1,"event_type":"click","value":1,"props":"{}"}""",
      """{"event_id":12,"ts":"2026-01-01T02:00:00Z","user_id":1,"event_type":"click","value":1,"props":"{}"}""",
      """{"event_id":13,"ts":"2026-01-01T00:10:00Z","user_id":2,"event_type":"click","value":1,"props":"{}"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "p1.json"),
      rows.mkString("\n").getBytes("UTF-8"))
    val out = runToMemory(
      StreamOps.clicksAfterSignup(StreamOps.readEventStream(spark, dir)),
      "ssjoin", "append").collect()
    // only click 11 is within 1h of user 1's signup; 12 is too late, user 2
    // never signed up
    assert(out.map(_.getAs[Long]("click_id")).toSeq == Seq(11L))
    val batch = spark.read.schema("event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING").json(dir)
    val batchOut = StreamOps.clicksAfterSignup(batch).collect()
    assert(out.map(_.toSeq).toSet == batchOut.map(_.toSeq).toSet)
  }

  test("upsertSink: foreachBatch keyed merge keeps latest event per key across batches") {
    val path = tmpDir("upsert-out") + "/state"
    val q = StreamOps.upsertSink(
      readStreamBatched.selectExpr("user_id", "event_type", "event_id", "ts"),
      path, tmpDir("ckpt-upsert"), Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    val rows = spark.read.parquet(path)
      .select("user_id", "event_type", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set((1L, "click", 2L), (1L, "view", 3L),
      (2L, "click", 5L), (9L, "sentinel", 99L)))
  }

  test("toParquet: checkpointed stop/restart is exactly-once — no duplicates, no loss") {
    val src = tmpDir("eo-src")
    val out = tmpDir("eo-out") + "/events"
    val ckpt = tmpDir("eo-ckpt")
    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = StreamOps.toParquet(StreamOps.readEventStream(spark, src), out, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    }
    def ids: Seq[Long] = spark.read.parquet(out)
      .select("event_id").as[Long].collect().sorted.toSeq
    writeFile("a.json", Seq(
      """{"event_id":1,"ts":"2026-01-01T00:01:00Z","user_id":1,"event_type":"click","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2026-01-01T00:02:00Z","user_id":1,"event_type":"view","value":2.0,"props":"{}"}"""))
    runOnce()
    assert(ids == Seq(1L, 2L))
    // restart from the SAME checkpoint after new data lands: only the new
    // file is processed — committed rows are not re-emitted
    writeFile("b.json", Seq(
      """{"event_id":3,"ts":"2026-01-01T00:03:00Z","user_id":2,"event_type":"click","value":3.0,"props":"{}"}"""))
    runOnce()
    assert(ids == Seq(1L, 2L, 3L))
    // idle restart with nothing new: output unchanged
    runOnce()
    assert(ids == Seq(1L, 2L, 3L))
  }

  /** The three micro-batch files the MinHash dedup sink specs feed, in
    * arrival order: in-batch exact dup (3), cross-batch exact (11, 21) and
    * near (12, 22) dups of earlier batches, fresh docs (2, 13, 23).
    */
  private val dedupFiles: Seq[(String, Seq[String])] = StreamFixtures.dedupFiles

  private def writeDedupFile(src: String, file: (String, Seq[String])): Unit =
    StreamFixtures.writeFile(src, file._1, file._2)

  private def runDedupSink(src: String, state: String, ckpt: String): Unit = {
    val q = StreamOps.incrementalDedupSink(
      StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
      state, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    q.exception.foreach(e => throw e)
  }

  private def dedupOutIds(state: String): Set[Long] = spark.read.parquet(s"$state/out")
    .select("doc_id").as[Long].collect().toSet

  private def dedupStateCounts(state: String): (Long, Long, Long) = (
    spark.read.parquet(s"$state/digests").count(),
    spark.read.parquet(s"$state/index/toks").count(),
    spark.read.parquet(s"$state/index/banded").count())

  test("incrementalDedupSink: cross-batch dedup via stored index, restart-safe, replay-idempotent") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.TestBridge
    val src = tmpDir("docs-src")
    val state = tmpDir("dedup-state")
    val ckpt = tmpDir("dedup-ckpt")
    def outIds: Set[Long] = dedupOutIds(state)
    // every cache a micro-batch creates is released before it returns:
    // nothing may stay in the SQL cache or as a persistent RDD
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    def assertNothingRetained(after: String): Unit = {
      assert(TestBridge.sqlCacheIsEmpty(spark), s"SQL cache entries left after $after")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(leaked.isEmpty, s"persistent RDDs left after $after: $leaked")
    }
    dedupFiles.take(2).foreach(writeDedupFile(src, _))
    runDedupSink(src, state, ckpt)
    // batch 1: doc 3 dies (in-batch exact dup of 1). batch 2 vs STORED
    // state: 11 dies on the digest set, 12 dies on the MinHash index
    // (near-dup of 1 — only the appended index rows can catch it), 13 lives.
    assert(outIds == Set(1L, 2L, 13L))
    // restart from the SAME checkpoint with a third file: the new batch
    // dedups against state appended by BOTH earlier batches
    writeDedupFile(src, dedupFiles(2))
    runDedupSink(src, state, ckpt)
    assert(outIds == Set(1L, 2L, 13L, 23L))
    assertNothingRetained("the streaming run")
    // the appended index rows are taken from each batch's own signature;
    // they must equal a from-text index build over the surviving rows,
    // exactly and as multisets (no row lost, none duplicated)
    val rebuilt = Dedup.minHashIndex(spark.read.parquet(s"$state/out").drop("batch"),
      storage = org.apache.spark.storage.StorageLevel.NONE)
    def multiset(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.length }
    Seq("toks" -> rebuilt._1, "banded" -> rebuilt._2).foreach { case (t, want) =>
      val stored = spark.read.parquet(s"$state/index/$t").drop("batch")
        .select(want.columns.map(col): _*)
      assert(multiset(stored) == multiset(want), s"stored index/$t != minHashIndex(out)")
    }
    // crash-replay idempotence: re-running the LAST committed batch by hand
    // (what foreachBatch does after a crash before checkpoint commit) must
    // leave output AND stored state identical — not double-append, and not
    // poison itself by reading back its own writes.
    val lastBatch = new java.io.File(s"$state/out").listFiles()
      .map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).max
    val b3 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b3.json")
    val before = dedupStateCounts(state)
    StreamOps.dedupDocumentBatch(b3, lastBatch, state)
    assert(outIds == Set(1L, 2L, 13L, 23L))
    assert(dedupStateCounts(state) == before)
    assertNothingRetained("the manual replay")
  }

  test("incrementalDedupSink: the batch-side broadcast is size-gated — with " +
      "autoBroadcastJoinThreshold=-1 the probe joins shuffle, same results") {
    import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val src = tmpDir("docs-gate-src")
    dedupFiles.foreach(writeDedupFile(src, _))
    // physical operators of a finished plan, through adaptive stages and
    // into cached relations (the probe runs inside the survivors' cache)
    def operators(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
      case q: QueryStageExec => operators(q.plan)
      case c: CommandResultExec => operators(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => m +: operators(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(operators)
    }
    // the probe's band joins key on band_key, its verify joins on i / j
    def isProbe(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.flatMap(_.references.map(_.name)).exists(Set("band_key", "i", "j"))
    def runCapturing(threshold: Option[String]): (String, Seq[String]) = {
      val state = tmpDir("dedup-gate-state")
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      d: Long): Unit = { plans.add(qe.executedPlan); () }
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      }
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.getOption(key)
      threshold.foreach(spark.conf.set(key, _))
      spark.listenerManager.register(listener)
      try runDedupSink(src, state, tmpDir("dedup-gate-ckpt"))
      finally {
        org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
        spark.listenerManager.unregister(listener)
        saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
      import scala.jdk.CollectionConverters._
      val probeJoins = plans.asScala.toSeq.flatMap(operators).collect {
        case j: BroadcastHashJoinExec if isProbe(j.leftKeys) => "broadcast"
        case j: SortMergeJoinExec if isProbe(j.leftKeys) => "shuffled"
      }
      (state, probeJoins)
    }
    val (small, smallJoins) = runCapturing(None)
    val (gated, gatedJoins) = runCapturing(Some("-1"))
    assert(dedupOutIds(small) == Set(1L, 2L, 13L, 23L))
    assert(dedupOutIds(gated) == dedupOutIds(small))
    assert(dedupStateCounts(gated) == dedupStateCounts(small))
    // under the default threshold the tiny batch side is broadcast; at -1
    // every probe join falls back to the shuffled plan
    assert(smallJoins.contains("broadcast"), s"default run probe joins: $smallJoins")
    assert(gatedJoins.nonEmpty && !gatedJoins.contains("broadcast"),
      s"threshold -1 run probe joins: $gatedJoins")
  }

  private def dedupBatchDf(file: (String, Seq[String])): DataFrame = {
    import spark.implicits._
    spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(file._2.toDS())
  }

  test("incrementalDedupSink: geometry mismatches fail loudly — a foreign " +
      "index on the first batch, a checked partition rewritten between batches") {
    def assertMismatch(run: => Unit): Unit = {
      val e = intercept[Exception](run)
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(messages.contains("was built with"), messages)
    }
    // a failed batch releases the caches it filled before the check threw:
    // nothing may stay in the SQL cache or as a persistent RDD
    import org.apache.spark.sql.graftbridge.TestBridge
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    def assertNothingRetained(after: String): Unit = {
      assert(TestBridge.sqlCacheIsEmpty(spark), s"SQL cache entries left after $after")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(leaked.isEmpty, s"persistent RDDs left after $after: $leaked")
    }
    // a state dir whose index was written with other bands and shingleSize
    val foreign = tmpDir("dedup-geom-foreign")
    StreamOps.dedupDocumentBatch(dedupBatchDf(dedupFiles(0)), 100L, foreign,
      bands = 4, shingleSize = 2)
    val src = tmpDir("docs-geom-src")
    writeDedupFile(src, dedupFiles(1))
    assertMismatch(runDedupSink(src, foreign, tmpDir("dedup-geom-ckpt")))
    assertNothingRetained("the failed batch on a foreign index")
    // a partition the sink wrote and checked, rewritten with the wrong
    // geometry before the next batch
    val state = tmpDir("dedup-geom-state")
    val ckpt = tmpDir("dedup-geom-ckpt2")
    val src2 = tmpDir("docs-geom-src2")
    dedupFiles.take(2).foreach(writeDedupFile(src2, _))
    runDedupSink(src2, state, ckpt)
    val (toks, banded) = Dedup.minHashIndex(dedupBatchDf(dedupFiles(0)), bands = 4,
      shingleSize = 2, storage = org.apache.spark.storage.StorageLevel.NONE)
    toks.write.mode("overwrite").parquet(s"$state/index/toks/batch=0")
    banded.write.mode("overwrite").parquet(s"$state/index/banded/batch=0")
    writeDedupFile(src2, dedupFiles(2))
    assertMismatch(runDedupSink(src2, state, ckpt))
    assertNothingRetained("the failed batch on a rewritten partition")
  }

  test("incrementalDedupSink: a steady batch runs at most 14 jobs and " +
      "samples no index partition already checked") {
    val state = tmpDir("dedup-jobs-state")
    dedupFiles.take(2).zipWithIndex.foreach { case (f, i) =>
      StreamOps.dedupDocumentBatch(dedupBatchDf(f), i.toLong, state)
    }
    // the geometry sample is the only job the batch starts from Dedup
    def samples(jobs: Seq[org.apache.spark.scheduler.SparkListenerJobStart]) =
      jobs.filter(_.stageInfos.exists(_.name.contains("Dedup.scala")))
    // same state under another path: its partitions are unchecked
    val copy = tmpDir("dedup-jobs-copy")
    val conf = spark.sparkContext.hadoopConfiguration
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    org.apache.hadoop.fs.FileUtil.copy(local, new org.apache.hadoop.fs.Path(state),
      local, new org.apache.hadoop.fs.Path(copy), false, conf)
    val copied = s"$copy/${new java.io.File(state).getName}"
    // AQE names a write's stages after the thread that runs its stages, so
    // a write job is found through its SQL execution, described by the
    // write's call site
    val writeExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val execs = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.description.startsWith("parquet at StreamOps.scala") =>
            writeExecs.add(s.executionId.toString); ()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(execs)
    val (_, steady) =
      try jobsDuring(StreamOps.dedupDocumentBatch(dedupBatchDf(dedupFiles(2)), 2L, state))
      finally spark.sparkContext.removeSparkListener(execs)
    val (_, unchecked) = jobsDuring(
      StreamOps.dedupDocumentBatch(dedupBatchDf(dedupFiles(2)), 2L, copied))
    assert(steady.size <= 14, s"steady batch ran ${steady.size} jobs")
    // the count covers the state commit: its four writes (out, digests and
    // the two index roots) run on threads of their own and still carry the tag
    val writes = steady.map(_.properties.getProperty("spark.sql.execution.id"))
      .filter(writeExecs.contains)
    assert(writes.distinct.size == 4,
      s"state-write executions among the steady jobs: $writes")
    assert(samples(steady).isEmpty,
      s"steady batch sampled checked partitions: ${samples(steady).map(_.jobId)}")
    assert(samples(unchecked).nonEmpty, "unchecked partitions were not sampled")
    assert(dedupOutIds(state) == Set(1L, 2L, 13L, 23L))
  }

  test("incrementalDedupSink: a batch's job count does not grow with the " +
      "stored batches — the 12th batch runs the 3rd batch's jobs") {
    val src = tmpDir("docs-growth-src")
    val state = tmpDir("dedup-growth-state")
    // each file: a novel text, an exact copy and a near-dup of the previous
    // file's novel text (the first file copies its own)
    def novel(b: Int) = (0 until 10).map(w => s"w${b}x$w").mkString(" ")
    def near(t: String) = t.split(" ").init.mkString(" ") + " changed"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"lang":"en","text":"$text"}"""
    (0 until 12).foreach { b =>
      val prior = novel(math.max(b - 1, 0))
      val name = f"g$b%02d.json"
      writeDedupFile(src, name -> Seq(doc(100L * b + 1, novel(b)),
        doc(100L * b + 2, prior), doc(100L * b + 3, near(prior))))
    }
    // the query's thread inherits the tag, and its jobs carry their batch id
    val (_, jobs) = jobsDuring(runDedupSink(src, state, tmpDir("dedup-growth-ckpt")))
    val perBatch = jobs.flatMap(j => Option(j.properties.getProperty("streaming.sql.batchId")))
      .groupBy(_.toInt).view.mapValues(_.size).toMap
    assert(perBatch.keySet == (0 until 12).toSet, s"jobs per batch: $perBatch")
    assert(dedupOutIds(state) == (0 until 12).map(b => 100L * b + 1).toSet)
    assert(perBatch(0) <= 12, s"bootstrap batch ran ${perBatch(0)} jobs")
    assert(perBatch(2) <= 13, s"steady batch ran ${perBatch(2)} jobs")
    assert(perBatch(11) == perBatch(2), s"jobs per batch: $perBatch")
  }

  test("incrementalDedupSink: NULL ids, reused ids, in-batch duplicate text " +
      "and a prior digest table with repeated rows — survivors and state " +
      "equal the naive definition, with and without the broadcast gate") {
    import org.apache.spark.sql.Row
    val A = "the quick brown fox jumps over the lazy dog tonight"
    val B = "completely different text about spark engines at scale today"
    val C = "a third unrelated sentence concerning warehouse loading jobs"
    val F = "novel content never seen in the corpus before now"
    val H = "this text was already stored twice in the digest table"
    def near(t: String, w: String) = t.split(" ").init.mkString(" ") + " " + w
    def doc(id: Any, text: Any) = {
      def js(v: Any) = if (v == null) "null" else v match {
        case s: String => "\"" + s + "\""
        case o => o.toString
      }
      s"""{"doc_id":${js(id)},"lang":"en","text":${js(text)}}"""
    }
    val files = Seq(
      "u1.json" -> Seq(doc(1, A), doc(2, B), doc(2, C),
        doc(null, "rows without an id carry text nobody repeats"),
        doc(3, A), doc(4, "tied rows share both their id and their exact text"),
        doc(4, "tied rows share both their id and their exact text"), doc(5, null)),
      "u2.json" -> Seq(doc(11, A), doc(12, near(B, "tomorrow")), doc(13, F),
        doc(14, near(F, "yesterday")), doc(null, "yet another sentence whose id field is missing"),
        doc(15, H), doc(17, F)),
      "u3.json" -> Seq(doc(21, B), doc(22, near(C, "tasks")), doc(4, near(F, "later")),
        doc(1, "brand new text arriving under a reused identifier here"),
        doc(23, "absolutely fresh material arriving in the third batch"),
        doc(23, "and a second fresh text sharing the identifier twenty three")))
    def md5(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val seeded = Seq(md5(H), md5(H))
    // the naive sink: digests, shingle sets and band keys of each batch's
    // exact survivors come from Dedup.minHashIndex; everything else is
    // driver-side collections
    type Toks = Seq[(Long, Set[String])]
    type Bands = Seq[(Long, Int, String)]
    def jaccard(a: Set[String], b: Set[String]) =
      BigDecimal((a & b).size.toDouble / (a | b).size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (wantOut, wantDigests, wantToks, wantBands) = files.foldLeft(
        (Seq.empty[Row], seeded, Seq.empty[(Long, Set[String])], Seq.empty[(Long, Int, String)])) {
      case ((out, digests, toks, bands), (_, lines)) =>
        val rows = dedupBatchDf("" -> lines).collect().toSeq
          .filter(r => !r.isNullAt(2))
        val firsts = rows.groupBy(_.getString(2)).values.flatMap { g =>
          val ids = g.filterNot(_.isNullAt(0)).map(_.getLong(0))
          if (ids.isEmpty) Nil else g.filter(r => !r.isNullAt(0) && r.getLong(0) == ids.min)
        }.toSeq
        val exact = firsts.filterNot(r => digests.contains(md5(r.getString(2))))
        val (t, b) = Dedup.minHashIndex(spark.createDataFrame(
            java.util.Arrays.asList(exact: _*), dedupBatchDf("" -> Nil).schema),
          storage = org.apache.spark.storage.StorageLevel.NONE)
        val nToks: Toks = t.collect().toSeq.map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
        val nBands: Bands = b.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        def verified(pairs: Set[(Long, Long)], other: Toks) = pairs.collect {
          case (i, j) if nToks.exists { case (a, ta) => a == i &&
            other.exists { case (c, tb) => c == j && jaccard(ta, tb) >= 0.5 } } => i
        }
        def cands(other: Bands, keep: (Long, Long) => Boolean) = (for {
          (i, band, key) <- nBands; (j, band2, key2) <- other
          if band == band2 && key == key2 && keep(i, j)
        } yield (i, j)).toSet
        val flagged = verified(cands(bands, (_, _) => true), toks) ++
          verified(cands(nBands, (i, j) => j < i), nToks)
        val kept = exact.filterNot(r => flagged(r.getLong(0)))
        val keptIds = kept.map(_.getLong(0)).toSet
        (out ++ kept, digests ++ kept.map(r => md5(r.getString(2))),
          toks ++ nToks.filter(x => keptIds(x._1)), bands ++ nBands.filter(x => keptIds(x._1)))
    }
    // the naive definition really meets every case: 3 loses to 1, both
    // tied 4s stay, 12 is a near-dup of one of the two texts stored under
    // id 2, 14 of 13, the reused id 4 of 13, 15 hits the seeded digests;
    // 22 is a near-dup of the other text under id 2, but that id is signed
    // over both its texts, so no band matches and 22 stays
    assert(wantOut.map(_.getLong(0)).sorted ==
      Seq(1L, 1L, 2L, 2L, 4L, 4L, 13L, 22L, 23L, 23L))
    def multiset[T](xs: Seq[T]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    Seq(None, Some("-1")).foreach { threshold =>
      val src = tmpDir("docs-odd-src")
      val state = tmpDir("dedup-odd-state")
      files.foreach(writeDedupFile(src, _))
      spark.createDataFrame(java.util.Arrays.asList(seeded.map(Row(_)): _*),
          Dedup.contentDigests(dedupBatchDf("" -> Nil)).schema)
        .write.parquet(s"$state/digests/batch=90")
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.getOption(key)
      threshold.foreach(spark.conf.set(key, _))
      try runDedupSink(src, state, tmpDir("dedup-odd-ckpt"))
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      def read(t: String) = spark.read.parquet(s"$state/$t").drop("batch").collect().toSeq
      val label = s"threshold ${threshold.getOrElse("default")}"
      assert(multiset(read("out").map(r => r.getAs[Any]("doc_id") ->
          r.getAs[String]("text"))) ==
        multiset(wantOut.map(r => r.get(0) -> r.getString(2))), label)
      assert(multiset(read("digests").map(_.getString(0))) == multiset(wantDigests), label)
      assert(multiset(read("index/toks").map(r => r.getAs[Long]("id") ->
        r.getAs[Seq[String]]("ts").toSet)) == multiset(wantToks), label)
      assert(multiset(read("index/banded").map(r => (r.getAs[Long]("id"),
        r.getAs[Int]("band"), r.getAs[String]("band_key")))) == multiset(wantBands), label)
    }
  }

  test("bloomDedupSink: streamed survivors ≡ the serial exactIncremental " +
      "closure, sketch state OR-folds across batches, replay-idempotent") {
    val src = tmpDir("bloom-src")
    val state = tmpDir("bloom-state")
    val ckpt = tmpDir("bloom-ckpt")
    def writeFile(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(src, name, rows)
    def runOnce(): Unit = {
      val q = StreamOps.bloomDedupSink(
        StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
        state, ckpt, expectedItems = 1L << 10, numBits = 1L << 14)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    }
    def outIds: Set[Long] = spark.read.parquet(s"$state/out")
      .select("doc_id").as[Long].collect().toSet
    writeFile("b1.json", Seq(
      """{"doc_id":1,"lang":"en","text":"alpha beta gamma"}""",
      """{"doc_id":2,"lang":"en","text":"delta epsilon zeta"}""",
      """{"doc_id":3,"lang":"en","text":"alpha beta gamma"}"""))
    writeFile("b2.json", Seq(
      """{"doc_id":11,"lang":"en","text":"alpha beta gamma"}""",
      """{"doc_id":12,"lang":"en","text":"eta theta iota"}"""))
    runOnce()
    // batch 1: 3 dies in-batch. batch 2: 11 dies via the PRIOR batch's
    // sketch + digest confirm (only stored state can catch it), 12 lives.
    assert(outIds == Set(1L, 2L, 12L))
    // a micro-batch with ZERO survivors (every row already in state) must
    // write a VALID empty sketch — BloomFilterAggregate over zero rows
    // yields NULL, and a null row in sketch state would crash every later
    // OR-fold (the re-crawled-file case)
    writeFile("b2x.json", Seq(
      """{"doc_id":15,"lang":"en","text":"alpha beta gamma"}""",
      """{"doc_id":16,"lang":"en","text":"eta theta iota"}"""))
    runOnce()
    assert(outIds == Set(1L, 2L, 12L))
    // third batch from the SAME checkpoint: prior state is the OR-fold of
    // THREE sketches (one empty) — a dup of batch-1 content AND a dup of
    // batch-2 content must both die; one fresh doc lives
    writeFile("b3.json", Seq(
      """{"doc_id":21,"lang":"en","text":"delta epsilon zeta"}""",
      """{"doc_id":22,"lang":"en","text":"eta theta iota"}""",
      """{"doc_id":23,"lang":"en","text":"kappa lambda mu"}"""))
    runOnce()
    assert(outIds == Set(1L, 2L, 12L, 23L))
    // one sketch partition per micro-batch in the state dir
    val sketchBatches = new java.io.File(s"$state/bloom").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(sketchBatches.size == 4, s"sketch partitions: $sketchBatches")
    // ≡ the BATCH closure: fold exactIncremental serially over the same
    // four micro-batches (the plain, sketch-free semantics)
    val batches = Seq("b1.json", "b2.json", "b2x.json", "b3.json").map(f =>
      spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
        .json(s"$src/$f"))
    val empty = graft.ops.Dedup.contentDigests(batches.head.limit(0))
    val (closureIds, _) = batches.foldLeft((Set.empty[Long], empty)) {
      case ((ids, digests), bdf) =>
        val surv = graft.ops.Dedup.exactIncremental(bdf, digests)
        (ids ++ surv.select("doc_id").as[Long].collect(),
          digests.unionByName(surv.select("content_md5")))
    }
    assert(outIds == closureIds,
      s"streamed $outIds != batch closure $closureIds")
    // crash-replay idempotence: re-running the LAST committed batch by
    // hand must leave output, digests AND sketch state identical in
    // content — not double-append, not poisoned by its own writes
    val lastBatch = sketchBatches.map(_.stripPrefix("batch=").toLong).max
    val b3 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b3.json")
    def stateCounts: (Long, Long) = (
      spark.read.parquet(s"$state/digests").count(),
      spark.read.parquet(s"$state/bloom").count())
    val before = stateCounts
    StreamOps.bloomDedupBatch(b3, lastBatch, state,
      expectedItems = 1L << 10, numBits = 1L << 14)
    assert(outIds == Set(1L, 2L, 12L, 23L))
    assert(stateCounts == before)
  }

  test("maintainDedupState: compaction shrinks fragmented state leaves, content identical") {
    val state = tmpDir("dedup-maint")
    // three micro-batches' worth of fragmented digest state (3 files each)
    (0 to 2).foreach { b =>
      (1 to 3).map(i => s"md5-$b-$i").toDF("content_md5").repartition(3)
        .write.parquet(s"$state/digests/batch=$b")
    }
    val before = spark.read.parquet(s"$state/digests")
      .select("content_md5").as[String].collect().toSet
    def nFiles: Int = new java.io.File(s"$state/digests").listFiles()
      .filter(_.getName.startsWith("batch="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(nFiles == 9)
    StreamOps.maintainDedupState(spark, state)
    assert(nFiles == 3, s"expected 3 files after compaction, got $nFiles")
    assert(spark.read.parquet(s"$state/digests")
      .select("content_md5").as[String].collect().toSet == before)
  }

  test("incrementalAggSink: partials per micro-batch, fold cadence, replay-idempotent") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("agg-src")
    val state = tmpDir("agg-state")
    val ckpt = tmpDir("agg-ckpt")
    def writeFile(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(src, name, rows)
    def doc(id: Long, lang: String, text: String) =
      s"""{"doc_id":$id,"lang":"$lang","text":"$text"}"""
    writeFile("b1.json", Seq(doc(1, "en", "aa bb"), doc(2, "de", "cc")))
    writeFile("b2.json", Seq(doc(3, "en", "dd ee ff"), doc(2, "de", "cc")))
    writeFile("b3.json", Seq(doc(4, "fr", "gg"), doc(5, "en", "hh")))
    def runOnce(): Unit = {
      val q = StreamOps.incrementalAggSink(
        StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
        state, ckpt, Seq("lang"), length(col("text")).cast("long"),
        col("doc_id"), foldEvery = 2)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    }
    runOnce()
    def merged: Map[String, (Long, Long, Long, Long, Long)] =
      graft.ops.IncrAgg.mergeState(graft.ops.IncrAgg.readState(spark, state), Seq("lang"))
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // en: docs 1(5),3(8),5(2); de: doc 2 twice(2,2); fr: doc 4(2)
    val expect = Map(
      "en" -> ((3L, 15L, 2L, 8L, 3L)),
      "de" -> ((2L, 4L, 2L, 2L, 1L)),
      "fr" -> ((1L, 2L, 2L, 2L, 1L)))
    assert(merged == expect)
    // fold cadence (foldEvery=2) collapsed prior batches: fewer batch dirs
    // than micro-batches, and the in-flight batch dir survived the fold
    val dirs = new java.io.File(state).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch=")).sorted
    assert(dirs.length < 3 && dirs.contains("batch=0"))
    // crash-replay: re-run the LAST batch id by hand — totals unchanged
    // (own-dir overwrite + the fold never absorbed the in-flight batch)
    val lastId = dirs.map(_.stripPrefix("batch=").toLong).max
    val b3 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b3.json")
    StreamOps.aggStateBatch(b3, lastId, state, Seq("lang"),
      length(col("text")).cast("long"), col("doc_id"), foldEvery = 2)
    assert(merged == expect)
    // restart with a fourth file: checkpoint resumes, totals extend
    writeFile("b4.json", Seq(doc(6, "en", "ii jj kk")))
    runOnce()
    assert(merged("en") == ((4L, 23L, 2L, 8L, 4L)))
  }

  test("incrementalAggSink keyed by hour yields rolling-window uniques without rescanning") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("roll-src")
    val state = tmpDir("roll-state")
    val ckpt = tmpDir("roll-ckpt")
    def ev(id: Long, t: String, u: Long) =
      s"""{"event_id":$id,"ts":"$t","user_id":$u,"event_type":"click","value":0.0,"props":"{}"}"""
    StreamFixtures.writeFile(src, "a.json", Seq(
      ev(1, "2026-01-01T00:10:00Z", 1), ev(2, "2026-01-01T00:20:00Z", 2),
      ev(3, "2026-01-01T01:10:00Z", 1), ev(4, "2026-01-01T02:10:00Z", 3)
    ))
    StreamFixtures.writeFile(src, "b.json", Seq(
      ev(5, "2026-01-01T02:20:00Z", 4), ev(6, "2026-01-01T01:40:00Z", 2)
    ))
    val q = StreamOps.incrementalAggSink(
      StreamOps.readEventStream(spark, src, maxFilesPerTrigger = Some(1))
        .select(unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
          col("user_id")),
      state, ckpt, Seq("h"), lit(1L), col("user_id"), foldEvery = 8)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    // trailing 2-hour uniques straight off the STORED hourly sketches —
    // the state table, not the raw events, is all the window needs
    val rolled = graft.ops.IncrAgg.readState(spark, state)
      .select(explode(array(col("h"), col("h") + 3600L)).as("w"), col("p_hll"))
      .groupBy("w")
      .agg(hll_sketch_estimate(hll_union_agg(col("p_hll"))).as("u"))
      .as[(Long, Long)].collect().toMap
    val h0 = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    // exact at these cardinalities: h0:{1,2}, h1:{1,2}, h2:{3,4} →
    // windows ending h0:{1,2}=2, h1:{1,2}=2, h2:{1,2,3,4}=4, h3:{3,4}=2
    assert(rolled == Map(h0 -> 2L, (h0 + 3600) -> 2L, (h0 + 7200) -> 4L,
      (h0 + 10800) -> 2L))
  }

  test("oovSink: batches score against prior vocab only; replay idempotent") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("oov-src")
    val state = tmpDir("oov-state")
    val ckpt = tmpDir("oov-ckpt")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"lang":"en","text":"$text"}"""
    def writeFile(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(src, name, rows)
    writeFile("b1.json", Seq(doc(1, "alpha beta")))
    writeFile("b2.json", Seq(doc(2, "alpha gamma")))
    val q = StreamOps.oovSink(
      StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
      state, ckpt).trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    def reports: Map[Long, (Long, Long, Long)] =
      spark.read.parquet(s"$state/report")
        .select(col("batch").cast("long"), col("n_tokens"), col("n_oov"),
          col("oov_bp"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // batch 0: empty vocab → all OOV; batch 1: alpha known, gamma OOV
    assert(reports == Map(0L -> ((2L, 2L, 10000L)), 1L -> ((2L, 1L, 5000L))))

    // crash-replay of the LAST batch: the state read excludes its own
    // batch dir, so the recomputed report and the vocab state are identical
    val b2 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b2.json")
    StreamOps.oovDocumentBatch(b2, 1L, state)
    assert(reports == Map(0L -> ((2L, 2L, 10000L)), 1L -> ((2L, 1L, 5000L))))
    assert(spark.read.parquet(s"$state/vocab").drop("batch")
      .as[(String, String, Long)].collect().toSet ==
      Set(("en", "alpha", 1L), ("en", "beta", 1L), ("en", "gamma", 1L)))
  }

  test("perplexitySink: batches score against the prior-batch LM only; " +
      "stream report equals the batch scorer; replay idempotent") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("ppl-src")
    val state = tmpDir("ppl-state")
    val ckpt = tmpDir("ppl-ckpt")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"lang":"en","text":"$text"}"""
    def writeFile(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(src, name, rows)
    writeFile("b1.json", Seq(doc(1, "alpha beta")))
    writeFile("b2.json", Seq(doc(2, "alpha gamma")))
    val q = StreamOps.perplexitySink(
      StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
      state, ckpt).trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    def reports: Map[(Long, Long), (Long, Long, Long)] =
      spark.read.parquet(s"$state/report")
        .select(col("batch").cast("long"), col("doc_id"), col("n_tokens"),
          col("surprisal_total"), col("surprisal_per_tok"))
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // batch 0: no LM → both tokens at the 1e-6 clamp max (13815510 µnat);
    // batch 1 against LM {alpha:1, beta:1}, N=2: alpha = ⌊ln 2 · 1e6⌋ =
    // 693147, gamma OOV = 13815510
    val want = Map(
      (0L, 1L) -> ((2L, 2 * 13815510L, 13815510L)),
      (1L, 2L) -> ((2L, 693147L + 13815510L, (693147L + 13815510L) / 2)))
    assert(reports == want)
    // stream ≡ batch: the batch-1 report is exactly the batch scorer run
    // against the LM trained on batch 0's docs
    val b1 = Seq((2L, "alpha gamma")).toDF("doc_id", "text")
    val lm = graft.ops.Text.tokenCounts(Seq((1L, "alpha beta"))
      .toDF("doc_id", "text"))
    val viaBatch = graft.ops.Text.unigramSurprisalAgainst(b1, lm)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (1L, r._1) -> ((r._2, r._3, r._4))).toMap
    assert(viaBatch == Map((1L, 2L) -> want((1L, 2L))))
    // crash-replay of the LAST batch: the state read excludes its own
    // batch dir, so the recomputed report is identical
    val b2 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b2.json")
    StreamOps.perplexityDocumentBatch(b2, 1L, state)
    assert(reports == want)
  }

  test("pmiSink: merged stream state reproduces the one-shot collocations; replay idempotent") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("pmi-src")
    val state = tmpDir("pmi-state")
    val ckpt = tmpDir("pmi-ckpt")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"lang":"en","text":"$text"}"""
    def writeFile(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(src, name, rows)
    writeFile("b1.json", Seq(doc(1, "a b c a b"), doc(2, "b c d")))
    writeFile("b2.json", Seq(doc(3, "a b a b"), doc(4, "c d e f")))
    val q = StreamOps.pmiSink(
      StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
      state, ckpt, window = 2).trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    val fullDocs = Seq((1L, "a b c a b"), (2L, "b c d"),
      (3L, "a b a b"), (4L, "c d e f")).toDF("doc_id", "text")
    def streamed = StreamOps.pmiTopK(spark, state, topK = 100, minCount = 2)
      .collect().toSeq
    val oneShot = graft.ops.Text.pmiPairs(fullDocs, window = 2,
      topK = 100, minCount = 2).collect().toSeq
    assert(streamed.nonEmpty && streamed == oneShot)

    // crash-replay of the LAST batch: the rewrite lands in exactly its own
    // batch dir, so the merged state — and the report — is unchanged
    val b2 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b2.json")
    StreamOps.pmiDocumentBatch(b2, 1L, state, window = 2)
    assert(streamed == oneShot)
  }

  test("cmsSink: merged stored sketches reproduce the one-pass heavy hitters; replay idempotent") {
    import org.apache.spark.sql.functions._
    import graft.ops.Sketch
    val state = tmpDir("cms-state")
    val all = (1 to 400).map(i => (i.toLong, (i % 7).toLong))
      .toDF("event_id", "user_id")
    // two batches via the public per-batch entry (the sink wraps exactly
    // this in foreachBatch; the streaming wiring is pinned by the other
    // sinks' tests — here the contract under test is the STATE)
    StreamOps.cmsBatch(all.filter($"event_id" % 2 === 0), 0L, state,
      col("user_id"), 0.001, 0.99, 42)
    StreamOps.cmsBatch(all.filter($"event_id" % 2 =!= 0), 1L, state,
      col("user_id"), 0.001, 0.99, 42)
    def stored = Sketch.heavyHittersCmsStored(spark, state, all,
        col("user_id"), k = 5).collect().map(_.toSeq).toSet
    val onePass = Sketch.heavyHittersCms(all, col("user_id"), k = 5)
      .collect().map(_.toSeq).toSet
    assert(stored == onePass && onePass.nonEmpty)
    // every verdict is TRUE (the merged sketch keeps the error contract)
    assert(onePass.forall(_.last == true))
    // crash-replay of the last batch: same dir overwritten, state unchanged
    StreamOps.cmsBatch(all.filter($"event_id" % 2 =!= 0), 1L, state,
      col("user_id"), 0.001, 0.99, 42)
    assert(stored == onePass)
  }

  test("watermarkTumblingModel: batch model emits exactly what real withWatermark append drops/keeps") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("late-events")
    def ev(id: Long, ts: String, tpe: String, v: Double) =
      s"""{"event_id":$id,"ts":"$ts","user_id":1,"event_type":"$tpe","value":$v,"props":"{}"}"""
    def writeFile(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(dir, name, rows)
    // batch 0: on-time events; max ts 01:25 → model watermark 01:15 after
    writeFile("b0.json", Seq(
      ev(1, "2026-01-01T00:10:00Z", "click", 1.0),
      ev(2, "2026-01-01T00:50:00Z", "click", 2.0),
      ev(3, "2026-01-01T01:25:00Z", "view", 1.0)))
    // batch 1: e11 older than max-seen but its [01:00,02:00) window is
    // still open → KEPT; e12 on-time → advances max to 02:30. This batch
    // also serves as the INTERVENING batch: the engine's watermark commit
    // lags one batch behind the model's documented one-batch contract
    // (eviction is the cutoff — see the test above), so the late arrival
    // below sits ≥2 batches after the advancing data, where BOTH
    // mechanics agree it must drop.
    writeFile("b1.json", Seq(
      ev(11, "2026-01-01T01:20:00Z", "view", 8.0),
      ev(12, "2026-01-01T02:30:00Z", "click", 1.0)))
    // batch 2: late event for the long-closed [00:00,01:00) window —
    // dropped under the model (wm 02:20) and the engine (wm 01:15) alike
    writeFile("b2.json", Seq(ev(21, "2026-01-01T00:20:00Z", "click", 4.0)))
    // batch 3: flush sentinel pushes the final watermark past every real
    // window so append mode emits them all; its own window stays open
    writeFile("b3.json", Seq(ev(31, "2026-01-01T12:00:00Z", "sentinel", 0.0)))

    val streamed = runToMemory(
      StreamOps.tumblingCounts(
        StreamOps.readEventStream(spark, dir, maxFilesPerTrigger = Some(1)),
        width = "1 hour", watermark = "10 minutes"),
      "late_tumbling", "append")
      .filter("event_type <> 'sentinel'")
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq

    val batch = spark.read.schema("event_id BIGINT, ts TIMESTAMP, " +
        "user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .json(dir)
    val model = StreamOps.watermarkTumblingModel(batch,
        floor(col("event_id") / 10), delaySec = 600L, width = "1 hour")
      .filter("event_type <> 'sentinel'") // model keeps the open window too
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq

    assert(streamed == model)
    // hand-computed: e21 dropped; e11 kept despite arriving after newer data
    val byKey = model.map(r => (r(0), r(1)) -> (r(2), r(3))).toMap
    assert(byKey.size == 3)
    assert(byKey((1767225600L, "click")) == (2L, 3.0))  // 00:00 e1+e2, no e21
    assert(byKey((1767229200L, "view")) == (2L, 9.0))   // 01:00 e3+e11
    assert(byKey((1767232800L, "click")) == (1L, 1.0))  // 02:00 e12
  }

  test("stored-state read sides fail with a descriptive error before the first batch") {
    import org.apache.spark.sql.functions._
    val empty = tmpDir("no-state")
    val eCms = intercept[IllegalArgumentException] {
      graft.ops.Sketch.heavyHittersCmsStored(spark, s"$empty/cms",
        (1 to 3).map(_.toLong).toDF("user_id"), col("user_id"), k = 3)
    }
    assert(eCms.getMessage.contains("no stored sketches"))
    val ePmi = intercept[IllegalArgumentException] {
      StreamOps.pmiTopK(spark, s"$empty/pmi", topK = 5, minCount = 1)
    }
    assert(ePmi.getMessage.contains("no stored PMI state"))
  }

  test("driftSink: batches score against prior histograms only; replay idempotent") {
    import org.apache.spark.sql.functions._
    import graft.ops.Quality
    val src = tmpDir("drift-src")
    val state = tmpDir("drift-state")
    val ckpt = tmpDir("drift-ckpt")
    def doc(id: Long, nToks: Int) =
      s"""{"doc_id":$id,"lang":"en","text":"${Seq.fill(nToks)("w").mkString(" ")}"}"""
    def writeFile(name: String, rows: Seq[String]): Unit =
      StreamFixtures.writeFile(src, name, rows)
    // bucket = token-count decile band, like the catalog query
    val bucket = least(floor(size(split(col("text"), " ")) / 10), lit(9L))
    writeFile("b1.json", Seq(doc(1, 5), doc(2, 15), doc(3, 15)))
    writeFile("b2.json", Seq(doc(4, 5), doc(5, 35)))
    val q = StreamOps.driftSink(
      StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
      state, ckpt, bucket, nBuckets = 10)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    def reports: Map[(Long, Long), (Long, Long)] =
      spark.read.parquet(s"$state/report")
        .select(col("batch").cast("long"), col("bucket"), col("ref_n"),
          col("cur_n"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val first = reports
    // batch 0 scored against the EMPTY reference; batch 1 against batch 0
    assert(first((0L, 0L)) == ((0L, 1L)) && first((0L, 1L)) == ((0L, 2L)))
    assert(first((1L, 0L)) == ((1L, 1L)) && first((1L, 1L)) == ((2L, 0L)) &&
      first((1L, 3L)) == ((0L, 1L)))
    // batch 1's report equals a direct stored-histogram computation
    val b1 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b1.json")
    val b2 = spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
      .json(s"$src/b2.json")
    val direct = Quality.psiDriftFromCounts(Quality.histogram(b1, bucket),
        b2, bucket, 10).collect().map(_.toSeq).toSet
    val streamed = spark.read.parquet(s"$state/report/batch=1")
      .collect().map(_.toSeq).toSet
    assert(streamed == direct && streamed.nonEmpty)
    // crash-replay of the LAST batch: state read excludes its own dir
    StreamOps.driftDocumentBatch(b2, 1L, state, bucket, nBuckets = 10)
    assert(reports == first)
    assert(spark.read.parquet(s"$state/hist").drop("batch")
      .as[(Long, Long)].collect().toSet ==
      Set((0L, 1L), (1L, 2L), (3L, 1L)))
  }

  test("holtStream: three-long state folds the identical truncating " +
      "recurrence; latest emission equals the batch operator across " +
      "micro-batch boundaries") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("holt-events")
    def ev(id: Long, sec: Long, uid: Long, v: Double) =
      s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochSecond(sec)}",""" +
        s""""user_id":$uid,"event_type":"view","value":$v,"props":"{}"}"""
    // the state must carry l/b ACROSS the file boundary
    StreamFixtures.writeFile(dir, "p1.json", Seq(
      ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0),
      ev(3, 0, 2, 4.0)
    ))
    StreamFixtures.writeFile(dir, "p2.json", Seq(
      ev(4, 20, 1, 4.0)
    ))
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val streamed = runToMemory(
      StreamOps.holtStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir)),
      "holt", "append")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val latest = streamed.groupBy(_._1).map { case (u, rows) =>
      val r = rows.maxBy(_._2); u -> ((r._2, r._3, r._4, r._5)) }
    val batch = EventOps.holtForecastBp(spark.read.schema(schema).json(dir))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(latest == batch)
    // hand values: u1 after 3 obs — l₂=1.5e6, b₂=1.5e5; t₃: l = (5000·4e6
    // + 5000·1.65e6) div 1e4 = 2825000, b = (3000·1325000 + 7000·150000)
    // div 1e4 = 502500, forecast = 2825000 + 3·502500
    assert(latest(1L) == ((3L, 2825000L, 502500L, 4332500L)))
    assert(latest(2L) == ((1L, 4000000L, 0L, 4000000L)))
  }

  test("runningUserCounts: mapGroupsWithState accumulates per-user counts") {
    val out = runToMemory(
      StreamOps.runningUserCounts(spark, readStreamBatched),
      "running", "update")
      .filter("user_id <> 9")
      .orderBy("user_id").collect()
    assert(out.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      .toSeq == Seq((1L, 3L), (2L, 2L)))
  }
}
