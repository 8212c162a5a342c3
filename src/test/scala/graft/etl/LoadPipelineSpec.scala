package graft.etl

import graft.SparkSpec
import scala.util.{Failure, Success, Try}

/** K1-K5, A1-A2 and the run lifecycle (reference etl/pipeline.py:239-354). */
class LoadPipelineSpec extends SparkSpec {

  import spark.implicits._

  test("K1: full refresh replaces prior table contents") {
    val load = new Load(tmpDir("wh"))
    assert(load.fullRefresh(Seq(1, 2, 3).toDF("n"), "t") == 3L)
    assert(load.fullRefresh(Seq(9).toDF("n"), "t") == 1L)
    assert(spark.read.parquet(load.tablePath("t")).as[Int].collect().toSeq == Seq(9))
  }

  test("K2: empty DataFrame skipped, no table created") {
    val load = new Load(tmpDir("wh"))
    assert(load.fullRefresh(Seq.empty[Int].toDF("n"), "empty") == 0L)
    assert(!new java.io.File(load.tablePath("empty")).exists())
  }

  test("K4: lineage columns constant per run") {
    val load = new Load(tmpDir("wh"))
    val rows = load.withLineage(Seq(1, 2).toDF("n"), "run1", "2026-08-12T00:00:00Z")
      .collect()
    assert(rows.forall(_.getAs[String]("_etl_run_id") == "run1"))
    assert(rows.forall(_.getAs[String]("_etl_loaded_at") == "2026-08-12T00:00:00Z"))
  }

  test("fullRefresh computes its input ONCE (row count rides the write, no pre-count scan)") {
    // A per-row accumulator probe: the old shape (df.count() then write)
    // evaluated every input row twice, and an isEmpty probe evaluates part
    // of one partition again. The write pass alone sees each row once.
    val load = new Load(tmpDir("wh"))
    val acc = spark.sparkContext.longAccumulator("rows-evaluated")
    val n = 10000L
    val probed = spark.range(n).repartition(4)
      .map { x => acc.add(1); x }.toDF("n")
    assert(load.fullRefresh(probed, "once") == n)
    assert(spark.read.parquet(load.tablePath("once")).count() == n)
    assert(acc.value == n, s"input evaluated for ${acc.value} rows, not $n")
  }

  /** The names under `dir` that readers skip: the commit's hidden siblings. */
  private def hiddenIn(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.startsWith("."))
      .filterNot(_.endsWith(".crc"))

  test("commit: every crash point leaves the old or the new rows, and the next commit recovers") {
    def ns(path: String) = spark.read.parquet(path).as[Int].collect().sorted.toSeq
    def crashed(at: String, build: (java.io.File, java.io.File, java.io.File) => Unit,
                expect: Seq[Int]): Unit = {
      val load = new Load(tmpDir("wh"))
      load.fullRefresh(Seq(1, 2).toDF("n"), "t")
      val path = load.tablePath("t")
      val Seq(table, staging, trash) = Seq("t", ".t.staging", ".t.trash")
        .map(n => new java.io.File(load.tablePath(n)))
      Seq(7, 8, 9).toDF("n").write.parquet(staging.getPath)
      build(table, staging, trash)
      // a complete copy is on disk, where the recovery pass will look
      val onDisk = if (table.exists()) table else trash
      assert(Set(Seq(1, 2), Seq(7, 8, 9)).contains(ns(onDisk.getPath)), at)
      // an empty refresh commits nothing, so it shows what recovery left
      assert(load.fullRefresh(Seq.empty[Int].toDF("n"), "t") == 0L)
      assert(ns(path) == expect, at)
      assert(hiddenIn(load.tablePath("")).isEmpty, s"$at: ${hiddenIn(load.tablePath(""))}")
      assert(load.fullRefresh(Seq(5).toDF("n"), "t") == 1L)
      assert(ns(path) == Seq(5), at)
    }
    crashed("staged only", (_, _, _) => (), Seq(1, 2))
    crashed("old copy in trash, staged copy not renamed",
      (table, _, trash) => assert(table.renameTo(trash)), Seq(1, 2))
    crashed("both renamed, trash not dropped", { (table, staging, trash) =>
      assert(table.renameTo(trash) && staging.renameTo(table))
    }, Seq(7, 8, 9))
  }

  test("fullRefresh: a write that fails mid-job leaves the previous rows readable") {
    val load = new Load(tmpDir("wh"))
    load.fullRefresh(Seq(1, 2).toDF("n"), "t")
    // the 4th partition (rows 6, 7) fails at its last row: a probe that
    // reads one row per partition passes, the write fails
    val failing = spark.range(0, 8, 1, 4).map { x =>
      if (x == 7L) throw new IllegalStateException("the 4th partition's last row fails")
      x
    }.toDF("n")
    intercept[Exception](load.fullRefresh(failing, "t"))
    assert(spark.read.parquet(load.tablePath("t")).as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(hiddenIn(load.tablePath("")).isEmpty)
  }

  test("concurrently: input order, every action finishes before the first " +
      "failure is rethrown with the rest suppressed, jobs keep the caller's " +
      "local properties") {
    import java.util.concurrent.atomic.AtomicBoolean
    val caller = Thread.currentThread()
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val actions = (1 to 4).map { i => () =>
      threads.add(Thread.currentThread())
      spark.sparkContext.parallelize(1 to i, 2).map(_ * 10).collect().sum
    }
    val (out, jobs) = jobsDuring(Load.concurrently(actions))
    assert(out == Seq(10, 30, 60, 100))
    assert(threads.size > 0 && !threads.contains(caller), s"ran on $threads")
    // one job per action, each tagged through the inherited local property
    assert(jobs.size == actions.size, s"${jobs.size} tagged jobs")
    val finished = Array.fill(3)(new AtomicBoolean(false))
    val err = intercept[IllegalStateException] {
      Load.concurrently(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); spark.range(10).collect(); finished(1).set(true) },
        () => { Thread.sleep(300); finished(2).set(true)
          throw new IllegalArgumentException("second") }))
    }
    assert(err.getMessage == "first")
    assert(finished(1).get && finished(2).get, "rethrown before the others finished")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("compactPartitioned: each leaf compacted in place, layout + pruning preserved") {
    val load = new Load(tmpDir("wh"))
    val path = load.tablePath("parts")
    // simulate micro-batch fragmentation: 5 small appends per partition value
    (1 to 5).foreach { b =>
      Seq(("a", b), ("b", b)).toDF("part", "v")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("part").parquet(path)
    }
    val before = spark.read.parquet(path)
      .select("part", "v").as[(String, Int)].collect().toSet
    val (nBefore, nAfter) =
      Load.compactPartitioned(spark, path, targetFileBytes = 1L << 30)
    assert(nBefore >= 10 && nAfter == 2, s"$nBefore -> $nAfter files")
    assert(new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("part=")).toSet == Set("part=a", "part=b"))
    assert(!new java.io.File(s"$path/.compact-staging").exists())
    val reread = spark.read.parquet(path)
    assert(reread.select("part", "v").as[(String, Int)].collect().toSet == before)
    // partition pruning must still happen at PLAN time after the rewrite
    val filtered = reread.filter($"part" === "a")
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val files = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(_.contains("part=a")),
      s"scan still touches: ${files.filterNot(_.contains("part=a")).take(3)}")
    // idempotent: already-compact leaves untouched
    assert(Load.compactPartitioned(spark, path, targetFileBytes = 1L << 30) == (2, 2))
  }

  test("parquetRowCount: missing table counts 0; uncommitted _temporary files don't count") {
    val load = new Load(tmpDir("wh"))
    // a not-yet-created table must read as empty, not throw
    assert(Load.parquetRowCount(spark, load.tablePath("nope")) == 0L)
    val path = load.tablePath("with_temp")
    Seq(1, 2, 3).toDF("n").write.parquet(path)
    assert(Load.parquetRowCount(spark, path) == 3L)
    // simulate a crashed concurrent writer: an uncommitted attempt file
    // under _temporary (and a dot-dir variant) must not inflate the count
    Seq(4, 5).toDF("n").write.parquet(s"$path/_temporary/0/task_attempt_1")
    Seq(6).toDF("n").write.parquet(s"$path/.staging-xyz")
    assert(Load.parquetRowCount(spark, path) == 3L)
  }

  test("bucketed write reports an exact footer-based row count") {
    val load = new Load(tmpDir("wh"))
    try {
      val base = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "v")
      assert(load.writeBucketed(base, "bkt_cnt", 4, Seq("k")) == 1000L)
      assert(spark.table("bkt_cnt").count() == 1000L)
      // and the footer counter itself agrees with a full scan
      assert(Load.parquetRowCount(spark, load.tablePath("bkt_cnt")) == 1000L)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_cnt")
  }

  test("compactPartitioned recovery: a mid-swap crash leaves the partition restorable") {
    val load = new Load(tmpDir("wh"))
    val path = load.tablePath("crashy")
    Seq(("a", 1), ("b", 2)).toDF("part", "v")
      .write.partitionBy("part").parquet(path)
    val before = spark.read.parquet(path)
      .select("part", "v").as[(String, Int)].collect().toSet
    // Simulate a crash between the two swap renames: the original leaf has
    // been moved to .compact-trash but the staged copy never landed — the
    // trash now holds the ONLY copy of part=a.
    val trashDir = new java.io.File(s"$path/.compact-trash")
    assert(trashDir.mkdirs())
    assert(new java.io.File(s"$path/part=a")
      .renameTo(new java.io.File(s"$path/.compact-trash/part=a")))
    assert(!new java.io.File(s"$path/part=a").exists())
    // The next run must restore the orphaned leaf BEFORE dropping trash.
    Load.compactPartitioned(spark, path, targetFileBytes = 1L << 30)
    assert(new java.io.File(s"$path/part=a").exists())
    assert(!new java.io.File(s"$path/.compact-trash").exists())
    assert(spark.read.parquet(path)
      .select("part", "v").as[(String, Int)].collect().toSet == before)
  }

  test("compactPartitioned refuses flat and streaming-sink layouts") {
    val load = new Load(tmpDir("wh"))
    load.fullRefresh(Seq(1, 2).toDF("n"), "flat")
    intercept[IllegalArgumentException] {
      Load.compactPartitioned(spark, load.tablePath("flat"))
    }
    val sinkPath = load.tablePath("psink")
    Seq(("a", 1)).toDF("part", "v").write.partitionBy("part").parquet(sinkPath)
    new java.io.File(s"$sinkPath/_spark_metadata").mkdirs()
    intercept[IllegalArgumentException] {
      Load.compactPartitioned(spark, sinkPath)
    }
  }

  test("envelope unwrap survives malformed payloads (corrupt body → empty, not throw)") {
    assert(Extract.unwrapEnvelope(spark, "agents", "not json at all").count() == 0)
    assert(Extract.unwrapEnvelope(spark, "agents", """{"status":200}""").count() == 0)
    assert(Extract.unwrapEnvelope(spark, "agents",
      """{"status":200,"data":"oops-not-an-array"}""").count() == 0)
  }

  test("K3+K5: upsertRow creates table if absent, then replaces by key") {
    val load = new Load(tmpDir("wh"))
    def row(id: String, status: String) =
      load.metricsRow(spark, id, "s", "c", status, 6, 239L, 0.07)
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("r1", "Success"))
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("r2", "Success"))
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("r1", "Failed: x"))
    val out = spark.read.parquet(load.tablePath("etl_runs"))
      .select("run_id", "status").as[(String, String)].collect().toMap
    assert(out == Map("r1" -> "Failed: x", "r2" -> "Success"))
    assert(hiddenIn(load.tablePath("etl_runs")).isEmpty)
  }

  test("K3: the run log costs the same jobs at its 51st row as at its 2nd") {
    val load = new Load(tmpDir("wh"))
    def record(i: Int) = load.upsertRow(spark, "etl_runs", Seq("run_id"),
      load.metricsRow(spark, f"r$i%03d", "s", "c", "Success", 6, 239L, 0.07))
    record(1)
    val (_, second) = jobsDuring(record(2))
    (3 to 50).foreach(record)
    val (_, fiftyFirst) = jobsDuring(record(51))
    assert(second.size == 1, s"${second.size} jobs for the 2nd row")
    assert(fiftyFirst.size == second.size, s"${fiftyFirst.size} jobs for the 51st row")
    val ids = spark.read.parquet(load.tablePath("etl_runs")).select("run_id").as[String].collect()
    assert(ids.sorted.toSeq == (1 to 51).map(i => f"r$i%03d"))
  }

  test("K3: upsertRow folds a table written as one part file, each key read once") {
    val load = new Load(tmpDir("wh"))
    def row(id: String, status: String) =
      load.metricsRow(spark, id, "s", "c", status, 6, 239L, 0.07)
    val path = load.tablePath("etl_runs")
    // the one-file layout: every row in a single part-* file
    row("old", "Success").union(row("kept", "Success")).coalesce(1).write.parquet(path)
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("old", "Failed: x"))
    load.upsertRow(spark, "etl_runs", Seq("run_id"), row("new", "Success"))
    val out = spark.read.parquet(path).select("run_id", "status").as[(String, String)].collect()
    assert(out.sorted.toSeq ==
      Seq("kept" -> "Success", "new" -> "Success", "old" -> "Failed: x"))
    assert(!new java.io.File(path).list().exists(_.startsWith("part-")))
  }

  private val fixtureBodies = Map(
    "agents" ->
      """{"status":200,"data":[
         {"uuid":"u1","displayName":"Gekko","isPlayableCharacter":true,
          "role":{"displayName":"Initiator"},
          "abilities":[{"slot":"A1","displayName":"Wingman"}]}]}""",
    "weapons" ->
      """{"status":200,"data":[
         {"uuid":"w1","displayName":"Vandal",
          "category":"EEquippableCategory::Rifle",
          "weaponStats":{"damageRanges":[
            {"rangeStartMeters":0,"rangeEndMeters":30,"headDamage":160.0,
             "bodyDamage":40,"legDamage":34.0}]}}]}""",
    "maps" -> """{"status":200,"data":[{"uuid":"m1","displayName":"Ascent"}]}""",
    "gamemodes" -> """{"status":200,"data":[{"uuid":"g1","displayName":"Std"}]}""",
    "competitivetiers" -> """{"status":200,"data":[{"uuid":"c1"}]}"""
  ).map { case (k, v) => k -> v.replaceAll("\n\\s*", "") }

  private def fixtureTransport: Extract.Transport = new Extract.Transport {
    def fetch(url: String): Try[String] = {
      val ep = url.split("/").last.takeWhile(_ != '?')
      fixtureBodies.get(ep).map(Success(_))
        .getOrElse(Failure(new RuntimeException(s"no fixture $ep")))
    }
  }

  test("pipeline run: success path loads 5 tables + etl_runs metrics row") {
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0)
    val clock = java.time.Instant.parse("2026-08-12T06:00:00Z")
    val result = new Pipeline(spark, cfg, fixtureTransport, () => clock).run()
    assert(result.status == "Success")
    assert(result.runId == "20260812_060000")
    assert(result.rowsByTable == Map("agents" -> 1L, "abilities" -> 1L,
      "weapons" -> 1L, "weapon_damage" -> 1L, "maps" -> 1L, "gamemodes" -> 1L))
    assert(result.totalRows == 6L)
    val runs = spark.read.parquet(s"${cfg.warehouse}/etl_runs").collect()
    assert(runs.length == 1)
    assert(runs.head.getAs[String]("status") == "Success")
    assert(runs.head.getAs[Int]("tables_loaded") == 6)
    assert(runs.head.getAs[Long]("total_rows") == 6L)
    // loaded tables carry lineage columns
    val agents = spark.read.parquet(s"${cfg.warehouse}/agents")
    assert(agents.columns.contains("_etl_run_id"))
    assert(agents.head.getAs[String]("_etl_run_id") == "20260812_060000")
  }

  test("pipeline run: a failed table write rethrows and records a Failed row, " +
      "after every other table is refreshed") {
    // a damage range past Long's range fails weapon_damage's ANSI cast when
    // the write evaluates it; weapons reads the same fetch and stays good
    val bodies = fixtureBodies.updated("weapons", fixtureBodies("weapons")
      .replace("\"rangeStartMeters\":0", "\"rangeStartMeters\":1e300"))
    val transport = new Extract.Transport {
      def fetch(url: String): Try[String] =
        Success(bodies(url.split("/").last.takeWhile(_ != '?')))
    }
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0)
    val clock = java.time.Instant.parse("2026-08-12T06:00:00Z")
    val err = intercept[Exception](new Pipeline(spark, cfg, transport, () => clock).run())
    val runs = spark.read.parquet(s"${cfg.warehouse}/etl_runs").collect()
    assert(runs.map(_.getAs[String]("status")).toSeq == Seq(s"Failed: ${err.getMessage}"))
    def file(rel: String) = new java.io.File(s"${cfg.warehouse}/$rel")
    val runFiles = file("etl_runs").listFiles().filter(_.getName.endsWith(".parquet"))
      .filterNot(_.getName.startsWith("."))
    assert(runFiles.length == 1, runFiles.toSeq)
    val runsWritten = runFiles.head.lastModified()
    Seq("agents", "abilities", "weapons", "maps", "gamemodes").foreach { t =>
      assert(file(s"$t/_SUCCESS").exists(), s"$t was not refreshed")
      assert(file(s"$t/_SUCCESS").lastModified() <= runsWritten,
        s"$t committed after the etl_runs row")
    }
    assert(!file("weapon_damage/_SUCCESS").exists())
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.walk(file("").toPath).iterator().asScala
      .filter(_.getFileName.toString == "_temporary").toSeq
    assert(leftovers.isEmpty, s"uncommitted attempts left: $leftovers")
  }

  test("pipeline run: extraction failure degrades to empty tables, still Success") {
    val downTransport = new Extract.Transport {
      def fetch(url: String): Try[String] = Failure(new RuntimeException("down"))
    }
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0,
      retryAttempts = 1)
    val result = new Pipeline(spark, cfg, downTransport).run()
    assert(result.status == "Success") // reference degrades, doesn't abort
    assert(result.totalRows == 0L)
    val runs = spark.read.parquet(s"${cfg.warehouse}/etl_runs").collect()
    assert(runs.head.getAs[Int]("tables_loaded") == 0)
  }

  test("S6: config file in the reference's JSON shape loads with path fallback") {
    val dir = tmpDir("cfg")
    val path = s"$dir/pipeline_config.json"
    val json =
      """{
        |  "api": {
        |    "base_url": "https://example.test/v1",
        |    "endpoints": ["agents", "maps"],
        |    "request_delay_seconds": 0.25,
        |    "timeout_seconds": 7,
        |    "retry_attempts": 7
        |  },
        |  "database": {"path": "/app/data/x.db", "local_path": "data/local-wh"},
        |  "schedule": {"interval_hours": 12, "run_on_start": false},
        |  "logging": {"level": "DEBUG",
        |    "log_file": "/app/data/etl.log", "local_log_file": "data/etl.log"}
        |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
    // appRoot points at a nonexistent dir → "not in a container" → the
    // local_* path variants win (reference pipeline.py:46-48)
    val cfg = PipelineConfig.load(Seq(s"$dir/nope.json", path),
      appRoot = s"$dir/no-such-app")
    assert(cfg.baseUrl == "https://example.test/v1")
    assert(cfg.endpoints == Seq("agents", "maps"))
    assert(cfg.requestDelayMs == 250L)
    assert(cfg.timeoutSeconds == 7)
    assert(cfg.retryAttempts == 7)
    assert(cfg.warehouse == "data/local-wh")
    assert(cfg.logFile.contains("data/etl.log"))
    // appRoot exists → container paths win
    val inApp = PipelineConfig.fromFile(path, appRoot = dir)
    assert(inApp.warehouse == "/app/data/x.db")
    assert(inApp.logFile.contains("/app/data/etl.log"))
    assert(cfg.logLevel == "DEBUG")
    assert(cfg.intervalHours == 12)
    assert(!cfg.runOnStart)
    // partial config keeps compiled defaults for everything absent
    val partialPath = s"$dir/partial.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(partialPath),
      """{"api": {"base_url": "https://partial.test"}}""".getBytes("UTF-8"))
    val partial = PipelineConfig.fromFile(partialPath)
    assert(partial.baseUrl == "https://partial.test")
    assert(partial.endpoints == PipelineConfig().endpoints)
    assert(partial.intervalHours == PipelineConfig().intervalHours)
    // no path exists → error like the reference; lenient variant → defaults
    intercept[java.io.FileNotFoundException] {
      PipelineConfig.load(Seq(s"$dir/a.json", s"$dir/b.json"))
    }
    assert(PipelineConfig.loadOrDefaults(Seq(s"$dir/a.json")) == PipelineConfig())
  }

  test("run lifecycle logs per-stage lines + summary to the configured file") {
    val dir = tmpDir("log")
    val logPath = s"$dir/etl.log"
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0)
    val logger = new RunLogger(Some(logPath))
    try {
      val clock = java.time.Instant.parse("2026-08-12T06:00:00Z")
      new Pipeline(spark, cfg, fixtureTransport, () => clock, logger).run()
    } finally logger.close()
    val lines = scala.io.Source.fromFile(logPath).getLines().toSeq
    assert(lines.exists(_.contains("Starting ETL run 20260812_060000")))
    assert(lines.exists(_.contains("Extract complete: 5/5 endpoints")))
    assert(lines.exists(_.contains("Loaded agents: 1 rows")))
    assert(lines.exists(_.contains(
      "ETL run 20260812_060000 completed: Success, 6 tables, 6 rows")))
    // reference line format: 'YYYY-MM-DD HH:MM:SS [LEVEL] message'
    assert(lines.forall(_.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} \[\w+\] .*""")))
  }

  test("RunLogger level threshold filters below-level lines; WARN is a WARNING alias") {
    val dir = tmpDir("log2")
    val logPath = s"$dir/etl.log"
    val logger = new RunLogger(Some(logPath), level = "ERROR")
    try {
      logger.info("hidden info")
      logger.error("visible error")
    } finally logger.close()
    val lines = scala.io.Source.fromFile(logPath).getLines().toSeq
    assert(lines.length == 1 && lines.head.contains("visible error"))
    val warnPath = s"$dir/warn.log"
    val warnLogger = new RunLogger(Some(warnPath), level = "WARN")
    try {
      warnLogger.info("hidden at warn")
      warnLogger.warn("visible warn")
    } finally warnLogger.close()
    val warnLines = scala.io.Source.fromFile(warnPath).getLines().toSeq
    assert(warnLines.length == 1 && warnLines.head.contains("visible warn"))
  }

  test("runScheduled: run_on_start + interval sleeps between runs") {
    val cfg = PipelineConfig(warehouse = tmpDir("wh"), requestDelayMs = 0,
      intervalHours = 6)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ticks = Iterator.iterate(java.time.Instant.parse("2026-08-12T06:00:00Z"))(
      _.plusSeconds(1))
    val results = new Pipeline(spark, cfg, fixtureTransport, () => ticks.next())
      .runScheduled(2, sleeps += _)
    assert(results.map(_.status) == Seq("Success", "Success"))
    assert(sleeps.toSeq == Seq(6L * 3600 * 1000))
  }
}
