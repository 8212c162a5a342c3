package graft.etl

/** CLI entry point — reference parity for `python etl/pipeline.py [--once]`
  * (etl/pipeline.py:358-388 and Docker entrypoint, Dockerfile:31-32).
  *
  * Usage: `sbt "runMain graft.etl.Main [--once] [--config <file>]
  * [--fixtures <dir>] [--warehouse <dir>] [--runs N]"`
  *
  * `--once` runs a single pipeline cycle (the reference's flag); otherwise
  * the scheduled mode re-runs every `intervalHours` (bounded by `--runs` so
  * the process is testable; production would run under an external scheduler
  * or as a Structured Streaming job — SURVEY §2.8). `--config` points at a
  * JSON file in the reference's shape; without it the reference's default
  * path fallback applies and a missing file means compiled defaults.
  * `--fixtures` swaps the HTTP transport for local fixture files (CI has no
  * network). The master is the launcher's (spark-submit `--master`), else
  * local (`graft.Session`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val once = args.contains("--once")
    def argOf(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val base = argOf("--config").map(PipelineConfig.fromFile(_))
      .getOrElse(PipelineConfig.loadOrDefaults())
    val config = argOf("--warehouse")
      .map(w => base.copy(warehouse = w)).getOrElse(base)
    val transport = argOf("--fixtures")
      .map(new Extract.FileTransport(_))
      .getOrElse(new Extract.HttpTransport(config.timeoutSeconds))
    val logger = new RunLogger(config.logFile, config.logLevel)

    val spark = graft.Session("graft-etl")
    val pipeline = new Pipeline(spark, config, transport, logger = logger)
    try {
      if (once) {
        val r = pipeline.run()
        val summary = s"run ${r.runId}: ${r.status}, " +
          s"${r.rowsByTable.size} tables, ${r.totalRows} rows"
        // BOTH sinks: stdout because scripts parse this line (and the
        // default session has no log file), the logger so a configured
        // log file keeps its terminal run record
        println(summary)
        logger.info(summary)
      } else {
        val runs = argOf("--runs").map(_.toInt).getOrElse(Int.MaxValue)
        pipeline.runScheduled(runs)
      }
    } finally {
      spark.stop()
      logger.close()
    }
  }
}
