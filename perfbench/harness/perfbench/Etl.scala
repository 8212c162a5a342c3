package perfbench

import java.time.{Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Try
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.etl.{Extract, Load, Pipeline, PipelineConfig, RunResult, Transforms}
import perfbench.Main.Op

/** Back-to-back scheduled ETL cycles over file fixtures. One pass is one
  * `Pipeline.runScheduled(k)` call; one operation is one cycle. The
  * pipeline's clock is injected and the no-op sleep advances it by one
  * schedule interval, as production's spacing would, so every cycle gets
  * its own second-resolution run id. The warehouse — and its `etl_runs`
  * table, rewritten whole every cycle — persists across passes of a run.
  */
final class Etl(plan: JsonNode) extends Main.Workload {
  private val work = Main.text(plan, "work")
  private val cores = plan.get("cores").asInt()
  /** fixture directory of each cycle of a pass, in order */
  private val cycles = plan.get("cycles").elements().asScala.map(_.asText).toSeq
  private val config = PipelineConfig(
    baseUrl = "file://fixtures", requestDelayMs = 0, warehouse = s"$work/warehouse",
    logLevel = "WARN")
  private var now = Instant.parse("2024-01-01T00:00:00Z")
  private val fetched = new AtomicLong
  private var cycle = 0

  /** Serves the current cycle's fixture directory through `FileTransport`. */
  private val transport = new Extract.Transport {
    def fetch(url: String) = {
      val body = new Extract.FileTransport(cycles(cycle % cycles.size)).fetch(url)
      body.foreach(b => fetched.addAndGet(b.getBytes("UTF-8").length.toLong))
      body
    }
  }
  private def pipeline(spark: SparkSession) =
    new Pipeline(spark, config, transport, () => now)
  private val interval = Duration.ofHours(config.intervalHours.toLong)

  private val loaded = new java.util.ArrayList[Any]()

  private def record(r: RunResult, fixture: String): Unit =
    loaded.add(Map("run_id" -> r.runId, "fixture" -> fixture, "status" -> r.status,
      "rows" -> r.rowsByTable.asJava).asJava)

  /** One cycle per warm-up fixture into a warehouse of its own. */
  def warm(spark: SparkSession): Unit = {
    val fixtures = plan.get("warmup_cycles").elements().asScala.map(_.asText).toSeq
    val transport = new Extract.Transport {
      def fetch(url: String) = new Extract.FileTransport(fixtures.head).fetch(url)
    }
    val cfg = config.copy(warehouse = s"$work/warmup-warehouse")
    val runs = new Pipeline(spark, cfg, transport, () => now.minus(interval))
      .runScheduled(fixtures.size, _ => ())
    require(runs.forall(_.status == "Success"), "warm-up ETL cycle failed")
  }

  def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): Seq[Op] =
    tracer.fold(scheduled(spark))(traced(spark, _))

  /** The production path: `runScheduled` with the sleep as cycle boundary. */
  private def scheduled(spark: SparkSession): Seq[Op] = {
    val marks = scala.collection.mutable.ArrayBuffer(System.nanoTime())
    val first = cycle
    val results = pipeline(spark).runScheduled(cycles.size, sleep = ms => {
      marks += System.nanoTime()
      now = now.plusMillis(ms)
      cycle += 1
    })
    marks += System.nanoTime()
    now = now.plus(interval)
    cycle += 1
    results.zipWithIndex.map { case (r, i) =>
      val fixture = cycles((first + i) % cycles.size)
      record(r, fixture)
      Op(s"cycle:${label(fixture)}", (marks(i + 1) - marks(i)) / 1e9,
        if (r.status == "Success") "" else r.status)
    }
  }

  /** The same phases in `Pipeline.run`'s order, each in its own span. */
  private def traced(spark: SparkSession, tracer: Tracer): Seq[Op] =
    cycles.indices.map { _ =>
      val fixture = cycles(cycle % cycles.size)
      val p = pipeline(spark)
      val op = tracer.begin(s"op:cycle:${label(fixture)}")
      val t0 = System.nanoTime()
      val fetch0 = fetched.get
      val load = new Load(config.warehouse)
      val runId = p.newRunId()
      val iso = DateTimeFormatter.ISO_OFFSET_DATE_TIME.withZone(ZoneOffset.UTC)
      val startedAt = iso.format(now)
      val raw = tracer.span("etl.extract") {
        Extract.extractAll(spark, transport, config.baseUrl, config.endpoints,
          config.requestDelayMs, config.retryAttempts)
      }
      op.attrs("fetch_bytes") = fetched.get - fetch0
      val transformed = tracer.span("etl.transform")(Transforms.transformAll(raw))
      val rows = tracer.span("etl.load") {
        try load.loadAll(transformed, runId, iso.format(now))
        finally raw.values.foreach(_.unpersist())
      }
      val total = rows.values.sum
      tracer.span("etl.runlog") {
        val duration = math.rint((System.nanoTime() - t0) / 1e9 * 100) / 100
        load.upsertRow(spark, "etl_runs", Seq("run_id"),
          load.metricsRow(spark, runId, startedAt, iso.format(now), "Success",
            rows.count(_._2 > 0), total, duration))
      }
      tracer.end(op)
      op.attrs("files_written") = Main.dirStats(config.warehouse)._2
      record(RunResult(runId, "Success", rows, total), fixture)
      now = now.plus(interval)
      cycle += 1
      Op(s"cycle:${label(fixture)}", (op.end - op.start) / 1e9)
    }

  def check(spark: SparkSession): java.util.Map[String, Any] = {
    val runs = Try(spark.read.parquet(s"${config.warehouse}/etl_runs")
      .selectExpr("run_id", "status").collect().map(r => r.getString(0) -> r.getString(1)).toSeq)
    Map[String, Any](
      "cycles" -> loaded,
      "etl_runs_rows" -> runs.map(_.size.toLong).getOrElse(-1L),
      "etl_runs_distinct_ids" -> runs.map(_.map(_._1).distinct.size.toLong).getOrElse(-1L),
      "etl_runs_success" -> runs.map(_.count(_._2 == "Success").toLong).getOrElse(-1L)).asJava
  }

  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    val phases = Set("etl.extract", "etl.transform", "etl.load", "etl.runlog")
    def t(f: Counters => Long) = Main.total(tracer, s => phases(s.name))(f).toDouble
    val ops = tracer.all.filter(_.name.startsWith("op:"))
    val fetchBytes = ops.map(_.attrs("fetch_bytes").asInstanceOf[Long]).sum.toDouble
    val written = t(_.bytesWritten.get)
    Main.opsMetrics(tracer, s => phases(s.name), cores) ++ Map(
      "etl.extract_s" -> Main.seconds(tracer, "etl.extract"),
      "etl.fetch_bytes" -> fetchBytes,
      "etl.transform_s" -> Main.seconds(tracer, "etl.transform"),
      "etl.load_s" -> Main.seconds(tracer, "etl.load"),
      "etl.runlog_s" -> Main.seconds(tracer, "etl.runlog"),
      "etl.jobs" -> t(_.jobs.get),
      "etl.bytes_written" -> written,
      "etl.files_written" -> ops.map(_.attrs("files_written").asInstanceOf[Long]).sum.toDouble,
      "etl.stored_per_input_byte" -> (if (fetchBytes > 0) written / fetchBytes else 0.0))
  }

  /** The fixture directory's own name (`x1`, `x300`), for operation names. */
  private def label(fixture: String): String = new java.io.File(fixture).getName
}
