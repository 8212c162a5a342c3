package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets the session up several times (keeping the last),
  * runs the workload's untimed warm-up, then its operations in a closed loop
  * (one client, sequential operations) for the number of passes the run
  * length asks for; with tracing on, one traced pass and one untraced
  * reference pass follow. It collects what the output check needs and
  * writes everything it measured to one JSON file. `run.py` generates the
  * inputs and the plan, launches this, checks outputs and prints metrics.
  *
  * Usage: perfbench.Main <plan.json> <result.json>
  */
object Main {
  val json = new ObjectMapper()

  /** One operation's outcome. `error` is empty when it succeeded. */
  final case class Op(name: String, seconds: Double, error: String = "")

  /** A workload: `warm` runs its operations once on a small input, untimed,
    * so timed passes do not pay first-use JIT and code generation; `pass`
    * runs every operation once and returns them; `check` runs untimed
    * afterwards; `tracedSetup` is extra set-up work timed in traced runs
    * only.
    */
  trait Workload {
    def warm(spark: SparkSession): Unit
    def tracedSetup(spark: SparkSession): Unit = ()
    def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): Seq[Op]
    def check(spark: SparkSession): java.util.Map[String, Any]
    /** Per-layer metrics from a traced pass's spans. */
    def layerMetrics(tracer: Tracer): Map[String, Double]
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Pays one-time JVM and session costs (codegen compiler, shuffle and
    * parquet machinery, JSON reader) before the first timed operation.
    * Every action observes its output, so nothing is pruned away. A failure
    * here fails the run.
    */
  def warmup(spark: SparkSession, work: String): Unit = {
    val dir = s"$work/warmup"
    spark.range(0, 1 << 20, 1, 8).selectExpr("id % 97 AS k", "id * 3 AS v")
      .groupBy("k").sum("v").write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    require(back.count() == 97, "warmup read back the wrong row count")
    back.selectExpr("k", "row_number() OVER (PARTITION BY k % 7 ORDER BY `sum(v)`) AS rn")
      .write.format("noop").mode("overwrite").save()
    import spark.implicits._
    Seq("""{"a": 1, "b": [1, 2]}""").toDS().selectExpr(
      "from_json(value, 'a INT, b ARRAY<INT>') AS j").selectExpr("j.a", "explode(j.b)")
      .write.format("noop").mode("overwrite").save()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def dirStats(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)

  def opJson(o: Op): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("name", o.name); m.put("seconds", o.seconds)
    if (o.error.nonEmpty) m.put("error", o.error)
    m
  }

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new java.io.File(args(0)))
    val resultPath = args(1)
    val cores = plan.get("cores").asInt()
    val seconds = plan.get("seconds").asDouble()
    val traced = plan.get("trace").asBoolean()
    val passCount = math.max(1, math.round(seconds / plan.get("nominal_pass_s").asDouble()).toInt)
    val work = plan.get("work").asText()
    val setupRepeats = plan.get("setup_repeats").asInt()
    val workload: Workload = plan.get("workload").asText() match {
      case "catalog_iterative" => new Catalog(plan)
      case "etl_refresh" => new Etl(plan)
      case "stream_dedup" => new Stream(plan)
      case other => sys.error(s"unknown workload $other")
    }
    val out = new java.util.LinkedHashMap[String, Any]()

    // set-up, several times; the last session is kept
    val setups = (1 to setupRepeats).map { i =>
      val t0 = System.nanoTime()
      val spark = session(cores, work)
      val t1 = System.nanoTime()
      warmup(spark, work)
      val t2 = System.nanoTime()
      if (i < setupRepeats) stop(spark)
      println(f"[perfbench] setup $i: ${(t2 - t0) / 1e9}%.3f s")
      (spark, Seq(t1 - t0, t2 - t1, t2 - t0).map(_ / 1e9))
    }
    val spark = setups.last._1
    out.put("setup", setups.map(s => Map("build_s" -> s._2(0), "warmup_s" -> s._2(1),
      "total_s" -> s._2(2)).asJava).asJava)

    val w0 = System.nanoTime()
    workload.warm(spark)
    out.put("warm_s", (System.nanoTime() - w0) / 1e9)

    // the closed loop: one client, whole passes, no listeners attached
    val passes = (0 until passCount).map { i =>
      val p0 = System.nanoTime()
      val ops = workload.pass(spark, i, None)
      val wall = (System.nanoTime() - p0) / 1e9
      ops.foreach(o => println(f"[perfbench] pass $i ${o.name} ${o.seconds}%.3f s ${o.error}"))
      Map("wall_s" -> wall, "ops" -> ops.map(opJson).asJava).asJava
    }
    out.put("passes", passes.asJava)
    out.put("peak_rss_mb", peakRssMb())

    if (traced) {
      val tracer = new Tracer(s"${plan.get("workload").asText()}-${plan.get("seed").asLong()}")
      tracer.attach(spark)
      val root = tracer.begin("run")
      workload.pass(spark, passCount, Some(tracer))
      tracer.end(root)
      // an untraced pass right after, equally warm, is the overhead baseline
      val r0 = System.nanoTime()
      workload.pass(spark, passCount + 1, None)
      val reference = (System.nanoTime() - r0) / 1e9
      val w0 = System.nanoTime()
      workload.tracedSetup(spark)
      val prewarm = (System.nanoTime() - w0) / 1e9
      tracer.drain()
      val m = new java.util.LinkedHashMap[String, Any]()
      workload.layerMetrics(tracer).foreach { case (k, v) => m.put(k, v) }
      m.put("catalog.prewarm_s", prewarm)
      val tr = tracer.toJson
      tr.put("ledger", tracer.ledger.asJava)
      tr.put("wall_s", (root.end - root.start) / 1e9)
      tr.put("untraced_wall_s", reference)
      tr.put("metrics", m)
      out.put("trace", tr)
    }

    out.put("check", workload.check(spark))
    stop(spark)
    json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(resultPath), out)
  }

  /** Sum of one counter over spans matching `pick`. */
  def total(tracer: Tracer, pick: Span => Boolean)(f: Counters => Long): Long =
    tracer.all.filter(pick).map(s => f(s.counters)).sum

  def seconds(tracer: Tracer, name: String): Double =
    tracer.all.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

  /** The task-level metrics every operation span reports, over `pick`. */
  def opsMetrics(tracer: Tracer, pick: Span => Boolean, cores: Int): Map[String, Double] = {
    def t(f: Counters => Long) = total(tracer, pick)(f).toDouble
    val execWall = tracer.all.filter(pick).map(s => (s.end - s.start) / 1e9).sum
    Map(
      "ops.exec_s" -> execWall,
      "ops.jobs" -> t(_.jobs.get), "ops.stages" -> t(_.stages.get),
      "ops.tasks" -> t(_.tasks.get), "ops.task_run_s" -> t(_.runMs.get) / 1e3,
      "ops.task_cpu_s" -> t(_.cpuNs.get) / 1e9,
      "ops.task_overhead_s" -> (t(_.taskMs.get) - t(_.runMs.get)) / 1e3,
      "ops.gc_s" -> t(_.gcMs.get) / 1e3, "ops.failed_tasks" -> t(_.failedTasks.get),
      "ops.busy_frac" -> (if (execWall > 0) t(_.runMs.get) / 1e3 / (execWall * cores) else 0.0),
      "ops.shuffle_write_bytes" -> t(_.shuffleWrite.get),
      "ops.shuffle_read_bytes" -> t(_.shuffleRead.get),
      "ops.shuffle_fetch_wait_s" -> t(_.fetchWaitMs.get) / 1e3,
      "ops.spill_bytes" -> t(_.spill.get),
      "tables.bytes_read" -> t(_.bytesRead.get),
      "tables.records_read" -> t(_.recordsRead.get))
  }

  def text(n: JsonNode, k: String): String = n.get(k).asText()
}
