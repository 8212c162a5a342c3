package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side work attributed to one span. Task metrics arrive on the
  * listener bus, so the fields are atomics.
  */
final class Counters {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val taskMs, runMs, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, fetchWaitMs, spill = new AtomicLong
  val bytesRead, recordsRead, bytesWritten = new AtomicLong

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "failed_tasks" -> failedTasks.get, "task_ms" -> taskMs.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "fetch_wait_ms" -> fetchWaitMs.get,
    "spill_bytes" -> spill.get, "bytes_read" -> bytesRead.get,
    "records_read" -> recordsRead.get, "bytes_written" -> bytesWritten.get)
}

/** One timed interval. `parent` is -1 for the root. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
                      var end: Long = -1L, counters: Counters = new Counters) {
  val attrs = mutable.LinkedHashMap.empty[String, Any]
}

/** In-memory span recorder for one run. Spans nest run → operation → layer
  * call; Spark jobs are attributed to the innermost open span through the
  * `perfbench.span` local property set before each call, and streaming jobs
  * through the batch id Spark stamps on them. Everything is written out
  * once, when the run ends.
  */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var open = List.empty[Span]
  private val stageCounters = new ConcurrentHashMap[Int, Counters]()
  /** streaming batch id → the work of that micro-batch's jobs. */
  val batchCounters = new ConcurrentHashMap[Long, Counters]()
  private val wall0 = (System.currentTimeMillis(), System.nanoTime())
  /** plans of the query executions finished since the last `takePlans`. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private var spark: SparkSession = _

  def all: Seq[Span] = spans.toSeq

  def begin(name: String): Span = synchronized {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    byId.put(s.id, s)
    open = s :: open
    if (spark != null) spark.sparkContext.setLocalProperty(Tracer.Key, s.id.toString)
    s
  }

  def end(s: Span): Span = synchronized {
    s.end = System.nanoTime()
    open = open.dropWhile(_.id != s.id).drop(1)
    if (spark != null)
      spark.sparkContext.setLocalProperty(Tracer.Key, open.headOption.map(_.id.toString).orNull)
    s
  }

  def span[T](name: String)(body: => T): T = {
    val s = begin(name)
    try body finally end(s)
  }

  /** Wall-clock epoch milliseconds on the span time base. */
  def nanosAt(epochMs: Long): Long = wall0._2 + (epochMs - wall0._1) * 1000000L

  /** A span whose interval was measured elsewhere (streaming progress). */
  def record(name: String, parent: Int, start: Long, end: Long,
             counters: Counters = new Counters): Span = synchronized {
    val s = Span(spans.size, name, parent, start, end, counters)
    spans += s
    byId.put(s.id, s)
    s
  }

  private def countersOf(props: java.util.Properties): Option[Counters] =
    Option(props).flatMap { p =>
      Option(p.getProperty(Tracer.BatchKey))
        .map(b => batchCounters.computeIfAbsent(b.toLong, _ => new Counters))
        .orElse(Option(p.getProperty(Tracer.Key)).flatMap(id => Option(byId.get(id.toInt)))
          .map(_.counters))
    }

  /** Attach the listeners to a session; counters flow from then on. */
  def attach(session: SparkSession): Unit = {
    spark = session
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        countersOf(e.properties).foreach(_.jobs.incrementAndGet())
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        countersOf(e.properties).foreach { c =>
          stageCounters.put(e.stageInfo.stageId, c)
          c.stages.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageCounters.get(e.stageId)).foreach { c =>
          c.tasks.incrementAndGet()
          if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks.incrementAndGet()
          c.taskMs.addAndGet(e.taskInfo.duration)
          val m = e.taskMetrics
          if (m != null) {
            c.runMs.addAndGet(m.executorRunTime)
            c.cpuNs.addAndGet(m.executorCpuTime)
            c.gcMs.addAndGet(m.jvmGCTime)
            c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
            c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
            c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
            c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
          }
        }
    })
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def drain(): Unit = if (spark != null) org.apache.spark.perfbench.Bridge.drainListenerBus(spark)

  /** Query executions finished since the previous call, oldest first. */
  def takePlans(): Seq[QueryExecution] = {
    drain()
    Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
  }

  /** Wall seconds of `s` not covered by its children (self time). */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var at = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, at)
      if (b > lo) { covered += b - lo; at = b }
    }
    ((s.end - s.start) - covered) / 1e9
  }

  /** One row per operation span: its time, the time of each kind of layer
    * call under it, the Spark work of its whole subtree, and its attributes
    * (plan node counts, input rows, ...).
    */
  def ledger: Seq[java.util.Map[String, Any]] = {
    val kids = spans.toSeq.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    spans.filter(_.name.startsWith("op:")).map { op =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("name", op.name.stripPrefix("op:"))
      m.put("seconds", (op.end - op.start) / 1e9)
      kids.getOrElse(op.id, Nil).groupBy(_.name).foreach { case (n, ks) =>
        m.put(s"${n}_s", ks.map(k => (k.end - k.start) / 1e9).sum)
      }
      val tree = subtree(op).map(_.counters.toMap)
      Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_bytes").foreach(k => m.put(k, tree.map(_(k)).sum))
      op.attrs.foreach { case (k, v) => m.put(k, v) }
      m
    }.toSeq
  }

  def toJson: java.util.Map[String, Any] = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("run_id", runId)
    out.put("spans", spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
      m.put("run_id", runId)
      m.put("start_s", (s.start - t0) / 1e9); m.put("end_s", (s.end - t0) / 1e9)
      m.put("self_s", selfSeconds(s))
      s.counters.toMap.filter(_._2 != 0).foreach { case (k, v) => m.put(k, v) }
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      m
    }.asJava)
    out
  }
}

object Tracer {
  val Key = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"

  /** `body` inside a span when tracing, bare otherwise. */
  def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** Physical operators of a finished execution, through adaptive stages
    * and subqueries; a reused exchange counts once, where it was built.
    */
  def operators(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: (p.children ++ p.subqueries).flatMap(operators)
  }

  def nodeCounts(plan: SparkPlan): Map[String, Long] = {
    val ops = operators(plan)
    def n(f: SparkPlan => Boolean) = ops.count(f).toLong
    Map(
      "exchanges" -> n {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "smj" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
      "scans" -> n(_.isInstanceOf[FileSourceScanExec]))
  }
}
