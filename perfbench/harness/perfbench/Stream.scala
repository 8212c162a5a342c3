package perfbench

import java.time.Instant
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.streaming.StreamOps
import perfbench.Main.Op

/** Streaming ingest dedup: `incrementalDedupSink` over a file-source
  * document stream, `Trigger.AvailableNow` with one file per trigger. One
  * pass is one query from an empty state and checkpoint to the end of the
  * input; one operation is one micro-batch, timed by its progress report.
  */
final class Stream(plan: JsonNode) extends Main.Workload {
  private val src = Main.text(plan, "inputs")
  private val work = Main.text(plan, "work")
  private val cores = plan.get("cores").asInt()
  private def stateDir(i: Int) = s"$work/stream/pass-$i/state"
  private var lastPass = -1

  def warm(spark: SparkSession): Unit = {
    val q = StreamOps.incrementalDedupSink(
      StreamOps.readDocumentStream(spark, Main.text(plan, "warmup_inputs"),
        maxFilesPerTrigger = Some(1)),
      s"$work/stream/warmup/state", s"$work/stream/warmup/checkpoint")
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(170000), "warm-up streaming query did not finish")
    q.exception.foreach(e => throw e)
  }

  def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): Seq[Op] = {
    Main.deleteTree(java.nio.file.Paths.get(s"$work/stream/pass-$index"))
    lastPass = index
    val span = tracer.map(_.begin("stream.query"))
    val q = StreamOps.incrementalDedupSink(
      StreamOps.readDocumentStream(spark, src, maxFilesPerTrigger = Some(1)),
      stateDir(index), s"$work/stream/pass-$index/checkpoint")
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(170000), "streaming query did not finish within 170 s")
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
    tracer.zip(span).foreach { case (tr, s) =>
      tr.end(s)
      tr.drain()
      batches.foreach(b => batchSpans(tr, s.id, b))
      val (bytes, files) = Main.dirStats(stateDir(index))
      s.attrs("state_bytes") = bytes
      s.attrs("state_files") = files
    }
    batches.map { b =>
      Op(s"batch:${b.batchId}", b.durationMs.get("triggerExecution").toDouble / 1e3)
    }
  }

  /** One span per micro-batch, carrying the jobs Spark ran under its batch
    * id, with its phases laid out in execution order as child spans.
    */
  private def batchSpans(tr: Tracer, parent: Int, b: StreamingQueryProgress): Unit = {
    val d = b.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
    val start = tr.nanosAt(Instant.parse(b.timestamp).toEpochMilli)
    val counters = Option(tr.batchCounters.get(b.batchId)).getOrElse(new Counters)
    val s = tr.record(s"op:batch:${b.batchId}", parent, start,
      start + d("triggerExecution") * 1000000L, counters)
    s.attrs("input_rows") = b.numInputRows
    var at = start
    Seq("stream.offsets" -> (d("latestOffset") + d("getBatch")),
      "stream.plan" -> d("queryPlanning"), "stream.add_batch" -> d("addBatch"),
      "stream.commit" -> (d("walCommit") + d("commitOffsets"))).foreach { case (n, ms) =>
      tr.record(n, s.id, at, at + ms * 1000000L)
      at += ms * 1000000L
    }
  }

  def check(spark: SparkSession): java.util.Map[String, Any] = {
    val passes = (0 to lastPass).map { i =>
      spark.read.parquet(s"${stateDir(i)}/out").select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    val first = passes.head
    Map[String, Any](
      "survivor_ids" -> first.sorted.asJava,
      "survivor_rows" -> first.size.toLong,
      "passes_identical" -> passes.forall(_.sorted == first.sorted)).asJava
  }

  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    val batches = tracer.all.filter(_.name.startsWith("op:batch:"))
    val query = tracer.all.filter(_.name == "stream.query")
    // Spark counts a source row once per scan of the micro-batch, and the
    // sink reads each batch more than once, so the survivor share is taken
    // over the documents actually fed in
    val input = batches.map(_.attrs("input_rows").asInstanceOf[Long]).sum.toDouble
    val documents = plan.get("documents").asDouble()
    val survivors = spark.read.parquet(s"${stateDir(lastPass)}/out").count().toDouble
    Main.opsMetrics(tracer, _.name.startsWith("op:batch:"), cores) ++ Map(
      "stream.trigger_s" -> batches.map(s => (s.end - s.start) / 1e9).sum,
      "stream.add_batch_s" -> Main.seconds(tracer, "stream.add_batch"),
      "stream.plan_s" -> Main.seconds(tracer, "stream.plan"),
      "stream.offsets_s" -> Main.seconds(tracer, "stream.offsets"),
      "stream.commit_s" -> Main.seconds(tracer, "stream.commit"),
      "stream.input_rows" -> input,
      "stream.state_bytes" -> query.map(_.attrs("state_bytes").asInstanceOf[Long]).sum.toDouble,
      "stream.state_files" -> query.map(_.attrs("state_files").asInstanceOf[Long]).sum.toDouble,
      "stream.survivor_frac" -> survivors / documents)
  }

  private def spark = SparkSession.active
}
