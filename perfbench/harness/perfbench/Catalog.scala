package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.catalog.StoredIndexes
import perfbench.Main.Op

/** Catalog queries over a generated corpus. One operation is one query:
  * construction (`SparkEntry.queries(name)(spark, dir)`, which includes any
  * eager collects or checkpoints the query makes) plus a full-result action.
  * The action writes the whole result as parquet, which computes every
  * output column — a `count()` would let column pruning skip projected work
  * — and leaves the result for the oracle comparison. The SQL cache is
  * cleared before each operation.
  */
final class Catalog(plan: JsonNode) extends Main.Workload {
  private val dir = Main.text(plan, "inputs")
  private val work = Main.text(plan, "work")
  private val cores = plan.get("cores").asInt()
  /** pass index → query order; passes beyond the list reuse it cyclically. */
  private val orders: Seq[Seq[String]] =
    plan.get("orders").elements().asScala.map(_.elements().asScala.map(_.asText).toSeq).toSeq
  private val names = orders.head.sorted
  private val queries = SparkEntry.queries
  names.foreach(n => require(queries.contains(n), s"no catalog query named $n"))

  private def output(name: String) = s"$work/out/$name"

  /** No warm-up pass: a pass over a small corpus did not shorten the timed
    * queries, whose cost is their loops and shuffles, not first-use code
    * generation.
    */
  def warm(spark: SparkSession): Unit = ()

  /** The stored-index prewarm builds the index of every query that reads
    * one; the panel holds none of those queries, so it runs only in traced
    * runs, timed on its own.
    */
  override def tracedSetup(spark: SparkSession): Unit = StoredIndexes.prewarm(spark, dir)

  def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): Seq[Op] =
    orders(index % orders.size).map { name =>
      spark.catalog.clearCache()
      tracer.foreach(_.takePlans())
      val op = tracer.map(_.begin(s"op:$name"))
      val t0 = System.nanoTime()
      val error =
        try {
          val df = Tracer.span(tracer, "catalog.construct")(queries(name)(spark, dir))
          Tracer.span(tracer, "ops.exec")(Catalog.run(df, output(name)))
          ""
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val t1 = System.nanoTime()
      tracer.zip(op).foreach { case (tr, span) =>
        tr.end(span)
        tr.takePlans().lastOption.foreach(qe => span.attrs ++= Tracer.nodeCounts(qe.executedPlan))
      }
      Op(name, (t1 - t0) / 1e9, error)
    }

  /** The last pass's outputs and the oracle SQL, for run.py's DuckDB
    * comparison.
    */
  def check(spark: SparkSession): java.util.Map[String, Any] = {
    val oracle = new java.util.LinkedHashMap[String, Any]()
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(sql => oracle.put(n, sql)))
    Map[String, Any]("outputs" -> s"$work/out", "oracle_sql" -> oracle).asJava
  }

  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    val construct = tracer.all.filter(_.name == "catalog.construct")
    Main.opsMetrics(tracer, _.name == "ops.exec", cores) ++ Map(
      "catalog.construct_s" -> construct.map(s => (s.end - s.start) / 1e9).sum,
      "catalog.construct_jobs" -> construct.map(_.counters.jobs.get).sum.toDouble,
      "ops.exchanges" -> Catalog.attr(tracer, "exchanges"),
      "ops.smj" -> Catalog.attr(tracer, "smj"),
      "ops.bhj" -> Catalog.attr(tracer, "bhj"))
  }
}

object Catalog {
  def run(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def attr(tracer: Tracer, k: String): Double =
    tracer.all.flatMap(_.attrs.get(k)).map(_.asInstanceOf[Long].toDouble).sum
}
