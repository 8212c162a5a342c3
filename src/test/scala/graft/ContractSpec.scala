package graft

import org.apache.spark.sql.functions._
import graft.catalog._

/** Driver-contract invariants: the things that would fail silently. */
class ContractSpec extends SparkSpec {

  private val catalogs: Seq[Catalog] =
    Seq(RelationalQueries, FunctionQueries, TextQueries, VectorQueries,
      CurateQueries)

  test("query names are unique across catalogs (toMap would silently drop dups)") {
    val names = catalogs.flatMap(_.queries).map(_._1)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(names.size == SparkEntry.queries.size)
  }

  test("every oracle key has a query; catalog is non-trivial") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.mkString(", ")}")
    assert(qs.size >= 60)
    assert(SparkEntry.oracleSql.size >= 58)
  }

  test("oracle SQL only references corpus tables that exist") {
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tableRef = raw"(?i)\bFROM\s+([a-z_]+)\b|\bJOIN\s+([a-z_]+)\b".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      tableRef.findAllMatchIn(sql).foreach { m =>
        val t = Option(m.group(1)).getOrElse(m.group(2))
        // subquery aliases and CTE names are lowercase single letters/words;
        // only flag identifiers that LOOK like corpus tables but aren't
        if (known.exists(k => t == k.dropRight(1)) && !known.contains(t))
          fail(s"$name references unknown table $t")
      }
    }
  }

  test("native expressions run inside whole-stage codegen") {
    // spark.range (not a local Seq) so the projection isn't constant-folded
    // into a LocalTableScan before reaching the physical planner
    val df = spark.range(4)
      .select(
        array(col("id").cast("float"), lit(2.0f)).as("a"),
        array(lit(3.0f), lit(4.0f)).as("b"),
        concat(lit("a b c d "), col("id").cast("string")).as("text"))
      .select(
        graft.functions.ArrayMath.dotNative(col("a"), col("b")).as("d"),
        graft.functions.ShingleSet(split(col("text"), " "), 2).as("s"))
    // the `*(n)` prefix is WholeStageCodegen's marker in simpleString —
    // the projection carrying both expressions must be inside a codegen
    // stage, not an InterpretedProject fallback
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("dot_product")),
      s"expected dot_product inside a WholeStageCodegen stage:\n$plan")
    assert(df.orderBy("d").head().getDouble(0) == 8.0) // id=0: 0*3 + 2*4
  }
}
