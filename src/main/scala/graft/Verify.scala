package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Naming queries
  * restricts the dump to them (the oracle file stays whole), so
  * `tools/check.py` verifies just those without a full run.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...]
  *        runMain graft.Verify --sql-only <outDir>
  */
object Verify {
  private def dumpOracle(outDir: String): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql))

  def main(args: Array[String]): Unit = {
    // Pre-flight mode: dump oracle_sql.json WITHOUT starting Spark or
    // running any query, so tools/preflight.py can DuckDB-parse all
    // oracles in seconds (a binder error becomes a local failure, never
    // a red driver CORRECTNESS row).
    if (args.headOption.contains("--sql-only")) {
      val outDir = args(1)
      new java.io.File(outDir).mkdirs()
      dumpOracle(outDir)
      println(s"[verify] dumped ${SparkEntry.oracleSql.size} oracle SQL " +
        s"strings to $outDir/oracle_sql.json (sql-only mode)")
      return
    }
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session("graft-verify")
    new java.io.File(outDir).mkdirs()
    all.filter { case (n, _) => names.isEmpty || names(n) }.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    dumpOracle(outDir)
    spark.stop()
  }
}
