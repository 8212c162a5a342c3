package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** Dev tool: write `.explain("formatted")` of catalog queries to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan evidence
  * optimization rounds commit beside the code, and the pushdown / broadcast
  * / codegen evidence for the README's scale claims. Every catalog query
  * when none is named, so a new query is plan-documented automatically.
  * Plans come from the shared session, so join strategies match the timed
  * Bench runs; SPARK_GRAFT_SF_DIR selects the data (default sf0.1).
  *
  * Usage: runMain graft.Plans <outDir> <tag> [query...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plans <outDir> <tag> [query...]")
    val outDir = args(0); val tag = args(1)
    val all = SparkEntry.queries
    val names = if (args.length > 2) args.drop(2).toSeq else all.keys.toSeq.sorted
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-plans")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = all(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
      } catch { case NonFatal(e) =>
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
