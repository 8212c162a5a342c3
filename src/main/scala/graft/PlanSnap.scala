package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev-only (OPTIMIZATION_r15): write `.explain("formatted")` of named
  * catalog queries to `plans/<round>/<query>_<tag>.txt` — the before/after
  * plan evidence the optimization rounds commit alongside the code.
  *
  * Usage: runMain graft.PlanSnap <tag> <query> [<query> ...]
  *   (SPARK_GRAFT_PLANS_DIR selects the output dir and is required, so
  *   new snapshots never land in an earlier round's evidence directory;
  *   SPARK_GRAFT_SF_DIR selects the data dir, default sf0.1 — plans are
  *   dumped under the BENCH session settings so join strategies match the
  *   timed runs, not PlanDump's local[4] PLANS.md settings.)
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanSnap <tag> <query> [<query>...]")
    val tag = args(0)
    require(sys.env.contains("SPARK_GRAFT_PLANS_DIR"),
      "set SPARK_GRAFT_PLANS_DIR to the plan snapshot output directory")
    val outDir = sys.env("SPARK_GRAFT_PLANS_DIR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    args.drop(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      println(s"wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
