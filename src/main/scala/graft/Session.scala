package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one way this repo builds a SparkSession: every main and the test
  * suite run under the same settings, so the correctness dump (Verify), the
  * timed run (Bench) and the specs measure one configuration.
  *
  * A value the launcher already set wins: spark-submit's `--master` and
  * `--conf`, or `-Dspark.*` system properties, arrive in a fresh `SparkConf`,
  * and the shared settings are only filled in where they are missing.
  */
object Session {
  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The shared settings, each applied only when the launcher left it unset. */
  val settings: Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    // Tables.load's TIMESTAMP_NTZ → timestamp cast is value-identical only
    // under a UTC session zone; the machine default would shift ts values
    // on a non-UTC box.
    "spark.sql.session.timeZone" -> "UTC",
    // Coalesce for FEWER tasks, not device parallelism: at sf0.1 most
    // post-shuffle stages are a few MB, and per-task scheduling overhead
    // dominates — let AQE shrink those stages to size. The exception is a
    // stage whose per-key CPU dwarfs its input bytes (pair expansion,
    // banded candidate scoring): those fan explicitly with
    // `repartition(numShufflePartitions, key)`, which AQE does not coalesce.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "4m",
    // Split small files into more input partitions than the 128m default:
    // map-side work rooted at a scan (shingling, gram hashing) parallelizes
    // only as far as the scan's splits, and a 30 MB single-file corpus
    // otherwise runs that phase on one core (sf1: curate_dsir_select
    // 25 s → 8 s from this alone). 8m ≈ corpus-file size / cores at the
    // bench SFs.
    "spark.sql.files.maxPartitionBytes" -> "8m")

  /** Local core count when the launcher names no master:
    * `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The launcher's conf with the master, app name and shared settings
    * filled in where missing. Pure: starts no Spark. */
  def conf(appName: String, cores: Int, launcher: SparkConf): SparkConf = {
    val c = launcher.clone()
      .setIfMissing("spark.master", s"local[$cores]")
      .setIfMissing("spark.app.name", appName)
    settings.foreach { case (k, v) => c.setIfMissing(k, v) }
    c
  }

  /** Builds (or returns the running) session. Shuffle partitions default to
    * the session's parallelism unless the launcher set them. */
  def apply(appName: String, cores: Int = defaultCores): SparkSession = {
    val launcher = new SparkConf()
    val spark = SparkSession.builder()
      .config(conf(appName, cores, launcher)).getOrCreate()
    if (!launcher.contains(ShufflePartitions))
      spark.conf.set(ShufflePartitions, spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(s"[session] $appName on ${spark.sparkContext.master}, " +
      s"${spark.conf.get(ShufflePartitions)} shuffle partitions")
    spark
  }

  /** Waits until every queued listener event is delivered (task metrics
    * arrive asynchronously). A timeout is printed, not swallowed. */
  def drainEvents(spark: SparkSession): Unit =
    try org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
    catch { case NonFatal(e) =>
      System.err.println(s"[session] WARNING: listener bus not drained ($e); " +
        "the next metric read may miss events")
    }
}
