package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Untimed warmup shared by the timing mains (Bench, JobProbe): pay the
  * one-time session costs (whole-stage-codegen compiler, parquet footer and
  * filesystem init, shuffle machinery, the codegen of the heavy dedup and
  * vector plan shapes) and build the stored dedup indexes, so no timed query
  * absorbs them. A failure in either step is printed and reported in the
  * result, never swallowed.
  */
object Warmup {
  /** `warmed`: the codegen and I/O warmup ran clean. `prewarmed`: the stored
    * indexes behind the `*_indexed` queries were built. */
  final case class Paid(warmed: Boolean, prewarmed: Boolean)

  def apply(spark: SparkSession, sfDir: String): Paid =
    Paid(warm(spark, sfDir), prewarm(spark, sfDir))

  private def warm(spark: SparkSession, sfDir: String): Boolean =
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      // Inputs sized so AQE picks the SAME join strategies as the timed
      // sf0.1 runs — a 64-row warmup compiles different (broadcast) plan
      // shapes and the first timed heavy query then pays a fresh compile.
      val docs = tables.Tables.load(spark, sfDir, "documents").limit(512)
      ops.Dedup.ngramJaccardPairs(docs, 3, 0.6).count()
      ops.Dedup.minHashNearDupPairs(docs, 0.5).count()
      ops.Dedup.simHashNearDupPairs(docs, 3).count()
      val emb = tables.Tables.load(spark, sfDir, "embeddings").limit(500)
      ops.Vectors.cosineNearDupPairsBanded(emb, 0.4).count()
      // Window and regex codegen shapes. The expressions must be OBSERVED by
      // the action — a bare count() lets column pruning delete an
      // unreferenced projection or window and nothing compiles.
      docs.select(ops.Text.normalize(col("text")).as("n"))
        .agg(max(length(col("n")))).collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(256)
        .withColumn("rn", row_number().over(
          W.partitionBy("l_returnflag").orderBy("l_extendedprice")))
        .filter(col("rn") === 1).count()
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[warmup] WARNING: warmup FAILED ($e) — the first " +
        "timed queries include one-time compile cost")
      false
    }

  // The *_indexed queries measure probe-only steady state, so their index
  // build must not ride the first timed call.
  private def prewarm(spark: SparkSession, sfDir: String): Boolean =
    try { catalog.StoredIndexes.prewarm(spark, sfDir); true }
    catch { case NonFatal(e) =>
      System.err.println(s"[warmup] WARNING: stored-index prewarm FAILED ($e) " +
        "— *_indexed timings include their index build")
      false
    }
}
