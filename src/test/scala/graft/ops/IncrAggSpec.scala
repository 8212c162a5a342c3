package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrAggSpec extends SparkSpec {

  import spark.implicits._

  private def mkBatch(rows: Seq[(String, Long, Long)]): DataFrame =
    rows.toDF("grp", "v", "uid")

  private val b0 = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("b", 5L, 1L))
  private val b1 = Seq(("a", 30L, 2L), ("b", 7L, 3L), ("b", 1L, 3L))
  private val b2 = Seq(("c", 100L, 9L), ("a", 40L, 4L))

  private def partial(rows: Seq[(String, Long, Long)]): DataFrame =
    IncrAgg.partialState(mkBatch(rows), Seq("grp"), col("v"), col("uid"))

  /** One batch's partials under `root/batch=<id>/`, as a sink writes them. */
  private def writeState(rows: Seq[(String, Long, Long)], root: String,
                         batchId: Long): Unit =
    partial(rows).write.mode("overwrite").parquet(BatchDirs.dir(root, batchId))

  private def direct(rows: Seq[(String, Long, Long)]): Array[(String, Long, Long, Long, Long, Long)] =
    mkBatch(rows).groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"),
        countDistinct("uid").as("nd"))
      .orderBy("grp")
      .as[(String, Long, Long, Long, Long, Long)].collect()

  private def mergedOf(state: DataFrame): Array[(String, Long, Long, Long, Long, Long)] =
    IncrAgg.mergeState(state, Seq("grp"))
      .orderBy("grp")
      .as[(String, Long, Long, Long, Long, Long)].collect()

  test("mergeState over per-batch partials equals the direct full aggregate") {
    val state = partial(b0).unionByName(partial(b1)).unionByName(partial(b2))
    val merged = mergedOf(state)
    val full = direct(b0 ++ b1 ++ b2)
    // algebraic columns exact; HLL estimate exact at these tiny cardinalities
    assert(merged.toSeq == full.toSeq)
  }

  test("write/read/append state lifecycle: disk state merges identically; replay idempotent") {
    val root = tmpDir("incragg")
    writeState(b0, root, 0L)
    writeState(b1, root, 1L)
    writeState(b2, root, 2L)
    val fromDisk = mergedOf(IncrAgg.readState(spark, root))
    assert(fromDisk.toSeq == direct(b0 ++ b1 ++ b2).toSeq)

    // crash replay of batch 1: overwriting its own dir changes nothing
    writeState(b1, root, 1L)
    assert(mergedOf(IncrAgg.readState(spark, root)).toSeq == fromDisk.toSeq)
  }

  test("foldState collapses batches to one partial per group, merge unchanged, still appendable") {
    val root = tmpDir("incragg_fold")
    writeState(b0, root, 0L)
    writeState(b1, root, 1L)
    val before = mergedOf(IncrAgg.readState(spark, root))

    IncrAgg.foldState(spark, root, Seq("grp"))
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(dirs.toSeq == Seq("batch=0"))
    assert(mergedOf(IncrAgg.readState(spark, root)).toSeq == before.toSeq)

    // folded state is still partials: appending a later batch keeps merging
    writeState(b2, root, 3L)
    assert(mergedOf(IncrAgg.readState(spark, root)).toSeq ==
      direct(b0 ++ b1 ++ b2).toSeq)
  }

  test("foldState(before) folds only earlier batches — the in-flight dir survives") {
    val root = tmpDir("incragg_before")
    writeState(b0, root, 0L)
    writeState(b1, root, 1L)
    writeState(b2, root, 5L)
    IncrAgg.foldState(spark, root, Seq("grp"), before = 5L)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(dirs.toSeq == Seq("batch=0", "batch=5"))
    assert(mergedOf(IncrAgg.readState(spark, root)).toSeq ==
      direct(b0 ++ b1 ++ b2).toSeq)
  }

  test("foldState resumes from committed staging without losing state") {
    val root = tmpDir("incragg_resume")
    writeState(b0, root, 0L)
    writeState(b1, root, 1L)

    // simulate a crash AFTER staging commit (parquet + manifest written),
    // BEFORE the swap: call foldState — it must resume the swap using the
    // MANIFEST's dir list, not recompute, and not touch dirs outside it.
    val staged = IncrAgg.readState(spark, root)
      .groupBy("grp")
      .agg(sum("p_cnt").as("p_cnt"), sum("p_sum").as("p_sum"),
        min("p_min").as("p_min"), max("p_max").as("p_max"),
        hll_union_agg(col("p_hll")).as("p_hll"))
    staged.write.mode("overwrite").parquet(s"$root/.fold_staging")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, ".fold_staging", ".fold_ids"),
      "batch=0\nbatch=1".getBytes("UTF-8"))
    // a batch that landed AFTER the crash, BEFORE the resume: the swap
    // must leave it alone even though it matches the foldable filter
    writeState(b2, root, 2L)
    IncrAgg.foldState(spark, root, Seq("grp"))
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(dirs.toSeq == Seq("batch=0", "batch=2"))
    assert(mergedOf(IncrAgg.readState(spark, root)).toSeq ==
      direct(b0 ++ b1 ++ b2).toSeq)
  }

  test("HLL distinct estimate stays within tolerance at larger cardinality") {
    val big = (1 to 20000).map(i => ("g", (i % 97).toLong, (i % 5000).toLong))
    val state = partial(big.take(7000)).unionByName(partial(big.drop(7000)))
    val m = IncrAgg.mergeState(state, Seq("grp")).collect()(0)
    val nd = m.getAs[Long]("approx_distinct")
    assert(math.abs(nd - 5000L) <= 3 * 0.016 * 5000,
      s"HLL estimate $nd vs exact 5000 outside 3-sigma tolerance")
  }
}
