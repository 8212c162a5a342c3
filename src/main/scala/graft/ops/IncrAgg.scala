package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: a materialized PARTIAL-aggregate
  * state table that new ingest batches append to, so running totals never
  * rescan history.
  *
  * Reference analogue: the run-over-run metric recompute — every scheduled
  * run re-derives its table counts from scratch (`etl/pipeline.py:281-284`).
  * At reference scale that is free; over a 100 TB, append-mostly corpus a
  * full re-aggregation per run IS the cost of the pipeline. The classic fix
  * (Gray et al., "Data Cube", and every incremental-view-maintenance
  * paper since) is to keep ALGEBRAIC partials — (count, sum, min, max) and
  * a MERGEABLE sketch for the non-algebraic distinct-count — per group per
  * batch, because each admits an associative merge:
  *
  *   cnt = Σ p_cnt    sum = Σ p_sum    min = min(p_min)   max = max(p_max)
  *   distinct ≈ estimate(union(p_hll…))   (DataSketches HLL, Spark 3.5+
  *   `hll_sketch_agg`/`hll_union_agg` — union is lossless over sketches)
  *
  * Scale shape: a new batch shuffles ONLY its own rows (one groupBy on the
  * batch); the merge shuffles ONLY the state table (groups × batches rows —
  * e.g. 10⁶ groups × 10³ batches ≪ the raw corpus); raw history is never
  * re-read. State lives under `batch=<id>/` dirs — the same idempotent
  * overwrite-own-dir replay contract as the streaming dedup state
  * (`streaming/StreamOps.scala`), and `foldState` is the maintenance pass
  * that collapses accumulated batch partials back to one partial per group
  * (HLL union WITHOUT estimating — sketches stay mergeable after folding).
  */
object IncrAgg {

  /** lgK for the HLL sketches: 2^12 registers → RSE ≈ 1.04/√4096 ≈ 1.6%,
    * 2-4 KB per group — the standard accuracy/size point.
    */
  val DefaultLgK = 12

  private def keyCols(keys: Seq[String]): Seq[Column] = keys.map(col)

  /** Mergeable partial-aggregate state for ONE ingest batch.
    * `value` must already be exact-integer scaled (`Exact.cents` et al —
    * SURVEY §7.4 float-determinism rule) so partial sums merge exactly.
    * Output: keys…, p_cnt, p_sum, p_min, p_max, p_hll(binary).
    */
  def partialState(batch: DataFrame, keys: Seq[String], value: Column,
                   distinctOver: Column, lgK: Int = DefaultLgK): DataFrame =
    batch
      .select(keyCols(keys) :+ value.as("_v") :+ distinctOver.as("_d"): _*)
      .groupBy(keyCols(keys): _*)
      .agg(count(lit(1)).as("p_cnt"),
        sum(col("_v")).as("p_sum"),
        min(col("_v")).as("p_min"),
        max(col("_v")).as("p_max"),
        hll_sketch_agg(col("_d"), lgK).as("p_hll"))

  /** Final aggregates from any number of per-batch partials (a union of
    * `partialState` frames or `readState`). One shuffle over the STATE
    * table only. Output: keys…, cnt, sum_v, min_v, max_v, approx_distinct.
    */
  def mergeState(state: DataFrame, keys: Seq[String]): DataFrame =
    state.groupBy(keyCols(keys): _*)
      .agg(sum(col("p_cnt")).as("cnt"),
        sum(col("p_sum")).as("sum_v"),
        min(col("p_min")).as("min_v"),
        max(col("p_max")).as("max_v"),
        hll_sketch_estimate(hll_union_agg(col("p_hll"))).as("approx_distinct"))

  /** All stored partials; the inferred `batch` partition column is dropped
    * (merge treats every batch alike).
    */
  def readState(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root).drop("batch")

  /** Maintenance: collapse all stored batch partials into ONE partial per
    * group, rewritten as `batch=0`. Partials stay partials — counts/sums
    * re-sum, HLL sketches union WITHOUT estimating — so the folded state
    * merges identically and future batches keep appending. Bounds the
    * merge input at O(groups) no matter how many batches accumulated.
    * Crash contract (resumable, not atomic): the folded partials are fully
    * committed to a dot-prefixed staging dir (invisible to readers) BEFORE
    * any batch dir is touched; a crash during the swap is repaired by
    * calling `foldState` again — it detects the committed staging and
    * resumes the swap without recomputing, so state is never lost and
    * never double-counted once the fold completes.
    *
    * `before` bounds which batches fold: only dirs with id < `before` are
    * collapsed. A streaming sink folding mid-batch passes its OWN batch id
    * so the in-flight dir is never absorbed — otherwise a crash after the
    * fold but before the checkpoint commit would replay the batch into a
    * fresh dir while its rows also live inside the folded partial,
    * double-counting them.
    */
  def foldState(spark: SparkSession, root: String, keys: Seq[String],
                before: Long = Long.MaxValue): Unit =
    foldStateWith(spark, root, before) { all =>
      all.groupBy(keyCols(keys): _*)
        .agg(sum(col("p_cnt")).as("p_cnt"),
          sum(col("p_sum")).as("p_sum"),
          min(col("p_min")).as("p_min"),
          max(col("p_max")).as("p_max"),
          hll_union_agg(col("p_hll")).as("p_hll"))
    }

  /** The generic staged fold every batch-dir state table shares (this
    * one and `Ivm`'s view partials): collapse all `batch=<id>` dirs with
    * id < `before` into `batch=0` via `combine` (which must be a pure
    * re-aggregation — partials in, partials out). Crash contract as
    * documented on `foldState`: staging dir + manifest commit marker,
    * swap deletes only manifest-covered dirs, resumable at any point.
    */
  private[ops] def foldStateWith(spark: SparkSession, root: String,
                                 before: Long)
                                (combine: DataFrame => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = graft.etl.Load.fsFor(spark, root)
    def foldable() = BatchDirs.ids(spark, root)(_ < before)
    val staging = new org.apache.hadoop.fs.Path(root + "/.fold_staging")
    // The commit marker is a MANIFEST of exactly the dir names the staged
    // fold covers (written after the parquet commit, so its existence
    // implies complete staged data). The swap deletes ONLY manifest dirs:
    // deleting whatever matches `foldable()` at swap time would silently
    // drop any batch that landed between a crash and its resume — present
    // on disk, absent from the staged fold.
    val manifest = new org.apache.hadoop.fs.Path(staging, ".fold_ids")
    if (!fs.exists(manifest)) {
      val dirs = foldable()
      if (dirs.length <= 1) return // nothing to collapse
      val folded = combine(spark.read.option("basePath", root)
        .parquet(dirs.map(BatchDirs.dir(root, _)): _*))
      folded.write.mode("overwrite").parquet(staging.toString)
      val out = fs.create(manifest, true)
      out.write(dirs.map(BatchDirs.name).sorted.mkString("\n").getBytes("UTF-8"))
      out.close()
    }
    val covered = {
      val in = fs.open(manifest)
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, conf, true)
      new String(bytes.toByteArray, "UTF-8").split("\n").filter(_.nonEmpty).toSet
    }
    // Hadoop FileSystem signals failure by RETURNING FALSE, not throwing —
    // a silently failed staging→batch=0 swap after the covered dirs were
    // deleted would leave the folded partials invisible (dot-prefixed) and
    // under-count every read until some later fold retries. Fail loudly.
    foldable().filter(id => covered(BatchDirs.name(id))).map(BatchDirs.dir(root, _))
      .foreach { d =>
        require(fs.delete(new org.apache.hadoop.fs.Path(d), true),
          s"foldStateWith: delete of covered batch dir $d failed")
      }
    val dest = new org.apache.hadoop.fs.Path(BatchDirs.dir(root, 0L))
    require(fs.rename(staging, dest),
      s"foldStateWith: staging→$dest swap failed — folded state would be " +
        "invisible while its covered batches are already deleted")
    require(fs.delete(new org.apache.hadoop.fs.Path(dest, ".fold_ids"), false),
      s"foldStateWith: manifest cleanup under $dest failed")
    ()
  }
}

/** The `batch=<id>` layout every batch-partitioned state table shares
  * (IncrAgg and Ivm partials, every streaming sink's state): one dir per
  * ingest batch, named by its id. The one place that names and lists them.
  */
private[graft] object BatchDirs {
  private val Named = """batch=(\d+)""".r

  def name(id: Long): String = s"batch=$id"
  def dir(root: String, id: Long): String = s"$root/${name(id)}"

  /** Ids of the `batch=<digits>` dirs under `root` that pass `keep`, in
    * ascending order; none when `root` does not exist. Listed on the
    * driver, no job.
    */
  def ids(spark: SparkSession, root: String)(keep: Long => Boolean): Seq[Long] = {
    val fs = graft.etl.Load.fsFor(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case Named(id) => id.toLong }.filter(keep).sorted
  }
}
