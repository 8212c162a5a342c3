package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Load layer — reference parity for `etl/pipeline.py:239-310` (K1-K5,
  * A1-A2), re-targeted from SQLite to Parquet tables under a warehouse
  * directory (one subdir per table).
  *
  * Scale notes: every write that replaces data goes through `Load.commit`
  * (stage in a hidden sibling, swap in by rename), so a failed or killed
  * write leaves the previous copy readable — the SQLite transaction's
  * guarantee on storage without one; the keyed upsert writes one file per
  * key, so recording a run never reads or rewrites the run log; lineage
  * columns are constants per run, stamped once at plan time (NOT per-row
  * current_timestamp()).
  */
final class Load(warehouse: String) {

  def tablePath(name: String): String = s"$warehouse/$name"

  /** K4: audit columns appended to every row (pipeline.py:277-279). */
  def withLineage(df: DataFrame, runId: String, loadedAt: String): DataFrame =
    df.withColumn("_etl_run_id", lit(runId))
      .withColumn("_etl_loaded_at", lit(loadedAt))

  /** K1+K2: full-refresh write, skipping (and reporting) empty inputs
    * (pipeline.py:273-280). Returns rows written.
    *
    * ONE job, one scan: the input is written once to the commit's staging
    * copy and its rows are counted by an `observe` metric riding that write
    * — no pre-count pass and no `isEmpty` probe job. A write of 0 rows is
    * dropped with its staging and the previous table stays as it was (K2);
    * a failed write leaves it readable too.
    */
  def fullRefresh(df: DataFrame, name: String): Long =
    Load.commit(df.sparkSession, tablePath(name)) { staging =>
      val n = Load.writeCounted(df, _.write.parquet(staging.toString))
      (n, Some(staging).filter(_ => n > 0))
    }

  /** Bucketed refresh: pre-shuffle the table ONCE on its join/agg key so
    * every later equi-join or aggregation on that key runs with zero
    * exchanges (BucketingSpec proves the plan). Bucket metadata lives in
    * the session catalog (`saveAsTable` is how Spark records it — a plain
    * parquet path has nowhere to put it), with the data as an external
    * table under the warehouse. Worth it for tables JOINED REPEATEDLY by
    * the same key; a one-shot join is cheaper to just shuffle.
    */
  def writeBucketed(df: DataFrame, name: String, buckets: Int,
                    keys: Seq[String]): Long = {
    require(keys.nonEmpty, "bucketing needs at least one key column")
    df.write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", tablePath(name))
      .mode(SaveMode.Overwrite)
      .saveAsTable(name)
    // EXACT row count from the committed files' parquet footers — not an
    // observe metric: the bucketing spec inserts its own exchange above any
    // metric point, and a shuffle-map stage re-executed after a fetch
    // failure would double-count there. Footers are written once at commit,
    // so their row counts are exact regardless of task retries, and summing
    // them is a metadata-only pass (one footer read per file, no data scan).
    Load.parquetRowCount(df.sparkSession, tablePath(name))
  }

  /** K3: INSERT-OR-REPLACE one keyed row into a table (pipeline.py:286-296),
    * creating it if absent (K5's CREATE IF NOT EXISTS).
    *
    * Each key owns one Parquet file, named by a digest of its key values
    * and committed through `Load.commit`: a new key adds its file, a
    * replayed key swaps its own. One write job, whatever the table's size —
    * the table is never read, joined or rewritten. A table still in the
    * one-file layout (a `part-*` file holding every row) is folded into
    * per-key files on its first upsert: every stored row is rewritten to
    * its key's file before the `part-*` files go, so a crash mid-fold
    * loses no row and the next upsert folds again.
    */
  def upsertRow(spark: SparkSession, name: String, keys: Seq[String],
                row: DataFrame): Unit = {
    val root = new Path(tablePath(name))
    val fs = Load.fsFor(spark, root.toString)
    def writeKey(one: DataFrame): Unit = {
      val key = one.select(keys.map(col): _*).collect()
      require(key.length == 1, s"upsertRow takes one row, got ${key.length}")
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.head.toSeq.map(String.valueOf).mkString("\u0000").getBytes("UTF-8"))
      Load.commit(spark, s"$root/${digest.map(b => f"$b%02x").mkString}.parquet") { staging =>
        one.coalesce(1).write.parquet(staging.toString)
        ((), fs.listStatus(staging).map(_.getPath).find(_.getName.startsWith("part-")))
      }
    }
    val legacy = Option(fs.globStatus(new Path(root, "part-*"))).toSeq.flatten.map(_.getPath)
    if (legacy.nonEmpty) {
      val stored = spark.read.parquet(legacy.map(_.toString): _*)
      stored.collect().foreach(r =>
        writeKey(spark.createDataFrame(java.util.List.of(r), stored.schema)))
      (legacy :+ new Path(root, "_SUCCESS")).foreach(fs.delete(_, false))
    }
    writeKey(row)
  }

  /** A2: one etl_runs metrics row (pipeline.py:286-297 success /
    * 302-308 failure), shaped by Schemas.EtlRuns.
    */
  def metricsRow(spark: SparkSession, runId: String, startedAt: String,
                 completedAt: String, status: String, tablesLoaded: Int,
                 totalRows: Long, durationSeconds: Double): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(Row(runId, startedAt, completedAt, status,
        tablesLoaded, totalRows, durationSeconds)),
      Schemas.EtlRuns)

  /** Load every transformed table (K1/K2/K4) and return per-table rows
    * written (A1 — pipeline.py:269-284). Each table lives in its own
    * directory, so the refreshes run concurrently (`Load.concurrently`):
    * the reference writes one after another only because SQLite has one
    * writer. When a table fails, every other table is still refreshed
    * before the failure is rethrown.
    */
  def loadAll(tables: Map[String, DataFrame], runId: String,
              loadedAt: String): Map[String, Long] = {
    val named = tables.toSeq
    named.map(_._1).zip(Load.concurrently(named.map { case (name, df) =>
      () => fullRefresh(withLineage(df, runId, loadedAt), name)
    })).toMap
  }
}

object Load {

  /** Run independent Spark actions concurrently; results come back in
    * input order. At most the session's `defaultParallelism` actions run
    * at a time, each on a fresh thread the calling thread starts: Spark's
    * inheritable local properties (a streaming batch id, the query's job
    * group, job tags, trace spans) reach only threads created after they
    * were set, so a shared pool of older threads would drop them. Every
    * action finishes or fails before this returns; then the first failure
    * in input order is rethrown with the others suppressed on it. An
    * empty or one-action list runs inline.
    */
  def concurrently[A](actions: Seq[() => A]): Seq[A] =
    if (actions.size <= 1) actions.map(_())
    else {
      val results = new Array[Any](actions.size)
      val failures = new Array[Throwable](actions.size)
      val next = new java.util.concurrent.atomic.AtomicInteger()
      val width = SparkSession.active.sparkContext.defaultParallelism
      val workers = Seq.fill(math.min(width, actions.size))(new Thread(() => {
        var i = next.getAndIncrement()
        while (i < actions.size) {
          try results(i) = actions(i)() catch { case e: Throwable => failures(i) = e }
          i = next.getAndIncrement()
        }
      }, "graft-concurrently"))
      workers.foreach(_.start())
      // an interrupted caller stops the workers too, but still waits for them
      var interrupt: Option[InterruptedException] = None
      workers.foreach(w => while (w.isAlive) try w.join() catch {
        case e: InterruptedException => interrupt = Some(e); workers.foreach(_.interrupt())
      })
      interrupt.foreach(e => throw e)
      failures.filter(_ != null) match {
        case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
        case _ => results.toSeq.map(_.asInstanceOf[A])
      }
    }

  /** Execute `write` over `df` with a row-count metric OBSERVED on the write
    * pass itself (`Dataset.observe` → CollectMetrics): the count costs no
    * extra job and no second scan of the input. Exactness contract: the
    * accumulator is exactly-once only for RESULT-stage tasks — callers must
    * not introduce an exchange ABOVE the metric point (fullRefresh observes
    * atop the final frame, directly under the write). Bucketed writes CANNOT satisfy that (the bucketing spec inserts
    * its own shuffle above the plan), which is why `writeBucketed`
    * counts committed parquet footers instead of observing.
    * Returns the rows that flowed into the write.
    */
  private[etl] def writeCounted(df: DataFrame, write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** EXACT row count of a committed parquet table from file-footer metadata
    * alone: every footer records its file's row count at commit time, so
    * the sum is immune to task retries and costs one footer read per file —
    * no data pages are touched. The post-commit accounting pass for writes
    * whose plan shape rules out an exactly-once observe metric.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    // a not-yet-created table has zero rows — the before-count of a first
    // append must not throw FileNotFoundException
    if (!fs.exists(root)) return 0L
    val conf = spark.sparkContext.hadoopConfiguration
    val rootDepth = root.depth()
    // UNCOMMITTED files don't count: a crashed or in-flight job leaves
    // `_temporary/.../part-*.parquet` attempts that the committer never
    // promoted — counting them over-reports (and double-reports retried
    // tasks). Readers skip underscore/dot-prefixed paths; so does this walk.
    def committed(p: Path): Boolean = {
      var cur = p
      while (cur != null && cur.depth() > rootDepth) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) return false
        cur = cur.getParent
      }
      true
    }
    val it = fs.listFiles(root, true)
    var sum = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet") && committed(f.getPath)) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try sum += reader.getRecordCount
        finally reader.close()
      }
    }
    sum
  }

  /** FileSystem for `path`'s own scheme — FileSystem.get(conf) alone
    * resolves the DEFAULT filesystem and throws "Wrong FS" the moment the
    * warehouse lives on s3a://, hdfs://, ... while defaultFS differs.
    */
  def fsFor(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)

  /** Delete the local tree under `root`, deepest paths first — for
    * shutdown-hook cleanups of scratch dirs. A failure is printed as a
    * WARNING naming the path, not thrown: the JVM is exiting anyway.
    */
  def deleteLocalTree(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[cleanup] WARNING: could not delete $root: $e")
    }

  /** The one commit protocol for every write that replaces a table (or one
    * file of it). `stage` writes the new copy under `.<name>.staging`, a
    * hidden sibling of `path` that readers listing the parent skip, and
    * returns its result with what to commit: the staging dir, a file inside
    * it, or None to drop the staging and leave `path` untouched. Then the
    * swap: old copy → hidden `.<name>.trash`, staged copy → `path`, drop
    * the trash. At every crash point a complete old or new copy is on
    * disk, and the recovery pass that opens each commit restores a trash
    * copy whose target is missing before it drops stale hidden siblings.
    * Readers can find `path` missing only in the instant between the two
    * renames (Parquet directories have no transaction log to do better
    * with). A failed `stage` leaves `path` as it was and nothing hidden
    * behind. One writer per `path`.
    */
  def commit[A](spark: SparkSession, path: String)(stage: Path => (A, Option[Path])): A = {
    val fs = fsFor(spark, path)
    val target = new Path(path)
    def hidden(suffix: String) = new Path(target.getParent, s".${target.getName}.$suffix")
    val (staging, trash) = (hidden("staging"), hidden("trash"))
    restore(fs, trash, target)
    Seq(trash, staging).foreach(fs.delete(_, true))
    try {
      val (out, staged) = stage(staging)
      staged.foreach(swap(fs, _, target, trash))
      out
    } finally fs.delete(staging, true)
  }

  /** Recovery: a trash copy whose target is missing is the only copy left. */
  private def restore(fs: FileSystem, trash: Path, target: Path): Unit =
    if (fs.exists(trash) && !fs.exists(target)) {
      fs.mkdirs(target.getParent)
      if (!fs.rename(trash, target)) sys.error(s"recovery rename $trash -> $target failed")
    }

  /** The swap: old copy (if any) to trash, staged copy into place, drop trash. */
  private def swap(fs: FileSystem, staged: Path, target: Path, trash: Path): Unit = {
    if (fs.exists(target)) {
      fs.mkdirs(trash.getParent)
      if (!fs.rename(target, trash)) sys.error(s"rename $target -> $trash failed")
    }
    if (!fs.rename(staged, target))
      sys.error(s"rename $staged -> $target failed (the old copy stays in $trash)")
    fs.delete(trash, true)
  }

  /** Compact a PARTITIONED Parquet table: walks the `col=value` directory
    * tree and rewrites each fragmented LEAF partition directory to
    * ~`targetFileBytes` files (sized from the measured input bytes),
    * preserving the layout (and therefore partition pruning) exactly.
    * Partitioned layouts are where micro-batch loads fragment worst (each
    * batch-partitioned state root gains a few files per batch).
    *
    * Durability: each leaf is rewritten under `<root>/.compact-staging/...`
    * (dot-prefixed — readers listing the table never see half-written
    * files), then swapped in with `commit`'s steps: original →
    * `.compact-trash`, staged → leaf, drop trash. At EVERY crash point at
    * least one complete copy of the leaf exists on disk. The recovery pass
    * is root-wide, not per leaf: a leaf lost between its two renames is no
    * longer listed by the leaf walk, so every trash leaf whose target went
    * missing is restored BEFORE the hidden dirs are dropped — a mid-swap
    * crash never loses a partition. Leaves already at/below their
    * target file count are untouched, so re-running is cheap and
    * idempotent; independent leaves compact CONCURRENTLY (`concurrently`:
    * each leaf job is small — serial execution would idle the cluster once
    * per leaf × thousands of leaves), and a failed leaf is rethrown only
    * after every other leaf has finished its swap or failed. Refuses
    * streaming file-sink tables (their `_spark_metadata` log would be
    * orphaned and hide the rewritten rows) and flat tables. Single writer:
    * nothing may append between the read snapshot and the swap.
    * Returns (filesBefore, filesAfter) summed over all leaves.
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    val rootEntries = fs.listStatus(root)
    require(!rootEntries.exists(_.getPath.getName == "_spark_metadata"),
      s"$path is a streaming file-sink table (_spark_metadata present) — " +
        "compacting would orphan the sink log and hide rows from readers")
    require(rootEntries.exists(e => e.isDirectory && e.getPath.getName.contains("=")),
      s"$path has no col=value partition directories")
    val staging = new Path(root, ".compact-staging")
    val trash = new Path(root, ".compact-trash")
    def rel(p: Path, base: Path) =
      p.toUri.getPath.stripPrefix(base.toUri.getPath).stripPrefix("/")
    def dirLeaves(p: Path): Seq[Path] = {
      val st = fs.listStatus(p)
      val dirs = st.filter(_.isDirectory).toSeq
      if (st.exists(_.isFile) || dirs.isEmpty) Seq(p)
      else dirs.flatMap(d => dirLeaves(d.getPath))
    }
    // Recovery from a previous crashed run: a trash leaf whose target leaf
    // is missing holds the ONLY copy of that partition — restore it first.
    if (fs.exists(trash))
      dirLeaves(trash).foreach(t => restore(fs, t, new Path(root, rel(t, trash))))
    // Only now are the hidden dirs stale-by-construction and safe to drop.
    Seq(staging, trash).foreach(fs.delete(_, true))
    def leaves(p: Path): Seq[Path] = {
      val dirs = fs.listStatus(p)
        .filter(e => e.isDirectory && e.getPath.getName.contains("="))
      if (dirs.isEmpty) Seq(p) else dirs.toSeq.flatMap(d => leaves(d.getPath))
    }
    def compactLeaf(leaf: Path): (Int, Int) = {
      val parts = fs.listStatus(leaf)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (parts.isEmpty) (0, 0)
      else {
        val totalBytes = parts.map(_.getLen).sum
        val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        if (parts.length <= nOut) (parts.length, parts.length)
        else {
          val leafRel = rel(leaf, root)
          val staged = new Path(staging, leafRel)
          val trashed = new Path(trash, leafRel)
          // A leaf dir has no partition subdirs, so this read sees only the
          // data columns — partition values stay encoded in the dir name.
          spark.read.parquet(leaf.toString).coalesce(nOut)
            .write.parquet(staged.toString)
          swap(fs, staged, leaf, trashed)
          (parts.length, fs.listStatus(leaf)
            .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        }
      }
    }
    val results = concurrently(leaves(root).map(l => () => compactLeaf(l)))
    Seq(staging, trash).foreach(fs.delete(_, true))
    (results.map(_._1).sum, results.map(_._2).sum)
  }
}
