package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Load layer — reference parity for `etl/pipeline.py:239-310` (K1-K5,
  * A1-A2), re-targeted from SQLite to Parquet tables under a warehouse
  * directory (one subdir per table).
  *
  * Scale notes: full refresh is an atomic-enough `SaveMode.Overwrite`; the
  * keyed upsert is anti-join + union (one shuffle on the key — the MERGE
  * building block on immutable storage); lineage columns are constants per
  * run, stamped once at plan time (NOT per-row current_timestamp()).
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
    * SINGLE-scan: the old shape ran `df.count()` before the write — a full
    * extra pass over the input per load, doubling load cost at 100 TB just
    * to report rows. Now the skip-empty probe is `isEmpty` (a limit-1 job
    * that stops at the first non-empty partition) and the row count rides
    * the write itself as an `observe` metric, so the input is computed once.
    */
  def fullRefresh(df: DataFrame, name: String): Long = {
    if (df.isEmpty) 0L
    else Load.writeCounted(df, _.write.mode(SaveMode.Overwrite).parquet(tablePath(name)))
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
    */
  def upsertRow(spark: SparkSession, name: String, keys: Seq[String],
                row: DataFrame): Unit = {
    val path = tablePath(name)
    val fs = Load.fsFor(spark, path)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
    val merged =
      if (exists) Relational.upsertByKey(spark.read.parquet(path), row, keys)
      else row
    Load.replaceTable(spark, merged, path)
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
    val root = new org.apache.hadoop.fs.Path(path)
    // a not-yet-created table has zero rows — the before-count of a first
    // append must not throw FileNotFoundException
    if (!fs.exists(root)) return 0L
    val conf = spark.sparkContext.hadoopConfiguration
    val rootDepth = root.depth()
    // UNCOMMITTED files don't count: a crashed or in-flight job leaves
    // `_temporary/.../part-*.parquet` attempts that the committer never
    // promoted — counting them over-reports (and double-reports retried
    // tasks). Readers skip underscore/dot-prefixed paths; so does this walk.
    def committed(p: org.apache.hadoop.fs.Path): Boolean = {
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
  def fsFor(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
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

  /** Replace the table at `path` with `df` via stage-then-rename. Parquet
    * has no in-place merge; writing straight over `path` (delete + full
    * second write) leaves the table missing for the whole rewrite. Staging
    * the new data first and swapping with a RENAME shrinks the unprotected
    * window to one metadata operation and writes the data exactly once.
    */
  def replaceTable(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val staged = s"$path.staging"
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    val fs = fsFor(spark, path)
    val target = new org.apache.hadoop.fs.Path(path)
    fs.delete(target, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staged), target))
      sys.error(s"rename $staged -> $path failed")
  }

  /** `compact` for PARTITIONED tables: walks the `col=value` directory tree
    * and compacts each LEAF partition directory independently, preserving
    * the layout (and therefore partition pruning) exactly — the companion
    * `compact` correctly refuses these tables, and partitioned layouts are
    * where micro-batch loads fragment worst (each batch-partitioned state
    * root gains a few files per batch).
    *
    * Durability: each leaf is rewritten under `<root>/.compact-staging/...`
    * (dot-prefixed — readers listing the table never see half-written
    * files), then swapped in as original → `.compact-trash`, staged → leaf,
    * drop trash. At EVERY crash point at least one complete copy of the
    * leaf exists on disk, and the next run's recovery pass restores any
    * trash leaf whose target went missing BEFORE dropping the hidden dirs —
    * a mid-swap crash never loses a partition. The reader-visible gap is
    * the instant between the two renames (Parquet directories have no
    * transaction log to do better with). Leaves already at/below their
    * target file count are untouched, so re-running is cheap and
    * idempotent; independent leaves compact CONCURRENTLY (`concurrently`:
    * each leaf job is small — serial execution would idle the cluster once
    * per leaf × thousands of leaves), and a failed leaf is rethrown only
    * after every other leaf has finished its swap or failed. Same
    * single-writer precondition as `compact`.
    * Returns (filesBefore, filesAfter) summed over all leaves.
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val fs = fsFor(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val rootEntries = fs.listStatus(root)
    require(!rootEntries.exists(_.getPath.getName == "_spark_metadata"),
      s"$path is a streaming file-sink table (_spark_metadata present) — " +
        "compacting would orphan the sink log and hide rows from readers")
    require(rootEntries.exists(e => e.isDirectory && e.getPath.getName.contains("=")),
      s"$path has no col=value partition directories — use compact instead")
    val staging = new org.apache.hadoop.fs.Path(root, ".compact-staging")
    val trash = new org.apache.hadoop.fs.Path(root, ".compact-trash")
    def rel(p: org.apache.hadoop.fs.Path, base: org.apache.hadoop.fs.Path) =
      p.toUri.getPath.stripPrefix(base.toUri.getPath).stripPrefix("/")
    // Recovery from a previous crashed run: a trash leaf whose target leaf
    // is missing holds the ONLY copy of that partition — restore it first.
    if (fs.exists(trash)) {
      def dirLeaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
        val st = fs.listStatus(p)
        val dirs = st.filter(_.isDirectory).toSeq
        if (st.exists(_.isFile) || dirs.isEmpty) Seq(p)
        else dirs.flatMap(d => dirLeaves(d.getPath))
      }
      dirLeaves(trash).foreach { t =>
        val target = new org.apache.hadoop.fs.Path(root, rel(t, trash))
        if (!fs.exists(target)) {
          fs.mkdirs(target.getParent)
          if (!fs.rename(t, target))
            sys.error(s"recovery rename $t -> $target failed")
        }
      }
    }
    // Only now are the hidden dirs stale-by-construction and safe to drop.
    fs.delete(staging, true)
    fs.delete(trash, true)
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val dirs = fs.listStatus(p)
        .filter(e => e.isDirectory && e.getPath.getName.contains("="))
      if (dirs.isEmpty) Seq(p) else dirs.toSeq.flatMap(d => leaves(d.getPath))
    }
    def compactLeaf(leaf: org.apache.hadoop.fs.Path): (Int, Int) = {
      val parts = fs.listStatus(leaf)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (parts.isEmpty) (0, 0)
      else {
        val totalBytes = parts.map(_.getLen).sum
        val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        if (parts.length <= nOut) (parts.length, parts.length)
        else {
          val leafRel = rel(leaf, root)
          val staged = new org.apache.hadoop.fs.Path(staging, leafRel)
          val trashed = new org.apache.hadoop.fs.Path(trash, leafRel)
          // A leaf dir has no partition subdirs, so this read sees only the
          // data columns — partition values stay encoded in the dir name.
          spark.read.parquet(leaf.toString).coalesce(nOut)
            .write.mode(SaveMode.Overwrite).parquet(staged.toString)
          fs.mkdirs(trashed.getParent)
          if (!fs.rename(leaf, trashed))
            sys.error(s"rename $leaf -> $trashed failed")
          if (!fs.rename(staged, leaf))
            sys.error(s"rename $staged -> $leaf failed (original preserved in $trashed)")
          fs.delete(trashed, true)
          (parts.length, fs.listStatus(leaf)
            .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        }
      }
    }
    val results = concurrently(leaves(root).map(l => () => compactLeaf(l)))
    fs.delete(staging, true)
    fs.delete(trash, true)
    (results.map(_._1).sum, results.map(_._2).sum)
  }

  /** Compact a fragmented flat Parquet table to ~`targetFileBytes` files —
    * the maintenance pass micro-batch pipelines need: frequent small loads
    * leave thousands of tiny files whose open/footer costs come to dominate
    * scans. The rewrite sizes output from the MEASURED input bytes (never a
    * row-count guess), no-ops when the table is empty or already at/below
    * the target file count, and swaps atomically through `replaceTable`.
    * Returns (filesBefore, filesAfter).
    *
    * Preconditions, enforced:
    *  - NOT a streaming file-sink table: those carry a `_spark_metadata`
    *    transaction log that readers trust over the directory listing;
    *    rewriting the files would orphan the log and make compacted rows
    *    invisible. Stop the stream and migrate such tables first.
    *  - NOT partitioned: a flat rewrite would silently destroy the
    *    `col=value` layout (and its pruning); compact leaf partition
    *    directories individually instead.
    *  - Single writer: like every non-transactional Parquet rewrite, the
    *    caller must ensure nothing appends between the read snapshot and
    *    the swap — run it in the maintenance window of the load schedule.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val fs = fsFor(spark, path)
    val target = new org.apache.hadoop.fs.Path(path)
    val entries = fs.listStatus(target)
    require(!entries.exists(_.getPath.getName == "_spark_metadata"),
      s"$path is a streaming file-sink table (_spark_metadata present) — " +
        "compacting would orphan the sink log and hide rows from readers")
    require(!entries.exists(e => e.isDirectory && e.getPath.getName.contains("=")),
      s"$path is partitioned — compact leaf partition directories individually")
    val parts = entries.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (parts.isEmpty) return (0, 0)
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (parts.length <= nOut) return (parts.length, parts.length)
    replaceTable(spark, spark.read.parquet(path).coalesce(nOut), path)
    val after = fs.listStatus(target)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
  }
}
