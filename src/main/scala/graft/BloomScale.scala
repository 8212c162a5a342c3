package graft

import org.apache.spark.sql.functions._

/** Dev harness that RUNS the Bloom-prefiltered ingest dedup at the scale
  * it exists for — the `ScaleRun` discipline applied to
  * `Dedup.exactIncrementalBloom`: the catalog oracle proves losslessness
  * at a 400-digest corpus where the sketch is pure overhead; THIS main
  * measures the regime the shape was built for (10⁶–10⁷-digest corpus,
  * 10⁵–10⁶-row batches at realistic 0–10% hit rates) and records what the
  * sketch actually buys and costs:
  *   - sketch build wall time + serialized size (one narrow aggregate
  *     pass; the driver receives sketch bytes only),
  *   - realized fpp measured on known-absent digests with the EXACT probe
  *     expression the ingest evaluates (`Dedup.bloomMightContain`),
  *   - bloom-vs-plain wall time for the same materialized batch at each
  *     hit rate, with survivor-count equality asserted (losslessness at
  *     scale, not just at the oracle's toy size).
  *
  * Corpus and batch are deterministic md5-of-tag strings (the fixture
  * discipline — no RNG, re-runs reproduce), both MATERIALIZED to parquet
  * first so the timed passes measure identical I/O. The default corpus
  * (10⁷ digests, 10·n bits ≈ 12.5 MB sketch, fpp ≈ 0.8%) deliberately
  * exceeds Spark's optimizer bloom caps (4M items / 64M bits) — this run
  * is also the executed proof that `digestBloom`'s conf-raising makes the
  * documented production sizing reachable.
  *
  * Usage: runMain graft.BloomScale [nCorpus] [nBatch] [hitPcts...]
  */
object BloomScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000000L
    val b = if (args.length > 1) args(1).toLong else 1000000L
    val hitPcts = if (args.length > 2) args.drop(2).map(_.toInt).toSeq
                  else Seq(0, 1, 10)
    val spark = Session("graft-bloomscale")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
    }

    // Stage-metric accumulator: wall time on a 32-thread box with the
    // corpus in page cache understates what a 1000-executor cluster pays
    // for a shuffle (network + spill), so each timed pass also reports
    // its TOTAL shuffle-write and scan-input bytes — the quantities that
    // scale with the corpus. Listener events are async; a short drain
    // sleep after each pass is fine for a dev harness.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val inputBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        // per-task, not per-stage: stage-level aggregated metrics can
        // lag/miss input bytes; task-end metrics are always populated
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (te.taskMetrics != null) {
            shuffleBytes.addAndGet(
              te.taskMetrics.shuffleWriteMetrics.bytesWritten)
            inputBytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
            ()
          }
        }
      })
    def metered[T](f: => T): (T, Double, Long, Long) = {
      Thread.sleep(500)
      val (s0, i0) = (shuffleBytes.get(), inputBytes.get())
      val (r, sec) = timed(f)
      Thread.sleep(500) // listener drain
      (r, sec, shuffleBytes.get() - s0, inputBytes.get() - i0)
    }

    val root = java.nio.file.Files.createTempDirectory("graft-bloomscale-")
    sys.addShutdownHook(graft.etl.Load.deleteLocalTree(root))

    // corpus digest table — md5("corpus:<i>"), the digest the batch's
    // hit rows will recompute from their text
    spark.range(n)
      .select(md5(concat(lit("corpus:"), col("id").cast("string"))
        .cast("binary")).as("content_md5"))
      .write.parquet(s"$root/digests")
    val corpus = spark.read.parquet(s"$root/digests")

    val bits = 10L * n
    val (bloom, tBuild) = timed(ops.Dedup.digestBloom(corpus, n, bits))
    Json.line("run" -> "bloom_build", "n_digests" -> n, "num_bits" -> bits,
      "sketch_bytes" -> bloom.length, "sec" -> tBuild)

    // realized fpp on b known-ABSENT digests, via the ingest's own probe
    val (fp, tFpp) = timed(spark.range(b)
      .select(md5(concat(lit("absent:"), col("id").cast("string"))
        .cast("binary")).as("content_md5"))
      .filter(ops.Dedup.bloomMightContain(bloom, col("content_md5")))
      .count())
    Json.line("run" -> "bloom_fpp", "probes" -> b, "false_positives" -> fp,
      "fpp" -> math.rint(fp * 1e6 / b) / 1e6, "sec" -> tFpp)

    var warmed = false
    for (hitPct <- hitPcts) {
      // batch docs: hitPct% carry corpus text (id*997 spreads the hits
      // across the corpus id space), the rest novel. At the default
      // sizes (b < n, 997 coprime to n) the map is injective, so the
      // batch has NO within-batch duplicates — the min-id survivor
      // stage's correctness is pinned by DedupVectorsSpec and the
      // catalog oracles, not by this harness; here it is measured at
      // its all-unique fast path.
      spark.range(b).select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(100L)) < hitPct,
            concat(lit("corpus:"), pmod(col("id") * 997L, lit(n)).cast("string")))
            .otherwise(concat(lit("batch:"), col("id").cast("string")))
            .as("text"))
        .write.mode("overwrite").parquet(s"$root/batch")
      val batch = spark.read.parquet(s"$root/batch")
      if (!warmed) {
        // one untimed pass of each shape pays JIT/codegen warmup, or the
        // first timed row absorbs it and poisons the comparison
        ops.Dedup.exactIncremental(batch, corpus).count()
        spark.catalog.clearCache()
        ops.Dedup.exactIncrementalBloom(batch, corpus, bloom).count()
        spark.catalog.clearCache()
        warmed = true
      }
      val (cPlain, tPlain, shPlain, inPlain) = metered(
        ops.Dedup.exactIncremental(batch, corpus).count())
      spark.catalog.clearCache()
      val (cBloom, tBloom, shBloom, inBloom) = metered(
        ops.Dedup.exactIncrementalBloom(batch, corpus, bloom).count())
      spark.catalog.clearCache()
      require(cPlain == cBloom,
        s"LOSSLESSNESS VIOLATION at hit=$hitPct%: plain=$cPlain bloom=$cBloom")
      Json.line("run" -> "bloom_ingest", "hit_pct" -> hitPct, "batch" -> b,
        "corpus" -> n, "survivors" -> cBloom, "sec_plain" -> tPlain,
        "sec_bloom" -> tBloom, "shuffle_mb_plain" -> shPlain / 1048576,
        "shuffle_mb_bloom" -> shBloom / 1048576,
        "input_mb_plain" -> inPlain / 1048576,
        "input_mb_bloom" -> inBloom / 1048576)
    }
    spark.stop()
  }
}
