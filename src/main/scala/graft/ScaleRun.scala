package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Dev harness that PRICES and RUNS the LSH pair joins at a given SF — the
  * measured table behind BASELINE.md's band-resolution decade probe: fixed
  * knobs make candidate pairs grow ~n²/buckets, knobs scaled with n restore
  * ~linear candidates. It pays the headline joins at knobs sized by the
  * measured laws and records wall-time + result pair counts, so "the scaled
  * knobs keep the join runnable at sf10" is a measured row, not an
  * extrapolation.
  *
  * Every O(n) candidate-budget pre-flight prints FIRST (the production
  * discipline: never start a banded join whose fan-out you didn't price),
  * then each join's wall time, result pairs, and the verify-survivor ratio.
  * A run stopped after the budget rows is a budget-only probe. Budget-only
  * rows (no join paid) price the alternative knobs:
  *  - simhash 4 bands × 8-bit slices (the lossless-at-h≤3 catalog shape);
  *  - minhash 4 bands × 4 hashes (band collision probability J^r —
  *    doubling r squares the per-band selectivity; recall drops per
  *    1−(1−J^r)^b);
  *  - cosine 16 × 2 (catalog), 16 × 3 and 15 × 4 planes (each extra plane
  *    halves expected bucket occupancy; recall at a given threshold drops
  *    per the (1−θ/π)^r band law).
  *
  * Joins paid:
  *  - simhash: 2 bands × 16-bit slices (the bucket space a 64-bit
  *    fingerprint would give each of 4 bands at h≤3); pigeonhole guarantee
  *    at 2 bands is h ≤ 1.
  *  - cosine: `bands` × `planes` per the +log₂10 ≈ 3.3 planes/decade
  *    sizing rule (default 2 planes at sf0.1 → ~10 at 100×), under the
  *    packed-signature cap planes·bands ≤ 62 — hence the 6×10 default
  *    (the measured BASELINE.md row); pass knobs as args to measure
  *    other points on the law.
  *
  * Usage: runMain graft.ScaleRun <sfDir> [cosPlanes] [cosBands]
  */
object ScaleRun {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleRun <sfDir> [cosPlanes] [cosBands]")
    val dir = args(0)
    val cosPlanes = if (args.length > 1) args(1).toInt else 10
    val cosBands = if (args.length > 2) args(2).toInt else 6
    val spark = Session("graft-scalerun")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
    }

    val docs = tables.Tables.load(spark, dir, "documents")
    val emb = tables.Tables.load(spark, dir, "embeddings")

    // Every budget frame's columns 0 and 3 are (n, cand_pairs); the span
    // budget also reports kept and hot (df-capped) spans.
    def budget(run: String, knobs: String, df: => DataFrame,
               extra: Row => Seq[(String, Any)] = _ => Nil): Unit = {
      val (r, sec) = timed(df.collect()(0))
      Json.line(Seq("run" -> s"${run}_budget", "knobs" -> knobs, "dir" -> dir,
        "n" -> r.getLong(0)) ++ extra(r) ++
        Seq("cand_pairs" -> r.getLong(3), "sec" -> sec): _*)
    }
    budget("simhash", "4x8", ops.Dedup.simHashCandidateBudget(docs))
    budget("simhash", "2x16", ops.Dedup.simHashCandidateBudget(docs, bands = 2))
    budget("minhash", "8x2", ops.Dedup.minHashCandidateBudget(docs))
    budget("minhash", "4x4", ops.Dedup.minHashCandidateBudget(docs, bands = 4))
    budget("ngram", "3g t0.6", ops.Dedup.ngramCandidateBudget(docs, 3, 0.6))
    for ((b, p) <- Seq((16, 2), (16, 3), (15, 4), (cosBands, cosPlanes)))
      budget("cosine", s"${b}x$p",
        ops.Vectors.cosineBandCandidateBudget(emb, planesPerBand = p, bands = b))
    budget("containment", "3g t0.8",
      ops.Dedup.containmentCandidateBudget(docs, 3, 0.8))
    budget("span", "8tok df<=64",
      ops.Dedup.commonSpanCandidateBudget(docs, 8, maxDf = 64),
      r => Seq("spans_kept" -> r.getLong(1), "spans_hot" -> r.getLong(2)))

    // Pair rows: the join's result count and one summary statistic.
    def pairs(run: String, knobs: String, df: => DataFrame,
              stat: String, statCol: org.apache.spark.sql.Column): Unit = {
      val (r, sec) = timed(df.agg(count(lit(1)), statCol).collect()(0))
      Json.line("run" -> run, "knobs" -> knobs, "dir" -> dir,
        "pairs" -> r.getLong(0), stat -> r.get(1), "sec" -> sec)
      spark.catalog.clearCache()
    }
    def minOf(c: String) = coalesce(round(min(col(c)), 4), lit(-1.0))
    def maxOf(c: String) = coalesce(max(col(c)), lit(-1L))

    // --- simhash, wide knobs: 2 bands × 16-bit slices, h ≤ 1 ----------
    pairs("simhash_pairs", "2x16 h<=1",
      ops.Dedup.simHashNearDupPairs(docs, maxHamming = 1, bands = 2),
      "max_hamming", maxOf("hamming"))
    // --- minhash, catalog knobs (16 hashes, 8 bands × 2): the text-side
    // workhorse, through the packed-long single-join first-matching-band
    // shape (no distinct over the fan-out, no candidate re-shuffle before
    // the Jaccard verify join-backs)
    pairs("minhash_pairs", "8x2 j>=0.5", ops.Dedup.minHashNearDupPairs(docs, 0.5),
      "min_jaccard", minOf("jaccard"))
    // --- ngram-Jaccard PPJoin, catalog knobs (3-grams, t = 0.6): the
    // prefix-filter regime, paid through the distinct-based PPJoin — the
    // emit-once (no distinct) residual was built, measured, and REJECTED
    // (its carried earlier-prefix arrays are quadratic in document length;
    // see the design note in Dedup.scala), so the thin-id distinct here is
    // the linear quantity the budget prices
    pairs("ngram_pairs", "3g j>=0.6", ops.Dedup.ngramJaccardPairs(docs, 3, 0.6),
      "min_jaccard", minOf("jaccard"))
    // --- cosine, decade-scaled planes. Two points on the verify-shape
    // knob: the AS-SHIPPED default (the measured row count picks the shape
    // — this corpus lands INLINE at 200 k > 2^17 — and the prefix stage
    // arms itself from the measured residual-energy share, which DISARMS
    // it here: share² ≈ 0.75 > τ), and the broadcast-probe shape forced
    // via a raised row cap.
    for ((label, maxRows) <- Seq(
        ("auto", ops.Vectors.BroadcastVerifyMaxRows),
        ("bcast forced", Long.MaxValue)))
      pairs("cosine_pairs", s"${cosBands}x$cosPlanes th>=0.4 $label",
        ops.Vectors.cosineNearDupPairsBanded(emb, 0.4,
          planesPerBand = cosPlanes, bands = cosBands, prefixDims = 16,
          broadcastVerifyMaxRows = maxRows),
        "min_cosine", minOf("cosine"))

    // --- Matryoshka ARMED branch: front-loaded-energy twin corpus ------
    // The staged-verify gate arms itself from the measured residual-
    // energy share, and on THIS corpus's isotropic embeddings it is
    // correctly DISARMED (share² ≈ 0.75 > τ; forced = +20%, BASELINE.md
    // r13). This section manufactures the regime Matryoshka-trained
    // embeddings live in — residual dims 17..64 scaled to 10% amplitude,
    // share² ≈ 0.03 ≪ τ = 0.4, the gate arms — and measures the SAME
    // knobs armed (p = 16) vs structurally disarmed (p = 0) on the SAME
    // twin corpus. Identical pair count + min cosine across the two
    // shapes is asserted by print (losslessness), the wall-time gap is
    // the armed branch's measured payoff.
    val embFront = emb.withColumn("embedding",
      transform(col("embedding"),
        (x, i) => when(i < 16, x).otherwise(x * lit(0.1)))
        .cast("array<float>"))
    for ((label, p) <- Seq(("armed p16", 16), ("disarmed p0", 0)))
      pairs("cosine_matryoshka", s"${cosBands}x$cosPlanes th>=0.4 $label",
        ops.Vectors.cosineNearDupPairsBanded(embFront, 0.4,
          planesPerBand = cosPlanes, bands = cosBands, prefixDims = p),
        "min_cosine", minOf("cosine"))
    // --- containment, catalog knobs (3-grams, t = 0.8): the asymmetric
    // PPJoin — src's df-ordered prefix against dst's FULL shingle list
    // under the one-sided t·|A| ≤ |B| length filter, then the exact verify
    pairs("containment_pairs", "3g c>=0.8", ops.Dedup.containmentPairs(docs, 3, 0.8),
      "min_containment", minOf("containment"))
    // --- common-span, catalog knobs (8-token spans, df cap 64): the
    // df-bounded per-span self-join whose EXACT fan-out Σ C(df, 2) the
    // span budget prices
    pairs("span_pairs", "8tok df<=64", ops.Dedup.commonSpanPairs(docs, 8, maxDf = 64),
      "max_spans", maxOf("n_spans"))
    spark.stop()
  }
}
