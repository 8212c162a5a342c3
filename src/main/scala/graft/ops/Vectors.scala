package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding/similarity-search operators (north star: "similarity search" —
  * /root/repo/BASELINE.json; SURVEY §2.9 X4). Operates on
  * `embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)`.
  *
  * All math runs in DOUBLE as strictly sequential left-to-right folds, so
  * results are bit-reproducible and mirrorable by the DuckDB oracle. The
  * fold is a native codegen expression (`graft.functions.DotProduct`) —
  * the higher-order-function form (`aggregate(zip_with(...))`) computes the
  * identical value but allocates an intermediate array per row-pair, which
  * dominates runtime inside pairwise similarity joins.
  *
  * Scale design: brute-force top-k is the correctness baseline (broadcast the
  * query set — it is small by construction — so candidate scoring is a
  * map-side-only pass over the corpus; the only shuffle is the final
  * per-query top-k, k rows per query). The LSH variant bounds the scored
  * candidates per query by bucketing both sides on a sign-random-projection
  * key — the standard route when the corpus side is 100 TB.
  */
object Vectors {

  /** Dot product of two numeric array columns, computed in double
    * (native codegen; same sequential accumulation as the HOF fold).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, explicit formula (dot / (|a|·|b|)). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each row of `queries`, the k nearest rows
    * of `corpus` by cosine (ties broken by candidate id — deterministic).
    * `queries` is broadcast; scoring is a single narrow pass over `corpus`.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // NOT fanned by an explicit repartition (r15 A/B): the per-pair dot
    // product is cheap enough that one-task scoring of a sub-split corpus
    // file beats paying an extra exchange + stage — the fan was measured
    // a 1.3–2× REGRESSION on this scorer's consumers (sim_cosine_topk,
    // sim_ann_recall_report), while the expensive-per-pair jaccard scorer
    // in retrieval_hybrid_rrf keeps its fan (×0.53 there).
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round6(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rank")
  }

  /** Per-label centroid-distance outliers: the `topN` vectors FARTHEST
    * from their label's mean vector — the mislabeled/contaminated-cluster
    * candidates a curation pass reviews (the pruning signal of
    * SemDeDup-style cluster hygiene, applied to labels).
    *
    * The centroid is the mean of FLOATS — a naive double sum is
    * reduction-order-dependent and can't hash-match an oracle. So each
    * component is fixed-point scaled first (`floor(x·1e6 + 0.5)`, the
    * round6 discipline) and summed as exact Decimal(38,0) — order-free —
    * and doubles reappear only in the centroid division and the distance
    * fold, both bit-replayed. Output `dist2` is squared Euclidean
    * distance in original units (6dp).
    *
    * Scale shape: one posexplode → (label, dim)-keyed exact sum (shuffle
    * O(labels·dims)), centroid arrays broadcast back (labels·dims tiny),
    * distance is one narrow map-side fold per vector, then a per-label
    * top-N window over label-sized groups.
    */
  def centroidOutliers(emb: DataFrame, topN: Int,
                       labelCol: String = "label", idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def scaled(x: Column): Column = floor(x * lit(1e6) + lit(0.5))
    val base = emb.select(col(labelCol).cast("long").as("label"),
      col(idCol).as("vec_id"), col(vecCol).as("v"))
    val cen = base
      .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .select(col("label"), col("i"), scaled(col("x")).cast(dec).as("xs"))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("xs")).as("sx"), count(lit(1)).as("n"))
      .select(col("label"), col("i"),
        (col("sx").cast("double") / col("n").cast("double")).as("c"))
    val carr = cen.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cv"))
    val d = base.join(broadcast(carr), Seq("label"))
      .select(col("label"), col("vec_id"),
        round6(dot(
          zip_with(col("v"), col("cv"),
            (x, cc) => scaled(x).cast("double") - cc),
          zip_with(col("v"), col("cv"),
            (x, cc) => scaled(x).cast("double") - cc)) / lit(1e12))
          .as("dist2"))
    Relational.topKPerGroup(d, Seq(col("label")),
      Seq(col("dist2").desc, col("vec_id").asc), topN, rankCol = "rank")
  }

  /** All pairs with cosine ≥ threshold — embedding-space near-dup detection,
    * QUADRATIC REFERENCE implementation (BroadcastNestedLoopJoin). Kept as
    * the correctness baseline `cosineNearDupPairsBanded` is proven against;
    * the shipped catalog query uses the banded variant.
    */
  /** The one `(id, v, nrm)` projection every pair/ANN path shares — norms
    * precomputed per VECTOR, not per pair: sqrt(dot(v,v)) is the same IEEE
    * value either way, but inside a pair join it would run O(n²) times
    * instead of O(n).
    */
  private def normedById(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))

  /** 6-dp half-up rounding as PURE double arithmetic:
    * `floor(x·1e6 + 0.5) / 1e6`, mirrored VERBATIM in every vector oracle
    * (`floor(x * 1000000 + 0.5) / 1000000.0`) so both engines execute the
    * identical IEEE multiply → add → floor → divide and parity is exact by
    * construction. Replaces `round(x, 6)` in the per-PAIR verify paths:
    * Catalyst's Round on DoubleType allocates and parses a BigDecimal per
    * row (Double.toString → BigDecimal → setScale → toDouble) — measured
    * as the dominant CPU sink of the banded kNN verify at sf1 (hundreds of
    * millions of candidate pairs × string round-trips) — and rounds the
    * SHORTEST-DECIMAL repr while DuckDB rounds the binary value, a latent
    * cross-engine mismatch class this formula removes entirely.
    *
    * Negative-tie semantics: floor(x·1e6 + 0.5) rounds a NEGATIVE value
    * sitting exactly on a 6th-decimal tie toward +infinity (−0.1234565 →
    * −0.123456), unlike HALF_UP's away-from-zero (−0.123457). This is
    * deliberate half-up-on-the-number-line rounding; parity holds because
    * every oracle replays the identical formula, but callers comparing
    * against a HALF_UP source should know negative ties differ.
    */
  private[graft] def round6(x: Column): Column =
    floor(x * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** Banded packed-sign signatures of a normed frame: (id, sig, bkey). */
  private def bandedSigs(nv: DataFrame, signs: Array[Array[Double]],
                         planesPerBand: Int, bands: Int): DataFrame =
    bandExplode(nv.select(col("id"), col("v")),
      packedSignBits(col("v"), signs), planesPerBand, bands)
      .select(col("id"), col("sig"), col("bkey"))

  /** Exact-cosine scoring of candidate (i, j) pairs: join each side's
    * normed frame back by id → (i, j, cosine) at 6dp. The SINGLE definition
    * of the verify step — full-corpus pairs and the incremental path both
    * call it, so the arithmetic their oracles replay cannot drift between
    * the two.
    */
  private def cosVerify(cand: DataFrame, left: DataFrame, right: DataFrame): DataFrame = {
    val cos = round6(dot(col("av"), col("bv")) / (col("an") * col("bn")))
    cand
      .join(left.select(col("id").as("i"), col("v").as("av"), col("nrm").as("an")), "i")
      .join(right.select(col("id").as("j"), col("v").as("bv"), col("nrm").as("bn")), "j")
      .select(col("i"), col("j"), cos.as("cosine"))
  }

  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = normedById(vectors, idCol, vecCol)
    val cos = round6(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
    // Both predicates live in the join condition ON PURPOSE, id-order first:
    // left alone, Catalyst pushes the later cosine filter into the join
    // AHEAD of the cheap id comparison, doubling the dot-product work
    // (the condition short-circuits left-to-right).
    v.as("a").join(v.as("b"), col("a.id") < col("b.id") && cos >= threshold)
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        cos.as("cosine"))
  }

  /** Embedding near-dup pairs via multi-band sign-LSH blocking: candidates
    * are pairs sharing at least one full band of `planesPerBand` projection
    * signs (the standard MinHash-LSH banding scheme transplanted to
    * sign-random-projection), then every candidate is verified with the
    * exact cosine. The plan is explode(bands) → self-EQUI-join on
    * (band, key) → distinct → hash-join back to vectors → narrow verify —
    * every shuffle keyed, nothing nested-loop, which is the shape that
    * distributes at 100 TB.
    *
    * Recall honesty (the math a user must size by): a pair at angle θ agrees
    * on one plane w.p. 1−θ/π, on a band w.p. (1−θ/π)^planesPerBand, and is
    * missed w.p. (1−(1−θ/π)^r)^bands. At high thresholds (cos ≥ 0.8,
    * θ ≤ 37°) bands of r=8 prune hard AND keep recall ≥ 0.99. At a LOW
    * threshold like 0.4 (θ ≈ 66°) only shallow bands (r=2) reach full
    * recall, and their candidate union approaches all-pairs — the pruning is
    * inherently weak there for isotropic data (no lossless blocking exists
    * in high dimension). The hyperplanes are md5-derived and FIXED, so for a
    * given dataset the candidate set — and hence recall — is deterministic;
    * the catalog proves exact equality against the quadratic oracle on the
    * test corpus.
    */
  /** All projection signs of one vector packed into a single long: bit p =
    * sign of the p-th hyperplane projection. One narrow pass; band keys and
    * band-match tests below are pure bit arithmetic on this value.
    */
  private def packedSignBits(vec: Column, signs: Array[Array[Double]]): Column = {
    require(signs.length <= 62, s"at most 62 planes fit a packed long signature")
    signs.indices.map { p =>
      val plane = array(signs(p).map(lit): _*)
      when(dot(vec, plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** (id, sig, bkey) with one row per band: bkey = band index in the high
    * bits, that band's `r` sign bits in the low bits — a single INT join
    * key instead of a (band, bit-string) pair.
    */
  private def bandExplode(df: DataFrame, sig: Column, r: Int, bands: Int): DataFrame =
    df.withColumn("sig", sig)
      .select(col("*"),
        explode(BandedBits.bandKeys(col("sig"), r, bands)).as("bkey"))

  /** TRUE only on the FIRST band where the two packed signatures agree —
    * an equi-join on bkey then emits every candidate pair exactly once
    * and needs NO distinct/dedup shuffle afterwards (shared machinery:
    * `BandedBits.firstMatchingBand`, also behind the simhash and
    * perceptual-hash bandings since round 12).
    */
  private def firstMatchingBand(sigA: Column, sigB: Column, bkey: Column,
                                r: Int, bands: Int): Column =
    BandedBits.firstMatchingBand(sigA, sigB, bkey, r, bands)

  /** Candidate-pair BUDGET of the sign-LSH banding WITHOUT the self-join —
    * the `Dedup.simHashCandidateBudget` twin for the cosine family: one
    * projection pass, one keyed count over band buckets,
    * `cand_pairs` = Σ C(c, 2). An O(n) pre-flight: run it before
    * `cosineNearDupPairsBanded` at a new corpus size; when
    * `cand_pairs / n_vecs` drifts superlinear, raise `planesPerBand` (each
    * extra plane halves expected bucket occupancy) before paying the join.
    */
  def cosineBandCandidateBudget(vectors: DataFrame, planesPerBand: Int = 2,
                                bands: Int = 16, dims: Int = 64,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val signs = hyperplaneSigns(planesPerBand * bands, dims)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val banded = bandExplode(
      vectors.select(col(idCol).as("id"), col(vecCol).as("v")),
      packedSignBits(col("v"), signs), planesPerBand, bands)
    val buckets = banded.groupBy(col("bkey")).agg(count(lit(1)).as("c"))
    val summary = buckets.agg(
      count(lit(1)).as("n_buckets"),
      coalesce(max(col("c")), lit(0L)).as("max_bucket"),
      coalesce(sum(expr("(c * (c - 1)) div 2").cast(dec)),
        lit(0).cast(dec)).as("cp"))
    vectors.agg(count(lit(1)).as("n_vecs")).crossJoin(summary)
      .select(col("n_vecs"), col("n_buckets"), col("max_bucket"),
        col("cp").cast("long").as("cand_pairs"))
  }

  /** NOTE: construction is EAGER — building the returned DataFrame runs
    * one O(n) narrow aggregate over the corpus (count + residual-energy
    * share) that both materializes the normed-vector cache and feeds the
    * two shape decisions (broadcast-vs-inline verify, stage-1 arming).
    * Callers that only want to BUILD plans, or that invoke this
    * repeatedly, pay that corpus pass per call — hold the returned
    * DataFrame (or use `cosineNearDupPairsBandedWithHandle` once and
    * reuse it) instead of re-invoking. The probe is the same
    * probe-before-pay discipline as the candidate budgets, spent where
    * it changes the join shape.
    */
  def cosineNearDupPairsBanded(vectors: DataFrame, threshold: Double,
                               planesPerBand: Int = 2, bands: Int = 16,
                               dims: Int = 64,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               prefixDims: Int = 16,
                               broadcastVerifyMaxRows: Long = BroadcastVerifyMaxRows): DataFrame =
    cosineNearDupPairsBandedWithHandle(vectors, threshold, planesPerBand,
      bands, dims, idCol, vecCol,
      // public API returns no unpersist handle → caches must be
      // self-bounding: MEMORY_ONLY blocks really are LRU-evicted
      // (MEMORY_AND_DISK spill would sit on disk until session end).
      // Same rationale as Dedup.minHashNearDupPairs.
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY, prefixDims,
      broadcastVerifyMaxRows)._1

  /** `cosineNearDupPairsBanded` plus an unpersist handle for the two cached
    * intermediates (normed vectors + banded signatures). Without the caches
    * the ONE plan references the vector lineage four times (both band-join
    * sides plus both verify join-backs) and scans the embeddings table 4× —
    * at 100 TB the corpus re-read is the dominant cost. With them it is
    * read once. Mirrors `Dedup.minHashNearDupPairsWithHandle`.
    */
  /** Stage-1 slack of the staged verify: a pair is pruned only when its
    * Cauchy-Schwarz upper bound sits at least this far BELOW the
    * threshold. round6 can lift a cosine by at most 5e-7 and the bound's
    * own double arithmetic wanders ~1e-13 relative, so 1e-5 makes the
    * prune a theorem with five decades to spare while costing essentially
    * no extra survivors (the bound's variance is ≫ 1e-5).
    */
  private val StagedVerifySlack = 1e-5

  /** Verify-shape switch: corpora at or under this many vectors run the
    * exact verify as candidate streams probing a FORCED BROADCAST of the
    * normed-vector table (candidates never hit an exchange, the thin
    * banded enumeration stays thin); above it the payload rides INLINE
    * through the band explode (the simhash discipline widened — the only
    * shape left when the vector table itself cannot be broadcast). The
    * default sits at the MEASURED local crossover: at 20 k vectors the
    * broadcast probes beat inline ~1.7× (sf1, 9.8 vs 16.4 s), at 200 k
    * inline beats broadcast ~1.3× (sf10, 68–85 vs 85–102 s) — 2^17 ≈
    * 131 k splits the two regimes and keeps the broadcast (~50 MB at 64
    * float dims + prefix/norm columns) comfortably inside memory.
    * Billion-vector corpora inevitably take the inline path.
    */
  val BroadcastVerifyMaxRows: Long = 1L << 17

  private[graft] def cosineNearDupPairsBandedWithHandle(
      vectors: DataFrame, threshold: Double,
      planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      prefixDims: Int = 16,
      broadcastVerifyMaxRows: Long = BroadcastVerifyMaxRows): (DataFrame, () => Unit) = {
    val signs = hyperplaneSigns(planesPerBand * bands, dims)
    val p = math.min(math.max(prefixDims, 0), dims)
    // Normed vectors + the staged-verify prefix/residual pair, cached:
    // the count() below both materializes the cache (it is read 2-4×)
    // and MEASURES the corpus for the verify-shape switch — an O(n)
    // narrow pass, the same probe-before-pay discipline as the candidate
    // budgets.
    val v = normedById(vectors, idCol, vecCol)
      .withColumn("pv", slice(col("v"), 1, math.max(p, 1)))
      .withColumn("rn", sqrt(greatest(
        dot(col("v"), col("v")) - dot(col("pv"), col("pv")), lit(0.0))))
      .persist(storage)
    // One aggregate materializes the cache AND measures the two numbers
    // the shape decisions need: the corpus size (verify-shape switch)
    // and the mean residual-energy share (stage-1 arming — see below).
    val st = v.agg(count(lit(1)),
      avg(when(col("nrm") > 0, col("rn") / col("nrm")))).collect()(0)
    val nVecs = st.getLong(0)
    val resShare = if (st.isNullAt(1)) 0.0 else st.getDouble(1)
    val broadcastVerify = nVecs <= broadcastVerifyMaxRows
    // Stage-1 ARMS ITSELF from the measured energy profile: the bound
    // prunes a pair only when its prefix dot falls below
    // (τ − slack)·|a||b| − |a_r||b_r|, which is reachable only if τ
    // exceeds the typical residual-norm product ≈ (mean residual
    // share)². On this repo's isotropic test embeddings at p = 16 that
    // square is ~0.75, so a τ = 0.4 run would pay the p-dim dot on
    // every candidate and never prune (measured: +20% at sf10) — the
    // gate disarms it; on front-loaded (Matryoshka-trained) embeddings
    // the share collapses and the stage arms exactly where it pays.
    // Disarming only SKIPS a lossless filter, so the output is
    // bit-identical either way.
    val stagedArmed = p > 0 && threshold - StagedVerifySlack > resShare * resShare
    // The banded enumeration rows: THIN (id, sig, bkey) when the verify
    // probes a broadcast — the candidate stream then flows from the band
    // join straight through two broadcast hash probes with no exchange —
    // or WIDE (payload carried through the explode) when the vector
    // table is too big to broadcast: there the r12 join-back shape
    // re-shuffled the candidate stream twice (the second hop with a
    // 0.5 KB vector attached — 301 s at the sf10 probe vs 89 s inline),
    // while inline payload inflation is only bands × corpus width.
    // Measured both ways at sf1 (broadcast regime: join-backs ~2× faster
    // than inline) and sf10 — each regime gets the shape that wins there.
    val banded = (if (broadcastVerify) bandedSigs(v, signs, planesPerBand, bands)
                  else bandExplode(v, packedSignBits(col("v"), signs),
                    planesPerBand, bands))
      .persist(storage)
    // Fan out BOTH self-join sides to the session parallelism: the pair
    // join's OUTPUT is quadratic in band-bucket sizes while its INPUT is
    // one row per (vector, band), so left alone a small/cached input
    // runs every candidate pair in as few tasks as the cache has
    // partitions — and under AQE the broadcast build-side choice can
    // flip to the repartitioned alias (exact shuffle stats beat the
    // cache's estimate), leaving the 1-split side streamed on ONE task
    // (measured at sf1: a single task burning 400+ s while 31 cores sat
    // idle). With both sides fanned the join distributes regardless of
    // which side Spark builds; at broadcast-infeasible scale the join
    // becomes a keyed shuffle on bkey and the pre-shuffle is absorbed.
    val parts = vectors.sparkSession.sessionState.conf.numShufflePartitions
    val fanned = banded.repartition(parts, col("id"))
    // Staged exact verify (Matryoshka prefix + Cauchy-Schwarz residual):
    //   dot(a, b) = dot(a_p, b_p) + dot(a_r, b_r) ≤ dot(a_p, b_p) + |a_r|·|b_r|
    // so a candidate whose p-dim prefix dot plus residual-norm product
    // falls below (τ − slack)·|a|·|b| is PROVABLY sub-τ and skips the
    // full dims-dim product — lossless by the inequality, so the emitted
    // pair set and every cosine value are bit-identical to the unstaged
    // verify (the oracle hash is the proof). On front-loaded
    // (Matryoshka-trained) embeddings the prefix carries most energy and
    // stage 1 prunes hard; on isotropic corpora the residual-norm term
    // hovers near (dims−p)/dims and prunes only when τ exceeds it — the
    // bound degrades to a ~p/dims flop overhead, never to a wrong answer.
    // Condition order is deliberate (the cosineNearDupPairs lesson):
    // cheap id/band tests first, then the p-dim bound, then the full
    // product — And short-circuits left to right in codegen.
    def stage1(pa: Column, pb: Column, ra: Column, rb: Column,
               na: Column, nb: Column): Column =
      if (!stagedArmed) lit(true)
      else dot(pa, pb) + ra * rb >=
        lit(threshold - StagedVerifySlack) * (na * nb)
    val pairs =
      if (broadcastVerify) {
        val cand = fanned.as("a").join(fanned.as("b"),
            col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id") &&
              firstMatchingBand(col("a.sig"), col("b.sig"), col("a.bkey"),
                planesPerBand, bands))
          .select(col("a.id").as("i"), col("b.id").as("j"))
        def side(k: String, s: String) = broadcast(v.select(col("id").as(k),
          col("v").as(s"v$s"), col("nrm").as(s"n$s"),
          col("pv").as(s"p$s"), col("rn").as(s"r$s")))
        val cosFull = round6(dot(col("va"), col("vb")) / (col("na") * col("nb")))
        cand.join(side("i", "a"), "i").join(side("j", "b"), "j")
          .filter(stage1(col("pa"), col("pb"), col("ra"), col("rb"),
            col("na"), col("nb")) && cosFull >= threshold)
          .select(col("i").as("vec_a"), col("j").as("vec_b"),
            cosFull.as("cosine"))
      } else {
        val cosFull = round6(
          dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
        fanned.as("a").join(fanned.as("b"),
            col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id") &&
              firstMatchingBand(col("a.sig"), col("b.sig"), col("a.bkey"),
                planesPerBand, bands) &&
              stage1(col("a.pv"), col("b.pv"), col("a.rn"), col("b.rn"),
                col("a.nrm"), col("b.nrm")) &&
              cosFull >= threshold)
          .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
            cosFull.as("cosine"))
      }
    (pairs, () => { v.unpersist(); banded.unpersist(); () })
  }

  /** Embedding near-dup detection for a NEW batch against an existing
    * corpus — the steady-state twin of `cosineNearDupPairsBanded`, same
    * shape as `Dedup.minHashIncremental`: band buckets join NEW×CORPUS and
    * NEW×(earlier NEW), never CORPUS×CORPUS (that work happened at the
    * corpus rows' own ingest). Returns one row per flagged new vector:
    * (id, dup_of, cosine) with dup_of = the minimum matching prior id and
    * cosine = that pair's exact similarity.
    *
    * 100 TB shape: corpus banded signatures are precomputed and stored
    * bucketed by band key, so an ingest shuffles only the batch's bands;
    * the exact verify joins back by id for candidates only. Banding recall
    * is the `cosineNearDupPairsBanded` analysis — band agreement is
    * symmetric, so every qualifying (new, prior) pair proven covered there
    * is covered here.
    */
  def cosineIncremental(newVecs: DataFrame, corpus: DataFrame, threshold: Double,
                        planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val cv = normedById(corpus, idCol, vecCol).persist(mem)
    val cb = bandedSigs(cv, hyperplaneSigns(planesPerBand * bands, dims),
      planesPerBand, bands).persist(mem)
    cosineIncrementalIndexed(newVecs, cv, cb, threshold,
      planesPerBand, bands, dims, idCol, vecCol)
  }

  /** Persistable sign-LSH corpus index for embeddings: (normed vectors
    * `(id, v, nrm)`, banded packed-sign keys `(id, sig, bkey)`) — the two
    * tables an ingest pipeline writes ONCE (band keys bucketed by `bkey`
    * for shuffle-free probes) and feeds to `cosineIncrementalIndexed` per
    * batch, the embedding twin of `Dedup.minHashIndex`. The normed frame is
    * cached (MEMORY_ONLY, self-evicting) because both writes share its
    * lineage; pass `StorageLevel.NONE` to opt out.
    */
  def cosineIndex(corpus: DataFrame,
                  planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  storage: org.apache.spark.storage.StorageLevel =
                    org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      : (DataFrame, DataFrame) = {
    val nvRaw = normedById(corpus, idCol, vecCol)
    val nv = if (storage == org.apache.spark.storage.StorageLevel.NONE) nvRaw
             else nvRaw.persist(storage)
    (nv, bandedSigs(nv, hyperplaneSigns(planesPerBand * bands, dims),
      planesPerBand, bands))
  }

  // ------------------------------------------- stored-index lifecycle (X4)

  private def cosNormedPath(dir: String) = s"$dir/normed"
  private def cosBandedPath(dir: String) = s"$dir/banded"

  /** Build a sign-LSH corpus index and persist it under `dir` (parquet
    * tables `normed` + `banded`) — the once-at-bootstrap step of the
    * steady-state embedding-ingest loop; `Dedup.writeMinHashIndex`'s twin.
    */
  def writeCosineIndex(corpus: DataFrame, dir: String,
                       planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (nv, banded) = cosineIndex(corpus, planesPerBand, bands, dims, idCol, vecCol)
    nv.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(cosNormedPath(dir))
    banded.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(cosBandedPath(dir))
    nv.unpersist()
    ()
  }

  /** Read back a stored sign-LSH index: (normed vectors, banded keys). */
  def readCosineIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(cosNormedPath(dir)), spark.read.parquet(cosBandedPath(dir)))

  /** Append the surviving batch vectors to a stored index — the closing
    * step of each embedding-ingest iteration. Geometry pre-flight runs
    * against the STORED tables first (a mismatched append poisons future
    * probes). Retried appends duplicate index rows for the batch — extra
    * probe work, never wrong flags (candidates are deduped per band and
    * the verify re-derives identical pair rows); compaction cleans up.
    */
  def appendToCosineIndex(survivors: DataFrame, dir: String,
                          planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
                          idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = survivors.sparkSession
    val (storedNormed, storedBanded) = readCosineIndex(spark, dir)
    cosinePreflight(storedNormed, storedBanded, planesPerBand, bands, dims)
    val (nv, banded) = cosineIndex(survivors, planesPerBand, bands, dims, idCol, vecCol)
    nv.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(cosNormedPath(dir))
    banded.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(cosBandedPath(dir))
    nv.unpersist()
    ()
  }

  /** `cosineIncremental` against a STORED corpus index (the two frames from
    * `cosineIndex`, read back): per ingest only the batch is projected and
    * banded; the corpus contributes a probe join on its stored band keys
    * and an id-keyed vector lookup for exact verification.
    *
    * INVARIANT: `planesPerBand`/`bands`/`dims` must equal the index's build
    * values — a mismatch silently empties the candidate set instead of
    * failing. The sampled pre-flight fails fast: every vector emits every
    * band, and bkey packs the band number above `planesPerBand` sign bits,
    * so a few stored rows prove the band geometry; one stored vector
    * proves the dimensionality.
    */
  /** Fail-fast geometry check of a stored sign-LSH index — shared by the
    * probe path and the append path (appending rows built with different
    * geometry would poison every future probe). Bounded collects.
    */
  /** Checks already proven this session, keyed by index-frame IDENTITY +
    * params — mirrors `Dedup.preflightSeen` (and its weak-keyed design:
    * identity HASH codes are reused after GC, so a hash-keyed memo could
    * false-hit on a fresh unchecked frame and would grow unboundedly in
    * per-batch loops): a per-ingest loop probing the same index objects
    * must not pay two driver round-trips per batch for an invariant that
    * cannot change underneath an unchanged object.
    */
  private val preflightSeen = new java.util.WeakHashMap[
    DataFrame, (java.lang.ref.WeakReference[DataFrame], String)]()

  private[graft] def preflightMemoSize: Int =
    preflightSeen.synchronized { preflightSeen.size }

  private[graft] def cosinePreflight(corpusNormed: DataFrame, corpusBanded: DataFrame,
                                     planesPerBand: Int, bands: Int,
                                     dims: Int): Unit = {
    val params = s"$planesPerBand|$bands|$dims"
    val memoized = preflightSeen.synchronized {
      Option(preflightSeen.get(corpusBanded)).exists {
        case (normedRef, p) => (normedRef.get eq corpusNormed) && p == params
      }
    }
    if (memoized) return
    val bandSample = corpusBanded.select(col("bkey").cast("long"))
      .limit(bands * 4).collect().map(_.getLong(0))
    if (bandSample.nonEmpty) {
      val seen = bandSample.map(_ >> planesPerBand).toSet
      require(seen.min == 0L && seen.max == bands - 1L &&
          bandSample.forall(_ < (bands.toLong << planesPerBand)),
        s"stored index band keys decode to bands ${seen.min}..${seen.max} under " +
          s"planesPerBand=$planesPerBand, expected 0..${bands - 1} — the index was " +
          "built with different planesPerBand/bands")
    }
    val dimSample = corpusNormed.select(size(col("v")).as("d")).limit(1).collect()
    dimSample.foreach { r =>
      require(r.getInt(0) == dims,
        s"stored vectors have ${r.getInt(0)} dims, expected $dims")
    }
    if (bandSample.nonEmpty && dimSample.nonEmpty)
      preflightSeen.synchronized {
        preflightSeen.put(corpusBanded,
          (new java.lang.ref.WeakReference(corpusNormed), params)); ()
      }
  }

  def cosineIncrementalIndexed(newVecs: DataFrame,
                               corpusNormed: DataFrame, corpusBanded: DataFrame,
                               threshold: Double,
                               planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
                               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cosineIncrementalPairFrame(newVecs, corpusNormed, corpusBanded, threshold,
      planesPerBand, bands, dims, idCol, vecCol)
      .groupBy(col("i").as(idCol))
      // min over (j, cosine) structs: smallest prior id with ITS cosine —
      // deterministic, j is unique per (i, j) pair
      .agg(min(struct(col("j"), col("cosine"))).as("m"))
      .select(col(idCol), col("m.j").as("dup_of"), col("m.cosine").as("cosine"))

  /** ALL qualifying (new, prior) pairs for a batch probe — the
    * cluster-maintenance feed (`Dedup.mergeClusters`); the min-dup_of flag
    * rows of `cosineIncrementalIndexed` cannot express a new vector
    * bridging two existing components. Columns: (idCol, dup_of, cosine).
    */
  def cosineIncrementalIndexedPairs(newVecs: DataFrame,
                                    corpusNormed: DataFrame, corpusBanded: DataFrame,
                                    threshold: Double,
                                    planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
                                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cosineIncrementalPairFrame(newVecs, corpusNormed, corpusBanded, threshold,
      planesPerBand, bands, dims, idCol, vecCol)
      .select(col("i").as(idCol), col("j").as("dup_of"), col("cosine"))

  /** Shared probe pipeline: (i, j, cosine) over NEW×CORPUS and
    * NEW×earlier-NEW candidates — both public incremental surfaces wrap
    * this, so flag rows and pair rows cannot drift.
    */
  private def cosineIncrementalPairFrame(newVecs: DataFrame,
                                         corpusNormed: DataFrame, corpusBanded: DataFrame,
                                         threshold: Double,
                                         planesPerBand: Int, bands: Int, dims: Int,
                                         idCol: String, vecCol: String): DataFrame = {
    cosinePreflight(corpusNormed, corpusBanded, planesPerBand, bands, dims)
    val signs = hyperplaneSigns(planesPerBand * bands, dims)
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val nv = normedById(newVecs, idCol, vecCol).persist(mem)
    val nb = bandedSigs(nv, signs, planesPerBand, bands).persist(mem)
    val cv = corpusNormed
    val cb = corpusBanded
    def cand(b: DataFrame, extra: Column) = nb.as("a").join(b.as("b"),
        col("a.bkey") === col("b.bkey") && extra &&
          firstMatchingBand(col("a.sig"), col("b.sig"), col("a.bkey"),
            planesPerBand, bands))
      .select(col("a.id").as("i"), col("b.id").as("j"))
    def verify(c: DataFrame, side: DataFrame) =
      cosVerify(c, nv, side).filter(col("cosine") >= threshold)
    verify(cand(cb, lit(true)), cv)
      .unionByName(verify(cand(nb, col("b.id") < col("a.id")), nv))
  }

  /** Deterministic ±1 sign matrix for `planes` random hyperplanes over `dims`
    * dimensions, derived from md5("p:d") (first hex nibble high bit) — the
    * same construction the DuckDB oracle can replay. Computed once at plan
    * time on the driver and embedded as literals: zero per-row hashing.
    */
  def hyperplaneSigns(planes: Int, dims: Int): Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (p, d) =>
      val hex = mdt.digest(s"$p:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) >= '8') 1.0 else -1.0
    }
  }

  /** IVF-Flat ANN: coarse quantization + inverted lists — the other
    * standard scale path besides LSH (`annTopK`).
    *
    * Centroids are chosen by a deterministic rule (every `centroidEvery`-th
    * corpus id) so the oracle can replay the exact index build; a production
    * build would k-means them, which changes only the centroid table. Every
    * corpus vector is assigned to its nearest centroid (cosine, ties to the
    * smaller centroid id) — the cell id IS the inverted-list key. A query
    * probes its `nprobe` nearest cells and scores only their members.
    *
    * Scale shape: the centroid table is tiny and BROADCAST, so assignment is
    * a narrow map pass over the corpus (at 100 TB: write the corpus
    * partitioned/bucketed by cell once, then probes touch nprobe/cells of
    * the data); scoring shuffles on the cell key only.
    */
  /** The IVF centroid table (cid, cv, cn), broadcast-wrapped: seed pick
    * (every `centroidEvery`-th id, capped at `maxCentroids`) plus optional
    * spherical-k-means refinement. Each Lloyd round is one broadcast
    * assignment pass over the corpus and a (cell, dim)-keyed aggregation —
    * the standard distributed Lloyd step; cells can only disappear (empty
    * ones drop), so the broadcast stays config-bounded. Assignment
    * maximizes cosine and the update is the cell mean — cosine against a
    * mean equals cosine against the normalized mean, so this IS spherical
    * k-means and each round monotonically improves the quantization
    * objective (mean best-centroid cosine); IvfSpec pins that invariant.
    * `lloydIters = 0` (the default everywhere user-facing) keeps the
    * oracle-replayable deterministic seed path: per-cell float means are
    * aggregation-order-dependent, so refined centroids are pinned by
    * OBJECTIVE and recall floor, never by value.
    */
  private def centroidFrame(n: DataFrame, centroidEvery: Int, maxCentroids: Int,
                            lloydIters: Int): DataFrame = {
    val seeds = broadcast(n
      .filter(col("xid") % centroidEvery === 0)
      .orderBy(col("xid")).limit(maxCentroids)
      .select(col("xid").as("cid"), col("xv").as("cv"), col("xn").as("cn")))
    (1 to lloydIters).foldLeft(seeds)((c, _) => lloydRound(n, c))
  }

  /** One spherical-k-means round: assign every corpus vector to its best
    * centroid, replace each centroid with the mean of its members'
    * DIRECTION-NORMALIZED vectors — Σcos(x, c) is maximized by the mean of
    * x/|x|, not of x; with the raw mean, rounds would not be provably
    * monotone in the objective when member norms vary.
    */
  private def lloydRound(n: DataFrame, c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellMeans = n.join(c, lit(true))
      .withColumn("c_cos", dot(col("xv"), col("cv")) / (col("xn") * col("cn")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("xid")).orderBy(col("c_cos").desc, col("cid").asc)))
      .filter(col("crk") === 1)
      .select(col("cid"),
        posexplode(transform(col("xv"),
          v => v.cast("double") / col("xn"))).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"),
        transform(col("pm"), x => x.getField("m")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    broadcast(cellMeans)
  }

  /** The Lloyd-REFINED IVF path as an oracle-checkable VERDICT: refined
    * centroid values are float means and therefore aggregation-order-
    * dependent, so the trajectory can never be value-pinned — what CAN be
    * pinned (and is, both here and in DedupVectorsSpec) are the
    * algorithm's invariants:
    *  - the spherical-k-means objective (mean best-centroid cosine) is
    *    monotonically non-decreasing over each refinement round;
    *  - retrieval recall@k of the refined index vs brute-force exact
    *    top-k stays at or above `recallFloorBp`.
    * Output: one (metric, ok) row per invariant — the oracle asserts the
    * constant all-TRUE table, so a refinement regression fails the round's
    * hash compare.
    *
    * Scale shape: each Lloyd round and each objective evaluation is one
    * broadcast-centroid pass over the corpus + a (cell, dim)-keyed mean;
    * the ground truth is the same broadcast-queries brute-force pass
    * `sim_cosine_topk` already pays. The only collects are three 1-row
    * objective scalars and one 2-value recall count.
    */
  def ivfRefinedVerdict(corpus: DataFrame, queries: DataFrame, k: Int,
                        centroidEvery: Int = 50, nprobe: Int = 2,
                        maxCentroids: Int = 128, lloydIters: Int = 2,
                        recallFloorBp: Long = 8000L,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(lloydIters >= 1, "refined path needs at least one Lloyd round")
    val spark = corpus.sparkSession
    val n = normedPrefixed(corpus, "x", idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    def objective(c: DataFrame): Double = n.join(c, lit(true))
      .withColumn("c_cos", dot(col("xv"), col("cv")) / (col("xn") * col("cn")))
      .groupBy(col("xid")).agg(max(col("c_cos")).as("best"))
      .agg(avg(col("best"))).head.getDouble(0)
    val seeds = centroidFrame(n, centroidEvery, maxCentroids, 0)
    // fold the rounds, keeping each round's objective (1-row collects)
    val (cents, objs) = (1 to lloydIters)
      .foldLeft((seeds, Vector(objective(seeds)))) { case ((c, os), _) =>
        val next = lloydRound(n, c)
        (next, os :+ objective(next))
      }
    val lists = nearestCellsFrame(n, cents, "x", 1)
    val probes = nearestCellsFrame(
      normedPrefixed(queries, "q", idCol, vecCol), cents, "q", nprobe)
    val ivf = probes.join(lists, "cell")
      .filter(col("qid") =!= col("xid"))
      .select(col("qid").as("query_id"), col("xid").as("neighbor_id"),
        round6(dot(col("qv"), col("xv")) / (col("qn") * col("xn"))).as("cosine"))
    val ivfTop = Relational.topKPerGroup(ivf, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rank")
      .select(col("query_id"), col("neighbor_id"))
    val exact = cosineTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // bounded: two scalar counts
    val hits = ivfTop.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1))).head.getLong(0)
    val total = exact.agg(count(lit(1))).head.getLong(0)
    exact.unpersist(); n.unpersist()
    val recallOk = total > 0 && hits * 10000L >= recallFloorBp * total
    // The verdict table is hash-compared against a constant all-TRUE
    // oracle, so the MEASURED margin must be visible somewhere a flake
    // can be diagnosed from: log the basis-point recall and the objective
    // trajectory (stderr — never part of the compared result). Observed
    // recall at the shipped config is 9800–10000 bp vs the 8000 bp floor,
    // deliberately wide headroom for the float-mean order-dependence of
    // the refined centroids.
    val recallBp = if (total > 0) hits * 10000L / total else -1L
    System.err.println(
      s"[ivfRefinedVerdict] recall=${recallBp}bp (floor $recallFloorBp, " +
        s"margin ${recallBp - recallFloorBp}bp, $hits/$total) " +
        s"objectives=${objs.map(o => f"$o%.6f").mkString(" -> ")}")
    val rows = objs.sliding(2).zipWithIndex.map { case (Seq(prev, cur), i) =>
      (s"objective_monotone_r${i + 1}", cur >= prev - 1e-9)
    }.toSeq :+ ("recall_floor", recallOk)
    import spark.implicits._
    rows.toDF("metric", "ok").orderBy(col("metric"))
  }

  /** Public inspection surface for the IVF index build: the centroid table
    * `(cid, cv, cn)` exactly as `ivfTopK` would use it.
    */
  def ivfCentroids(corpus: DataFrame,
                   centroidEvery: Int = 50, maxCentroids: Int = 128,
                   lloydIters: Int = 0,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    centroidFrame(
      corpus.select(col(idCol).as("xid"), col(vecCol).as("xv"),
        norm(col(vecCol)).as("xn")),
      centroidEvery, maxCentroids, lloydIters)

  /** Nearest-`keep` centroid cells for every row of a `(pid, pv, pn)` frame
    * — the single assignment kernel behind the IVF build path, the stored-
    * index append path and the probe path (one definition, so an appended
    * vector lands in exactly the cell a probe will look in). `cents` must
    * be broadcast-bounded (config cap, see `centroidFrame`). Ties break to
    * the smaller centroid id — deterministic across engines.
    */
  /** Public cell-routing surface: `(cell, id)` for every input row against
    * a broadcast-bounded centroid table (`ivfCentroids`) — `keep = 1` for
    * index builds, `keep = nprobe` for query routing. The routing half of
    * IVF-PQ (`ProductQuantizer.ivfpqTopK`); same deterministic
    * (cosine DESC, cid) assignment as every other IVF path here.
    */
  def cellAssignments(df: DataFrame, cents: DataFrame, keep: Int = 1,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    nearestCellsFrame(normedPrefixed(df, "x", idCol, vecCol), cents, "x", keep)
      .select(col("cell"), col("xid").as("id"))

  private def nearestCellsFrame(src: DataFrame, cents: DataFrame,
                                p: String, keep: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    src.join(cents, lit(true))
      .withColumn("c_cos", dot(col(s"${p}v"), col("cv")) / (col(s"${p}n") * col("cn")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col(s"${p}id")).orderBy(col("c_cos").desc, col("cid").asc)))
      .filter(col("crk") <= keep)
      .select(col("cid").as("cell"), col(s"${p}id"), col(s"${p}v"), col(s"${p}n"))
  }

  private def normedPrefixed(df: DataFrame, prefix: String,
                             idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(s"${prefix}id"), col(vecCol).as(s"${prefix}v"),
      norm(col(vecCol)).as(s"${prefix}n"))

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidEvery: Int = 50, nprobe: Int = 2,
              maxCentroids: Int = 128,
              lloydIters: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // One corpus scan feeds BOTH the centroid pick and the list build; the
    // centroid table is hard-capped at `maxCentroids` (stable id order) so
    // the broadcast side is bounded by CONFIG, never by data — the
    // assignment cross-join stays (growing corpus) × (fixed centroids).
    val n = normedPrefixed(corpus, "x", idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val cents = centroidFrame(n, centroidEvery, maxCentroids, lloydIters)
    val lists = nearestCellsFrame(n, cents, "x", 1)
    val probes = nearestCellsFrame(
      normedPrefixed(queries, "q", idCol, vecCol), cents, "q", nprobe)
    val scored = probes.join(lists, "cell")
      .filter(col("qid") =!= col("xid"))
      .select(col("qid").as("query_id"), col("xid").as("neighbor_id"),
        round6(dot(col("qv"), col("xv")) / (col("qn") * col("xn"))).as("cosine"))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space, then call two documents semantic
    * duplicates when they land in the SAME cluster with cosine ≥
    * `threshold`; keep the smallest-id member of every duplicate group.
    * This catches paraphrases and re-renderings that survive every
    * lexical dedup (MinHash/SimHash/n-gram see different tokens), and is
    * the standard embedding-level pass of an LLM-corpus pipeline.
    *
    * Plan shape — the paper's own scalability argument, which is also
    * Spark's: the quadratic cosine check runs ONLY within clusters, so
    * the cost is Σ|cell|² instead of n², bounded by the cluster
    * granularity config (`maxCentroids`; at 100 TB you raise it so cells
    * stay partition-sized — cell population is corpus/k in expectation).
    * The centroid table is the same config-capped broadcast as IVF
    * (`centroidFrame`, deterministic seeds — so the oracle replays the
    * assignment exactly), the within-cell pair join shuffles on `cell`,
    * and the keep decision is one smaller-id-neighbor anti-join. No
    * driver-side state beyond the bounded centroid broadcast.
    *
    * Returns every input row as `(vec_id, cell, kept)` — callers filter
    * `kept` to materialize the deduplicated corpus; emitting the full
    * assignment keeps the drop auditable (which cluster claimed a doc).
    */
  def semanticDedup(vectors: DataFrame, threshold: Double,
                    centroidEvery: Int = 50, maxCentroids: Int = 128,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val n = normedPrefixed(vectors, "x", idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val cents = centroidFrame(n, centroidEvery, maxCentroids, 0)
    val lists = nearestCellsFrame(n, cents, "x", 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // A vec is a duplicate iff SOME same-cell smaller-id vec is ≥ threshold
    // (rounded to 6dp on both engines, house convention). Directing the
    // pair at the larger id makes "keep the smallest member" an anti-join.
    val dups = lists.select(col("cell"), col("xid").as("bid"),
        col("xv").as("bv"), col("xn").as("bn"))
      .join(lists.select(col("cell"), col("xid").as("aid"),
        col("xv").as("av"), col("xn").as("an")), "cell")
      .filter(col("aid") < col("bid"))
      .filter(round6(dot(col("av"), col("bv")) / (col("an") * col("bn")))
        >= threshold)
      .select(col("bid")).distinct()
    lists.select(col("xid"), col("cell"))
      .join(dups, col("xid") === col("bid"), "left_outer")
      .select(col("xid").as(idCol), col("cell"),
        col("bid").isNull.as("kept"))
  }

  /** Density-based clustering (DBSCAN — Ester et al., KDD '96) in cosine
    * space: every vector is labeled `core` (≥ `minPts` neighbors at
    * cosine ≥ `threshold`, SELF EXCLUDED — classic DBSCAN's minPts counts
    * the point itself, so this minPts is theirs minus one), `border`
    * (non-core touching ≥ 1 core) or `noise`, with clusters = connected
    * components of the core points. SemDeDup-style cluster pruning,
    * outlier mining and diversity audits all start from exactly this
    * labeling.
    *
    * Two classic DBSCAN warts are pinned DETERMINISTIC here: (a) border
    * points reachable from several clusters take the MINIMUM cluster rep
    * (the textbook algorithm assigns whichever core scanned them first —
    * order-dependent, useless for a hash-checked distributed engine);
    * (b) cluster ids are the component's minimum core id (min-rooted,
    * like every components readout in this repo).
    *
    * Scale shape: the neighbor graph comes from the banded sign-LSH
    * self-join (`cosineNearDupPairsBanded` — candidates priceable O(n)
    * via `cosineBandCandidateBudget` BEFORE paying the join); degrees and
    * the border assignment are one keyed count + one keyed join over
    * edge-sized frames; components run on CORE-CORE edges only through
    * `Graph.twoStarComponents` (O(log² n) rounds, never O(diameter)).
    * Nothing is quadratic in the corpus and nothing iterates per point —
    * the textbook's sequential seed-expansion loop cannot distribute, and
    * this formulation (density graph → degree threshold → components) is
    * the standard parallel equivalence. Self-loops on core ids keep a
    * core whose neighbors are ALL non-core clustered (alone) rather than
    * dropped. Zero retained caches: intermediates `localCheckpoint`.
    */
  def dbscanCosine(vectors: DataFrame, threshold: Double, minPts: Int,
                   planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   maxRounds: Int = 20): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pairs = cosineNearDupPairsBanded(vectors, threshold, planesPerBand,
        bands, dims, idCol, vecCol)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
      .localCheckpoint() // feeds degrees, core-core edges AND the border join
    val sym = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b")))
    // node-sized, referenced three times below
    val core = sym.groupBy(col("a")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minPts).select(col("a").as("cid"))
      .localCheckpoint()
    val coreEdges = sym
      .join(core.select(col("cid").as("a")), Seq("a"))
      .join(core.select(col("cid").as("b")), Seq("b"))
      .select(col("a"), col("b"))
      .unionByName(core.select(col("cid").as("a"), col("cid").as("b")))
    val labels =
      Graph.twoStarComponents(coreEdges, Stop.Converge(maxRounds), "a", "b").out
    val border = sym
      .join(core.select(col("cid").as("b")), Seq("b"))
      .join(core.select(col("cid").as("a")), Seq("a"), "left_anti")
      .join(labels.select(col("node").as("b"), col("component")), Seq("b"))
      .groupBy(col("a")).agg(min(col("component")).as("_brep"))
    vectors.select(col(idCol).cast("long").as("vec_id"))
      .join(labels.select(col("node").as("vec_id"),
        col("component").as("_crep")), Seq("vec_id"), "left")
      .join(border.select(col("a").as("vec_id"), col("_brep")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("_crep").isNotNull, lit("core"))
          .when(col("_brep").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("_crep"), col("_brep"), lit(-1L)).as("cluster_rep"))
  }

  /** ASSIGN-ONLY DBSCAN classify — the steady-state inference path: a
    * batch of NEW vectors is labeled against a STORED clustering without
    * re-clustering (the stored labels never move). A new point touching
    * ≥ 1 stored CORE within the radius joins that core's cluster (several
    * → the MIN rep, the dbscanCosine border rule); otherwise noise.
    * HONESTY: this deliberately never promotes a new point to core — a
    * batch dense enough to create new cores or bridge clusters needs the
    * full `dbscanCosine` recompute (or cluster-merge maintenance); the
    * assign-only contract is what an online classifier can promise
    * without reading history.
    *
    * Inputs: `pairsToCorpus` = qualifying (idCol, dup_of = corpus id,
    * …) batch→corpus pairs (e.g. `cosineIncrementalIndexedPairs` against
    * the stored banded index), `labels` = the stored `dbscanCosine`
    * output. Shape: one keyed join against the core labels + one keyed
    * min — batch-sized work, the corpus never re-scanned.
    */
  def dbscanAssign(newIds: DataFrame, pairsToCorpus: DataFrame,
                   labels: DataFrame, idCol: String = "vec_id"): DataFrame = {
    val coreLabels = labels.filter(col("role") === "core")
      .select(col(idCol).as("_core_id"), col("cluster_rep"))
    val assigned = pairsToCorpus
      .join(coreLabels, col("dup_of") === col("_core_id"))
      .groupBy(col(idCol)).agg(min(col("cluster_rep")).as("_rep"))
    newIds.select(col(idCol).cast("long").as(idCol))
      .join(assigned, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_rep").isNotNull, lit("border")).otherwise(lit("noise"))
          .as("role"),
        coalesce(col("_rep"), lit(-1L)).as("cluster_rep"))
  }

  // --------------------------------------------- stored IVF index lifecycle

  private def ivfCentroidsPath(dir: String) = s"$dir/centroids"
  private def ivfListsPath(dir: String) = s"$dir/lists"

  /** Build an IVF index and persist it under `dir`: a tiny `centroids`
    * table `(cid, cv, cn)` and the inverted `lists` table `(xid, xv, xn)`
    * PARTITIONED BY `cell` — one directory per inverted list, so a probe
    * reads exactly its `nprobe` cells' directories and nothing else
    * (plan-time partition pruning; the 100 TB story the in-memory `ivfTopK`
    * docblock promises). The once-at-bootstrap step of an embedding-serving
    * loop; append batches with `appendToIvfIndex`, re-train centroids on a
    * schedule by rebuilding.
    */
  def writeIvfIndex(corpus: DataFrame, dir: String,
                    centroidEvery: Int = 50, maxCentroids: Int = 128,
                    lloydIters: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val n = normedPrefixed(corpus, "x", idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val cents = centroidFrame(n, centroidEvery, maxCentroids, lloydIters)
    cents.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(ivfCentroidsPath(dir))
    nearestCellsFrame(n, cents, "x", 1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(ivfListsPath(dir))
    n.unpersist()
    ()
  }

  /** Read back a stored IVF index: (centroids, cell-partitioned lists). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(ivfCentroidsPath(dir)),
      spark.read.parquet(ivfListsPath(dir)))

  /** Append a batch to a stored IVF index: assign each new vector to its
    * nearest STORED centroid (no re-clustering — the standard IVF append;
    * centroid re-training is a scheduled rebuild) and append into the
    * matching `cell=` directories. Dimensionality pre-flight first: a
    * mismatched batch would land rows no probe scores correctly.
    */
  def appendToIvfIndex(newVecs: DataFrame, dir: String, dims: Int = 64,
                       maxCentroids: Int = 128,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    val (cents, _) = readIvfIndex(spark, dir)
    ivfPreflight(cents, dims)
    nearestCellsFrame(normedPrefixed(newVecs, "x", idCol, vecCol),
        boundedCentroids(cents, maxCentroids), "x", 1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(ivfListsPath(dir))
  }

  /** Broadcast-wrap a STORED centroid table with a structural cardinality
    * bound: the table is ≤ maxCentroids rows by construction
    * (`centroidFrame` caps the build), but a raw parquet read carries no
    * bound the planner — or PlanContractSpec's BNLJ audit — can see, and a
    * corrupted/foreign table must not turn the assignment cross-join
    * quadratic. Deterministic (ordered) take; ≤ 128 rows, so the sort is
    * free.
    */
  private def boundedCentroids(cents: DataFrame, maxCentroids: Int): DataFrame =
    broadcast(cents.orderBy(col("cid")).limit(maxCentroids))

  /** Fail-fast dimensionality check of a stored IVF index (one-row sampled
    * collect). A dims mismatch never fails on its own — `dot` silently
    * zips the shorter prefix — so probes would rank garbage.
    */
  private[graft] def ivfPreflight(centroids: DataFrame, dims: Int): Unit = {
    val sample = centroids.select(size(col("cv")).as("d")).limit(1).collect()
    sample.foreach { r =>
      require(r.getInt(0) == dims,
        s"stored IVF centroids have ${r.getInt(0)} dims, expected $dims " +
          "— the index was built from different embeddings")
    }
  }

  /** The cells a probe of `queries` will read — distinct nearest-`nprobe`
    * cell ids (bounded by the centroid cap, so the collect is config-sized).
    * Public so callers (and specs) can audit exactly which inverted lists
    * a probe touches.
    */
  def ivfProbeCells(queries: DataFrame, centroids: DataFrame, nprobe: Int,
                    maxCentroids: Int = 128,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Long] =
    nearestCellsFrame(normedPrefixed(queries, "q", idCol, vecCol),
        boundedCentroids(centroids, maxCentroids), "q", nprobe)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSeq

  /** `ivfTopK` against a STORED index — the steady-state probe: queries are
    * assigned to their `nprobe` nearest stored centroids (tiny broadcast),
    * the probed cell ids are collected (≤ the centroid cap — a
    * config-bounded driver round-trip, like the geometry pre-flights) and
    * turned into a PLAN-TIME partition filter, so the lists scan opens only
    * those `cell=` directories; scoring and per-query top-k are unchanged
    * from `ivfTopK`. Results are identical to a fresh `ivfTopK` over the
    * same corpus and parameters (IvfSpec-pinned via append-then-probe ≡
    * rebuild).
    */
  def ivfTopKIndexed(queries: DataFrame,
                     centroids: DataFrame, lists: DataFrame,
                     k: Int, nprobe: Int = 2, dims: Int = 64,
                     maxCentroids: Int = 128,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    ivfPreflight(centroids, dims)
    val cents = boundedCentroids(centroids, maxCentroids)
    val probes = nearestCellsFrame(
        normedPrefixed(queries, "q", idCol, vecCol), cents, "q", nprobe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val cells = probes.select(col("cell")).distinct().collect().map(_.getLong(0))
    val pruned = lists.filter(col("cell").isin(cells.map(Long.box): _*))
    val scored = probes.join(pruned, "cell")
      .filter(col("qid") =!= col("xid"))
      .select(col("qid").as("query_id"), col("xid").as("neighbor_id"),
        round6(dot(col("qv"), col("xv")) / (col("qn") * col("xn"))).as("cosine"))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rank")
  }

  /** ANN top-k via MULTI-BAND sign-LSH: a corpus vector is a candidate for a
    * query when they share at least one full band of `planesPerBand`
    * projection signs; candidates are deduped, exactly scored, and ranked.
    * Single-band bucketing (the naive LSH) is the `bands = 1` special case —
    * measured on the near-orthogonal test corpus it has recall@5 ≈ 0.02
    * ("silently useless buckets"), which is why multi-band is the default:
    * r=3 × b=12 measures recall@5 = 0.98 there (DedupVectorsSpec pins a
    * ≥ 0.8 floor). On realistically CLUSTERED embeddings the same structure
    * both prunes hard and keeps recall; isotropic data is the worst case
    * (see `cosineNearDupPairsBanded` for the math).
    *
    * Scale shape: explode(bands) on both sides → equi-join on (band, key) →
    * distinct candidate ids → broadcast-join the (small) query set + one
    * keyed join to the corpus for scoring → per-query top-k. No cross join
    * anywhere.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planesPerBand: Int = 3, bands: Int = 12, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val signs = hyperplaneSigns(planesPerBand * bands, dims)
    // Each input feeds TWO branches (band explode + exact scoring); without
    // the caches the corpus file is scanned twice per side. MEMORY_ONLY:
    // lazy public API, no unpersist handle, so the blocks must be really
    // LRU-evictable (see Dedup.minHashNearDupPairs).
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")).persist(mem)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn")).persist(mem)
    def banded(df: DataFrame, out: String, vecIn: String) =
      bandExplode(df.select(col(out), col(vecIn).as("v0")),
        packedSignBits(col("v0"), signs), planesPerBand, bands)
        .select(col(out), col("sig"), col("bkey"))
    val cand = banded(q, "query_id", "qv").as("q")
      .join(banded(c, "neighbor_id", "cv").as("c"),
        col("q.bkey") === col("c.bkey") &&
          col("query_id") =!= col("neighbor_id") &&
          firstMatchingBand(col("q.sig"), col("c.sig"), col("q.bkey"),
            planesPerBand, bands))
      .select(col("query_id"), col("neighbor_id"))
    val scored = cand.join(broadcast(q), "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round6(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    Relational.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, rankCol = "rank")
  }

  /** τ-bounded kNN graph: for EVERY vector, its top-`k` most-similar
    * neighbors among those with cosine ≥ `threshold`, built from the same
    * banded sign-LSH candidate generation as `cosineNearDupPairsBanded`
    * (see the recall analysis there). Bounding by τ is what keeps the
    * ranking exact AND the graph buildable at scale: banding may prune
    * pairs below τ, but those are excluded from the ranking anyway, so
    * top-k over the surviving verified pairs EQUALS top-k over the
    * quadratic τ-filtered graph — the catalog proves the hash match. The
    * per-node window partitions by source id and sorts only that node's
    * ≥τ neighbors (rounded cosine desc, then neighbor id — a total order
    * both engines agree on), never anything corpus-sized.
    */
  def knnGraph(vectors: DataFrame, threshold: Double, k: Int,
               planesPerBand: Int = 2, bands: Int = 16, dims: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // The pair list is output-sized (tiny vs the corpus): cache it so the
    // two mirror branches below don't run the band join twice.
    // MEMORY_ONLY for the same self-bounding rationale as the banded API.
    val pairs = cosineNearDupPairsBanded(vectors, threshold, planesPerBand,
        bands, dims, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val sym = pairs
      .select(col("vec_a").as("src"), col("vec_b").as("dst"), col("cosine"))
      .unionAll(pairs.select(col("vec_b").as("src"),
        col("vec_a").as("dst"), col("cosine")))
    Relational.topKPerGroup(sym, Seq(col("src")),
      Seq(col("cosine").desc, col("dst").asc), k, rankCol = "rank")
  }

  /** Greedy k-center coreset (Gonzalez 1985, the 2-approximation): seed =
    * smallest id, then k−1 rounds of "pick the vector FARTHEST from the
    * chosen set" (max-min squared L2, ties to the smaller id) — the
    * diverse-subset selection curation uses to cover an embedding space
    * with a few exemplars (the facility-location cousin of SemDeDup's
    * keep-one-per-cluster). Distances are EXACT scaled-integer
    * (`ProductQuantizer.scaledMicro` components, native long Σ(a−b)²
    * kernel), so every round's argmax is bit-replayable cross-engine.
    * Output: `(sel_round, vec_id, dist2)` — dist2 in micro²-units, 0 for
    * the seed, each later row's dist2 = its max-min distance AT SELECTION.
    *
    * Scale shape: the min-distance state folds ONE new center per round —
    * `mind2 ← least(mind2, d²(v, newest))` is a broadcast-literal narrow
    * map over the corpus (O(n·d) per round, never O(n·k·d)), followed by a
    * 1-row argmax (TakeOrdered — the BPE-argmax collect pattern, k rows
    * total on the driver). State is `localCheckpoint`ed per round: it is
    * referenced by both the fold and the argmax, and k rounds of lazy
    * lineage would re-scan the scaled projection k times on failure.
    */
  def kCenterGreedy(emb: DataFrame, k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("vec_id"),
      ProductQuantizer.scaledMicro(col(vecCol)).as("sv")).localCheckpoint()
    val seed = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("sv")).collect()(0)
    var newest = seed.getSeq[Long](1)
    val picks = scala.collection.mutable.ListBuffer((1L, seed.getLong(0), 0L))
    // Already-picked ids are excluded from each round's argmax: a picked
    // vector folds to mind2=0 against itself, but when EVERY remaining
    // mind2 is 0 (k exceeds the distinct-vector count, e.g. duplicated
    // embeddings) the bare (mind2 desc, vec_id asc) tie-break would
    // re-pick the seed. With the exclusion, duplicates are picked at
    // dist2=0 until ids run out, then the loop stops early — the result
    // has < k rows rather than duplicate vec_ids. The oracle CTE applies
    // the same per-round NOT IN, so the trajectories stay in lockstep.
    var state = base.withColumn("mind2", lit(Long.MaxValue))
    var done = false
    for (r <- 2L to k.toLong if !done) {
      state = state.withColumn("mind2",
          least(col("mind2"), graft.functions.ArrayMath.sqDistLongNative(
            col("sv"), typedLit(newest))))
        .localCheckpoint()
      val cand = state
        .filter(!col("vec_id").isInCollection(picks.map(_._2)))
        .orderBy(col("mind2").desc, col("vec_id"))
        .select(col("vec_id"), col("mind2"), col("sv")).limit(1).collect()
      if (cand.isEmpty) done = true
      else {
        val top = cand(0)
        picks += ((r, top.getLong(0), top.getLong(1)))
        newest = top.getSeq[Long](2)
      }
    }
    picks.toSeq.toDF("sel_round", "vec_id", "dist2")
  }
}
