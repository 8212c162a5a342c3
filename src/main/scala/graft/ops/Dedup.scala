package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-corpus pipelines (north star: "dedup" —
  * /root/repo/BASELINE.json; no analogue in the reference, which holds 239
  * rows in RAM — SURVEY §2.9 X2/X3).
  *
  * Scale design:
  *  - Exact dedup = hash-groupBy: one shuffle on a 16-byte digest, never on
  *    the document text. At 100 TB the shuffle carries ~1% of input bytes.
  *  - MinHash/LSH near-dup = signature → band → bucket self-join: candidate
  *    generation touches only (doc_id, band_key) pairs, shuffled by band key,
  *    so the quadratic all-pairs compare is confined to LSH buckets. The
  *    exact-Jaccard verify then runs per candidate pair.
  *  - All hashing is md5 (portable, identical in any engine) via codegen'd
  *    higher-order functions — no UDFs, no driver-side loops.
  *
  * Every function here is mirrored 1:1 by ANSI SQL in `SparkEntry.oracleSql`
  * so the driver's DuckDB oracle verifies candidate generation AND the final
  * verified pairs, not just row counts.
  */
object Dedup {

  /** Exact dedup: canonical survivor (min id) per content digest.
    * SURVEY X2: `dropDuplicates` semantics but deterministic, and grouping on
    * the digest keeps shuffle width constant regardless of document size.
    */
  def exactByContent(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------- MinHash

  /** 28-bit integer hash of a token: first 7 hex chars of md5, parsed as an
    * int. md5 — unlike murmur3 — is bit-identical in every engine, and hex
    * parsing is too (`conv(...,16,10)` here ≡ `('0x'||...)::BIGINT` in the
    * oracle), so signatures are cross-engine reproducible.
    */
  def tokenHash28(t: Column): Column =
    conv(substring(md5(t.cast("binary")), 1, 7), 16, 10).cast("long")

  /** Prime modulus for the permutation family (largest prime < 2^28). */
  val MinHashPrime = 268435399L

  /** Seed-s permutation of a 28-bit token hash: `((2s+3)·h + 12289·s + 1)
    * mod P` — exact in 64-bit for every engine (max product ≈ 2^33), so the
    * oracle replays it verbatim. One md5 per token total; per seed only
    * integer arithmetic — versus numHashes md5 calls per token for the
    * textbook md5(seed:token) form.
    */
  def minHashPerm(seed: Int, h: Column): Column =
    (lit(2L * seed + 3L) * h + lit(12289L * seed + 1L)) % MinHashPrime


  /** Exact Jaccard similarity of two token-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Near-duplicate pairs via MinHash + LSH over 3-gram shingle sets,
    * verified with exact Jaccard.
    *
    * Shingling matters: on a small shared vocabulary, TOKEN-set Jaccard is
    * non-discriminative (most doc pairs overlap heavily); n-gram shingles
    * encode local order and separate true near-dups from topical overlap.
    *
    * Plan shape (the part that must survive 100 TB):
    *   1. shingle-explode → row-level 28-bit hash → `groupBy(doc).agg(min
    *      per seed)`: entirely whole-stage codegen (no interpreted
    *      higher-order functions), with map-side partial min, so the ONE
    *      shuffle carries numHashes longs per doc — not tokens, not text;
    *   2. band keys from the signature → self-equi-join on (band, band_key)
    *      — one shuffle keyed by a short string; bucket sizes are the only
    *      quadratic term and LSH keeps them small;
    *   3. distinct candidate pairs → join back to shingle sets → exact
    *      Jaccard filter.
    * Returns (doc_a, doc_b, jaccard) with jaccard rounded to 4dp.
    * Defaults (16 hashes, 8 bands × 2) catch j=0.5 pairs w.p. ~0.90 and
    * j≥0.7 w.p. ~0.995.
    */
  def minHashNearDupPairs(docs: DataFrame, threshold: Double,
                          numHashes: Int = 16, bands: Int = 8,
                          shingleSize: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minHashNearDupPairsWithHandle(docs, threshold, numHashes, bands,
      shingleSize, idCol, textCol,
      // the caller gets a lazy frame and no unpersist handle, so the caches
      // must be self-bounding: MEMORY_ONLY blocks really are LRU-evicted
      // (a MEMORY_AND_DISK block would sit on spill disk until session end)
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY)._1

  /** `minHashNearDupPairs` plus an unpersist handle for the two cached
    * intermediates (shingle sets + signatures). Without the caches the ONE
    * plan references the shingle lineage four times (both band-join sides
    * via the signatures, both Jaccard-verify sides directly) and scans +
    * re-shingles the corpus 4× — at 100 TB shingling IS the dominant cost.
    * With them the corpus is read once. Callers that materialize the pairs
    * promptly (e.g. `nearDupClusters`) keep the MEMORY_AND_DISK default and
    * MUST invoke the handle afterwards; the public overload above downgrades
    * to MEMORY_ONLY because nobody will.
    */
  private[graft] def minHashNearDupPairsWithHandle(
      docs: DataFrame, threshold: Double,
      numHashes: Int = 16, bands: Int = 8, shingleSize: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): (DataFrame, () => Unit) = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    if (rowsPerBand <= 2 && bands <= 64)
      return minHashNearDupPairsPacked(docs, threshold, numHashes, bands,
        rowsPerBand, shingleSize, idCol, textCol, storage)
    // Wide bands (> 2 rows × 28 bits don't fit a packed long key): the
    // string-keyed band join with a distinct over the candidate fan-out.
    val (toks, banded, release) =
      minHashSide(docs, numHashes, bands, shingleSize, idCol, textCol, storage)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    val pairs = verifyJaccard(cand, toks, threshold)
    (pairs, release)
  }

  /** The scale shape of the MinHash pair join (any `rowsPerBand` ≤ 2,
    * `bands` ≤ 64 — covers the 16×(8×2) default): each band's key packs
    * into ONE long — band index in the high bits, the band's 28-bit
    * minhash values below it, a BIJECTION of (band, values) so the
    * candidate SET is identical to the string-keyed banding the oracle
    * replays — and the self-equi-join on that long carries a
    * FIRST-MATCHING-BAND residual (`BandedBits.firstMatchingWideBand`
    * over the carried per-band key array): a pair agreeing on several
    * bands is emitted exactly once, at its lowest agreeing band. That
    * removes the `distinct` over the candidate fan-out — the extra full
    * candidate-stream shuffle plus the build-side hash table that OOM'd
    * the simhash sibling at 10⁹ sf10 candidates before its round-12
    * rewrite (ops/Dedup.scala simHashNearDupPairs) — while the exact
    * Jaccard verify stays the two id-keyed joins against the CACHED
    * shingle sets (the verify payload is a set, not a fixed-width
    * fingerprint, so carrying it through the band explode would shuffle
    * every shingle list `bands`× — join-backs on the already-unique
    * candidate stream are the cheaper side of that trade at every scale).
    */
  private def minHashNearDupPairsPacked(
      docs: DataFrame, threshold: Double, numHashes: Int, bands: Int,
      rowsPerBand: Int, shingleSize: Int, idCol: String, textCol: String,
      storage: org.apache.spark.storage.StorageLevel): (DataFrame, () => Unit) = {
    def cached(df: DataFrame) =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) df
      else df.persist(storage)
    val toks = cached(docs.select(col(idCol).as("id"),
      shingles(col(textCol), shingleSize).as("ts")))
    val sigCols = (0 until numHashes).map(s =>
      min(minHashPerm(s, col("h"))).as(s"s$s")) :+
      // shingle-set size, carried through the banding: `ts` is distinct,
      // so the exploded row count IS |set| — feeds the verify prune below
      count(lit(1)).as("nt")
    val sigs = toks
      .select(col("id"), explode(col("ts")).as("t"))
      .select(col("id"), tokenHash28(col("t")).as("h"))
      .groupBy(col("id"))
      .agg(sigCols.head, sigCols.tail: _*)
    // bkey(b) = (b << 28·rowsPerBand) | s_{b·r} << 28·(r−1) | … | s_{b·r+r−1}
    // — ≤ 62 bits for rowsPerBand ≤ 2, bands ≤ 64; values < 2^28 (mod P).
    def bkey(b: Int): Column =
      (0 until rowsPerBand).foldLeft(
        lit(b.toLong << (28 * rowsPerBand)): Column)((acc, r) =>
        acc.bitwiseOR(shiftleft(col(s"s${b * rowsPerBand + r}"),
          28 * (rowsPerBand - 1 - r))))
    val banded = cached(sigs
      .select(col("id"), col("nt"),
        array((0 until bands).map(bkey): _*).as("bks"))
      .select(col("id"), col("nt"), col("bks"),
        explode(col("bks")).as("bkey")))
    // Fan BOTH self-join sides to the session parallelism (the
    // cosineNearDupPairsBanded lesson): a small cached banded frame can
    // coalesce to one partition, and whichever side the broadcast join
    // streams carries the whole candidate enumeration on one task.
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val fanned = banded.repartition(parts, col("id"))
    // Size prune BEFORE the verify join-backs (J(A,B) ≤ min/max, so
    // J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|) — the PPJoin length
    // filter, applied here as pure arithmetic on the carried set sizes):
    // a candidate pair whose sizes alone cap its Jaccard below the
    // threshold never reaches the two joins that attach full shingle
    // arrays — at sf10 those joins shuffling 14.5 M candidate payloads
    // are the dominant verify cost, and skew-tail pairs (a tweet banded
    // against a novel) die here for the price of a compare. The slack is
    // 5e-5 (the verify's 4dp rounding: round(J, 4) ≥ t is reachable only
    // if J > t − 5e-5) PLUS 1e-9 of epsilon-strictness: the prune
    // evaluates min/max over set SIZES in doubles while the verify
    // divides |∩|/|∪|, and IEEE rounding of that division can land ~1 ulp
    // above the exact ratio — the extra margin makes the prune
    // conservative against BOTH roundings, so the emitted pair set is
    // bit-identical — the oracle hash is the proof.
    val cand = fanned.as("a").join(fanned.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id") &&
          lit(threshold - 5e-5 - 1e-9) * greatest(col("a.nt"), col("b.nt")) <=
            least(col("a.nt"), col("b.nt")) &&
          BandedBits.firstMatchingWideBand(col("a.bks"), col("b.bks"),
            shiftright(col("a.bkey"), 28 * rowsPerBand), bands))
      .select(col("a.id").as("i"), col("b.id").as("j"))
    (verifyJaccard(cand, toks, threshold),
      () => { toks.unpersist(); banded.unpersist(); () })
  }

  /** Exact-Jaccard verify of a unique candidate stream against the cached
    * shingle sets — shared tail of both MinHash pair-join shapes.
    */
  private def verifyJaccard(cand: DataFrame, toks: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(toks.select(col("id").as("i"), col("ts").as("ts_a")), "i")
      .join(toks.select(col("id").as("j"), col("ts").as("ts_b")), "j")
      .select(col("i").as("doc_a"), col("j").as("doc_b"),
        round(jaccard(col("ts_a"), col("ts_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  // ----------------------------------------------- incremental (steady state)

  /** Content digests of a corpus — the 16-byte keys `exactIncremental`
    * dedups new batches against. At 100 TB this is computed ONCE at ingest
    * and stored as a table (a narrow, shuffle-free pass); later batches
    * touch digests only, never the corpus text.
    */
  def contentDigests(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol).cast("binary")).as("content_md5"))

  /** X2 at steady state: EXACT dedup of a NEW batch against an existing
    * corpus — the production shape, where re-deduping the full corpus per
    * ingest is the cost ceiling. Returns the batch rows that survive: the
    * min-id survivor within the batch's own duplicate groups, minus
    * anything byte-identical to a corpus row (plus the digest column, for
    * appending to the stored digest table). Shape: one groupBy and one
    * left-anti join, both keyed on the 16-byte digest — corpus text is
    * never read here, and no corpus-wide work happens per ingest.
    */
  def exactIncremental(newDocs: DataFrame, corpusDigests: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = newDocs.withColumn("content_md5", md5(col(textCol).cast("binary")))
    val firsts = hashed.groupBy(col("content_md5"))
      .agg(min(col(idCol)).as("__survivor"))
    hashed.join(firsts, "content_md5")
      .filter(col(idCol) === col("__survivor")).drop("__survivor")
      .join(corpusDigests.select(col("content_md5")).distinct(),
        Seq("content_md5"), "left_anti")
  }

  /** Serialized Bloom filter over a stored digest table — the probe-state
    * companion of `contentDigests`: at 100 TB the digest table is
    * terabytes while the bloom at 10⁹ digests / 1% fpp is ~1.2 GB of
    * broadcastable bytes, so every ingest consults the bloom FIRST and
    * touches the table only to confirm hits (`exactIncrementalBloom`).
    * Built distributed through Spark's OWN bloom machinery —
    * `BloomFilterAggregate` over `xxhash64(digest)`, the exact aggregate
    * Spark's runtime bloom-filter joins inject (mergeable per-partition
    * sketch buffers, one narrow pass; the driver receives only the
    * sketch bytes). Size with the standard calculus: fpp ≈ 0.6185^(m/n),
    * so m = 10n bits gives ~0.8%. Append = rebuild OR a second bloom
    * probed alongside (sketches of different batches OR together).
    *
    * `BloomFilterAggregate.checkInputDataTypes` validates the size
    * arguments against `spark.sql.optimizer.runtime.bloomFilter
    * .{maxNumItems,maxNumBits}` (defaults 4M items / 64M bits ≈ 8 MB —
    * caps meant for the OPTIMIZER's auto-injected join blooms, not a
    * deliberately-sized ingest sketch), so the 10⁹-digest production
    * sizing would throw AnalysisException under default confs. This
    * builder raises the two session confs to cover the request for the
    * duration of the aggregate and restores them after — the documented
    * scale is reachable without the caller touching SQLConf.
    */
  def digestBloom(corpusDigests: DataFrame, expectedItems: Long,
                  numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(expectedItems > 0 && numBits > 0,
      s"bloom sizing must be positive: items=$expectedItems bits=$numBits")
    val conf = corpusDigests.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val saved = Seq(itemsKey, bitsKey).map(k => k -> conf.getOption(k))
    def runAgg(): Array[Byte] = {
      val agg = new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("content_md5"))),
        Literal(expectedItems), Literal(numBits))
      val bytes = corpusDigests
        .agg(ColumnBridge.column(agg.toAggregateExpression()).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      // BloomFilterAggregate.eval returns NULL over zero rows; a null
      // sketch poisons every downstream consumer (might_contain(null)
      // is null, so BOTH ingest branches drop every row — silent total
      // loss; a streaming state dir with a null row crashes the next
      // OR-fold). An EMPTY corpus has a perfectly good sketch: the
      // all-zeros filter of the same geometry (same class Spark's
      // aggregate builds, so merges stay compatible).
      if (bytes != null) bytes
      else {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.spark.util.sketch.BloomFilter
          .create(expectedItems, numBits).writeTo(out)
        out.toByteArray
      }
    }
    try {
      conf.set(itemsKey, math.max(expectedItems,
        conf.getOption(itemsKey).map(_.toLong).getOrElse(0L)))
      conf.set(bitsKey, math.max(numBits,
        conf.getOption(bitsKey).map(_.toLong).getOrElse(0L)))
      runAgg()
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Codegen'd probe of a `digestBloom` sketch for a digest column —
    * Spark's own `BloomFilterMightContain` over `xxhash64(digest)`, the
    * probe side of its runtime bloom joins. Public so scale harnesses
    * can measure realized fpp on known-absent keys with the EXACT
    * expression the ingest path evaluates.
    */
  def bloomMightContain(bloom: Array[Byte], digest: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(digest))))
  }

  /** `exactIncremental` behind a Bloom pre-probe — the 100 TB ingest
    * shape. The batch's within-batch survivors split on
    * `might_contain(bloom, xxhash64(digest))` (Spark's codegen'd
    * `BloomFilterMightContain`, the probe side of its runtime bloom
    * joins): a MISS is definitely novel and never touches the corpus —
    * no join, no corpus I/O — while HITS (true dups + the fpp sliver of
    * false positives) confirm against the digest table. Output is
    * IDENTICAL to `exactIncremental` at any fpp — the bloom has no
    * false negatives, so the miss side is provably corpus-absent, and
    * the confirm join kills every false positive; the oracle replays the
    * plain anti-join and the hash match is the proof.
    *
    * Shape revised by MEASUREMENT (`graft.BloomScale`, 10⁷-digest
    * corpus, BASELINE.md round-15 rows): the r14 form filtered the raw
    * lineage twice, which pushed the probe into the batch scan's
    * DataFilters — pretty in the plan, but the pushdown made the two
    * union branches' subtrees DIFFER, so exchange reuse died and every
    * ingest paid the batch scan + dedup shuffle TWICE; and the confirm
    * anti-join shuffled the ENTIRE corpus digest table to probe an
    * fpp-sized sliver (left-anti cannot broadcast its left side).
    * Measured: 22.7 s vs the plain path's 8.2 s at a 10⁷/10⁶ all-novel
    * ingest. Now: (1) the deduped batch materializes ONCE with ONE probe
    * evaluation per row (batch-sized MEMORY_ONLY — the
    * minHashIncremental cache policy); (2) the confirm runs as two
    * BROADCAST joins keyed on the sliver — the corpus digest table is
    * scanned once, STREAMED against a broadcast hash of the sliver's
    * digests, never shuffled and never hash-built. Corpus-side cost per
    * ingest: one co-located scan — at 10⁹+ digests that is the entire
    * point. Precondition: true hits + fpp·|batch| must stay
    * broadcastable (batch-bounded; an ingest whose batch is mostly
    * duplicates of a huge corpus should fall back to `exactIncremental`'s
    * keyed join).
    */
  def exactIncrementalBloom(newDocs: DataFrame, corpusDigests: DataFrame,
                            bloom: Array[Byte],
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    exactIncrementalBloomWithHandle(newDocs, corpusDigests, bloom,
      idCol, textCol)._1

  /** `exactIncrementalBloom` plus an unpersist handle for the internal
    * batch cache — the `minHashNearDupPairsWithHandle` convention. A
    * per-micro-batch streaming loop MUST release the cache after
    * materializing the survivors (one leaked CacheManager entry per
    * batch, each pinning the sketch literal, is unbounded driver growth);
    * one-shot catalog queries may use the plain surface and let
    * MEMORY_ONLY self-evict.
    */
  private[graft] def exactIncrementalBloomWithHandle(
      newDocs: DataFrame, corpusDigests: DataFrame, bloom: Array[Byte],
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, () => Unit) = {
    val hashed = newDocs.withColumn("content_md5", md5(col(textCol).cast("binary")))
    val firsts = hashed.groupBy(col("content_md5"))
      .agg(min(col(idCol)).as("__survivor"))
    val surv = hashed.join(firsts, "content_md5")
      .filter(col(idCol) === col("__survivor")).drop("__survivor")
      .withColumn("__mc", bloomMightContain(bloom, col("content_md5")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val novel = surv.filter(!col("__mc")).drop("__mc")
    val sliver = surv.filter(col("__mc")).drop("__mc")
    // one row per digest by construction -> the sliver's digest column is
    // already distinct; corpus digests may repeat, so `present` dedupes
    // before the second broadcast
    val present = corpusDigests.select(col("content_md5"))
      .join(broadcast(sliver.select(col("content_md5"))), Seq("content_md5"))
      .distinct()
    val confirmed = sliver
      .join(broadcast(present), Seq("content_md5"), "left_anti")
    (novel.unionByName(confirmed), () => { surv.unpersist(); () })
  }

  /** THE MinHash pipeline for one input: (shingle sets, banded signature
    * rows, unpersist handle). The single copy of the oracle-parity-critical
    * construction (`tokenHash28` → per-seed `min` aggregation → `:`-joined
    * band keys) — both the full-corpus pair path and the incremental path
    * build on it, so the Spark side cannot drift from the SQL replay in one
    * place but not the other. Both frames persist at `storage`: the banded
    * rows feed band joins (twice, for a self-join), the shingle sets feed
    * the exact-Jaccard verify join-backs.
    */
  private[graft] def minHashSide(docs: DataFrame, numHashes: Int, bands: Int,
                          shingleSize: Int, idCol: String, textCol: String,
                          storage: org.apache.spark.storage.StorageLevel)
      : (DataFrame, DataFrame, () => Unit) = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    // StorageLevel.NONE = no caching (for callers that materialize each
    // frame exactly once, e.g. an index build that writes both to disk)
    def cached(df: DataFrame) =
      if (storage == org.apache.spark.storage.StorageLevel.NONE) df
      else df.persist(storage)
    val toks = cached(docs.select(col(idCol).as("id"),
      shingles(col(textCol), shingleSize).as("ts")))
    val sigCols = (0 until numHashes).map(s =>
      min(minHashPerm(s, col("h"))).as(s"s$s"))
    val sigs = toks
      .select(col("id"), explode(col("ts")).as("t"))
      .select(col("id"), tokenHash28(col("t")).as("h"))
      .groupBy(col("id"))
      .agg(sigCols.head, sigCols.tail: _*)
    val banded = cached(sigs.select(col("id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(":", (0 until rowsPerBand).map(r =>
            col(s"s${b * rowsPerBand + r}").cast("string")): _*).as("band_key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key")))
    (toks, banded, () => { toks.unpersist(); banded.unpersist(); () })
  }

  /** Candidate-pair BUDGET of the MinHash banding — the third member of
    * the LSH pre-flight family (`simHashCandidateBudget`,
    * `Vectors.cosineBandCandidateBudget`): Σ C(bucket, 2) over the
    * (band, band_key) buckets from ONE signature pass + ONE keyed count,
    * no self-join. `n_docs` counts SIGNED documents (≥ 1 shingle — texts
    * shorter than `shingleSize` tokens never enter the banding, exactly
    * as in `minHashNearDupPairs`), recovered as Σc div bands so the whole
    * summary is a single aggregation over the bucket counts.
    */
  def minHashCandidateBudget(docs: DataFrame, numHashes: Int = 16,
                             bands: Int = 8, shingleSize: Int = 3,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val (_, banded, _) = minHashSide(docs, numHashes, bands, shingleSize,
      idCol, textCol, org.apache.spark.storage.StorageLevel.NONE)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    banded.groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("c"))
      .agg(
        expr(s"coalesce(sum(c), 0) div ${bands}L").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        coalesce(max(col("c")), lit(0L)).as("max_bucket"),
        coalesce(sum(expr("(c * (c - 1)) div 2").cast(dec)),
          lit(0).cast(dec)).cast("long").as("cand_pairs"))
  }

  /** Persistable MinHash corpus index: (shingle sets `(id, ts)`, banded
    * signature keys `(id, band, band_key)`) — the two tables a steady-state
    * pipeline writes ONCE at ingest (band keys bucketed by `band_key` via
    * `Load.writeBucketed` for shuffle-free probe joins) and then feeds to
    * `minHashIncrementalIndexed` per batch, so the corpus text is never
    * re-shingled. The shingle frame is cached (MEMORY_ONLY — self-evicting,
    * no handle needed) because BOTH writes share its lineage: uncached, the
    * banded write would re-scan and re-shingle the corpus a second time,
    * and shingling is the dominant index-build cost. Pass
    * `StorageLevel.NONE` to opt out when the corpus exceeds cluster memory
    * and recompute is preferable to cache churn.
    */
  def minHashIndex(docs: DataFrame,
                   numHashes: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   storage: org.apache.spark.storage.StorageLevel =
                     org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      : (DataFrame, DataFrame) = {
    val (toks, banded, _) = minHashSide(docs, numHashes, bands, shingleSize,
      idCol, textCol, storage)
    (toks, banded)
  }

  // -------------------------------------------- stored-index lifecycle (X3)

  private def mhToksPath(dir: String) = s"$dir/toks"
  private def mhBandedPath(dir: String) = s"$dir/banded"

  /** Build a MinHash corpus index and persist it under `dir` (parquet
    * tables `toks` + `banded`) — the ONCE-at-bootstrap step of the
    * steady-state ingest loop. The shared shingle lineage is cached so the
    * corpus is scanned once across both writes (see `minHashIndex`).
    */
  def writeMinHashIndex(docs: DataFrame, dir: String,
                        numHashes: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                        idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val (toks, banded, release) = minHashSide(docs, numHashes, bands, shingleSize,
      idCol, textCol, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    toks.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(mhToksPath(dir))
    banded.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(mhBandedPath(dir))
    release()
  }

  /** Read back a stored MinHash index: (shingle sets, banded keys). */
  def readMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(mhToksPath(dir)), spark.read.parquet(mhBandedPath(dir)))

  /** The step every per-ingest loop ENDS with: append the SURVIVING batch
    * rows' shingles and band keys to the stored index, so the next batch
    * dedups against them without the corpus ever being re-shingled. The
    * geometry pre-flight runs against the STORED tables first — appending
    * rows built with mismatched parameters would silently poison every
    * future probe, which is strictly worse than the probe-side mismatch
    * (that only misses dups once).
    *
    * Idempotence caveat (same as any parquet append): a retried append
    * duplicates index rows for the batch. Duplicated rows cost probe work
    * but never correctness — candidates are `distinct`ed and the verify
    * join re-derives the same pair rows — so retry-then-compact is the
    * operational answer, not a transaction log.
    */
  def appendToMinHashIndex(survivors: DataFrame, dir: String,
                           numHashes: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                           idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = survivors.sparkSession
    val (storedToks, storedBanded) = readMinHashIndex(spark, dir)
    minHashPreflight(storedToks, storedBanded, numHashes, bands, shingleSize)
    val (toks, banded, release) = minHashSide(survivors, numHashes, bands,
      shingleSize, idCol, textCol, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    toks.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(mhToksPath(dir))
    banded.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(mhBandedPath(dir))
    release()
  }

  /** Bucketed-table variant of the index lifecycle, for corpora where the
    * probe join itself is the bottleneck: the banded table is written
    * through `Load.writeBucketed` bucketed by (band, band_key) — exactly
    * the probe join's keys, so the CORPUS side of every future band join
    * is read pre-shuffled (zero exchange; the batch side alone shuffles) —
    * and the shingle table by id for the verify join-back. Appends go
    * through `Load.appendBucketed`, which keeps the bucket spec.
    * Probe via `spark.table(s"${name}_toks")` / `spark.table(s"${name}_banded")`.
    */
  def writeMinHashIndexBucketed(load: graft.etl.Load, docs: DataFrame,
                                name: String, buckets: Int,
                                numHashes: Int = 16, bands: Int = 8,
                                shingleSize: Int = 3,
                                idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val (toks, banded, release) = minHashSide(docs, numHashes, bands, shingleSize,
      idCol, textCol, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    load.writeBucketed(toks, s"${name}_toks", buckets, Seq("id"))
    load.writeBucketed(banded, s"${name}_banded", buckets, Seq("band", "band_key"))
    release()
  }

  /** Bucketed-index write from PREBUILT index frames — the streaming fold
    * path, whose deltas are already shingled and banded (re-deriving them
    * from text would re-pay the dominant cost the deltas exist to avoid).
    */
  private[graft] def writeMinHashIndexBucketedFrames(load: graft.etl.Load,
      toks: DataFrame, banded: DataFrame, name: String, buckets: Int): Unit = {
    load.writeBucketed(toks, s"${name}_toks", buckets, Seq("id"))
    load.writeBucketed(banded, s"${name}_banded", buckets, Seq("band", "band_key"))
    ()
  }

  /** Bucketed twin of `appendToMinHashIndex`. */
  def appendToMinHashIndexBucketed(load: graft.etl.Load, survivors: DataFrame,
                                   name: String, buckets: Int,
                                   numHashes: Int = 16, bands: Int = 8,
                                   shingleSize: Int = 3,
                                   idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = survivors.sparkSession
    minHashPreflight(spark.table(s"${name}_toks"), spark.table(s"${name}_banded"),
      numHashes, bands, shingleSize)
    val (toks, banded, release) = minHashSide(survivors, numHashes, bands,
      shingleSize, idCol, textCol, org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    load.appendBucketed(toks, s"${name}_toks", buckets, Seq("id"))
    load.appendBucketed(banded, s"${name}_banded", buckets, Seq("band", "band_key"))
    release()
  }

  /** X3 at steady state: MinHash-LSH near-dup detection for a NEW batch
    * against an existing corpus. Band buckets join NEW×CORPUS and
    * NEW×(earlier NEW) — never CORPUS×CORPUS; that work happened when the
    * corpus rows were themselves ingested. Returns one row per flagged new
    * doc: (id, dup_of, jaccard), where dup_of is the minimum matching
    * prior doc (a corpus id, or an earlier id within the batch) and
    * jaccard is that pair's exact similarity.
    *
    * 100 TB shape: the corpus side's banded signatures are precomputed and
    * stored bucketed by (band, band_key) at ingest, so a batch shuffles
    * only its OWN bands and probes the stored buckets; the exact-Jaccard
    * verify joins back by id to fetch shingles for candidates only. Here
    * both sides are computed from text for oracle replay; the caches keep
    * each side's scan at 1×.
    */
  def minHashIncremental(newDocs: DataFrame, corpus: DataFrame,
                         threshold: Double,
                         numHashes: Int = 16, bands: Int = 8,
                         shingleSize: Int = 3,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Lazy public API → no unpersist handle to hand out; MEMORY_ONLY caches
    // are self-bounding (really LRU-evicted), same policy as
    // minHashNearDupPairs — so the release thunks are deliberately dropped.
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val (cToks, cBand, _) =
      minHashSide(corpus, numHashes, bands, shingleSize, idCol, textCol, mem)
    minHashIncrementalIndexed(newDocs, cToks, cBand, threshold,
      numHashes, bands, shingleSize, idCol, textCol)
  }

  /** `minHashIncremental` against a STORED corpus index (the two frames
    * from `minHashIndex`, read back from their tables) — the true
    * steady-state path: per ingest, only the batch is shingled and banded;
    * the corpus contributes a probe join against its stored band keys and
    * an id-keyed shingle lookup for candidate verification.
    *
    * INVARIANT: `numHashes`/`bands`/`shingleSize` must equal the values the
    * index was built with. A mismatch never fails on its own — batch band
    * keys simply stop matching stored ones and near-dups are silently
    * admitted as novel — so the sampled pre-flight below fails fast
    * instead: every doc emits every band id and each band_key carries
    * rowsPerBand `:`-joined values, so a few index rows prove the band
    * geometry, and one stored shingle proves the shingle width.
    */
  /** Fail-fast geometry check of a stored MinHash index against the
    * parameters a caller is about to probe (or append) with — factored out
    * so the probe path and the append path enforce the SAME invariant. A
    * mismatch never fails on its own (band keys just stop matching and
    * near-dups are silently admitted; appends would poison the index), so
    * a few sampled rows prove the band geometry and the shingle width
    * instead. Bounded collects: `limit(bands*4)` + `limit(1)`.
    */
  /** Geometry checks already proven this session, keyed by the IDENTITY of
    * the index frames plus the probe parameters: a steady-state loop probes
    * the same index objects every few minutes, and re-collecting samples
    * per batch would add two driver round-trips to every ingest for a fact
    * that cannot change under an object identity that hasn't. A NEW read
    * of the same storage is a new DataFrame → re-checked.
    *
    * The memo is a WEAK-keyed identity map (DataFrame doesn't override
    * equals), not a set of identity HASH codes: hash codes are reused after
    * GC, so a hash-keyed memo could let a fresh unchecked frame colliding
    * with a dead checked one silently skip its check — and the set would
    * also grow unboundedly in loops creating frames per batch. Weak keys
    * make entries die with their frames; the toks side rides along as a
    * weak reference compared by identity at lookup.
    */
  private val preflightSeen = new java.util.WeakHashMap[
    DataFrame, (java.lang.ref.WeakReference[DataFrame], String)]()

  private[graft] def preflightMemoSize: Int =
    preflightSeen.synchronized { preflightSeen.size }

  private[graft] def minHashPreflight(corpusToks: DataFrame, corpusBanded: DataFrame,
                                      numHashes: Int, bands: Int,
                                      shingleSize: Int): Unit = {
    val params = s"$numHashes|$bands|$shingleSize"
    val memoized = preflightSeen.synchronized {
      Option(preflightSeen.get(corpusBanded)).exists {
        case (toksRef, p) => (toksRef.get eq corpusToks) && p == params
      }
    }
    if (memoized) return
    val bandSample = corpusBanded.select(col("band").cast("int"), col("band_key"))
      .limit(bands * 4).collect()
    if (bandSample.nonEmpty) {
      val seen = bandSample.map(_.getInt(0)).toSet
      require(seen.min == 0 && seen.max == bands - 1,
        s"stored index has band ids ${seen.min}..${seen.max}, expected 0..${bands - 1} " +
          s"— it was built with a different `bands` than $bands")
      val rpb = bandSample.head.getString(1).count(_ == ':') + 1
      require(rpb == numHashes / bands,
        s"stored band keys carry $rpb signature values, expected ${numHashes / bands} " +
          s"— the index was built with different numHashes/bands than $numHashes/$bands")
    }
    val shingleSample = corpusToks
      .select(explode(col("ts")).as("s")).limit(1).collect()
    shingleSample.foreach { r =>
      val width = r.getString(0).split(" ").length
      require(width == shingleSize,
        s"stored shingles are $width-grams, expected $shingleSize-grams " +
          "— the index was built with a different shingleSize")
    }
    // only FULLY-checked, non-empty indexes are memoized: an empty sample
    // proves nothing, and the next probe may see appended rows
    if (bandSample.nonEmpty && shingleSample.nonEmpty)
      preflightSeen.synchronized {
        preflightSeen.put(corpusBanded,
          (new java.lang.ref.WeakReference(corpusToks), params)); ()
      }
  }

  def minHashIncrementalIndexed(newDocs: DataFrame,
                                corpusToks: DataFrame, corpusBanded: DataFrame,
                                threshold: Double,
                                numHashes: Int = 16, bands: Int = 8,
                                shingleSize: Int = 3,
                                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minHashIncrementalPairFrame(newDocs, corpusToks, corpusBanded, threshold,
      numHashes, bands, shingleSize, idCol, textCol)
      .groupBy(col("i").as(idCol))
      // min over (j, jaccard) structs = the smallest dup_of with ITS
      // jaccard — deterministic because j is unique per (i, j) pair
      .agg(min(struct(col("j"), col("jaccard"))).as("m"))
      .select(col(idCol), col("m.j").as("dup_of"), col("m.jaccard").as("jaccard"))

  /** ALL qualifying (new, prior) pairs for a batch probe — the feed
    * cluster maintenance needs: `minHashIncrementalIndexed`'s min-dup_of
    * flag rows cannot express a new doc BRIDGING two existing components,
    * so `mergeClusters` consumes this instead. Columns: (idCol, dup_of,
    * jaccard), one row per verified pair.
    */
  def minHashIncrementalIndexedPairs(newDocs: DataFrame,
                                     corpusToks: DataFrame, corpusBanded: DataFrame,
                                     threshold: Double,
                                     numHashes: Int = 16, bands: Int = 8,
                                     shingleSize: Int = 3,
                                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minHashIncrementalPairFrame(newDocs, corpusToks, corpusBanded, threshold,
      numHashes, bands, shingleSize, idCol, textCol)
      .select(col("i").as(idCol), col("j").as("dup_of"), col("jaccard"))

  /** Shared probe pipeline: (i, j, jaccard) over NEW×CORPUS and
    * NEW×earlier-NEW candidates — both public incremental surfaces wrap
    * this, so flag rows and pair rows cannot drift. The batch is signed
    * UNCACHED: a lazy result has no release point for a cache.
    */
  private def minHashIncrementalPairFrame(newDocs: DataFrame,
                                          corpusToks: DataFrame, corpusBanded: DataFrame,
                                          threshold: Double,
                                          numHashes: Int, bands: Int, shingleSize: Int,
                                          idCol: String, textCol: String): DataFrame = {
    val (nToks, nBand, _) = minHashSide(newDocs, numHashes, bands, shingleSize,
      idCol, textCol, org.apache.spark.storage.StorageLevel.NONE)
    minHashProbePairs(nToks, nBand, corpusToks, corpusBanded, threshold,
      numHashes, bands, shingleSize, broadcastBatch = false)
  }

  /** The probe over an ALREADY-SIGNED batch (`minHashSide`'s frames), for
    * callers that own the signature. `broadcastBatch` broadcasts the batch
    * side into every band and verify join, so the corpus side is never
    * shuffled; the caller decides it from the batch's measured size.
    */
  private[graft] def minHashProbePairs(nToks: DataFrame, nBand: DataFrame,
                                       corpusToks: DataFrame, corpusBanded: DataFrame,
                                       threshold: Double,
                                       numHashes: Int, bands: Int, shingleSize: Int,
                                       broadcastBatch: Boolean): DataFrame = {
    minHashPreflight(corpusToks, corpusBanded, numHashes, bands, shingleSize)
    def batchSide(df: DataFrame) = if (broadcastBatch) broadcast(df) else df
    def bandJoin(a: DataFrame, b: DataFrame, extra: Column) = a.as("a")
      .join(b.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          extra)
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    val candCorpus = bandJoin(batchSide(nBand), corpusBanded, lit(true))
    val candEarlier = bandJoin(nBand, batchSide(nBand), col("b.id") < col("a.id"))
    def verify(cand: DataFrame, toksJ: DataFrame) = cand
      .join(batchSide(nToks.select(col("id").as("i"), col("ts").as("ts_a"))), "i")
      .join(toksJ.select(col("id").as("j"), col("ts").as("ts_b")), "j")
      .select(col("i"), col("j"),
        round(jaccard(col("ts_a"), col("ts_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    verify(candCorpus, corpusToks).unionByName(verify(candEarlier, batchSide(nToks)))
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * near-dup pair graph, each doc labeled with its component's minimum
    * doc id (the canonical survivor). This is the step an LSH dedup
    * pipeline needs after pair generation — near-dup is not transitive,
    * but dedup policy treats components as one group.
    *
    * Distributed shape: two-star rounds (`Graph.twoStarComponents`,
    * Kiveris et al. 2014) — alternating large-star/small-star re-linking
    * converges in O(log² n) rounds regardless of component diameter, so
    * even a pathological chain-of-duplicates graph resolves exactly. All
    * data stays distributed; the driver sees only per-round state
    * signatures.
    *
    * `driverMaxPairs` bounds the union-find fast path's collect: 5 M pairs
    * ≈ 2 × 5 M boxed longs in the driver HashMap ≈ low hundreds of MB —
    * size it down if the driver runs with < 1 GB of heap.
    */
  def nearDupClusters(docs: DataFrame, threshold: Double,
                      maxIters: Int = 12,
                      driverMaxPairs: Long = 5000000L): DataFrame = {
    // The expensive part is pair generation — cache the PAIR LIST (tiny:
    // one row per verified near-dup pair), not the lineage back through
    // the MinHash pipeline, so nodes/edges/labels all reuse one
    // materialization.
    val (rawPairs, releaseMinhash) = minHashNearDupPairsWithHandle(docs, threshold)
    val pairs = rawPairs.select(col("doc_a").as("a"), col("doc_b").as("b")).cache()
    // Materialize the cache NOW: the edge union below references `pairs`
    // five times, and those branches run concurrently inside one job — if
    // the cache is still cold, each branch recomputes the whole MinHash
    // pipeline in parallel before any of them can populate it. Once the
    // pairs are materialized the MinHash intermediates are dead weight —
    // release them.
    val nPairs = pairs.count()
    releaseMinhash()
    val out = components(pairs, nPairs, maxIters, driverMaxPairs)
    pairs.unpersist()
    out
  }

  /** Connected components of an (a, b) pair list, each node labeled with
    * its component's MINIMUM id. The single resolution engine behind both
    * `nearDupClusters` (full recompute) and `mergeClusters` (incremental):
    * a size-gated driver union-find fast path — the pair list is
    * O(duplicates), orders of magnitude smaller than any corpus — with
    * distributed two-star rounds (O(log² n), never diameter-bounded) for
    * genuinely huge duplicate graphs. `pairs` must be cached and already materialized
    * (`nPairs` is its measured count); the caller owns its unpersist. The
    * returned frame is safe to use after that unpersist: the driver path
    * is a local DataFrame, the distributed path a materialized cache.
    */
  private[graft] def components(pairs: DataFrame, nPairs: Long,
                                maxIters: Int, driverMaxPairs: Long): DataFrame = {
    if (nPairs <= driverMaxPairs) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min root wins → rep = the component's min id
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val out = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      return out.toDF("doc_id", "cluster_rep")
    }
    // Distributed path: alternating large-star/small-star rounds
    // (`Graph.twoStarComponents`, Kiveris et al. 2014) — O(log² n)
    // worst-case rounds instead of the O(diameter) a plain min-label
    // propagation needs, so a deep duplicate CHAIN resolves exactly:
    // `maxIters` two-star rounds (log₂²(n) always suffice) cover any graph
    // that fits in storage. The iteration driver warns if the cap cuts
    // the rounds short.
    Graph.twoStarComponents(pairs, Stop.Converge(maxIters), "a", "b").out
      .select(col("node").as("doc_id"), col("component").as("cluster_rep"))
  }

  /** Incremental clustering — merge a batch's near-dup pairs into STORED
    * `(doc_id, cluster_rep)` labels WITHOUT re-propagating history. The
    * insight that makes it cheap: every stored component is reachable
    * through its rep (labels form a star), so merging at the REP level is
    * exactly equivalent to union-find over the full historical pair graph —
    * and the rep graph is bounded by the batch's pair count, never by
    * corpus size. Plan shape per ingest:
    *   1. each pair endpoint → its current rep (one keyed join against the
    *      label table; unseen docs rep themselves),
    *   2. distinct cross-rep edges → `components` (driver union-find under
    *      the gate, distributed propagation above it) over AFFECTED
    *      components only,
    *   3. one keyed join re-labels history (reps untouched by the batch
    *      keep their label), plus the batch docs' new labels.
    *
    * `newPairs` must carry ALL qualifying (new, prior) pairs — e.g.
    * `minHashIncrementalIndexedPairs` — not the min-only flag rows: a new
    * doc bridging TWO old components merges them, which the single
    * min-dup_of row cannot express. Labels stay the component MINIMUM id
    * under merges because each stored rep is already its component's min
    * and new ids rep themselves. Output covers every doc in `labels` plus
    * every doc appearing in `newPairs` — same contract as
    * `nearDupClusters` (docs with no pairs are not rows).
    */
  def mergeClusters(labels: DataFrame, newPairs: DataFrame,
                    maxIters: Int = 12,
                    driverMaxPairs: Long = 5000000L): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val l = labels.select(col("doc_id").as("id"), col("cluster_rep").as("rep"))
      .persist(mem)
    val pairs = newPairs.select(col("doc_a"), col("doc_b"))
    // endpoint → current rep; docs history has never seen rep themselves
    val endRep = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).distinct()
      .join(l, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
      .persist(mem)
    val repEdges = pairs
      .join(endRep.select(col("id").as("doc_a"), col("rep").as("rep_a")), "doc_a")
      .join(endRep.select(col("id").as("doc_b"), col("rep").as("rep_b")), "doc_b")
      .select(col("rep_a").as("a"), col("rep_b").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(mem)
    val nEdges = repEdges.count()
    // rep → merged component rep, for affected reps only
    val mapping = components(repEdges, nEdges, maxIters, driverMaxPairs)
      .select(col("doc_id").as("rep"), col("cluster_rep").as("new_rep"))
    repEdges.unpersist()
    val newDocs = endRep.join(l.select(col("id")), Seq("id"), "left_anti")
    l.unionByName(newDocs)
      .join(mapping, Seq("rep"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("new_rep"), col("rep")).as("cluster_rep"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 32-bit SimHash fingerprint as a '0'/'1' string. Bit i is the sign of
    * Σ_tokens (±1), where the ±1 is the high bit of the i-th hex nibble of
    * md5(token). Native single-pass expression
    * (`graft.functions.SimHashBits`): the equivalent HOF chain
    * (`transform(tokens, md5)` + 32 `aggregate` folds) computes the same
    * value but walks 32·|tokens| interpreted lambda frames per row and
    * dominated the SimHash family's runtime; the spec pins bit-equality
    * against that independent definition, and the dedup_simhash oracle
    * replays it in SQL.
    */
  def simHashBits(tokenSet: Column): Column =
    graft.functions.SimHashBits(tokenSet)

  /** SimHash near-dup pairs: all pairs with hamming(fingerprint) ≤
    * `maxHamming`, found by exact-match blocking on `bands` equal slices of
    * the fingerprint. Unlike cosine/Jaccard LSH this blocking is PROVABLY
    * lossless by pigeonhole: ≤ maxHamming differing bits cannot touch all
    * `bands` slices when bands > maxHamming, so every qualifying pair
    * exact-matches on at least one slice.
    *
    * Plan: narrow fingerprint pass → explode(bands) of PACKED (band,
    * slice) long keys → self-equi-join on the key with a
    * FIRST-MATCHING-BAND residual (the `cosineNearDupPairsBanded`
    * device): a pair agreeing on several bands is emitted exactly once —
    * at its lowest matching band — so there is NO distinct over the
    * candidate fan-out, and because both banded sides carry the packed
    * fingerprint, the hamming verify is an inline codegen'd
    * bit_count(xor) with NO id-keyed join-backs. At sf10 the old
    * distinct+2-join tail re-shuffled the full ~10⁹-row candidate set
    * three times; this shape streams it through one filter. Quadratic
    * work stays confined to slice-match buckets (expected n/2^sliceBits
    * per band).
    */
  def simHashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
                          bands: Int = 4, bits: Int = 32,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(bands > maxHamming, "losslessness needs bands > maxHamming (pigeonhole)")
    require(bits % bands == 0, "bands must divide the fingerprint width")
    require(bits <= 62, "packed band keys need bits <= 62")
    val width = bits / bands
    // persisted like the sibling shingle caches: the plan references the
    // fingerprint frame twice (both banded-join sides) and the md5+fold
    // pass is the dominant per-row cost; MEMORY_ONLY — unowned cache,
    // really LRU-evicted. The bit-string fingerprint is packed into a
    // LONG once per doc; band keys, the first-match residual, and the
    // hamming verify are all pure bit arithmetic on that long.
    val fp = docs.select(col(idCol).as("id"),
      simHashBits(Text.tokenSet(col(textCol))).as("fp"))
      .withColumn("fpl", conv(col("fp"), 2, 10).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // bkey = band index in the high bits, that band's slice in the low
    // bits (BandedBits.bandKeys). Group g covers fpl bits
    // [g·width, (g+1)·width) — the same partition of bit positions as the
    // oracle's string-substring bands (contiguous groups at the same
    // boundaries), so the candidate SET is identical; only the
    // enumeration changes.
    val banded = fp.select(col("id"), col("fpl"),
      explode(BandedBits.bandKeys(col("fpl"), width, bands)).as("bkey"))
    banded.as("a").join(banded.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id") &&
          BandedBits.firstMatchingBand(col("a.fpl"), col("b.fpl"),
            col("a.bkey"), width, bands))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        call_function("bit_count",
          col("a.fpl").bitwiseXOR(col("b.fpl"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Candidate-pair BUDGET of the simhash banding WITHOUT running the
    * self-join: one fingerprint pass + one keyed count over (band, slice)
    * buckets; `cand_pairs` = Σ_buckets C(c, 2) — exactly the pre-distinct
    * pair fan-out the banded join would generate. This is the planner
    * pre-flight for the band-resolution family (the `join_cardinality_
    * estimate` idea applied to LSH blocking): fixed knobs make candidates
    * grow ∝ n²/buckets, so a 100 TB operator runs this O(n) probe at
    * today's corpus size and widens the slice/band knobs when
    * `cand_pairs / n_docs` drifts, BEFORE paying the join. Exact
    * integers; per-bucket C(c,2) in Long (overflows only past ~3e9 rows
    * per bucket — a bucket that hot is itself the finding), summed in
    * Decimal(38,0).
    */
  def simHashCandidateBudget(docs: DataFrame, bands: Int = 4, bits: Int = 32,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      "bands must divide the fingerprint width")
    val width = bits / bands
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val fp = docs.select(col(idCol).as("id"),
      simHashBits(Text.tokenSet(col(textCol))).as("fp"))
    val banded = fp.select(col("id"),
      explode(array((0 until bands).map { k =>
        concat_ws(":", lit(k), substring(col("fp"), k * width + 1, width))
      }: _*)).as("bkey"))
    val buckets = banded.groupBy(col("bkey")).agg(count(lit(1)).as("c"))
    val summary = buckets.agg(
      count(lit(1)).as("n_buckets"),
      coalesce(max(col("c")), lit(0L)).as("max_bucket"),
      coalesce(sum(expr("(c * (c - 1)) div 2").cast(dec)),
        lit(0).cast(dec)).as("cp"))
    fp.agg(count(lit(1)).as("n_docs")).crossJoin(summary)
      .select(col("n_docs"), col("n_buckets"), col("max_bucket"),
        col("cp").cast("long").as("cand_pairs"))
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Token n-gram (shingle) set of a text column — distinct, sorted.
    * Texts shorter than n tokens yield an EMPTY set. Native single-pass
    * expression (`graft.functions.ShingleSet`); the equivalent HOF chain
    * (`transform(sequence…)` + `array_distinct` + `array_sort`) computes the
    * same value but dominated every dedup pipeline's runtime.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShingleSet(Text.tokens(text), n)

  /** 8-byte xxhash64 digests of the same shingle set, sorted ascending —
    * the shuffle-friendly representation the PPJoin prefix/verify stages
    * run on (`graft.functions.ShingleDigests`). Jaccard/containment over
    * digest sets equals the string-set value absent an xxhash64 collision
    * within one pair's union (~|A∪B|²/2⁶⁴ — negligible; the string-set
    * quadratic spec twin in PropertySpec pins equality on real data).
    */
  def shingleDigests(text: Column, n: Int): Column =
    graft.functions.ShingleDigests(Text.tokens(text), n)

  /** Pairs of documents sharing at least one EXACT n-token span — the
    * long-verbatim-overlap dedup signal (the substring-level duplication
    * targeted by Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better": repeated spans, not whole-document near-dups,
    * drive memorization). Jaccard misses a 50-token verbatim quote inside
    * two otherwise-different documents; this catches exactly that.
    *
    * Plan shape: per-doc distinct n-gram shingles explode to 16-byte md5
    * span digests (the shuffle carries digests, never text), a document-
    * frequency pass keeps spans with 2 ≤ df ≤ `maxDf`, and the per-span
    * doc lists self-join into pairs. The df cap is load-bearing at scale
    * twice over: spans above it are boilerplate (licenses, headers,
    * navigation) rather than duplication signal, AND the cap bounds the
    * per-span pair fan-out at df², preventing a single hot span from
    * emitting a quadratic block.
    */
  def commonSpanPairs(docs: DataFrame, n: Int, maxDf: Int = 64,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("span"))
      .select(col("id"), md5(col("span").cast("binary")).as("h"))
    val keep = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"))
    val inBlock = sh.join(keep, "h")
    inBlock.select(col("h"), col("id").as("doc_a"))
      .join(inBlock.select(col("h"), col("id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("h")).as("n_spans"))
  }

  /** O(n) pre-flight for `commonSpanPairs` at the same (n, maxDf) knobs:
    * the per-span pair fan-out the self-join will stream — EXACTLY
    * Σ C(df, 2) over spans with 2 ≤ df ≤ maxDf (the join's raw output
    * rows before the per-pair group), plus the count of HOT spans the df
    * cap drops (the boilerplate mass — a rising hot share means the cap,
    * not the data, is shaping the result and `maxDf` deserves a look).
    * One exploded digest pass and one keyed count; prices the join
    * before any pair is materialized. Schema follows the family:
    * (n_docs, n_spans_kept, n_spans_hot, cand_pairs).
    */
  def commonSpanCandidateBudget(docs: DataFrame, n: Int, maxDf: Int = 64,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dfreq = docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("span"))
      .select(col("id"), md5(col("span").cast("binary")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val summary = dfreq.agg(
      sum(when(col("df").between(2, maxDf), 1L).otherwise(0L))
        .cast("long").as("n_spans_kept"),
      sum(when(col("df") > maxDf, 1L).otherwise(0L))
        .cast("long").as("n_spans_hot"),
      coalesce(sum(when(col("df").between(2, maxDf),
          expr("(df * (df - 1)) div 2")).otherwise(0L).cast(dec)),
        lit(0).cast(dec)).cast("long").as("cand_pairs"))
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(summary)
      .select(col("n_docs"), col("n_spans_kept"), col("n_spans_hot"),
        col("cand_pairs"))
  }

  /** The span-digest table `(id, h)` behind `commonSpanPairs` — also the
    * STORED index shape for the incremental probe (text never ships; the
    * index carries 16-byte digests only).
    */
  def spanIndex(docs: DataFrame, n: Int, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("span"))
      .select(col("id"), md5(col("span").cast("binary")).as("h"))

  def writeSpanIndex(docs: DataFrame, path: String, n: Int = 8,
                     idCol: String = "doc_id", textCol: String = "text"): Unit =
    spanIndex(docs, n, idCol, textCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  def readSpanIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = spark.read.parquet(path)

  def appendToSpanIndex(batch: DataFrame, path: String, n: Int = 8,
                        idCol: String = "doc_id",
                        textCol: String = "text"): Unit =
    spanIndex(batch, n, idCol, textCol)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)

  /** Incremental common-span probe: pairs INVOLVING the batch — batch docs'
    * span digests against (stored index ∪ batch), never CORPUS×CORPUS —
    * equal to `commonSpanPairs` over the grown corpus restricted to pairs
    * touching a batch doc (the oracle proves it). The df cap is computed
    * over the UNION so it matches the full-recompute semantics exactly;
    * batch×batch pairs arise twice (once from each endpoint's probe) and
    * collapse in the `countDistinct` — no distinct shuffle on the pair
    * stream itself. Steady-state cost: batch shingling + one digest-keyed
    * df pass + one digest-keyed join; the corpus text is never re-read.
    */
  def commonSpanIncrementalPairs(batch: DataFrame, index: DataFrame, n: Int,
                                 maxDf: Int = 64, idCol: String = "doc_id",
                                 textCol: String = "text"): DataFrame = {
    val bs = spanIndex(batch, n, idCol, textCol)
    val all = index.unionByName(bs)
    val keep = all.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"))
    val allK = all.join(keep, "h")
    bs.join(keep, "h").select(col("h"), col("id").as("_bid"))
      .join(allK.select(col("h"), col("id").as("_oid")), "h")
      .filter(col("_bid") =!= col("_oid"))
      .select(col("h"), least(col("_bid"), col("_oid")).as("doc_a"),
        greatest(col("_bid"), col("_oid")).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("h")).as("n_spans"))
  }

  /** Exact n-gram-Jaccard near-dup pairs via PPJoin-style prefix filtering
    * (Xiao et al., WWW'08 — public algorithm): under any global total order
    * on shingles, two sets with Jaccard ≥ t MUST share an element within the
    * first ⌊(1−t)·|set|⌋+1 shingles of each. Ordering by ascending document
    * frequency makes those prefix shingles the RAREST ones, so candidate
    * blocks are tiny, and the filter is LOSSLESS: output is provably
    * identical to the full quadratic scan (the oracle runs the quadratic
    * definition — the match proves it).
    *
    * Plan shape at scale: shingle-explode → df count (shuffle on digest,
    * partial aggs) → per-doc rank (shuffle on doc) → prefix self-equi-join
    * on (lang, digest) — every stage is a standard distributed shuffle on
    * a small key; nothing is quadratic except within prefix-shingle blocks,
    * which df-ordering keeps near-singleton. Three further prunes matter
    * at 100 TB: every stage carries 8-byte xxhash64 shingle DIGESTS, never
    * the n-token strings (`shingleDigests` — the verify join-back was the
    * dominant shuffle volume on strings); candidates pass PPJoin's LENGTH
    * filter t·max(|A|,|B|) ≤ min(|A|,|B|) (a Jaccard ≥ t pair cannot
    * differ in size by more than 1/t) inside the join; and the candidate
    * dedup stays a thin-id `distinct` ON PURPOSE — see the emit-once
    * design note inside: the first-shared-prefix-shingle alternative was
    * built, measured, and rejected for a quadratic-in-document-length
    * carry, while the distinct's shuffle is the exact quantity the
    * `ngramCandidateBudget` pre-flight prices before the join is paid.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Persisted for the same reason as minHashNearDupPairs' shingle cache:
    // the plan references the shingle frame four times (document-frequency
    // branch, prefix branch, both Jaccard-verify join-backs) and would
    // otherwise scan + re-shingle the corpus 4×. MEMORY_ONLY because the
    // result is lazy and nobody unpersists: memory blocks LRU-evict for
    // real (worst case: recompute), where MEMORY_AND_DISK blocks would
    // accumulate on spill disk until session end.
    val t = docs.select(col("doc_id").as("id"), col("lang"),
      shingleDigests(col("text"), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val ex = t.select(col("id"), col("lang"), explode(col("sh")).as("s"),
      size(col("sh")).as("n"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // Lossless prefix bound is n − ⌈t·n⌉ + 1 in REAL arithmetic. Computed
    // in doubles, (1−t)·n can land one ulp below an integer (e.g. t=0.9,
    // n=10 → 0.9999999999999998) and floor() would then under-shoot the
    // bound, silently dropping qualifying pairs. The +2 keeps the bound
    // conservative under any sub-integer float error — at worst one extra
    // prefix shingle per doc, never a lost pair.
    // Emit-once design note (round 13, measured then REJECTED): a
    // first-shared-prefix-shingle residual — each side carrying its
    // earlier-prefix array, pairs emitted only where the arrays don't
    // overlap — removes this distinct entirely (the BandedBits
    // discipline) and measured flat at sf0.1/sf1 and 55–68 s at sf10.
    // But the carried arrays sum to ~(1−t)²n²/2 digests PER DOCUMENT —
    // quadratic in document length — which melts on real web-scale
    // documents (a 2 000-shingle doc carries ~2.6 MB of prefix state
    // through the join) even though it is invisible on short test docs.
    // The distinct below shuffles O(candidate fan-out) thin id pairs —
    // LINEAR in document length, and exactly the quantity
    // `ngramCandidateBudget` prices in O(n) before the join is paid
    // (20.4 M at sf10 — cheap). Prefer the priceable linear shuffle over
    // an unpriceable quadratic carry.
    val prefix = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n")) + 2)
      .select(col("id"), col("lang"), col("s"), col("n"))
    // Length filter: J(A,B) ≤ min/max, so J ≥ t forces t·|A| ≤ |B| and
    // t·|B| ≤ |A|. The 1e-6 slack keeps the prune conservative under
    // double rounding of t·n (sizes are exact ints; the product's float
    // error is ≪ 1e-6 for any real document) — never drops a true pair.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
          col("a.id") < col("b.id") &&
          lit(threshold) * col("a.n") <= col("b.n") + lit(1e-6) &&
          lit(threshold) * col("b.n") <= col("a.n") + lit(1e-6))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    cand
      .join(t.select(col("id").as("i"), col("sh").as("sh_a")), "i")
      .join(t.select(col("id").as("j"), col("sh").as("sh_b")), "j")
      .select(col("i").as("doc_a"), col("j").as("doc_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate-pair BUDGET of the PPJoin prefix filter WITHOUT the
    * self-join — the fourth member of the LSH pre-flight family
    * (`simHashCandidateBudget` / `minHashCandidateBudget` /
    * `Vectors.cosineBandCandidateBudget`), completing it for the
    * prefix-filter regime: Σ C(c, 2) over (lang, prefix-shingle) buckets
    * is EXACTLY the row count the prefix self-equi-join would emit
    * before its length/first-shared residuals — the number to price
    * before paying a corpus-sized PPJoin (the budgets deliberately
    * ignore the residual filters: they bound the join's fan-out, not
    * its output). One shingle pass + one keyed count, O(corpus).
    * Not oracle-replayable (prefix tie-breaks order on xxhash64 digests
    * DuckDB lacks); pinned instead by the fan-out-equality spec.
    */
  def ngramCandidateBudget(docs: DataFrame, n: Int,
                           threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val t = docs.select(col("doc_id").as("id"), col("lang"),
      shingleDigests(col("text"), n).as("sh"))
    val ex = t.select(col("id"), col("lang"), explode(col("sh")).as("s"),
      size(col("sh")).as("n"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n")) + 2)
    val summary = prefix.groupBy(col("lang"), col("s"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(max(col("c")), lit(0L)).as("max_bucket"),
        coalesce(sum(expr("(c * (c - 1)) div 2").cast(dec)),
          lit(0).cast(dec)).cast("long").as("cand_pairs"))
    t.agg(sum(when(size(col("sh")) > 0, 1L).otherwise(0L))
        .cast("long").as("n_docs"))
      .crossJoin(summary)
      .select(col("n_docs"), col("n_buckets"), col("max_bucket"),
        col("cand_pairs"))
  }

  /** O(n) pre-flight for `containmentPairs` at the same (n, threshold)
    * knobs: the DIRECTED candidate fan-out its asymmetric prefix join
    * will stream, before the one-sided length filter and the distinct —
    * Σ over src-prefix entries of (df_{lang,s} − 1), an UPPER BOUND on
    * the join's output rows: it counts every prefix occurrence of
    * shingle `s` meeting every OTHER same-lang doc containing `s` under
    * the same df-ordered prefix bound, but BEFORE the t·|A| ≤ |B| length
    * filter containmentPairs evaluates inside the join condition, so the
    * join emits at most (and with skewed lengths, fewer than) this many
    * rows. n_docs here counts docs with a non-empty shingle set (the
    * only rows the join can touch), unlike commonSpanCandidateBudget's
    * count(*) — spans can be empty for short docs too, but that budget
    * reports corpus size while this one reports join-eligible size; the
    * difference is deliberate and matters when comparing the two
    * cand_pairs/n_docs ratios. The production discipline shared by every
    * banded family here: price the fan-out with one narrow pass, and
    * only pay the join when `cand_pairs / n_docs` stays near-linear —
    * for containment the dial is the threshold (a higher t shrinks the
    * prefix) and, at a real crawl's df skew, a df cap on prefix entries.
    * Schema matches the sibling budgets: (n_docs, n_prefix, max_df,
    * cand_pairs).
    */
  def containmentCandidateBudget(docs: DataFrame, n: Int,
                                 threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val t = docs.select(col("doc_id").as("id"), col("lang"),
      shingleDigests(col("text"), n).as("sh"))
    val ex = t.select(col("id"), col("lang"), explode(col("sh")).as("s"),
      size(col("sh")).as("n"))
    // global df ranks the prefix (identical to containmentPairs); the
    // per-(lang, s) df prices the join, whose key includes lang
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val dfl = ex.groupBy("lang", "s").agg(count(lit(1)).as("dfl"))
    val prefix = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n")) + 2)
    val summary = prefix.join(dfl, Seq("lang", "s"))
      .agg(count(lit(1)).as("n_prefix"),
        coalesce(max(col("dfl")), lit(0L)).as("max_df"),
        coalesce(sum((col("dfl") - 1).cast(dec)), lit(0).cast(dec))
          .cast("long").as("cand_pairs"))
    t.agg(sum(when(size(col("sh")) > 0, 1L).otherwise(0L))
        .cast("long").as("n_docs"))
      .crossJoin(summary)
      .select(col("n_docs"), col("n_prefix"), col("max_df"),
        col("cand_pairs"))
  }

  /** Exact n-gram CONTAINMENT pairs: directed (src, dst) where at least
    * `threshold` of src's shingles also occur in dst — |A∩B| / |A| ≥ t.
    * Jaccard misses subsumption (a doc that verbatim-contains a shorter
    * one scores low when the lengths differ — the union term grows with
    * the big doc), but containment is exactly the "this document is a
    * truncation / excerpt / superset of that one" dedup signal (Broder
    * 1997 introduced containment alongside resemblance for precisely
    * this case).
    *
    * Lossless prefix filter, asymmetric form: overlap ≥ ⌈t·|A|⌉ forces at
    * least one match inside A's first |A| − ⌈t·|A|⌉ + 1 shingles under ANY
    * global shingle order — but puts NO bound on where the match lands in
    * B, so the candidate join is A's df-ordered prefix against B's FULL
    * shingle list. That stays cheap for the same reason the symmetric
    * PPJoin does: prefix shingles are the RAREST ones, so each matches few
    * B docs (the per-shingle fan-out is its df, and prefix dfs are near 1
    * by construction). Same conservative `+2` float guard as
    * `ngramJaccardPairs`. Short docs (< n tokens) have empty shingle sets
    * and produce no directed pairs as src — containment is undefined on an
    * empty set (the oracle's quadratic definition excludes them too).
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Same 4-reference cache rationale as ngramJaccardPairs; same 8-byte
    // digest representation for every shuffled stage.
    val t = docs.select(col("doc_id").as("id"), col("lang"),
      shingleDigests(col("text"), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val ex = t.select(col("id"), col("lang"), explode(col("sh")).as("s"),
      size(col("sh")).as("n"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
    val prefix = ranked
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n")) + 2)
      .select(col("id"), col("lang"), col("s"), col("n"))
    // Asymmetric length filter: overlap ≥ ⌈t·|A|⌉ and overlap ≤ |B| force
    // t·|A| ≤ |B| (no bound the other way — B may be arbitrarily larger).
    // Same conservative 1e-6 slack as the Jaccard variant.
    val cand = prefix.as("a").join(ranked.as("b"),
        col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
          col("a.id") =!= col("b.id") &&
          lit(threshold) * col("a.n") <= col("b.n") + lit(1e-6))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    cand
      .join(t.select(col("id").as("i"), col("sh").as("sh_a")), "i")
      .join(t.select(col("id").as("j"), col("sh").as("sh_b")), "j")
      .select(col("i").as("src"), col("j").as("dst"),
        round(size(array_intersect(col("sh_a"), col("sh_b")))
          .cast("double") / size(col("sh_a")), 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Per-document NOVELTY of a batch against a stored span index: the
    * share (exact basis points) of each doc's distinct n-token spans NOT
    * present in the corpus index — the "how much of this ingest is new
    * text" monitor, the complement of the common-span duplication signal.
    * Batch spans left-join the 16-byte digest index (DISTINCT'd
    * defensively — appended per-batch delta dirs carry duplicate digest
    * rows, and a build-side dup would multiply batch spans); corpus text
    * is never re-read — the same stored-state steady-state shape as the
    * dedup probes. Docs with fewer than `n` tokens have no spans and are
    * absent from the report.
    */
  def spanNovelty(batch: DataFrame, index: DataFrame, n: Int = 8,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val sp = batch.select(col(idCol),
        explode(shingles(col(textCol), n)).as("span"))
      .select(col(idCol), md5(col("span").cast("binary")).as("h"))
    sp.join(index.select(col("h")).distinct().withColumn("_seen", lit(true)),
        Seq("h"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .withColumn("novelty_bp", Exact.ratioBp(col("n_new"), col("n_spans")))
  }

  /** Canonical-document selection after clustering — "keep the best copy":
    * given near-dup cluster labels `(doc_id, cluster_rep)` (e.g. from
    * `nearDupClusters`) and a per-doc quality score, returns one row per
    * cluster carrying the member that maximizes `(score, then lowest
    * doc_id)` plus the member count — the resolution step that turns a
    * dedup clustering into an actual keep/drop decision. The window
    * partitions by cluster label, so each task sorts only one cluster's
    * members (near-dup sets — bounded, tiny relative to the corpus);
    * nothing data-sized is sorted. Docs that never entered a cluster are
    * absent from `labels` and trivially survive — callers keep them
    * unconditionally.
    */
  def keepBestPerCluster(labels: DataFrame, scores: DataFrame,
                         idCol: String = "doc_id",
                         labelCol: String = "cluster_rep",
                         scoreCol: String = "score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy(col(labelCol))
    labels.join(scores, Seq(idCol))
      .withColumn("_rn", row_number().over(
        byCluster.orderBy(col(scoreCol).desc, col(idCol))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("_rn") === 1)
      .select(col(labelCol), col(idCol).as("kept_doc_id"),
        col(scoreCol), col("n_members"))
  }
}
