package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed-correctness properties for the dedup/similarity family:
  * results must not depend on physical partitioning (the property a single
  * local oracle run cannot observe).
  */
class DedupVectorsSpec extends SparkSpec {

  import spark.implicits._

  private def docs(parts: Int): DataFrame = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "en", "the quick brown fox jumps over the lazy dog today"),
    (3L, "en", "completely different text about spark engines at scale"),
    (4L, "en", "the quick brown fox jumps over the lazy dog tonight"),
    (5L, "de", "der schnelle braune fuchs springt heute abend"),
    (6L, "en", "short text")
  ).toDF("doc_id", "lang", "text").repartition(parts)

  private def collectPairs(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("ngramJaccardPairs invariant under partitioning; finds exact and near dups") {
    val one = collectPairs(Dedup.ngramJaccardPairs(docs(1), 3, 0.6))
    val many = collectPairs(Dedup.ngramJaccardPairs(docs(7), 3, 0.6))
    assert(one == many)
    val ids = one.map(r => (r(0), r(1)))
    assert(ids.contains((1L, 4L))) // identical docs
    assert(ids.contains((1L, 2L)) && ids.contains((2L, 4L))) // near dups
    assert(!ids.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc
  }

  test("incremental dedup: batch vs corpus — exact digests and minhash flags") {
    // corpus: docs 1-3; new batch: 11 (= doc 1 byte-identical),
    // 12 (near-dup of 2), 13 (novel), 14 (= 13 — within-batch dup)
    val corpus = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "en", "the quick brown fox jumps over the lazy dog today"),
      (3L, "en", "completely different text about spark engines at scale")
    ).toDF("doc_id", "lang", "text")
    val batch = Seq(
      (11L, "en", "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "en", "a quick brown fox jumps over the lazy dog today"),
      (13L, "en", "novel content never seen in the corpus before now"),
      (14L, "en", "novel content never seen in the corpus before now")
    ).toDF("doc_id", "lang", "text")
    // exact: 11 dies (corpus hit), 14 dies (13 is the in-batch survivor)
    val exact = Dedup.exactIncremental(batch, Dedup.contentDigests(corpus))
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(12L, 13L))
    // minhash: 11 flagged as dup of 1, 12 flagged as dup of 2; partitioning
    // must not matter
    def flags(parts: Int) =
      Dedup.minHashIncremental(batch.repartition(parts), corpus.repartition(parts), 0.5)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    val f = flags(1)
    assert(f == flags(6))
    assert(f(11L) == 1L)
    // 12 near-dups BOTH corpus docs (j=0.6 vs 1, higher vs 2) → min wins
    assert(f(12L) == 1L)
    assert(!f.contains(13L))
    // a within-batch near-dup flags against the EARLIER batch id
    val batch2 = batch.unionByName(Seq(
      (15L, "en", "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "lang", "text"))
    val f2 = Dedup.minHashIncremental(batch2, corpus, 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    assert(f2(15L) == 1L) // min prior match: corpus doc 1 beats batch doc 11
    assert(f2(14L) == 13L) // in-batch dup points at the earlier batch id
  }

  test("minHashIncrementalIndexed: stored index round-trips to identical flags") {
    val all = docs(3)
    val corpus = all.filter(col("doc_id") <= 3)
    val batch = all.filter(col("doc_id") > 3)
    val direct = Dedup.minHashIncremental(batch, corpus, 0.5)
      .collect().map(_.toSeq).toSet
    // write the corpus index to parquet (the steady-state ingest artifact),
    // read it back, and dedup the same batch against the STORED frames
    val dir = tmpDir("mh-index")
    val (toks, banded) = Dedup.minHashIndex(corpus)
    toks.write.parquet(s"$dir/toks")
    banded.write.parquet(s"$dir/banded")
    spark.catalog.clearCache() // isolate the probe's own cache lifecycle
    val indexed = Dedup.minHashIncrementalIndexed(batch,
        spark.read.parquet(s"$dir/toks"), spark.read.parquet(s"$dir/banded"), 0.5)
      .collect().map(_.toSeq).toSet
    assert(indexed == direct && direct.nonEmpty)
    // the probe returns a lazy frame with no release point, so it must
    // not leave cached batch signatures behind
    assert(org.apache.spark.sql.graftbridge.TestBridge.sqlCacheIsEmpty(spark),
      "minHashIncrementalIndexed must retain no cached frames")
    // mismatched build params must fail fast, not silently admit near-dups
    intercept[IllegalArgumentException] {
      Dedup.minHashIncrementalIndexed(batch,
        spark.read.parquet(s"$dir/toks"), spark.read.parquet(s"$dir/banded"),
        0.5, numHashes = 32, bands = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.minHashIncrementalIndexed(batch,
        spark.read.parquet(s"$dir/toks"), spark.read.parquet(s"$dir/banded"),
        0.5, shingleSize = 4)
    }
  }

  test("minHashIncrementalIndexed/Pairs equal the naive probe: a pair agreeing " +
      "in several bands, a stored id holding two texts, a batch id equal to a " +
      "stored id") {
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val X = "the quick brown fox jumps over the lazy dog tonight"
    val Y = "short second text here"
    val Q = "novel content never seen in the corpus before now"
    def near(t: String, w: String) = t.split(" ").init.mkString(" ") + " " + w
    val corpus = Seq((1L, "en", A), (7L, "en", X), (7L, "en", Y), (3L, "en", Q))
      .toDF("doc_id", "lang", "text")
    // 21 = A (every band agrees with 1); 22 = X then Y (bands meet id 7's
    // signature over both its texts, verifies against X only); batch id 3
    // reuses a stored id, and 9 near-dups both the stored and the batch 3
    val batch = Seq((21L, "en", A), (22L, "en", X + " " + Y),
      (3L, "en", near(Q, "today")), (9L, "en", near(Q, "then")))
      .toDF("doc_id", "lang", "text")
    val none = org.apache.spark.storage.StorageLevel.NONE
    val (cToks, cBand) = Dedup.minHashIndex(corpus, storage = none)
    val (nToks, nBand) = Dedup.minHashIndex(batch, storage = none)
    def toks(df: DataFrame) =
      df.collect().toSeq.map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    def bandRows(df: DataFrame) =
      df.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // the naive probe: band candidates per side, each verified against
    // every text of i and every text of j on j's side
    val sides = Seq(true -> (bandRows(cBand), toks(cToks)),
      false -> (bandRows(nBand), toks(nToks)))
    val batchToks = toks(nToks)
    val agreeing = for {
      (i, band, key) <- bandRows(nBand); (stored, (bs, _)) <- sides
      (j, band2, key2) <- bs if band == band2 && key == key2 && (stored || j < i)
    } yield (i, j, stored)
    val cands = agreeing.distinct
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (i, j, stored) <- cands; (a, ta) <- batchToks if a == i
      (b, tb) <- sides.toMap.apply(stored)._2 if b == j
      jac = round4((ta & tb).size.toDouble / (ta | tb).size) if jac >= 0.5
    } yield (i, j, jac)).sorted
    // the three cases really occur
    assert(agreeing.count(_ == ((21L, 1L, true))) > 1)
    assert(cands.contains((22L, 7L, true)) && toks(cToks).count(_._1 == 7L) == 2)
    assert(cands.contains((9L, 3L, true)) && cands.contains((9L, 3L, false)) &&
      cands.contains((3L, 3L, true)))
    val pairs = Dedup.minHashIncrementalIndexedPairs(batch, cToks, cBand, 0.5)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(pairs == want)
    val flags = Dedup.minHashIncrementalIndexed(batch, cToks, cBand, 0.5)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(flags == want.groupBy(_._1).values.map(_.min).toSeq.sorted)
    assert(flags.map(_._1) == Seq(3L, 9L, 21L, 22L))
  }

  test("mergeClusters: incremental label merge equals full recompute on a grown corpus") {
    val corpus = docs(3) // contains the {1,2,4} near-dup component
    val batch = Seq(
      // bridges INTO the {1,2,4} component
      (21L, "en", "the quick brown fox jumps over the lazy dog today"),
      // novel pair within the batch only
      (22L, "en", "some entirely new content that repeats itself right away"),
      (23L, "en", "some entirely new content that repeats itself right away"),
      (24L, "en", "unrelated singleton prose mentioning nothing familiar")
    ).toDF("doc_id", "lang", "text")
    val labels0 = Dedup.nearDupClusters(corpus, 0.5)
    // ALL qualifying pairs for the batch (not min-only flags)
    val dir = tmpDir("mh-merge")
    Dedup.writeMinHashIndex(corpus, dir)
    val (toks, banded) = Dedup.readMinHashIndex(spark, dir)
    val newPairs = Dedup.minHashIncrementalIndexedPairs(batch, toks, banded, 0.5)
      .select(col("doc_id").as("doc_a"), col("dup_of").as("doc_b"))
    val merged = Dedup.mergeClusters(labels0, newPairs)
      .collect().map(_.toSeq).toSet
    val full = Dedup.nearDupClusters(corpus.unionByName(batch), 0.5)
      .collect().map(_.toSeq).toSet
    assert(merged == full && merged.nonEmpty)
    // the bridge doc joined the historical component under its min rep
    assert(merged.contains(Seq(21L, 1L)))
    // the batch-only pair formed its own component
    assert(merged.contains(Seq(23L, 22L)))
    // and the distributed resolution path agrees with the driver fast path
    val mergedDist = Dedup.mergeClusters(labels0, newPairs, driverMaxPairs = 0)
      .collect().map(_.toSeq).toSet
    assert(mergedDist == merged)
  }

  test("mergeClusters: a new doc bridging two old components merges them") {
    val corpus = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "en", "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (5L, "en", "one two three four five six seven eight nine ten"),
      (6L, "en", "one two three four five six seven eight nine eleven")
    ).toDF("doc_id", "lang", "text")
    val labels0 = Dedup.nearDupClusters(corpus, 0.5)
    val reps0 = labels0.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps0(2L) == 1L && reps0(6L) == 5L) // two separate components
    // synthetic bridge pairs: one new doc near-dups a member of EACH
    val bridge = Seq((9L, 2L), (9L, 6L)).toDF("doc_a", "doc_b")
    val merged = Dedup.mergeClusters(labels0, bridge)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // everything collapses to the global min rep 1 — including old comp {5,6}
    assert(Set(1L, 2L, 5L, 6L, 9L).forall(merged(_) == 1L))
  }

  test("cosineIncrementalIndexed: stored embedding index round-trips to identical flags") {
    val emb = graft.tables.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val batch = emb.filter(col("vec_id") % 7 === 0)
    val corpus = emb.filter(col("vec_id") % 7 =!= 0)
    val direct = Vectors.cosineIncremental(batch, corpus, 0.4)
      .collect().map(_.toSeq).toSet
    val dir = tmpDir("cos-index")
    val (normed, banded) = Vectors.cosineIndex(corpus)
    normed.write.parquet(s"$dir/normed")
    banded.write.parquet(s"$dir/banded")
    val indexed = Vectors.cosineIncrementalIndexed(batch,
        spark.read.parquet(s"$dir/normed"), spark.read.parquet(s"$dir/banded"), 0.4)
      .collect().map(_.toSeq).toSet
    assert(indexed == direct && direct.nonEmpty)
    // mismatched build geometry must fail fast, not silently find nothing
    intercept[IllegalArgumentException] {
      Vectors.cosineIncrementalIndexed(batch,
        spark.read.parquet(s"$dir/normed"), spark.read.parquet(s"$dir/banded"),
        0.4, planesPerBand = 3, bands = 12)
    }
  }

  test("cosineIncremental agrees with the quadratic definition on real embeddings") {
    val emb = graft.tables.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val nv = emb.filter(col("vec_id") % 7 === 0)
    val cv = emb.filter(col("vec_id") % 7 =!= 0)
    val banded = Vectors.cosineIncremental(nv, cv, 0.4)
      .collect().map(_.toSeq).toSet
    // quadratic reference: every (new, prior) pair scored exactly
    val cos = Vectors.round6(
      Vectors.cosine(col("a.embedding"), col("b.embedding")))
    val quad = emb.as("a").join(emb.as("b"),
        col("a.vec_id") % 7 === 0 && col("a.vec_id") =!= col("b.vec_id") &&
          (col("b.vec_id") % 7 =!= 0 || col("b.vec_id") < col("a.vec_id")))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"), cos.as("cosine"))
      .filter(col("cosine") >= 0.4)
      .groupBy(col("i").as("vec_id"))
      .agg(min(struct(col("j"), col("cosine"))).as("m"))
      .select(col("vec_id"), col("m.j").as("dup_of"), col("m.cosine").as("cosine"))
      .collect().map(_.toSeq).toSet
    assert(banded == quad && banded.nonEmpty)
  }

  test("minHashNearDupPairs invariant under partitioning; catches the exact dup") {
    val one = collectPairs(Dedup.minHashNearDupPairs(docs(1), 0.5))
    val many = collectPairs(Dedup.minHashNearDupPairs(docs(5), 0.5))
    assert(one == many)
    assert(one.map(r => (r(0), r(1))).contains((1L, 4L)))
  }

  test("exactByContent groups identical content, deterministic survivor") {
    val out = Dedup.exactByContent(docs(3)).select("doc_id", "n_copies")
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L) // docs 1 and 4 share content; min id survives
    assert(out.values.sum == 6L)
  }

  test("simHash near-identical docs within small hamming distance; invariant to partitioning") {
    val bits = docs(4)
      .select(col("doc_id"), Dedup.simHashBits(Text.tokenSet(col("text"))).as("b"))
      .as[(Long, String)].collect().toMap
    assert(bits(1L) == bits(4L)) // identical content → identical fingerprint
    val d12 = bits(1L).zip(bits(2L)).count { case (x, y) => x != y }
    assert(d12 <= 8) // near-dup → close fingerprints (32-bit)
  }

  test("simHashNearDupPairs: band blocking equals the quadratic hamming scan") {
    // Interpreted bit-string hamming — the INDEPENDENT definition the
    // codegen'd bit_count(xor) production path is checked against. Test-only
    // on purpose: it walks 2×32 lambda frames per pair and must never be
    // picked up by main-tree code (round-3 verdict item 6).
    def hammingDistance(a: org.apache.spark.sql.Column,
                        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(zip_with(split(a, ""), split(b, ""),
        (x, y) => when(x =!= y, 1L).otherwise(0L)), lit(0L), _ + _)
    def quadratic(parts: Int) = {
      val fp = docs(parts).select(col("doc_id"),
        Dedup.simHashBits(Text.tokenSet(col("text"))).as("fp"))
      fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          hammingDistance(col("a.fp"), col("b.fp")).as("hamming"))
        .filter(col("hamming") <= 3)
    }
    val brute = collectPairs(quadratic(1))
    assert(brute.nonEmpty) // docs 1 and 4 are identical → hamming 0
    assert(collectPairs(Dedup.simHashNearDupPairs(docs(1), 3)) == brute)
    assert(collectPairs(Dedup.simHashNearDupPairs(docs(6), 3)) == brute)
    // scale shape: EXACTLY ONE join — the banded self-join. The
    // first-matching-band residual emits each candidate pair once and the
    // hamming verify is inline, so there is no distinct over the candidate
    // fan-out and no id-keyed join-back tail (at sf10 those re-shuffled
    // the ~10⁹-row candidate stream three times).
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = Dedup.simHashNearDupPairs(docs(1), 3).queryExecution.sparkPlan
    assert(p.collect { case j: BaseJoinExec => j }.size == 1,
      s"expected exactly one join (banded self-join, inline verify) in:\n$p")
  }

  test("nearDupClusters: distributed propagation path equals driver union-find path") {
    val viaDriver = Dedup.nearDupClusters(docs(3), 0.5)
      .collect().map(_.toSeq).toSet
    val viaCluster = Dedup.nearDupClusters(docs(3), 0.5, driverMaxPairs = 0)
      .collect().map(_.toSeq).toSet
    assert(viaDriver == viaCluster)
    assert(viaDriver.nonEmpty)
    // docs 1, 2, 4 form one near-dup component; min id 1 is the rep
    val reps = viaDriver.map(r => r(0) -> r(1)).toMap
    assert(reps(1L) == 1L && reps(2L) == 1L && reps(4L) == 1L)
  }

  test("cosineNearDupPairs and ivfTopK invariant under partitioning") {
    def vecs(parts: Int) = (1L to 60L)
      .map(i => (i, Array.tabulate(8)(j => math.sin(i * 31 + j).toFloat)))
      .toDF("vec_id", "embedding").repartition(parts)
    assert(collectPairs(Vectors.cosineNearDupPairs(vecs(1), 0.5)) ==
      collectPairs(Vectors.cosineNearDupPairs(vecs(6), 0.5)))
    def ivf(parts: Int) = Vectors.ivfTopK(
      vecs(parts), vecs(parts).filter(col("vec_id") % 10 === 0), 3,
      centroidEvery = 15, nprobe = 2)
      .select("query_id", "rank", "neighbor_id")
    assert(collectPairs(ivf(1)) == collectPairs(ivf(6)))
  }

  test("banded near-dup pairs equal the quadratic definition, any partitioning") {
    def vecs(parts: Int) = (1L to 60L)
      .map(i => (i, Array.tabulate(8)(j => math.sin(i * 31 + j).toFloat)))
      .toDF("vec_id", "embedding").repartition(parts)
    val exact = collectPairs(Vectors.cosineNearDupPairs(vecs(1), 0.5))
    assert(exact.nonEmpty)
    assert(collectPairs(Vectors.cosineNearDupPairsBanded(vecs(1), 0.5, dims = 8)) == exact)
    assert(collectPairs(Vectors.cosineNearDupPairsBanded(vecs(6), 0.5, dims = 8)) == exact)
  }

  test("staged banded verify: the prefix+Cauchy-Schwarz bound is valid, " +
      "tightens monotonically with prefix width, and stays lossless at " +
      "every width") {
    val raw = (1L to 60L)
      .map(i => (i, Array.tabulate(8)(j => math.sin(i * 31 + j).toFloat)))
    // bound math, pinned directly: UB(p) = dot_p + |a_r||b_r| ≥ dot(a,b)
    // for every p (Cauchy-Schwarz), and UB is non-increasing in p (CS on
    // the (|mid|, |rest|) 2-vectors), reaching the exact dot at p = dims
    def dotP(a: Array[Float], b: Array[Float], from: Int, until: Int) =
      (from until until).map(k => a(k).toDouble * b(k)).sum
    def ub(a: Array[Float], b: Array[Float], p: Int) =
      dotP(a, b, 0, p) + math.sqrt(dotP(a, a, p, 8)) * math.sqrt(dotP(b, b, p, 8))
    for {
      (i, a) <- raw.take(12); (j, b) <- raw.take(12) if i < j
    } {
      val exact = dotP(a, b, 0, 8)
      val ubs = (0 to 8).map(p => ub(a, b, p))
      ubs.foreach(u => assert(u >= exact - 1e-9, s"CS bound below dot at ($i,$j)"))
      ubs.sliding(2).foreach { w =>
        assert(w(1) <= w(0) + 1e-9, s"bound not monotone at ($i,$j)")
      }
      assert(math.abs(ubs.last - exact) < 1e-9)
    }
    // and a prefix-heavy pair where the bound provably FIRES below τ=0.5:
    // orthogonal 4-dim prefixes + tiny residuals → UB(4) ≈ εa·εb ≪ τ
    val hot = (
      Array(1f, 0f, 0f, 0f, 0.01f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0.01f, 0f, 0f))
    assert(ub(hot._1, hot._2, 4) < 0.001 && ub(hot._1, hot._2, 0) > 0.99,
      "prefix bound must separate what the norms-only bound cannot")
    // losslessness end-to-end at EVERY prefix width (0 = disabled,
    // 8 = exact-dot stage): the staged pair set ≡ quadratic reference
    val vecs = raw.toDF("vec_id", "embedding")
    val exactPairs = collectPairs(Vectors.cosineNearDupPairs(vecs, 0.5))
    assert(exactPairs.nonEmpty)
    // ... under BOTH verify shapes: broadcast join-back probes (default)
    // and the inline payload carry (maxRows = 0 forces it)
    for (p <- Seq(0, 2, 4, 8); maxRows <- Seq(0L, Vectors.BroadcastVerifyMaxRows)) {
      val (pairs, release) = Vectors.cosineNearDupPairsBandedWithHandle(
        vecs, 0.5, dims = 8, prefixDims = p,
        broadcastVerifyMaxRows = maxRows)
      assert(collectPairs(pairs) == exactPairs,
        s"lossless fails at p=$p maxRows=$maxRows")
      release()
    }
  }

  test("ngramCandidateBudget: Σ C(bucket,2) over (lang, prefix-shingle) " +
      "buckets — hand-derivable on identical docs, lang-partitioned, " +
      "partitioning-invariant") {
    // three IDENTICAL en docs: 10 distinct tokens → 8 shingles, prefix
    // bound floor(0.4·8)+2 = 5 → the SAME 5 digest-min shingles in every
    // doc → 5 buckets of c=3 → cand_pairs = 5·C(3,2) = 15. A fourth
    // identical doc in another lang buckets separately (c=1, no pairs).
    val text = "a b c d e f g h i j"
    def corpus(parts: Int) = Seq(
      (1L, "en", text), (2L, "en", text), (3L, "en", text),
      (4L, "de", text)).toDF("doc_id", "lang", "text").repartition(parts)
    val r = Dedup.ngramCandidateBudget(corpus(1), 3, 0.6).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 10L, 3L, 15L)), s"got $r")
    val r7 = Dedup.ngramCandidateBudget(corpus(7), 3, 0.6).collect()(0)
    assert(r.toSeq == r7.toSeq)
    // the budget bounds the realized join: verified pairs ≤ cand_pairs
    val pairs = Dedup.ngramJaccardPairs(corpus(1), 3, 0.6).count()
    assert(pairs == 3L && pairs <= r.getLong(3))
  }

  test("containmentPairs: an excerpt is contained in its superset, not vice versa") {
    val d = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta"), // excerpt of 2
      (2L, "en", "prologue alpha beta gamma delta epsilon zeta epilogue coda end"),
      (3L, "en", "completely unrelated words about nothing at all here"),
      (4L, "en", "xy") // < n tokens: empty shingle set, never a src
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.containmentPairs(d, 3, 0.8)
      .select("src", "dst", "containment").as[(Long, Long, Double)]
      .collect().toSet
    // all 4 of doc 1's 3-grams occur in doc 2 → containment 1.0; the
    // reverse direction is 4/8 = 0.5 and must NOT appear at t=0.8
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("semanticDedup: drop rule matches a brute-force within-cell recompute") {
    val emb = graft.tables.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Vectors.semanticDedup(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == emb.count())
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
      // floor(x·1e6 + 0.5)/1e6 — the same pure-double 6dp rounding as
      // Vectors.round6 (and its oracle mirror)
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1e6 + 0.5) / 1e6
    }
    // Taking the CELL ASSIGNMENT as given (the oracle pins it), a vec must
    // be dropped iff some smaller-id same-cell vec has cosine ≥ threshold.
    val byCell = out.groupBy(_._2)
    for ((_, members) <- byCell; (id, _, kept) <- members) {
      val dupOfSmaller = members.exists { case (oid, _, _) =>
        oid < id && cos(vecs(oid), vecs(id)) >= 0.4
      }
      assert(kept == !dupOfSmaller, s"vec $id: kept=$kept, brute=$dupOfSmaller")
    }
    // and the pass must actually drop something on this corpus
    assert(out.exists(!_._3) && out.exists(_._3))
  }

  test("ANN recall@5 vs exact top-k at sf0.01 stays above the 0.8 floor") {
    val dir = "/root/testdata/sf0.01"
    val emb = graft.tables.Tables.load(spark, dir, "embeddings")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val lshQ = emb.filter(col("vec_id") % 50 === 0)
    val lshRecall = {
      val exact = pairs(Vectors.cosineTopK(emb, lshQ, 5))
      pairs(Vectors.annTopK(emb, lshQ, 5)).intersect(exact).size.toDouble / exact.size
    }
    val ivfQ = emb.filter(col("vec_id") % 100 === 0)
    val ivfRecall = {
      val exact = pairs(Vectors.cosineTopK(emb, ivfQ, 5))
      pairs(Vectors.ivfTopK(emb, ivfQ, 5, centroidEvery = 50, nprobe = 2))
        .intersect(exact).size.toDouble / exact.size
    }
    info(f"recall@5 on sf0.01: lsh=$lshRecall%.2f ivf=$ivfRecall%.2f")
    // guards against silently-useless bucketing: single-band LSH (the
    // naive shape) measures 0.02 here; multi-band measures 0.98, IVF 1.0
    assert(lshRecall >= 0.8, s"LSH ANN recall@5 $lshRecall below 0.8")
    assert(ivfRecall >= 0.8, s"IVF ANN recall@5 $ivfRecall below 0.8")
  }

  test("ivfTopK Lloyd refinement: quantization objective improves monotonically, recall floor holds") {
    val dir = "/root/testdata/sf0.01"
    val emb = graft.tables.Tables.load(spark, dir, "embeddings")
    // Spherical k-means' actual guarantee — the one worth pinning on ANY
    // data: each assign-then-mean round is monotone in the quantization
    // objective (mean best-centroid cosine). Retrieval recall at equal
    // nprobe is NOT guaranteed to rise, and on this deliberately isotropic
    // test corpus it can drop (there is no cluster structure to find; the
    // seed Voronoi already gives recall 1.0) — so recall gets a floor, not
    // a monotonicity claim.
    def objective(lloyd: Int): Double = {
      val cents = Vectors.ivfCentroids(emb, centroidEvery = 50, lloydIters = lloyd)
      emb.select(col("vec_id"), col("embedding"))
        .join(cents, org.apache.spark.sql.functions.lit(true))
        .select(col("vec_id"),
          (Vectors.cosine(col("embedding"), col("cv"))).as("c"))
        .groupBy(col("vec_id")).agg(max(col("c")).as("best"))
        .agg(avg(col("best"))).as[Double].head()
    }
    val objSeed = objective(0)
    val obj1 = objective(1)
    val obj2 = objective(2)
    info(f"IVF quantization objective: seed=$objSeed%.4f lloyd1=$obj1%.4f lloyd2=$obj2%.4f")
    assert(obj1 >= objSeed - 1e-9, s"Lloyd round 1 worsened quantization: $objSeed -> $obj1")
    assert(obj2 >= obj1 - 1e-9, s"Lloyd round 2 worsened quantization: $obj1 -> $obj2")
    // and refined retrieval keeps a usable floor at half the probes
    val q = emb.filter(col("vec_id") % 100 === 0)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val exact = pairs(Vectors.cosineTopK(emb, q, 5))
    val refined = pairs(Vectors.ivfTopK(emb, q, 5, centroidEvery = 50,
      nprobe = 1, lloydIters = 2)).intersect(exact).size.toDouble / exact.size
    info(f"refined IVF recall@5 at nprobe=1: $refined%.2f")
    assert(refined >= 0.8, s"refined IVF recall@5 $refined below 0.8")
    // the catalog's verdict surface reports the same invariants as all-ok
    val verdict = Vectors.ivfRefinedVerdict(emb, q, 5, centroidEvery = 50,
        nprobe = 2, lloydIters = 2, recallFloorBp = 8000L)
      .as[(String, Boolean)].collect().toMap
    assert(verdict == Map("objective_monotone_r1" -> true,
      "objective_monotone_r2" -> true, "recall_floor" -> true))
  }

  test("IVF stored index: probe equals a fresh ivfTopK; probe prunes to probed cells") {
    val emb = graft.tables.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = tmpDir("ivf-index")
    Vectors.writeIvfIndex(emb, dir)
    val (cents, lists) = Vectors.readIvfIndex(spark, dir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val viaIndex = Vectors.ivfTopKIndexed(queries, cents, lists, 5, nprobe = 2)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    val viaRebuild = Vectors.ivfTopK(emb, queries, 5, centroidEvery = 50, nprobe = 2)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    assert(viaIndex == viaRebuild && viaIndex.nonEmpty)
    // the probe reads ONLY the probed cells' partition directories — the
    // inverted-list pruning that makes stored IVF the 100 TB path
    val cells = Vectors.cellAssignments(queries, cents, keep = 2)
      .select("cell").distinct().as[Long].collect().toSet
    assert(cells.nonEmpty)
    val df = Vectors.ivfTopKIndexed(queries, cents, lists, 5, nprobe = 2)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.filter(_.relation.location.rootPaths.exists(_.toString.contains("lists")))
    assert(scans.nonEmpty)
    val files = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(f => cells.exists(c => f.contains(s"cell=$c"))),
      s"lists scan touches unprobed cells: ${files.filterNot(f => cells.exists(c => f.contains(s"cell=$c"))).take(3)}")
    // mismatched dimensionality must fail fast, not silently score garbage
    intercept[IllegalArgumentException] {
      Vectors.ivfTopKIndexed(queries, cents, lists, 5, nprobe = 2, dims = 32)
    }
  }

  test("preflight memo: frame identity keyed — fresh or re-parameterized probes re-check") {
    val corpus = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "en", "the quick brown fox jumps over the lazy dog today"),
      (3L, "en", "completely different text about spark engines at scale")
    ).toDF("doc_id", "lang", "text")
    val dir = tmpDir("mh-preflight")
    Dedup.writeMinHashIndex(corpus, dir)
    val (t1, b1) = Dedup.readMinHashIndex(spark, dir)
    Dedup.minHashPreflight(t1, b1, 16, 8, 3) // checked + memoized
    Dedup.minHashPreflight(t1, b1, 16, 8, 3) // memo hit
    // FRESH frames over the same bytes with wrong geometry must still be
    // re-checked and fail — a hash-code-keyed memo could let them collide
    // with the checked entry and slip through
    val (t2, b2) = Dedup.readMinHashIndex(spark, dir)
    intercept[IllegalArgumentException] { Dedup.minHashPreflight(t2, b2, 32, 16, 3) }
    // the SAME memoized frames probed with different params re-check too
    intercept[IllegalArgumentException] { Dedup.minHashPreflight(t1, b1, 16, 8, 4) }
    // weak keys: per-batch frames (the dedupDocumentBatch loop shape) must
    // not pin memo entries for the life of the JVM
    (1 to 16).foreach { _ =>
      val (tx, bx) = Dedup.readMinHashIndex(spark, dir)
      Dedup.minHashPreflight(tx, bx, 16, 8, 3)
    }
    var attempts = 0
    while (Dedup.preflightMemoSize > 4 && attempts < 30) {
      System.gc(); Thread.sleep(50); attempts += 1
    }
    assert(Dedup.preflightMemoSize <= 4,
      s"preflight memo retained ${Dedup.preflightMemoSize} entries after GC — " +
        "weak keying is not releasing dead frames")
  }

  test("StoredIndexes steady state: stored labels + index probe merge equals full recompute") {
    import graft.catalog.StoredIndexes
    val dir = "/root/testdata/sf0.001"
    val (toks, banded) = StoredIndexes.minHash(spark, dir)
    val labels = StoredIndexes.clusterLabels(spark, dir)
    val batch = graft.tables.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % StoredIndexes.DocMod === 0)
    val newPairs = Dedup.minHashIncrementalIndexedPairs(batch, toks, banded, 0.5)
      .select(col("doc_id").as("doc_a"), col("dup_of").as("doc_b"))
    val merged = Dedup.mergeClusters(labels, newPairs)
      .collect().map(_.toSeq).toSet
    val full = Dedup.nearDupClusters(
        graft.tables.Tables.load(spark, dir, "documents"), 0.5)
      .collect().map(_.toSeq).toSet
    assert(merged == full && merged.nonEmpty)
  }

  test("keepBestPerCluster: argmax score with lowest-id tiebreak, member counts") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_rep")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 4L), (8L, 4L))
      .toDF("doc_id", "score")
    val out = Dedup.keepBestPerCluster(labels, scores)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // cluster 1: 2 and 3 tie at 9 → keep 2 (lower id); 3 members
    // cluster 7: 7 and 8 tie at 4 → keep 7; 2 members
    assert(out == Map(1L -> ((2L, 9L, 3L)), 7L -> ((7L, 4L, 2L))))
  }

  test("knnGraph equals the quadratic τ-filtered top-k on the test corpus") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val emb = graft.tables.Tables.load(spark, dir, "embeddings")
    val got = Vectors.knnGraph(emb, 0.4, 3).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("dst"), r.getAs[Double]("cosine")))).toMap
    // quadratic reference: symmetrize the exact pair list, rank per src
    val pairs = Vectors.cosineNearDupPairs(emb, 0.4)
    val sym = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"),
        col("cosine"))
      .unionAll(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst"),
        col("cosine")))
    val expect = sym.withColumn("rank", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("cosine").desc, col("dst"))))
      .filter(col("rank") <= 3).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("dst"), r.getAs[Double]("cosine")))).toMap
    assert(got.nonEmpty && got == expect)
    // rank bounded by k and dense from 1 per source
    val ranks = got.keys.groupBy(_._1).view.mapValues(
      _.map(_._2).toSeq.sorted).toMap
    assert(ranks.values.forall(rs => rs == (1 to rs.length)))
  }

  test("centroidOutliers: hand-computed exact-mean distances, label isolation") {
    // label 0 on a line: x = 0, 4, 1 → centroid 5/3; label 1: two points
    // equidistant from their centroid → vec_id breaks the tie.
    val emb = Seq(
      (0L, 1L, Array(0f, 0f)), (0L, 2L, Array(4f, 0f)),
      (0L, 3L, Array(1f, 0f)),
      (1L, 4L, Array(0f, 2f)), (1L, 5L, Array(0f, 4f)))
      .toDF("label", "vec_id", "embedding")
    val got = Vectors.centroidOutliers(emb, 2)
      .select(col("label"), col("vec_id"), col("dist2"), col("rank"))
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap
    // replay the op's exact float math: scaled components, decimal-exact
    // mean, double distance, 6dp
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val c0 = (0.0 + 4e6 + 1e6) / 3.0
    def d0(x: Double) = r6(((x * 1e6 - c0) * (x * 1e6 - c0)) / 1e12)
    assert(got((0L, 1)) == ((2L, d0(4.0))))   // farthest: x = 4
    assert(got((0L, 2)) == ((1L, d0(0.0))))
    // label 1: both at distance 1 from centroid (0,3) → lower vec_id first
    assert(got((1L, 1))._1 == 4L && got((1L, 2))._1 == 5L)
    assert(got((1L, 1))._2 == 1.0 && got((1L, 2))._2 == 1.0)
    assert(got.size == 4)
  }

  test("kCenterGreedy: hand-traced max-min trajectory on a line, ties to " +
      "smaller id, k=1 returns the seed") {
    // points 0, 1, 10, 11 on a line; seed = smallest id (value 0).
    // round 2 picks value 11 (farthest); then values 1 and 10 are both at
    // min-dist² (1e6)² from the chosen set → tie breaks to id 2, then 3.
    val emb = Seq(
      (1L, Array(0f)), (2L, Array(1f)), (3L, Array(10f)), (4L, Array(11f)))
      .toDF("vec_id", "embedding")
    val got = Vectors.kCenterGreedy(emb, 4)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val u = 1000000L // micro-unit scale
    assert(got == Seq(
      (1L, 1L, 0L),
      (2L, 4L, 11L * u * 11L * u),
      (3L, 2L, u * u),
      (4L, 3L, u * u)))
    assert(Vectors.kCenterGreedy(emb, 1).as[(Long, Long, Long)]
      .collect().toSeq == Seq((1L, 1L, 0L)))
  }

  test("kCenterGreedy: duplicated vectors never re-pick an id; k past the " +
      "corpus stops early with distinct picks") {
    // two distinct positions, three rows (ids 1 and 3 are duplicates at 0).
    // With k=5: seed id1 (0), round 2 picks id2 (farthest), round 3 must
    // pick the DUPLICATE id3 at dist2=0 — not re-pick the seed — and
    // round 4 finds no unpicked ids, so the result has 3 rows.
    val emb = Seq((1L, Array(0f)), (2L, Array(7f)), (3L, Array(0f)))
      .toDF("vec_id", "embedding")
    val got = Vectors.kCenterGreedy(emb, 5)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val u = 1000000L
    assert(got == Seq((1L, 1L, 0L), (2L, 2L, 49L * u * u), (3L, 3L, 0L)))
    assert(got.map(_._2).distinct.size == got.size)
  }

  // ---- dbscanCosine ------------------------------------------------------

  /** 64-dim one-hot composition: Σ eᵢ for the given axes — exact cosine
    * structure (1/√2 between a hub and hub+spoke, 1/2 between two spokes
    * of one hub, 0 across hubs), so the graph at τ=0.6 is known by hand.
    */
  private def axes(is: Int*): Array[Float] = {
    val v = new Array[Float](64)
    is.foreach(i => v(i) = 1f)
    v
  }

  private def dbscanMap(df: DataFrame): Map[Long, (String, Long)] =
    df.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("dbscanCosine: two star clusters, a bridge border that must NOT " +
      "merge them, min-rep assignment, isolated noise") {
    // hubs 0 and 10 (cos 0.707 to each spoke and to the bridge), spokes
    // at cos 0.5 to each other (< τ), bridge 20 = e0+e10 touches BOTH
    // hubs; 30 is isolated. τ=0.6, minPts=3 → hubs core (deg 4), spokes
    // border (deg 1), bridge border (deg 2 < 3 — a core bridge WOULD
    // merge the clusters; a border bridge must not).
    val vecs = Seq(
      0L -> axes(0), 1L -> axes(0, 1), 2L -> axes(0, 2), 3L -> axes(0, 3),
      10L -> axes(10), 11L -> axes(10, 11), 12L -> axes(10, 12),
      13L -> axes(10, 13), 20L -> axes(0, 10), 30L -> axes(20))
      .toDF("vec_id", "embedding").repartition(5)
    // shallow 1-plane bands (32 of them) so banding recall is a
    // non-issue at cos 0.707 on this tiny fixture
    val out = dbscanMap(Vectors.dbscanCosine(vecs, 0.6, 3,
      planesPerBand = 1, bands = 32))
    assert(out.size == 10, "every input id must be labeled")
    assert(out(0L) == ("core", 0L) && out(10L) == ("core", 10L))
    Seq(1L, 2L, 3L).foreach(i => assert(out(i) == ("border", 0L)))
    Seq(11L, 12L, 13L).foreach(i => assert(out(i) == ("border", 10L)))
    // bridge: reachable from clusters 0 AND 10 → deterministic MIN rep
    assert(out(20L) == ("border", 0L))
    assert(out(30L) == ("noise", -1L))
  }

  test("dbscanCosine: a core whose neighbors are all non-core still " +
      "clusters (self-loop), alone") {
    val vecs = Seq(5L -> axes(0), 6L -> axes(0, 1), 7L -> axes(0, 2))
      .toDF("vec_id", "embedding")
    val out = dbscanMap(Vectors.dbscanCosine(vecs, 0.6, 2,
      planesPerBand = 1, bands = 32))
    assert(out(5L) == ("core", 5L))
    assert(out(6L) == ("border", 5L) && out(7L) == ("border", 5L))
  }

  test("dbscanAssign: min-rep over CORE neighbors only — a border-only " +
      "neighbor does not confer membership; untouched points are noise") {
    val labels = Seq(
      (100L, "core", 100L), (101L, "core", 100L),
      (200L, "core", 200L), (150L, "border", 100L))
      .toDF("vec_id", "role", "cluster_rep")
    val pairs = Seq(
      (1L, 100L), // one core neighbor → cluster 100
      (2L, 200L), (2L, 101L), // two clusters' cores → MIN rep 100
      (3L, 150L)) // only a BORDER neighbor → stays noise
      .toDF("vec_id", "dup_of")
    val ids = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val out = Vectors.dbscanAssign(ids, pairs, labels)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      1L -> ("border", 100L), 2L -> ("border", 100L),
      3L -> ("noise", -1L), 4L -> ("noise", -1L)))
  }

  test("dbscanCosine: minPts past every degree → all noise; labeling " +
      "invariant under partitioning") {
    val vecs = Seq(
      0L -> axes(0), 1L -> axes(0, 1), 2L -> axes(0, 2), 3L -> axes(0, 3),
      10L -> axes(10), 11L -> axes(10, 11), 20L -> axes(0, 10))
      .toDF("vec_id", "embedding")
    val allNoise = dbscanMap(Vectors.dbscanCosine(vecs, 0.6, 10,
      planesPerBand = 1, bands = 32))
    assert(allNoise.values.forall(_ == ("noise", -1L)))
    val one = dbscanMap(Vectors.dbscanCosine(vecs.repartition(1), 0.6, 2,
      planesPerBand = 1, bands = 32))
    val many = dbscanMap(Vectors.dbscanCosine(vecs.repartition(7), 0.6, 2,
      planesPerBand = 1, bands = 32))
    assert(one == many)
  }

  test("minHash size prune is lossless under extreme length skew: banded " +
      "pairs ≡ quadratic exact-Jaccard reference") {
    // a short doc that SHARES its minhash-relevant shingles with a much
    // longer one (prefix-identical text) bands together but cannot reach
    // J ≥ 0.5 on sizes alone — exactly what the t·max ≤ min prune kills
    // before the verify join-backs; plus a true near-dup pair that must
    // survive. The quadratic reference is the ground truth for both.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val skew = Seq(
      (1L, "en", base),
      (2L, "en", base + " extra"),                     // true near-dup of 1
      (3L, "en", "tok1 tok2 tok3 tok4 tok5"),          // short prefix slice
      (4L, "en", base + " " + (41 to 99).map(i => s"pad$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val banded = collectPairs(Dedup.minHashNearDupPairs(skew, 0.5))
    val sh = Dedup.shingles(col("text"), 3)
    val j = round(
      size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))), 4)
    val t = skew.select(col("doc_id"), sh.as("sh"))
    val quad = t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        j.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    // banded ⊆ quadratic always (LSH misses are allowed; false POSITIVES
    // are not) — and on this fixture the signatures agree everywhere, so
    // the sets are equal and the surviving pair is the true near-dup
    assert(banded == collectPairs(quad), s"got $banded")
    assert(banded.map(r => (r(0), r(1))) == Set((1L, 2L)))
  }

  test("exactIncrementalBloom ≡ exactIncremental at ANY fpp — generous " +
      "bloom (no FPs) and a saturated 64-bit bloom (everything a 'hit') " +
      "produce the identical survivor set") {
    val corpus = Seq(
      (10L, "en", "alpha beta gamma"), (11L, "en", "delta epsilon zeta"),
      (12L, "en", "eta theta iota")).toDF("doc_id", "lang", "text")
    val batch = Seq(
      (20L, "en", "alpha beta gamma"),   // exact corpus dup → dropped
      (21L, "en", "brand new text one"), // novel
      (22L, "en", "brand new text two"), // novel
      (23L, "en", "brand new text one")  // batch-internal dup of 21
    ).toDF("doc_id", "lang", "text")
    val digests = Dedup.contentDigests(corpus)
    val want = Dedup.exactIncremental(batch, digests)
      .select("doc_id").as[Long].collect().toSet
    assert(want == Set(21L, 22L))
    for (bits <- Seq(1L << 20, 64L)) { // 64 bits over 3 digests ⇒ FPs certain
      val bloom = Dedup.digestBloom(digests, expectedItems = 8, numBits = bits)
      val got = Dedup.exactIncrementalBloom(batch, digests, bloom)
        .select("doc_id").as[Long].collect().toSet
      assert(got == want, s"bloom path diverged at numBits=$bits: $got")
    }
    // no false negatives: with a generous bloom the corpus dup must HIT
    // (be pruned) — proven by the survivor set already excluding 20
  }

  test("exactIncremental over a corpus with repeated digests ≡ the naive " +
      "form, NULL ids and texts, ties and reused ids included; the bloom " +
      "path agrees") {
    val corpus = Seq[(java.lang.Long, String)](
      (10L, "alpha beta gamma"), (11L, "alpha beta gamma"), (12L, "alpha beta gamma"),
      (13L, "delta epsilon zeta"), (13L, "delta epsilon zeta"), (null, "eta theta iota"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val batch = Seq[(java.lang.Long, String)](
      (20L, "alpha beta gamma"),                           // corpus dup, three times over
      (21L, "brand new text one"), (23L, "brand new text one"), // 21 wins
      (22L, "brand new text two"), (22L, "brand new text two"), // tie: both stay
      (24L, "eta theta iota"),                             // corpus text under a NULL id
      (null, "a text without an id"), (25L, null),         // both drop
      (26L, "kappa lambda mu"), (26L, "nu xi omicron"))    // one id, two texts: both stay
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    // naive: per text, the rows holding the minimum non-NULL id, unless
    // the corpus holds the text at all
    val corpusTexts = corpus.select("text").as[String].collect().toSet
    val rows = batch.select("doc_id", "text").as[(Option[Long], Option[String])].collect()
    val want = rows.collect { case (Some(id), Some(t)) => (id, t) }
      .groupBy(_._2).values.flatMap { g => g.filter(_._1 == g.map(_._1).min) }
      .filterNot(r => corpusTexts(r._2)).map(_._1).toSeq.sorted
    assert(want == Seq(21L, 22L, 22L, 26L, 26L))
    val digests = Dedup.contentDigests(corpus)
    val got = Dedup.exactIncremental(batch, digests).select("doc_id").as[Long]
      .collect().toSeq.sorted
    assert(got == want)
    val bloom = Dedup.digestBloom(digests, expectedItems = 8, numBits = 64)
    assert(Dedup.exactIncrementalBloom(batch, digests, bloom).select("doc_id")
      .as[Long].collect().toSeq.sorted == want)
  }

  test("digestBloom: production sizing ABOVE the optimizer bloom conf caps " +
      "builds (confs raised around the agg) and the caps are restored after") {
    val digests = Dedup.contentDigests(
      Seq((1L, "en", "alpha beta gamma")).toDF("doc_id", "lang", "text"))
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (items0, bits0) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    // defaults: 4M items / 64M bits — both sizes below exceed them
    val bloom = Dedup.digestBloom(digests,
      expectedItems = 10000000L, numBits = 100000000L)
    assert(bloom.length > 100000000 / 8,
      s"sketch too small for the requested bits: ${bloom.length}")
    assert(spark.conf.get(itemsKey) == items0 &&
      spark.conf.get(bitsKey) == bits0,
      "bloom conf caps must be restored after the aggregate")
    // and the big sketch still answers membership correctly
    val hit = digests.filter(
      Dedup.bloomMightContain(bloom, col("content_md5"))).count()
    assert(hit == 1L)
  }

  test("digestBloom over an EMPTY corpus yields a valid all-zeros sketch " +
      "(not null), and exactIncrementalBloom treats the whole batch as " +
      "novel instead of silently dropping it") {
    val emptyCorpus = Dedup.contentDigests(
      Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text"))
    val bloom = Dedup.digestBloom(emptyCorpus,
      expectedItems = 1L << 10, numBits = 1L << 14)
    assert(bloom != null && bloom.length > 0)
    val batch = Seq((1L, "en", "alpha beta"), (2L, "en", "gamma delta"))
      .toDF("doc_id", "lang", "text")
    // no member can hit an all-zeros filter
    assert(batch.select(md5(col("text").cast("binary")).as("content_md5"))
      .filter(Dedup.bloomMightContain(bloom, col("content_md5")))
      .count() == 0L)
    val got = Dedup.exactIncrementalBloom(batch, emptyCorpus, bloom)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("containmentCandidateBudget: Σ (df − 1) over src-prefix entries — " +
      "hand-derivable, lang-partitioned, bounds the realized join") {
    // three IDENTICAL en docs (10 tokens → 8 shingles, prefix bound
    // floor(0.2·8)+2 = 3): every doc's 3 prefix shingles have df = 3 →
    // Σ (3−1) over 9 prefix rows = 18 directed candidates. The de twin
    // buckets separately (df = 1 → contributes 0).
    val text = "a b c d e f g h i j"
    def corpus(parts: Int) = Seq(
      (1L, "en", text), (2L, "en", text), (3L, "en", text),
      (4L, "de", text)).toDF("doc_id", "lang", "text").repartition(parts)
    val r = Dedup.containmentCandidateBudget(corpus(1), 3, 0.8).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 12L, 3L, 18L)), s"got $r")
    val r7 = Dedup.containmentCandidateBudget(corpus(7), 3, 0.8).collect()(0)
    assert(r.toSeq == r7.toSeq)
    // budget bounds the realized directed pairs (6 among the en triple)
    val pairs = Dedup.containmentPairs(corpus(1), 3, 0.8).count()
    assert(pairs == 6L && pairs <= r.getLong(3))
  }

  test("commonSpanCandidateBudget: Σ C(df,2) over kept spans is EXACTLY " +
      "the join fan-out (Σ n_spans over emitted pairs); hot spans counted") {
    val a = "one two three four five six seven eight nine ten"
    val d = Seq(
      (1L, "en", a),                     // shares all spans with 2
      (2L, "en", a),
      (3L, "en", a + " eleven"),         // shares a's spans + its own tail
      (4L, "en", "completely different words making no shared span here x y"))
      .toDF("doc_id", "lang", "text")
    val b = Dedup.commonSpanCandidateBudget(d, 8, maxDf = 64).collect()(0)
    val pairs = Dedup.commonSpanPairs(d, 8, maxDf = 64)
    val sumSpans = pairs.agg(sum(col("n_spans"))).collect()(0).getLong(0)
    assert(b.getLong(3) == sumSpans && sumSpans > 0,
      s"budget ${b.getLong(3)} != realized fan-out $sumSpans")
    assert(b.getLong(2) == 0L) // no span hotter than the cap here
    // with the cap BELOW the shared df, those spans become "hot" and the
    // budget collapses to the tail spans only
    val capped = Dedup.commonSpanCandidateBudget(d, 8, maxDf = 2).collect()(0)
    val cappedPairs = Dedup.commonSpanPairs(d, 8, maxDf = 2)
    assert(capped.getLong(3) ==
      cappedPairs.agg(coalesce(sum(col("n_spans")), lit(0L)))
        .collect()(0).getLong(0))
    assert(capped.getLong(2) > 0L)
  }
}
