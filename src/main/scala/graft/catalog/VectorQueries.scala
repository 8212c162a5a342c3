package graft.catalog

import org.apache.spark.sql.functions._
import graft.ops.{Stop, Vectors}
import graft.tables.Tables.load

/** Similarity-search query surface over `embeddings(vec_id, embedding
  * ARRAY<FLOAT>, label)` — SURVEY §2.9 X4 + north-star ANN extension.
  *
  * Determinism across engines: all math is double (float→double conversion
  * is exact), dot products are element-ordered folds on both sides, cosines
  * are rounded to 6dp before ranking, and ties break on the neighbor id.
  */
object VectorQueries extends Catalog {

  // Oracle-SQL fragments: explicit-formula cosine between DOUBLE[] a and b.
  // 6dp rounding is floor(x·1e6 + 0.5)/1e6 — the VERBATIM mirror of
  // `Vectors.round6` (pure IEEE multiply → add → floor → divide, identical
  // on both engines by construction; round() would compare Spark's
  // shortest-decimal-repr BigDecimal rounding against DuckDB's binary
  // rounding, a latent boundary-mismatch class — and the BigDecimal
  // round-trip per pair was the sf1 kNN verify's dominant CPU cost).
  private def round6Sql(x: String) =
    s"floor(($x) * 1000000 + 0.5) / 1000000.0"
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
  private def cosSql(a: String, b: String) =
    round6Sql(s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))")
  // Prefix-dim (Matryoshka) variants: the same formulas over dims 1..16.
  private def dotPreSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, 17), i -> $a[i] * $b[i]))"
  private def cosPreSql(a: String, b: String) =
    round6Sql(
      s"${dotPreSql(a, b)} / (sqrt(${dotPreSql(a, a)}) * sqrt(${dotPreSql(b, b)}))")

  // vector_kcenter_coreset: the greedy max-min trajectory replayed round
  // by round — one argmax CTE per selection (the BPE/pageRank unroll
  // discipline), min-distance state folded ONE new center per round
  // exactly like the Spark side.
  /** The DBSCAN clustering CTE chain (τ = 0.4, minPts = 2 neighbors) over
    * the embeddings restricted by `where` — shared verbatim by the
    * full-corpus query and the assign-only twin so the two clusterings
    * cannot drift. Ends at `lab` (core → min-rep) and `border`.
    */
  private def dbscanCtes(where: String): String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings $where),
       |p AS (SELECT a.vec_id AS a, b.vec_id AS b
       |      FROM v a JOIN v b ON a.vec_id < b.vec_id
       |      WHERE ${cosSql("a.e", "b.e")} >= 0.4),
       |sym AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
       |core AS (SELECT a AS id FROM sym GROUP BY a
       |         HAVING count(*) >= 2),
       |ce AS (SELECT s.a, s.b FROM sym s
       |         JOIN core c1 ON s.a = c1.id JOIN core c2 ON s.b = c2.id
       |       UNION ALL SELECT id, id FROM core),
       |reach(a, b) AS (SELECT id, id FROM core
       |  UNION
       |  SELECT r.a, ce.b FROM reach r JOIN ce ON ce.a = r.b),
       |lab AS (SELECT a AS node, min(b) AS rep FROM reach GROUP BY a),
       |border AS (SELECT s.a AS node, min(l.rep) AS rep
       |  FROM sym s JOIN lab l ON s.b = l.node
       |  WHERE s.a NOT IN (SELECT id FROM core)
       |  GROUP BY s.a)""".stripMargin

  private def kCenterOracle(k: Int): String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(range(64), j -> ($a[j+1] - $b[j+1]) * ($a[j+1] - $b[j+1])))"
    val head =
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |      x -> floor(x * 1000000.0 + 0.5)::BIGINT) AS sv
         |  FROM embeddings),
         |s1 AS (SELECT vec_id, sv FROM v ORDER BY vec_id LIMIT 1),
         |m1 AS (SELECT v.vec_id, v.sv, ${d2("v.sv", "s.sv")} AS mind2
         |  FROM v, s1 s)""".stripMargin
    val rounds = (2 to k).map { r =>
      // mirror the Spark side's picked-id exclusion (see kCenterGreedy):
      // prior picks are s1 plus p2..p_{r-1}
      val picked = (s"SELECT vec_id FROM s1" +:
        (2 until r).map(i => s"SELECT vec_id FROM p$i")).mkString(" UNION ALL ")
      val pick =
        s""",
           |p$r AS (SELECT vec_id, mind2 FROM m${r - 1}
           |  WHERE vec_id NOT IN ($picked)
           |  ORDER BY mind2 DESC, vec_id LIMIT 1)""".stripMargin
      val fold = if (r < k)
        s""",
           |s$r AS (SELECT v.vec_id, v.sv FROM v JOIN p$r USING (vec_id)),
           |m$r AS (SELECT m.vec_id, m.sv,
           |    least(m.mind2, ${d2("m.sv", "s.sv")}) AS mind2
           |  FROM m${r - 1} m, s$r s)""".stripMargin
      else ""
      pick + fold
    }.mkString
    val out = (2 to k)
      .map(r => s"UNION ALL SELECT $r, vec_id, mind2 FROM p$r")
      .mkString("\n")
    s"""$head$rounds
       |SELECT sel_round::BIGINT AS sel_round, vec_id, dist2::BIGINT AS dist2
       |FROM (
       |  SELECT 1 AS sel_round, vec_id, 0 AS dist2 FROM s1
       |$out) t ORDER BY sel_round""".stripMargin
  }

  // sim_matryoshka_recall: both rankings (full 64-dim and prefix 16-dim)
  // replayed in SQL over the capped query set, overlap counted per query.
  private lazy val MatryoshkaOracle =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |qs AS (SELECT vec_id FROM v WHERE vec_id % 50 = 0
       |  ORDER BY vec_id LIMIT 40),
       |fk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.e", "c.e")} DESC, c.vec_id) AS rk
       |    FROM v q JOIN v c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id IN (SELECT vec_id FROM qs)) t WHERE rk <= 5),
       |pk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosPreSql("q.e", "c.e")} DESC, c.vec_id) AS rk
       |    FROM v q JOIN v c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id IN (SELECT vec_id FROM qs)) t WHERE rk <= 5),
       |h AS (SELECT f.query_id, count(*) AS hits
       |  FROM fk f JOIN pk USING (query_id, neighbor_id) GROUP BY 1)
       |SELECT qs.vec_id AS query_id,
       |  coalesce(hits, 0)::BIGINT AS hits,
       |  (coalesce(hits, 0) * 2000)::BIGINT AS recall_bp
       |FROM qs LEFT JOIN h ON h.query_id = qs.vec_id
       |ORDER BY query_id""".stripMargin

  // Shared by vector_pq_codebook / vector_pq_encode: the FULL exact-
  // integer PQ training pipeline in SQL — micro-unit scaling, md5-ordered
  // seeds, nearest-centroid assignment with (dist, code) tiebreak, one
  // floor-division Lloyd round, empty cells keeping their seed. Ends at
  // the trained codebook CTE `cb` (and leaves `sub` in scope for encode).
  private val PqTrainSql =
    """WITH v AS (SELECT vec_id AS id,
      |    list_transform(embedding::DOUBLE[],
      |      x -> floor(x * 1000000.0 + 0.5)::BIGINT) AS sv
      |  FROM embeddings),
      |sub AS (SELECT id, s, sv[(s*16+1):(s*16+16)] AS sub
      |  FROM v, (SELECT unnest(range(4)) AS s) m),
      |seeds AS (SELECT id,
      |    row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS code
      |  FROM v QUALIFY code < 16),
      |init AS (SELECT sub.s, seeds.code, sub.sub AS cvec
      |  FROM sub JOIN seeds USING (id)),
      |d1 AS (SELECT sub.id, sub.s, i.code, sub.sub,
      |    list_sum(list_transform(range(16), j ->
      |      (sub.sub[j+1] - i.cvec[j+1]) * (sub.sub[j+1] - i.cvec[j+1]))) AS dist
      |  FROM sub JOIN init i USING (s)),
      |a1 AS (SELECT id, s, code, sub FROM (
      |    SELECT d1.*, row_number() OVER (PARTITION BY id, s
      |      ORDER BY dist, code) AS rk FROM d1) t WHERE rk = 1),
      |rf AS (SELECT s, code, p.i AS pos,
      |    ((sum(sub[p.i+1]) - ((sum(sub[p.i+1]) % count(*) + count(*)) % count(*)))
      |      // count(*))::BIGINT AS cv
      |  FROM a1, (SELECT unnest(range(16)) AS i) p GROUP BY 1, 2, 3),
      |ref AS (SELECT s, code, list(cv ORDER BY pos) AS cvec
      |  FROM rf GROUP BY 1, 2),
      |cb AS (SELECT i.s, i.code, coalesce(r.cvec, i.cvec) AS cvec
      |  FROM init i LEFT JOIN ref r ON r.s = i.s AND r.code = i.code)""".stripMargin

  // Encode continuation of PqTrainSql: exact distances of every subvector
  // to the trained codebook and the (dist, code) argmin — shared by
  // vector_pq_encode and sim_pq_adc_recall (whose query-side lookup table
  // is exactly d2 restricted to the capped query ids).
  private val PqEncodeCtes =
    """d2 AS (SELECT sub.id, sub.s, cb.code,
      |    list_sum(list_transform(range(16), j ->
      |      (sub.sub[j+1] - cb.cvec[j+1]) * (sub.sub[j+1] - cb.cvec[j+1])))
      |      AS dist
      |  FROM sub JOIN cb USING (s)),
      |a2 AS (SELECT id, s, code, dist FROM (
      |    SELECT d2.*, row_number() OVER (PARTITION BY id, s
      |      ORDER BY dist, code) AS rk FROM d2) t WHERE rk = 1)""".stripMargin

  // Shared by every incremental-embedding variant (the % 7 original, the
  // steady-state-split rebuild sibling, and the stored-index twin): ONE
  // oracle template, parameterized only by the batch modulus.
  private def incEmbeddingOracle(m: Int) =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |    ${cosSql("a.e", "b.e")} AS cosine
       |  FROM v a JOIN v b ON a.vec_id % $m = 0 AND a.vec_id <> b.vec_id
       |    AND (b.vec_id % $m <> 0 OR b.vec_id < a.vec_id)),
       |q AS (SELECT i, j, cosine FROM p WHERE cosine >= 0.4),
       |f AS (SELECT i AS vec_id, min(j) AS dup_of FROM q GROUP BY i)
       |SELECT f.vec_id, f.dup_of, q.cosine
       |FROM f JOIN q ON q.i = f.vec_id AND q.j = f.dup_of
       |ORDER BY f.vec_id""".stripMargin

  // Shared by sim_ann_ivf and its stored-index twin: index build (seed
  // centroids + nearest-cell assignment), probe selection AND scoring are
  // all replayed in SQL, so the stored-index probe must reproduce the
  // exact same ranking the from-scratch build does.
  // The IVF WITH-body (index build + probe selection + scoring), shared by
  // sim_ann_ivf, its stored-index twin, and the recall report.
  private lazy val IvfCtes =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |n AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm FROM v),
       |c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n
       |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 128),
       |asg AS (
       |  SELECT vec_id, cell, e, nrm FROM (
       |    SELECT n.vec_id, c.cid AS cell, n.e, n.nrm,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${dotSql("n.e", "c.ce")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |    FROM n, c) t WHERE crk = 1),
       |probes AS (
       |  SELECT query_id, cell, e, nrm FROM (
       |    SELECT n.vec_id AS query_id, c.cid AS cell, n.e, n.nrm,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${dotSql("n.e", "c.ce")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |    FROM n, c WHERE n.vec_id % 100 = 0) t WHERE crk <= 2),
       |s AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${round6Sql(s"${dotSql("p.e", "a.e")} / (p.nrm * a.nrm)")} AS cosine
       |  FROM probes p JOIN asg a ON p.cell = a.cell AND p.query_id <> a.vec_id)""".stripMargin

  private lazy val IvfOracle =
    s"""WITH $IvfCtes
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM s) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val all: Seq[Q] = Seq(

    // X4: brute-force cosine top-k — the correctness baseline. The query
    // set is CAPPED at a fixed deterministic size (stable id order, then
    // limit) so the broadcast side and the scored-pair count are bounded by
    // CONFIG, never by corpus growth: brute force over an unbounded query
    // set is O(n²/50) and its broadcast grows with the data. Corpus is
    // scanned once; the only shuffle carries k rows/query.
    Q("sim_cosine_topk",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        Vectors.cosineTopK(emb,
            emb.filter(col("vec_id") % 50 === 0)
              .orderBy(col("vec_id")).limit(40), 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |qs AS (SELECT vec_id, e FROM v WHERE vec_id % 50 = 0
             |  ORDER BY vec_id LIMIT 40),
             |s AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    ${cosSql("q.e", "c.e")} AS cosine
             |  FROM qs q JOIN v c ON q.vec_id <> c.vec_id)
             |SELECT query_id, rank, neighbor_id, cosine FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY cosine DESC, neighbor_id) AS rank FROM s) t
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Matryoshka-prefix retrieval audit (Kusupati et al. 2022): rank the
    // corpus by cosine over the FIRST 16 of 64 dims, compare the top-5
    // against the full-dim top-5, report per-query recall@5 in basis
    // points — the "how much ranking survives a 4× cheaper first-pass
    // scan" question MRL-trained embeddings are deployed on. Both
    // rankings reuse the capped brute-force scorer (the sim_cosine_topk
    // discipline: scored pairs = 2 × corpus × |queries|, a CONFIG bound);
    // at 100 TB the prefix pass is the one that scans the corpus — 4×
    // less data read and a 4× shorter dot product per candidate.
    Q("sim_matryoshka_recall",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") % 50 === 0)
          .orderBy(col("vec_id")).limit(40)
        def pre(df: org.apache.spark.sql.DataFrame) = df.select(
          col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
        val full = Vectors.cosineTopK(emb, qs, 5)
        val prefix = Vectors.cosineTopK(pre(emb), pre(qs), 5)
        val hits = full
          .join(prefix, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
        qs.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
          .withColumn("recall_bp", col("hits") * 2000)
          .orderBy(col("query_id"))
      },
      Some(MatryoshkaOracle)),

    // Greedy k-center coreset (Gonzalez 1985): 8 exemplars covering the
    // embedding space by max-min selection — the diverse-subset curation
    // primitive (facility-location cousin of SemDeDup's keep-one-per-
    // cluster). Exact scaled-integer distances make every round's argmax
    // bit-replayable; the oracle unrolls one pick CTE per round and folds
    // the min-distance state one center at a time, exactly like the Spark
    // side (O(n·d) per round, never O(n·k·d)).
    Q("vector_kcenter_coreset",
      (s, dir) => Vectors.kCenterGreedy(load(s, dir, "embeddings"), 8)
        .orderBy(col("sel_round")),
      Some(kCenterOracle(8))),

    // Embedding-space near-dup pairs with cosine ≥ 0.4. The Spark side runs
    // the BANDED variant (16 bands × 2 sign-projections → equi-join on the
    // band key → exact-cosine verify — no nested-loop join anywhere); the
    // oracle is the plain QUADRATIC definition, so the hash match proves the
    // banding loses no pair on this corpus (the md5 hyperplanes are fixed →
    // candidate generation is deterministic, and every qualifying pair at
    // the test SFs shares ≥1 full band — min margin 3 bands at sf0.01).
    Q("dedup_embedding_cosine",
      (s, dir) => Vectors.cosineNearDupPairsBanded(load(s, dir, "embeddings"), 0.4)
        .orderBy(col("vec_a"), col("vec_b")),
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
             |SELECT vec_a, vec_b, cosine FROM (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |    ${cosSql("a.e", "b.e")} AS cosine
             |  FROM v a JOIN v b ON a.vec_id < b.vec_id) t
             |WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""".stripMargin)),

    // Density-based clustering (Vectors.dbscanCosine — DBSCAN, Ester '96)
    // over the SAME τ=0.4 neighbor graph as dedup_embedding_cosine, whose
    // hash-green quadratic oracle already proves the banding lossless at
    // the test SFs. minPts = 2 NEIGHBORS (self excluded; textbook minPts 3)
    // splits the corpus into core/border/noise with clusters = components
    // of the cores — the order-dependent textbook warts pinned
    // deterministic (min-rep border assignment, min-core-id cluster ids).
    // The oracle replays the full definition: quadratic pairs → degree
    // threshold → recursive-CTE closure over core-core edges (+ self-
    // loops) → min-rep border join; Spark runs banded candidates + keyed
    // degree count + two-star components — nothing quadratic, nothing
    // sequential.
    Q("vector_dbscan",
      (s, dir) => Vectors.dbscanCosine(load(s, dir, "embeddings"), 0.4, 2)
        .orderBy(col("vec_id")),
      Some(s"""WITH RECURSIVE
             |${dbscanCtes("")}
             |SELECT v.vec_id,
             |  CASE WHEN lab.node IS NOT NULL THEN 'core'
             |       WHEN border.node IS NOT NULL THEN 'border'
             |       ELSE 'noise' END AS role,
             |  coalesce(lab.rep, border.rep, -1)::BIGINT AS cluster_rep
             |FROM v LEFT JOIN lab ON lab.node = v.vec_id
             |LEFT JOIN border ON border.node = v.vec_id
             |ORDER BY vec_id""".stripMargin)),

    // STEADY-STATE classify: a 2% batch (vec_id % 70 = 0) labeled against
    // the STORED clustering of the other 98% (StoredIndexes.dbscanLabels +
    // the stored banded cosine index) — the assign-only inference path: a
    // new point touching ≥1 stored core joins that cluster (min rep),
    // else noise; the stored labels never move, and (honesty) new cores /
    // cluster bridges need the full recompute, not this path. The oracle
    // re-derives the corpus clustering AND the batch→corpus cosine pairs
    // quadratically — the hash match proves index probe, core filter and
    // min-rep assignment end to end.
    Q("vector_dbscan_assign",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        val batch = emb.filter(col("vec_id") % StoredIndexes.VecMod === 0)
        val (normed, banded) = StoredIndexes.cosine(s, dir)
        val pairs = Vectors.cosineIncrementalIndexedPairs(
            batch, normed, banded, 0.4)
          .filter(col("dup_of") % StoredIndexes.VecMod =!= 0)
        Vectors.dbscanAssign(batch.select(col("vec_id")), pairs,
            StoredIndexes.dbscanLabels(s, dir))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE
             |${dbscanCtes("WHERE vec_id % 70 <> 0")},
             |nb AS (SELECT vec_id, embedding::DOUBLE[] AS e
             |       FROM embeddings WHERE vec_id % 70 = 0),
             |pr AS (SELECT n.vec_id AS nid, v.vec_id AS cid
             |       FROM nb n JOIN v ON ${cosSql("n.e", "v.e")} >= 0.4),
             |asg AS (SELECT pr.nid, min(l.rep) AS rep
             |        FROM pr JOIN lab l ON l.node = pr.cid GROUP BY 1)
             |SELECT n.vec_id,
             |  CASE WHEN a.rep IS NOT NULL THEN 'border'
             |       ELSE 'noise' END AS role,
             |  coalesce(a.rep, -1)::BIGINT AS cluster_rep
             |FROM nb n LEFT JOIN asg a ON a.nid = n.vec_id
             |ORDER BY vec_id""".stripMargin)),

    // Sign-LSH candidate-budget pre-flight (Vectors.cosineBandCandidateBudget)
    // — the simhash-budget twin for the cosine family: Σ C(bucket, 2) over
    // the 16 bands × 2-plane sign buckets, one O(n) projection pass + one
    // keyed count, no self-join. The oracle rebuilds the md5 hyperplanes
    // and replays the bucket combinatorics (same sign-replay idiom as
    // sim_ann_lsh).
    Q("vector_band_budget",
      (s, dir) => Vectors.cosineBandCandidateBudget(load(s, dir, "embeddings")),
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |signs AS (
             |  SELECT list(CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
             |    THEN 1.0 ELSE -1.0 END ORDER BY p * 64 + d) AS m
             |  FROM (SELECT unnest(range(32)) AS p) pp, (SELECT unnest(range(64)) AS d) dd),
             |b AS (
             |  SELECT vec_id,
             |    array_to_string(list_transform(range(32), p ->
             |      CASE WHEN list_sum(list_transform(range(1, 65), i -> e[i] * m[p * 64 + i])) > 0
             |      THEN '1' ELSE '0' END), '') AS bits
             |  FROM v, signs),
             |c AS (SELECT count(*) AS c FROM (
             |    SELECT vec_id, k::VARCHAR || ':' || substr(bits, k * 2 + 1, 2) AS bkey
             |    FROM b, (SELECT unnest(range(16)) AS k) ks) t
             |  GROUP BY bkey)
             |SELECT (SELECT count(*) FROM v)::BIGINT AS n_vecs,
             |  (SELECT count(*) FROM c)::BIGINT AS n_buckets,
             |  (SELECT max(c) FROM c)::BIGINT AS max_bucket,
             |  (SELECT coalesce(sum((c * (c - 1)) // 2), 0) FROM c)::BIGINT
             |    AS cand_pairs""".stripMargin)),

    // Incremental embedding dedup: a NEW batch (vec_id % 7 = 0) against the
    // EXISTING corpus (the rest) — band buckets join NEW×CORPUS and
    // NEW×earlier-NEW only. The oracle is the QUADRATIC definition over the
    // same scoping, so the hash match proves the banding loses no flagged
    // vector AND the min-dup_of policy agrees.
    Q("dedup_incremental_embedding",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        Vectors.cosineIncremental(
            emb.filter(col("vec_id") % 7 === 0),
            emb.filter(col("vec_id") % 7 =!= 0), 0.4)
          .orderBy(col("vec_id"))
      },
      Some(incEmbeddingOracle(7))),

    // STEADY-STATE-split rebuild baseline (batch = vec_id % 70, ~1.4% of
    // the corpus): the honest per-ingest shape where re-projecting and
    // re-banding the 98.6% corpus side dominates — the apples-to-apples
    // sibling for the stored-index twin below.
    Q("dedup_incremental_embedding_small",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        Vectors.cosineIncremental(
            emb.filter(col("vec_id") % StoredIndexes.VecMod === 0),
            emb.filter(col("vec_id") % StoredIndexes.VecMod =!= 0), 0.4)
          .orderBy(col("vec_id"))
      },
      Some(incEmbeddingOracle(StoredIndexes.VecMod))),

    // The same steady-state ingest against the STORED sign-LSH index
    // (built once per session via StoredIndexes, prewarmed by Bench): the
    // timed cost is batch projection + band probes + exact verify only.
    // Identical result and oracle as the _small rebuild sibling — the
    // bench delta between the two IS the stored index's per-ingest saving.
    Q("dedup_incremental_embedding_indexed",
      (s, dir) => {
        val (normed, banded) = StoredIndexes.cosine(s, dir)
        Vectors.cosineIncrementalIndexed(
            load(s, dir, "embeddings")
              .filter(col("vec_id") % StoredIndexes.VecMod === 0),
            normed, banded, 0.4)
          .orderBy(col("vec_id"))
      },
      Some(incEmbeddingOracle(StoredIndexes.VecMod))),

    // ANN: multi-band sign-random-projection LSH (md5-derived hyperplanes,
    // so the oracle rebuilds the identical ±1 matrix) — candidate = shares
    // ≥1 full band of 3 projection signs (12 bands), then exact-cosine
    // top-k over the deduped candidates. The 100 TB-shaped variant: an
    // equi-join on short band keys instead of a cross join, with recall
    // 0.98 on this corpus where SINGLE-band bucketing measures 0.02
    // (DedupVectorsSpec pins the floor).
    Q("sim_ann_lsh",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        Vectors.annTopK(emb,
            emb.filter(col("vec_id") % 50 === 0)
              .orderBy(col("vec_id")).limit(40), 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |signs AS (
             |  SELECT list(CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
             |    THEN 1.0 ELSE -1.0 END ORDER BY p * 64 + d) AS m
             |  FROM (SELECT unnest(range(36)) AS p) pp, (SELECT unnest(range(64)) AS d) dd),
             |b AS (
             |  SELECT vec_id, e,
             |    array_to_string(list_transform(range(36), p ->
             |      CASE WHEN list_sum(list_transform(range(1, 65), i -> e[i] * m[p * 64 + i])) > 0
             |      THEN '1' ELSE '0' END), '') AS bits
             |  FROM v, signs),
             |qs AS (SELECT vec_id, e, bits FROM b WHERE vec_id % 50 = 0
             |  ORDER BY vec_id LIMIT 40),
             |s AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    ${cosSql("q.e", "c.e")} AS cosine
             |  FROM qs q JOIN b c ON q.vec_id <> c.vec_id
             |    AND len(list_filter(range(12), k ->
             |      substr(q.bits, k * 3 + 1, 3) = substr(c.bits, k * 3 + 1, 3))) > 0)
             |SELECT query_id, rank, neighbor_id, cosine FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY cosine DESC, neighbor_id) AS rank FROM s) t
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ANN, IVF-Flat shape: deterministic coarse centroids (every 50th id),
    // nearest-centroid assignment = inverted-list cell, queries probe their
    // 2 nearest cells and score only those lists. The oracle replays index
    // build, probe selection AND scoring. At scale the corpus is written
    // bucketed by cell, so a probe reads nprobe/cells of the data.
    Q("sim_ann_ivf",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        Vectors.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0), 5,
            centroidEvery = 50, nprobe = 2)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(IvfOracle)),

    // ANN recall, MEASURED per query at the driver gate: the exact
    // overlap between the IVF probe's top-5 and the brute-force top-5 —
    // both rankings deterministic, so per-query recall is an exact
    // integer the oracle replays (unlike sim_ann_ivf_refined's boolean
    // recall FLOOR, this is the per-query quantity an ANN operator's SLA
    // is written against). nprobe=2 of ~10 populated cells scores ~20%
    // of the corpus per query — recall_bp quantifies what that buys.
    Q("sim_ann_recall_report",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        // CAPPED query set (the sim_cosine_topk discipline): the brute
        // side's broadcast build must be config-bounded, never data-sized
        val q = emb.filter(col("vec_id") % 100 === 0)
          .orderBy(col("vec_id")).limit(40)
        val ann = Vectors.ivfTopK(emb, q, 5, centroidEvery = 50, nprobe = 2)
          .select(col("query_id"), col("neighbor_id"))
        val exact = Vectors.cosineTopK(emb, q, 5)
          .select(col("query_id"), col("neighbor_id"))
        exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
          .join(ann.join(exact, Seq("query_id", "neighbor_id"))
            .groupBy(col("query_id")).agg(count(lit(1)).as("hits")),
            Seq("query_id"), "left")
          .withColumn("n_hits", coalesce(col("hits"), lit(0L)))
          .select(col("query_id"), col("n_exact"), col("n_hits"),
            expr("(n_hits * 10000) div n_exact").as("recall_bp"))
          .orderBy(col("query_id"))
      },
      Some(s"""WITH $IvfCtes,
             |cap AS (SELECT vec_id FROM v WHERE vec_id % 100 = 0
             |  ORDER BY vec_id LIMIT 40),
             |ann AS (SELECT query_id, neighbor_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank FROM s) t
             |  WHERE rank <= 5
             |    AND query_id IN (SELECT vec_id FROM cap)),
             |bs AS (
             |  SELECT q.vec_id AS query_id, m.vec_id AS neighbor_id,
             |    ${round6Sql(s"${dotSql("q.e", "m.e")} / (q.nrm * m.nrm)")}
             |      AS cosine
             |  FROM n q JOIN n m ON q.vec_id <> m.vec_id
             |  WHERE q.vec_id IN (SELECT vec_id FROM cap)),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank FROM bs) t
             |  WHERE rank <= 5),
             |h AS (SELECT e.query_id, count(a.neighbor_id) AS n_hits
             |  FROM ex e LEFT JOIN ann a ON a.query_id = e.query_id
             |    AND a.neighbor_id = e.neighbor_id
             |  GROUP BY e.query_id)
             |SELECT query_id, count(*) AS n_exact,
             |  max(n_hits)::BIGINT AS n_hits,
             |  (max(n_hits) * 10000) // count(*) AS recall_bp
             |FROM ex JOIN h USING (query_id)
             |GROUP BY query_id ORDER BY query_id""".stripMargin)),

    // X4 IVF with Lloyd REFINEMENT actually running (lloydIters=2): refined
    // float-mean centroids are aggregation-order-dependent, so the oracle
    // pins the algorithm's INVARIANTS instead of values — per-round
    // objective monotonicity and the recall@5 floor vs brute-force exact —
    // as a constant all-TRUE verdict table (a refinement regression flips a
    // row and fails the hash). DedupVectorsSpec pins the same invariants
    // with live objective numbers.
    Q("sim_ann_ivf_refined",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        Vectors.ivfRefinedVerdict(emb, emb.filter(col("vec_id") % 100 === 0),
          5, centroidEvery = 50, nprobe = 2, lloydIters = 2,
          recallFloorBp = 8000L)
      },
      Some("""SELECT metric, ok FROM (VALUES
             |  ('objective_monotone_r1', TRUE),
             |  ('objective_monotone_r2', TRUE),
             |  ('recall_floor', TRUE)) v(metric, ok)
             |ORDER BY metric""".stripMargin)),

    // X4 IVF at STEADY STATE: the same probe against a STORED index
    // (centroids + cell-partitioned inverted lists, built once per session
    // via StoredIndexes — Bench prewarms it outside the timed region). The
    // timed cost is query assignment + a partition-PRUNED lists read of the
    // nprobe probed cells + scoring — never the corpus-wide assignment pass
    // the rebuild sibling above pays per run. Same oracle: the stored-index
    // probe must reproduce the from-scratch ranking exactly.
    Q("sim_ann_ivf_indexed",
      (s, dir) => {
        val (cents, lists) = StoredIndexes.ivf(s, dir)
        Vectors.ivfTopKIndexed(
            load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            cents, lists, 5, nprobe = 2)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(IvfOracle)),

    // SemDeDup (Abbas et al. 2023): embedding-level semantic dedup —
    // same-cluster pairs with cosine ≥ threshold are duplicates; keep the
    // smallest id per group. Catches paraphrases every lexical dedup
    // misses; the quadratic check is confined WITHIN clusters (Σ|cell|²,
    // bounded by the cluster-granularity config — the paper's own scale
    // argument). The oracle replays the seeded-centroid assignment exactly
    // like the IVF oracle, then the keep rule as NOT-EXISTS.
    Q("dedup_semantic",
      (s, dir) => Vectors.semanticDedup(load(s, dir, "embeddings"), 0.4,
          centroidEvery = 50, maxCentroids = 128)
        .orderBy(col("vec_id")),
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm FROM v),
             |c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n
             |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 128),
             |asg AS (
             |  SELECT vec_id, cell, e, nrm FROM (
             |    SELECT n.vec_id, c.cid AS cell, n.e, n.nrm,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY ${dotSql("n.e", "c.ce")} / (n.nrm * c.cn) DESC, c.cid) AS crk
             |    FROM n, c) t WHERE crk = 1),
             |dup AS (SELECT DISTINCT b.vec_id
             |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |  WHERE ${round6Sql(s"${dotSql("a.e", "b.e")} / (a.nrm * b.nrm)")} >= 0.4)
             |SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
             |FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id
             |ORDER BY a.vec_id""".stripMargin)),

    // Symmetric int8 quantization — the storage path for 100 TB embedding
    // tables (4× smaller ANN-candidate vectors). floor() quantization, not
    // round(): floor has no tie rule to diverge across engines. The scale
    // is the exact float max-|component| widened to double (lossless), and
    // the int vector is serialized to CSV for the hash compare.
    // Product quantization (ProductQuantizer.train/encode, Jégou et al.
    // 2011): 4 subspaces × 16 codes over the 64-dim embeddings — the
    // memory side of billion-scale ANN (4 × 4-bit codes per vector).
    // Unlike the float Lloyd path (sim_ann_ivf_refined, invariant-verdict
    // only), training runs on EXACT scaled integers (floor(x·1e6+0.5)
    // components, native long Σ(a−b)² distances, floor-division means),
    // so the oracle value-pins the ENTIRE trajectory: seeds, assignment,
    // refined codebook, every vector's codes and reconstruction error.
    Q("vector_pq_codebook",
      (s, dir) => graft.ops.ProductQuantizer.train(load(s, dir, "embeddings"))
        .select(col("s").cast("long").as("subspace"),
          col("code").cast("long").as("code"),
          array_join(transform(col("cvec"), x => x.cast("string")), ",")
            .as("centroid_csv"))
        .orderBy(col("subspace"), col("code")),
      Some(s"""$PqTrainSql
             |SELECT s::BIGINT AS subspace, code::BIGINT AS code,
             |  array_to_string(list_transform(cvec, x -> x::VARCHAR), ',')
             |    AS centroid_csv
             |FROM cb ORDER BY subspace, code""".stripMargin)),

    Q("vector_pq_encode",
      (s, dir) => {
        import graft.ops.ProductQuantizer
        val e = load(s, dir, "embeddings")
        ProductQuantizer.encode(e, ProductQuantizer.train(e))
          .select(col("id").as("vec_id"),
            array_join(transform(col("codes"), x => x.cast("string")), ",")
              .as("codes_csv"),
            col("err"))
          .orderBy(col("vec_id"))
      },
      Some(s"""$PqTrainSql,
             |$PqEncodeCtes
             |SELECT id AS vec_id,
             |  string_agg(code::VARCHAR, ',' ORDER BY s) AS codes_csv,
             |  sum(dist)::BIGINT AS err
             |FROM a2 GROUP BY id ORDER BY vec_id""".stripMargin)),

    // PQ retrieval by asymmetric distance (ProductQuantizer.adcTopK):
    // 40 capped queries ranked against the WHOLE corpus from 4-bit codes
    // alone — each query's m×16 exact lookup table scores a candidate in
    // 4 integer adds, the original vectors never read (the economics of
    // PQ at 10⁹ vectors). Per-query EXACT recall@5 vs the brute scaled-
    // integer L2 ranking, every number value-pinned (ranking, hits,
    // recall bp) — no verdict needed, unlike the float-mean IVF path.
    Q("sim_pq_adc_recall",
      (s, dir) => {
        import graft.ops.ProductQuantizer
        val emb = load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") % 100 === 0)
          .orderBy(col("vec_id")).limit(40)
        val cb = ProductQuantizer.train(emb)
        val adcTop = ProductQuantizer.adcTopK(
            ProductQuantizer.encode(emb, cb), cb, q, 5)
          .select(col("query_id"), col("neighbor_id"))
        val sv = emb.select(col("vec_id").cast("long").as("id"),
          ProductQuantizer.scaledMicro(col("embedding")).as("sv"))
        val qsv = q.select(col("vec_id").cast("long").as("qid"),
          ProductQuantizer.scaledMicro(col("embedding")).as("qv"))
        val brute = sv.join(broadcast(qsv), col("qid") =!= col("id"))
          .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
            graft.functions.ArrayMath.sqDistLongNative(col("qv"), col("sv"))
              .as("l2"))
        val exact = graft.ops.Relational.topKPerGroup(brute,
            Seq(col("query_id")), Seq(col("l2").asc, col("neighbor_id").asc),
            5, rankCol = "rank")
          .select(col("query_id"), col("neighbor_id"))
        exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
          .join(adcTop.join(exact, Seq("query_id", "neighbor_id"))
            .groupBy(col("query_id")).agg(count(lit(1)).as("hits")),
            Seq("query_id"), "left")
          .withColumn("n_hits", coalesce(col("hits"), lit(0L)))
          .select(col("query_id"), col("n_exact"), col("n_hits"),
            expr("(n_hits * 10000) div n_exact").as("recall_bp"))
          .orderBy(col("query_id"))
      },
      Some(s"""$PqTrainSql,
             |$PqEncodeCtes,
             |cap AS (SELECT id FROM v WHERE id % 100 = 0
             |  ORDER BY id LIMIT 40),
             |adc AS (SELECT q.id AS query_id, a2.id AS neighbor_id,
             |    sum(q.dist) AS adc_dist
             |  FROM a2 JOIN d2 q ON q.s = a2.s AND q.code = a2.code
             |  WHERE q.id IN (SELECT id FROM cap) AND a2.id <> q.id
             |  GROUP BY 1, 2),
             |atop AS (SELECT query_id, neighbor_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY adc_dist, neighbor_id) AS rank FROM adc) t
             |  WHERE rank <= 5),
             |bs AS (SELECT q.id AS query_id, x.id AS neighbor_id,
             |    list_sum(list_transform(range(64), j ->
             |      (q.sv[j+1] - x.sv[j+1]) * (q.sv[j+1] - x.sv[j+1]))) AS l2
             |  FROM v q JOIN v x ON q.id <> x.id
             |  WHERE q.id IN (SELECT id FROM cap)),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY l2, neighbor_id) AS rank FROM bs) t
             |  WHERE rank <= 5),
             |h AS (SELECT e.query_id, count(a.neighbor_id) AS n_hits
             |  FROM ex e LEFT JOIN atop a ON a.query_id = e.query_id
             |    AND a.neighbor_id = e.neighbor_id
             |  GROUP BY e.query_id)
             |SELECT query_id, count(*) AS n_exact,
             |  max(n_hits)::BIGINT AS n_hits,
             |  (max(n_hits) * 10000) // count(*) AS recall_bp
             |FROM ex JOIN h USING (query_id)
             |GROUP BY query_id ORDER BY query_id""".stripMargin)),

    // IVF-PQ composed retrieval (ProductQuantizer.ivfpqTopK): the FAISS
    // default at 10⁹ vectors — IVF cells prune WHICH lists to scan, ADC
    // scores the survivors from 4-bit codes in m integer adds each.
    // Float cosines decide only the routing (the deterministic assignment
    // sim_ann_ivf already pins); every score is exact integers, so the
    // composed ranking is value-pinned end-to-end.
    Q("sim_ivfpq_topk",
      (s, dir) => {
        import graft.ops.ProductQuantizer
        val emb = load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") % 100 === 0)
          .orderBy(col("vec_id")).limit(40)
        ProductQuantizer.ivfpqTopK(emb, q, 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("adc_dist"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""$PqTrainSql,
             |$PqEncodeCtes,
             |ve AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm FROM ve),
             |c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n
             |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 128),
             |asg AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT n.vec_id, c.cid AS cell,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY ${dotSql("n.e", "c.ce")} / (n.nrm * c.cn) DESC,
             |          c.cid) AS crk
             |    FROM n, c) t WHERE crk = 1),
             |cap AS (SELECT id FROM v WHERE id % 100 = 0
             |  ORDER BY id LIMIT 40),
             |probes AS (
             |  SELECT query_id, cell FROM (
             |    SELECT n.vec_id AS query_id, c.cid AS cell,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY ${dotSql("n.e", "c.ce")} / (n.nrm * c.cn) DESC,
             |          c.cid) AS crk
             |    FROM n, c WHERE n.vec_id IN (SELECT id FROM cap)) t
             |  WHERE crk <= 2),
             |cnd AS (SELECT p.query_id AS qid, a.vec_id AS id
             |  FROM probes p JOIN asg a ON p.cell = a.cell
             |    AND p.query_id <> a.vec_id),
             |adc AS (SELECT cnd.qid AS query_id, cnd.id AS neighbor_id,
             |    sum(q.dist) AS adc_dist
             |  FROM cnd JOIN a2 ON a2.id = cnd.id
             |  JOIN d2 q ON q.id = cnd.qid AND q.s = a2.s AND q.code = a2.code
             |  GROUP BY 1, 2)
             |SELECT query_id, rank, neighbor_id, adc_dist::BIGINT AS adc_dist
             |FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY adc_dist, neighbor_id) AS rank FROM adc) t
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // STEADY STATE: ADC retrieval against the STORED PQ index — timed
    // cost is the m-lookup scan alone; train+encode ran once at index
    // build (StoredIndexes.pq), exactly how a production corpus serves
    // queries. Same value-pinned oracle replaying the full trajectory:
    // the stored index must reproduce the rebuilt ranking bit-for-bit.
    Q("sim_pq_adc_topk_indexed",
      (s, dir) => {
        import graft.ops.ProductQuantizer
        val (cb, codes) = StoredIndexes.pq(s, dir)
        val q = load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0)
          .orderBy(col("vec_id")).limit(40)
        ProductQuantizer.adcTopK(codes, cb, q, 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("adc_dist"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""$PqTrainSql,
             |$PqEncodeCtes,
             |cap AS (SELECT id FROM v WHERE id % 100 = 0
             |  ORDER BY id LIMIT 40),
             |adc AS (SELECT q.id AS query_id, a2.id AS neighbor_id,
             |    sum(q.dist) AS adc_dist
             |  FROM a2 JOIN d2 q ON q.s = a2.s AND q.code = a2.code
             |  WHERE q.id IN (SELECT id FROM cap) AND a2.id <> q.id
             |  GROUP BY 1, 2)
             |SELECT query_id, rank, neighbor_id, adc_dist::BIGINT AS adc_dist
             |FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY adc_dist, neighbor_id) AS rank FROM adc) t
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("vector_quantize_int8",
      (s, dir) => {
        import graft.ops.Curate
        load(s, dir, "embeddings")
          .withColumn("qz", Curate.quantizeInt8(col("embedding")))
          .select(col("vec_id"), col("qz.scale").cast("double").as("scale"),
            array_join(transform(col("qz.q"), x => x.cast("string")), ",").as("q_csv"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, scale, array_to_string(
             |  list_transform(e, x -> CASE WHEN scale = 0 THEN 0
             |    ELSE floor(x * 127.0 / scale)::INT END), ',') AS q_csv
             |FROM (SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS scale
             |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) v) t
             |ORDER BY vec_id""".stripMargin)),

    // Label-centroid stats: per-label mean vector norm — groupBy over array
    // columns with exact element-ordered folds. Rows-only oracle is NOT
    // needed: norms are deterministic, but per-label mean of doubles is
    // order-dependent → keep count + a deterministic extremum instead.
    Q("vector_label_stats",
      (s, dir) => load(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"), col("vec_id"),
          round(Vectors.norm(col("embedding")), 6).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"), max(col("nrm")).as("max_norm"),
          min(col("nrm")).as("min_norm"))
        .orderBy(col("label")),
      Some(s"""SELECT label::BIGINT AS label, count(*) AS n_vectors,
             |max(nrm) AS max_norm, min(nrm) AS min_norm
             |FROM (SELECT label, round(sqrt(${dotSql("e", "e")}), 6) AS nrm
             |  FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings) v) t
             |GROUP BY label ORDER BY label""".stripMargin)),

    // τ-bounded kNN graph: every vector's top-5 neighbors among those with
    // cosine ≥ 0.4, built from banded sign-LSH candidates. Banding may
    // prune sub-τ pairs but the ranking excludes them anyway, so the
    // LSH-built graph hash-matches the QUADRATIC definition exactly —
    // ranking on the rounded cosine with a neighbor-id tiebreak is a
    // total order both engines agree on.
    Q("sim_knn_graph",
      (s, dir) => Vectors.knnGraph(load(s, dir, "embeddings"), 0.4, 5)
        .select(col("src"), col("dst"), col("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("src"), col("rank")),
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             |        ${cosSql("a.e", "b.e")} AS cosine
             |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY src
             |        ORDER BY cosine DESC, dst) AS rank
             |      FROM p WHERE cosine >= 0.4)
             |SELECT src, dst, cosine, rank FROM r
             |WHERE rank <= 5 ORDER BY src, rank""".stripMargin)),

    // Per-node triangle participation in the kNN graph — the clustering-
    // coefficient numerator, a standard embedding-space cohesion signal
    // (triangle-rich neighborhoods = tight semantic clusters; triangle-free
    // hubs = boundary/noise points). Spark counts via degree-ordered
    // orientation (Graph.trianglesPerNode: each triangle found once at its
    // lowest-(degree,id) vertex, wedge join bounded O(m^1.5)); the oracle
    // counts via the definitional x<y<z triple join over the SAME τ=0.4
    // top-5 edge set as sim_knn_graph, so the hash match proves the
    // oriented count equals the naive one.
    Q("sim_knn_triangles",
      (s, dir) => {
        val knn = Vectors.knnGraph(load(s, dir, "embeddings"), 0.4, 5)
        // EAGER localCheckpoint, not persist (r16): trianglesPerNode
        // references its edge input three times (both symmetrization
        // branches + the orientation build). The r15 MEMORY_ONLY persist
        // kept the kNN construction from replaying per reference, but
        // (a) every downstream plan still re-ANALYZED the whole banded
        // join + verify + window subtree (JobProbe r16: 1.6 s of pure
        // driver construct), and (b) the parallel AQE stage jobs raced
        // the cold cache, computing the kNN pipeline 2x (duplicate
        // 0.45/1.0 s job pairs in the ledger — the racing-cache lesson).
        // The eager checkpoint materializes the edge list ONCE inside
        // the query (sequential, still timed), truncates every
        // downstream plan to a LogicalRDD, and the three references read
        // stored blocks. Edge-list-sized.
        val und = knn.select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b")).distinct()
          .localCheckpoint(true)
        graft.ops.Graph.trianglesPerNode(und)
          .select(col("node").as("vec_id"), col("triangles"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             |        ${cosSql("a.e", "b.e")} AS cosine
             |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY src
             |        ORDER BY cosine DESC, dst) AS rank
             |      FROM p WHERE cosine >= 0.4),
             |und AS (SELECT DISTINCT least(src, dst) AS a,
             |          greatest(src, dst) AS b FROM r WHERE rank <= 5),
             |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |        FROM und e1 JOIN und e2 ON e2.a = e1.b
             |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
             |SELECT node AS vec_id, count(*) AS triangles
             |FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
             |      UNION ALL SELECT z FROM tri) t
             |GROUP BY node ORDER BY vec_id""".stripMargin)),

    // 2-core of the kNN graph (Graph.kCore, Seidman 1983): peel nodes of
    // degree < 2 for 4 fixed rounds — pendant chains and isolated pairs
    // pruned, the cycle-bound tight semantic clusters kept (cohesion
    // filtering, the density end of the sim_knn_triangles signal). The
    // oracle replays the SAME τ=0.4 top-5 edge build as sim_knn_graph,
    // then the exact 4-round peel trajectory as unrolled CTEs (the
    // pageRankBp/LPA discipline); 4 rounds ≥ the peel depth here, so the
    // output IS the converged 2-core (spec pins rounds+1 ≡ rounds).
    Q("sim_knn_kcore",
      (s, dir) => {
        val knn = Vectors.knnGraph(load(s, dir, "embeddings"), 0.4, 5)
        val und = knn.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        graft.ops.Graph.kCore(und, k = 2, Stop.Rounds(4)).out
          .select(col("node").as("vec_id"), col("degree"))
          .orderBy(col("vec_id"))
      },
      Some {
        val head =
          s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             |        ${cosSql("a.e", "b.e")} AS cosine
             |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY src
             |        ORDER BY cosine DESC, dst) AS rank
             |      FROM p WHERE cosine >= 0.4),
             |e0 AS (SELECT DISTINCT least(src, dst) AS a,
             |         greatest(src, dst) AS b FROM r WHERE rank <= 5)""".stripMargin
        val rounds = (1 to 4).map { i =>
          s""",
             |k$i AS (SELECT n FROM (SELECT a AS n FROM e${i - 1}
             |    UNION ALL SELECT b FROM e${i - 1}) t
             |  GROUP BY n HAVING count(*) >= 2),
             |e$i AS (SELECT a, b FROM e${i - 1}
             |  WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i))""".stripMargin
        }.mkString
        s"""$head$rounds
           |SELECT node AS vec_id, count(*) AS degree
           |FROM (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4) t
           |GROUP BY node ORDER BY vec_id""".stripMargin
      }),

    // Per-label centroid-distance outliers (Vectors.centroidOutliers):
    // top-5 farthest members per label — mislabeled/contamination review
    // candidates. Centroid = mean of floats made order-free by
    // fixed-point scaling (floor(x·1e6+0.5)) + exact HUGEINT/Decimal
    // sums; the oracle replays scaling, division, distance fold, and
    // ranking bit-for-bit.
    Q("vector_centroid_outliers",
      (s, dir) => Vectors.centroidOutliers(load(s, dir, "embeddings"), 5)
        .select(col("label"), col("vec_id"), col("dist2"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("label"), col("rank")),
      Some("""WITH v AS (SELECT label::BIGINT AS label, vec_id,
             |    embedding::DOUBLE[] AS e FROM embeddings),
             |t AS (SELECT label, i, floor(e[i] * 1000000 + 0.5)::HUGEINT
             |    AS xs FROM v, range(1, 65) r(i)),
             |cen AS (SELECT label, i, sum(xs) AS sx, count(*) AS n
             |  FROM t GROUP BY 1, 2),
             |ca AS (SELECT label, list(sx::DOUBLE / n::DOUBLE ORDER BY i)
             |    AS cv FROM cen GROUP BY label),
             |d AS (SELECT v.label, v.vec_id,
             |    floor((list_sum(list_transform(range(1, 65), i ->
             |        (floor(e[i] * 1000000 + 0.5) - cv[i])
             |        * (floor(e[i] * 1000000 + 0.5) - cv[i])))
             |      / 1000000000000::DOUBLE) * 1000000 + 0.5) / 1000000.0
             |      AS dist2
             |  FROM v JOIN ca USING (label))
             |SELECT label, vec_id, dist2, rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY label
             |    ORDER BY dist2 DESC, vec_id) AS rank FROM d) t
             |WHERE rank <= 5 ORDER BY label, rank""".stripMargin)),

    // MMR diversity re-rank (Retrieval.mmrRerank, Carbonell & Goldstein
    // 1998) over the SAME dense retriever pool as retrieval_hybrid_rrf's
    // cosine side: top-10 cosine candidates per query, then 5 greedy
    // picks trading relevance against redundancy (λ=0.7). The oracle
    // replays the pool build, the within-pool similarity matrix, and the
    // exact 5-round greedy trajectory as unrolled CTEs.
    Q("retrieval_mmr_rerank",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") % 100 === 0)
          .orderBy(col("vec_id")).limit(40)
        val cand = Vectors.cosineTopK(emb, q, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("cosine").as("rel"))
        val withVec = cand.join(emb.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("v")), Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"), col("v"))
        val sims = withVec.alias("x").join(withVec.alias("y"),
            col("x.query_id") === col("y.query_id") &&
              col("x.neighbor_id") =!= col("y.neighbor_id"))
          .select(col("x.query_id").as("query_id"),
            col("x.neighbor_id").as("a"), col("y.neighbor_id").as("b"),
            Vectors.round6(Vectors.cosine(col("x.v"), col("y.v")))
              .as("sim"))
        graft.ops.Retrieval.mmrRerank(cand, sims, selectK = 5, lam = 0.7)
          .select(col("query_id"), col("pick").cast("long").as("pick"),
            col("neighbor_id"), col("score"))
          .orderBy(col("query_id"), col("pick"))
      },
      Some {
        val head =
          s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |qs AS (SELECT vec_id, e FROM v WHERE vec_id % 100 = 0
             |  ORDER BY vec_id LIMIT 40),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    ${cosSql("q.e", "c.e")} AS rel
             |  FROM qs q JOIN v c ON q.vec_id <> c.vec_id),
             |cand AS (SELECT query_id, neighbor_id, rel FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY rel DESC, neighbor_id) AS rk FROM sc) t
             |  WHERE rk <= 10),
             |cv AS (SELECT c.query_id, c.neighbor_id, v.e
             |  FROM cand c JOIN v ON v.vec_id = c.neighbor_id),
             |pp AS (SELECT x.query_id, x.neighbor_id AS a,
             |    y.neighbor_id AS b, ${cosSql("x.e", "y.e")} AS sim
             |  FROM cv x JOIN cv y ON x.query_id = y.query_id
             |    AND x.neighbor_id <> y.neighbor_id),
             |s0 AS (SELECT NULL::BIGINT AS query_id,
             |    NULL::BIGINT AS neighbor_id, NULL::BIGINT AS pick,
             |    NULL::DOUBLE AS score WHERE false)""".stripMargin
        val scoreExpr =
          """floor((0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE)
            |        * coalesce(m.ms, 0::DOUBLE)) * 1000000 + 0.5)
            |      / 1000000.0""".stripMargin
        val rounds = (1 to 5).map { r =>
          s""",
             |s$r AS (SELECT * FROM s${r - 1} UNION ALL
             |  SELECT query_id, neighbor_id, $r::BIGINT AS pick, score
             |  FROM (
             |    SELECT c.query_id, c.neighbor_id,
             |      $scoreExpr AS score,
             |      row_number() OVER (PARTITION BY c.query_id
             |        ORDER BY $scoreExpr DESC, c.neighbor_id) AS rk
             |    FROM cand c
             |    LEFT JOIN (SELECT p.query_id, p.a, max(p.sim) AS ms
             |        FROM pp p JOIN s${r - 1} s ON p.query_id = s.query_id
             |          AND p.b = s.neighbor_id
             |        GROUP BY 1, 2) m
             |      ON m.query_id = c.query_id AND m.a = c.neighbor_id
             |    WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} s2
             |      WHERE s2.query_id = c.query_id
             |        AND s2.neighbor_id = c.neighbor_id)
             |  ) t WHERE rk = 1)""".stripMargin
        }.mkString
        s"""$head$rounds
           |SELECT query_id, pick, neighbor_id, score FROM s5
           |ORDER BY query_id, pick""".stripMargin
      }),

    // Hybrid retrieval (Retrieval.rrfFuse): dense cosine top-10 and
    // lexical token-set-Jaccard top-10 for the same query documents
    // (documents and embeddings share the 0-499 id space), fused by
    // integer reciprocal-rank fusion — 1e6 div (60 + rank) contributions
    // so the fused sum is order-free and exact. Both rankings, the RRF
    // sums, and the final top-5 are replayed by the oracle.
    Q("retrieval_hybrid_rrf",
      (s, dir) => {
        val emb = load(s, dir, "embeddings")
        val docs = load(s, dir, "documents")
        val cosR = Vectors.cosineTopK(emb,
            emb.filter(col("vec_id") % 100 === 0)
              .orderBy(col("vec_id")).limit(40), 10)
          .select(col("query_id").as("qid"),
            col("neighbor_id").as("id"), col("rank"))
        val d = docs.select(col("doc_id"),
          graft.ops.Text.tokenSet(col("text")).as("ts"))
        val qd = d.filter(col("doc_id") % 100 === 0)
          .orderBy(col("doc_id")).limit(40)
          .select(col("doc_id").as("qid"), col("ts").as("qts"))
        // Fan the streamed doc side by config, not input splits (r15 —
        // the 0.6 MB documents file is ONE split, so the 40×500 jaccard
        // scoring loop ran single-task, 1.6 s of this query's 2.0 s).
        val fanned = d.repartition(
          s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val lex = graft.ops.Relational.topKPerGroup(
          fanned.join(broadcast(qd), col("qid") =!= col("doc_id"))
            .select(col("qid"), col("doc_id").as("id"),
              round(graft.ops.Dedup.jaccard(col("qts"), col("ts")), 4)
                .as("jac")),
          Seq(col("qid")), Seq(col("jac").desc, col("id").asc), 10, "rank")
          .select(col("qid"), col("id"), col("rank"))
        graft.ops.Retrieval.rrfFuse(Seq(cosR, lex), 60, 5)
          .select(col("qid"), col("id"), col("rrf_score"), col("n_rankers"),
            col("rank").cast("long").as("rank"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |qs AS (SELECT vec_id, e FROM v WHERE vec_id % 100 = 0
             |       ORDER BY vec_id LIMIT 40),
             |cs AS (SELECT q.vec_id AS qid, c.vec_id AS id,
             |         ${cosSql("q.e", "c.e")} AS cosine
             |       FROM qs q JOIN v c ON q.vec_id <> c.vec_id),
             |cr AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
             |         ORDER BY cosine DESC, id) AS rank FROM cs),
             |d AS (SELECT doc_id,
             |        list_sort(list_distinct(string_split(text, ' '))) AS ts
             |      FROM documents),
             |qd AS (SELECT doc_id AS qid, ts AS qts FROM d
             |       WHERE doc_id % 100 = 0 ORDER BY qid LIMIT 40),
             |ls AS (SELECT qd.qid, d.doc_id AS id,
             |         round(len(list_intersect(qts, ts)) * 1.0 /
             |               len(list_distinct(list_concat(qts, ts))), 4) AS jac
             |       FROM qd JOIN d ON qd.qid <> d.doc_id),
             |lr AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
             |         ORDER BY jac DESC, id) AS rank FROM ls),
             |u AS (SELECT qid, id, 1000000 // (60 + rank) AS c
             |      FROM cr WHERE rank <= 10
             |      UNION ALL
             |      SELECT qid, id, 1000000 // (60 + rank) AS c
             |      FROM lr WHERE rank <= 10),
             |f AS (SELECT qid, id, sum(c)::BIGINT AS rrf_score,
             |        count(*) AS n_rankers FROM u GROUP BY qid, id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qid
             |        ORDER BY rrf_score DESC, id) AS rank FROM f)
             |SELECT qid, id, rrf_score, n_rankers, rank FROM r
             |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Random-projection (Johnson–Lindenstrauss) dimensionality reduction:
    // 64-dim float vectors → 4 signed-sum components, the cheap sketch a
    // two-stage ANN prefilters on before exact re-ranking. Signs are a
    // deterministic ±1 function of (input dim, output dim) shared with the
    // oracle; each component is ONE native codegen DotProduct against a
    // literal sign vector (index-ordered accumulation), and the oracle's
    // explicit left-associated ± chain is bit-identical to it — full
    // double precision, no rounding. Narrow per-row map, zero shuffle.
    Q("vector_project_rp",
      (s, dir) => {
        val proj = (1 to 4).map { j =>
          val signs = (1 to 64).map(i => rpSign(i, j)).toArray
          graft.functions.ArrayMath.dotNative(col("embedding"), lit(signs))
            .as(s"y$j")
        }
        load(s, dir, "embeddings")
          .select(col("vec_id") +: proj: _*)
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
             |SELECT vec_id,
             |  ${(1 to 4).map(j => s"(${rpChainSql(j)}) AS y$j").mkString(",\n|  ")}
             |FROM v ORDER BY vec_id""".stripMargin)),
  )

  /** Deterministic ±1 JL sign for input dim `i` (1-based), output dim `j`. */
  private def rpSign(i: Int, j: Int): Double =
    1.0 - 2.0 * (((i * 37 + j * 101) % 97) % 2)

  /** The oracle-side projection: an EXPLICIT left-associated ± chain
    * (`e[1] - e[2] + …`) so the accumulation order matches DotProduct's
    * index-ordered fold exactly — `x - e` is IEEE-identical to
    * `x + (e * -1.0)`, so no tolerance is needed.
    */
  private def rpChainSql(j: Int): String =
    (1 to 64).map(i =>
      (if (rpSign(i, j) > 0) "+ " else "- ") + s"e[$i]")
      .mkString(" ").stripPrefix("+ ")
}
