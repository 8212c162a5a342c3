package graft.catalog

import org.apache.spark.sql.functions._
import graft.ops.Curate
import graft.tables.Tables.load

/** Corpus-curation query surface (SURVEY §2.9 extension): deterministic
  * split/sample by key hash, benchmark decontamination, PII redaction.
  * The split/sample oracles replay the md5 unit-hash bit-for-bit, so the
  * hash match proves per-ROW assignment equality, not just counts.
  */
object CurateQueries extends Catalog {

  // DuckDB twin of Curate.unitHash(doc_id)
  private val UnitHash =
    "(('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT / 268435456.0)"

  // Shared by curate_weighted_sample AND its merged-batch-state twin —
  // the fold must hash-match the full-corpus draw.
  private val WeightedSampleOracle =
    s"""WITH t AS (SELECT doc_id, greatest(1, n_chars)::BIGINT AS w,
       |    greatest(floor(($UnitHash) * 1000000 + 0.5) / 1000000.0,
       |      1e-6) AS u6
       |  FROM documents)
       |SELECT doc_id, w,
       |  floor(-ln(u6) * 1e9 / w)::BIGINT AS es_key
       |FROM t ORDER BY es_key, doc_id LIMIT 50""".stripMargin
  // DuckDB twin of Dedup.shingles(text, 3) (same macro as dedup_ngram_jaccard)
  private val Toks = "string_split(text, ' ')"
  private val Sh3 =
    s"""CASE WHEN len($Toks) < 3 THEN []::VARCHAR[]
       |      ELSE list_sort(list_distinct(list_transform(range(1, len($Toks) - 1),
       |        i -> array_to_string(($Toks)[i : i + 2], ' ')))) END""".stripMargin

  /** Deterministic pseudo-trained weights on the exact 1/64 grid: every
    * value (k-32)/64 has a finite decimal representation, so the Scala
    * Double's shortest-round-trip toString parses back to the identical
    * bits in DuckDB (curate_model_gate).
    */
  private val GateW: Seq[Double] =
    (0 until 64).map(i => ((i * 37 + 11) % 64 - 32) / 64.0)
  private val GateBias = 0.0625
  private val GateThreshold = 0.25
  // ::DOUBLE on BOTH operands: DuckDB otherwise parses the weight literal
  // as DECIMAL and multiplies on a float/decimal path that rounds
  // differently at ~1e-8 — with the casts, both engines do IEEE double
  // multiply-then-add in index order and the scores are bit-identical.
  private val GateSqlExpr = GateW.zipWithIndex
    .map { case (w, i) => s"(embedding[${i + 1}]::DOUBLE) * ($w::DOUBLE)" }
    .mkString(" + ")

  val all: Seq[Q] = Seq(

    // [ext] The dataset datasheet in one query — the corpus-card summary a
    // training-data pipeline publishes with every release (docs, language/
    // source coverage, size, exact length percentiles, exact-dup count),
    // long-format (metric, value) and ALL integer-exact so the whole card
    // hash-matches. Costs: one aggregate scan (counts/sums/distinct-md5),
    // one tokenize scan, and the scale-safe two-level percentile on the
    // distinct-length frame — no global sort, no window over rows.
    Q("pipeline_corpus_card",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val base = docs.agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("source")).as("n_sources"),
            sum(col("n_chars")).as("total_chars"),
            sum(size(graft.ops.Text.tokens(col("text")))).as("total_tokens"),
            countDistinct(md5(col("text").cast("binary"))).as("n_distinct"))
          .select(array(
            struct(lit("n_docs").as("metric"),
              col("n_docs").cast("long").as("value")),
            struct(lit("n_langs").as("metric"),
              col("n_langs").cast("long").as("value")),
            struct(lit("n_sources").as("metric"),
              col("n_sources").cast("long").as("value")),
            struct(lit("total_chars").as("metric"),
              col("total_chars").cast("long").as("value")),
            struct(lit("total_tokens").as("metric"),
              col("total_tokens").cast("long").as("value")),
            struct(lit("exact_dup_docs").as("metric"),
              (col("n_docs") - col("n_distinct")).cast("long").as("value")))
            .as("a"))
          .select(explode(col("a")).as("m"))
          .select(col("m.metric").as("metric"), col("m.value").as("value"))
        val pct = graft.ops.Relational
          .nearestRankPercentiles(docs, col("n_chars"), Seq(0.5, 0.9))
          .select(concat(lit("p"),
              round(col("quantile") * 100).cast("int").cast("string"),
              lit("_chars")).as("metric"),
            col("value").cast("long").as("value"))
        base.unionByName(pct).orderBy(col("metric"))
      },
      Some("""WITH base AS (SELECT count(*) AS n_docs,
             |    count(DISTINCT lang) AS n_langs,
             |    count(DISTINCT source) AS n_sources,
             |    sum(n_chars)::BIGINT AS total_chars,
             |    count(DISTINCT md5(text)) AS n_distinct
             |  FROM documents),
             |tok AS (SELECT sum(len(string_split(text, ' ')))::BIGINT
             |          AS total_tokens FROM documents),
             |f AS (SELECT n_chars AS v, count(*) AS c FROM documents
             |      GROUP BY 1),
             |cum AS (SELECT v, c,
             |    sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi
             |  FROM f),
             |n AS (SELECT count(*)::BIGINT AS n FROM documents),
             |pct AS (SELECT q, v FROM cum,
             |    (SELECT unnest([0.5, 0.9]) AS q) qs, n
             |  WHERE hi >= floor(q * (n - 1))::BIGINT + 1
             |    AND hi - c < floor(q * (n - 1))::BIGINT + 1)
             |SELECT metric, value FROM (
             |  SELECT 'n_docs' AS metric, n_docs::BIGINT AS value FROM base
             |  UNION ALL SELECT 'n_langs', n_langs::BIGINT FROM base
             |  UNION ALL SELECT 'n_sources', n_sources::BIGINT FROM base
             |  UNION ALL SELECT 'total_chars', total_chars FROM base
             |  UNION ALL SELECT 'total_tokens', total_tokens FROM tok
             |  UNION ALL SELECT 'exact_dup_docs',
             |    (n_docs - n_distinct)::BIGINT FROM base
             |  UNION ALL SELECT 'p50_chars', v::BIGINT FROM pct WHERE q = 0.5
             |  UNION ALL SELECT 'p90_chars', v::BIGINT FROM pct WHERE q = 0.9
             |) t ORDER BY metric""".stripMargin)),

    // Deterministic train/val/test split: membership is a pure function of
    // md5(doc_id) — stable across runs, engines, and data growth (unlike
    // seeded randomSplit, which depends on partition order). Per-row
    // assignment is oracle-proven, and the summary counts ride along.
    Q("curate_hash_split",
      (s, dir) => Curate.hashSplit(load(s, dir, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
             |CASE WHEN $UnitHash < 0.8 THEN 'train'
             |     WHEN $UnitHash < 0.9 THEN 'val'
             |     ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Deterministic 20% sample by the same unit hash: re-running or adding
    // documents never changes which existing rows are in the sample.
    Q("curate_hash_sample",
      (s, dir) => Curate.hashSample(load(s, dir, "documents"), col("doc_id"), 0.2)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang, n_chars FROM documents
             |WHERE $UnitHash < 0.2 ORDER BY doc_id""".stripMargin)),

    // Laplace-mechanism noisy counts (Curate.laplaceNoisyCounts): per-lang
    // document counts + Laplace(1/ε) noise at ε = 0.5 via the inverse CDF
    // on a deterministic md5 unit deviate — the weightedSample float
    // discipline (round6 → clamp → ONE mirrored ln → floor → sign), so
    // the oracle replays the noise exactly. n_true is emitted FOR THE
    // GATE; a production publisher drops it (and swaps the hash seed for
    // a secret RNG — mechanism pinned here, privacy claim deliberately
    // not made; see the op's honesty note).
    Q("curate_dp_counts",
      (s, dir) => Curate.laplaceNoisyCounts(
          load(s, dir, "documents"), Seq("lang"), epsilonBp = 5000L)
        .orderBy(col("lang")),
      Some("""WITH t AS (SELECT lang, count(*) AS n_true
             |  FROM documents GROUP BY 1),
             |u AS (SELECT lang, n_true, least(greatest(
             |    floor((('0x' || substr(md5(coalesce(lang, chr(0))), 1, 7))::BIGINT
             |      / 268435456.0) * 1000000 + 0.5) / 1000000.0,
             |    1e-6), 1.0 - 1e-6) AS u6 FROM t),
             |z AS (SELECT lang, n_true,
             |    (sign(u6 - 0.5) * floor(-ln(1 - 2 * abs(u6 - 0.5))
             |      * 10000.0 / 5000.0))::BIGINT AS noise
             |  FROM u)
             |SELECT lang, n_true, noise,
             |  (n_true + noise)::BIGINT AS noisy_count
             |FROM z ORDER BY lang""".stripMargin)),

    // Weighted sampling WITHOUT replacement (Curate.weightedSample,
    // Efraimidis & Spirtakis 2006): 50 docs drawn ∝ length via the
    // exponential-race key -ln(u)/w — deterministic md5 u, ONE mirrored
    // ln on the 6dp-prerounded clamped hash, then exact-integer keys;
    // the oracle replays hash → clamp → ln → floor verbatim and the
    // driver hash-compares the full selected SET and its order. Top-n =
    // TakeOrdered, no global sort.
    Q("curate_weighted_sample",
      (s, dir) => Curate.weightedSample(
          load(s, dir, "documents")
            .withColumn("w", greatest(lit(1), col("n_chars")).cast("long")),
          col("doc_id"), col("w"), 50)
        .select(col("doc_id"), col("w"), col("es_key"))
        .orderBy(col("es_key"), col("doc_id")),
      Some(WeightedSampleOracle)),

    // MERGEABLE weighted-sample state: the exponential-race key is a pure
    // function of (key, weight), so per-batch top-n draws merge by
    // re-taking the n smallest of the union — exactly the distributed
    // aggregation TakeOrdered performs, here proven ACROSS stored batch
    // states: three disjoint ingest batches each keep their top-50, the
    // merge re-draws 50 from the 150 survivors, and the oracle is the
    // FULL-corpus draw VERBATIM — fold ≡ rebuild, so a 100 TB sample
    // refreshes at batch cost.
    Q("curate_weighted_sample_incremental",
      (s, dir) => {
        val d = load(s, dir, "documents")
          .withColumn("w", greatest(lit(1), col("n_chars")).cast("long"))
        (0 to 2).map(i => Curate.weightedSample(
            d.filter(col("doc_id") % 3 === i), col("doc_id"), col("w"), 50))
          .map(_.select(col("doc_id"), col("w"), col("es_key")))
          .reduce(_ unionByName _)
          .orderBy(col("es_key"), col("doc_id")).limit(50)
      },
      Some(WeightedSampleOracle)),

    // EXACT stratified sample (Curate.stratifiedSample): exactly 25 docs
    // per language, smallest-unit-hash-first — eval-set construction
    // where Bernoulli sampling's count variance is unacceptable. One
    // group-partitioned window (group-sized sorts, like shardAssign);
    // membership AND in-sample rank are pure functions of the keys, so
    // re-runs/partitioning never move a row. Oracle replays hash + rank.
    Q("curate_stratified_sample",
      (s, dir) => Curate.stratifiedSample(load(s, dir, "documents"),
          Seq(col("lang")), col("doc_id"), 25)
        .select(col("lang"), col("doc_id"), col("pos"))
        .orderBy(col("lang"), col("pos")),
      Some(s"""SELECT lang, doc_id, pos FROM (
             |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |    ORDER BY $UnitHash, doc_id) AS pos
             |  FROM documents) t
             |WHERE pos <= 25 ORDER BY lang, pos""".stripMargin)),

    // Benchmark decontamination: corpus docs sharing ≥ 3 word 3-gram
    // shingles with any "benchmark" doc (every 100th doc stands in for a
    // held-out eval set). The benchmark side is tiny → broadcast join on the
    // shingle key; the corpus is exploded but never shuffled.
    Q("curate_decontaminate",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Curate.benchmarkOverlap(
            docs.filter(col("doc_id") % 100 =!= 0),
            docs.filter(col("doc_id") % 100 === 0),
            n = 3, minShared = 3)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      Some(s"""WITH sh AS (SELECT doc_id, unnest($Sh3) AS s FROM documents)
             |SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
             |  count(*) AS n_shared
             |FROM sh a JOIN sh b ON a.s = b.s
             |WHERE a.doc_id % 100 <> 0 AND b.doc_id % 100 = 0
             |GROUP BY a.doc_id, b.doc_id
             |HAVING count(*) >= 3
             |ORDER BY doc_id, bench_id""".stripMargin)),

    // Exactly-N-per-stratum deterministic reservoir: 10 docs per language,
    // ranked by the unit hash — quota guaranteed even for tiny strata, and
    // the chosen set is a pure function of the ids present.
    Q("curate_stratified_n",
      (s, dir) => Curate.stratifiedSampleN(load(s, dir, "documents"),
          Seq(col("lang")), col("doc_id"), 10)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id")),
      Some(s"""SELECT doc_id, lang, n_chars FROM (
             |  SELECT doc_id, lang, n_chars,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY $UnitHash, doc_id) AS rk
             |  FROM documents) t
             |WHERE rk <= 10 ORDER BY lang, doc_id""".stripMargin)),

    // Token-budget sequence packing: docs ordered by id within each language
    // are assigned to packs by START OFFSET in the running token count —
    // pack_id = floor(tokens_before / budget). The standard scalable
    // approximation of greedy bin packing (a pack may overflow by less than
    // one document; exact greedy closing is inherently sequential). The
    // window partitions by language — never a global single-task sort.
    Q("curate_pack_budget",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("pack_id",
            floor((sum(col("n_tokens")).over(w) - col("n_tokens"))
              .cast("double") / 2000.0).cast("long"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some(s"""SELECT doc_id, lang, len($Toks)::BIGINT AS n_tokens,
             |CAST(floor((sum(len($Toks)) OVER (PARTITION BY lang ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) - len($Toks)) / 2000.0) AS BIGINT) AS pack_id
             |FROM documents ORDER BY lang, doc_id""".stripMargin)),

    // Per-group quota cap: at most 20 docs per language, preferring higher
    // distinct-token ratio (integer basis points — no float tie ambiguity),
    // ties to the smaller doc_id. The standard "domain cap" shape that stops
    // one source from dominating a training mix; WindowGroupLimit pushes the
    // limit below the sort at scale.
    Q("curate_lang_cap",
      (s, dir) => graft.ops.Relational.topKPerGroup(
          graft.ops.Text.qualityMetrics(load(s, dir, "documents")),
          Seq(col("lang")),
          Seq(col("distinct_bp").desc, col("doc_id").asc), 20, rankCol = "rank")
        .select(col("lang"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("distinct_bp"))
        .orderBy(col("lang"), col("rank")),
      Some(s"""SELECT lang, rank, doc_id, distinct_bp FROM (
             |  SELECT lang, doc_id, distinct_bp,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY distinct_bp DESC, doc_id) AS rank
             |  FROM (SELECT lang, doc_id,
             |      CAST(floor(len(list_distinct($Toks))::DOUBLE * 10000 / len($Toks))
             |        AS BIGINT) AS distinct_bp
             |    FROM documents) m) t
             |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin)),

    // Mixture-weighted sampling: per-language keep-rates reweight the
    // training mix (downsample the dominant language, keep the rare ones) —
    // deterministic per row, so the oracle replays membership exactly.
    Q("curate_mixture_rates",
      (s, dir) => Curate.mixtureSample(load(s, dir, "documents"),
          col("doc_id"), col("lang"),
          Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang FROM documents
             |WHERE $UnitHash < (CASE lang WHEN 'en' THEN 0.5
             |  WHEN 'de' THEN 1.0 WHEN 'fr' THEN 1.0 ELSE 0.25 END)
             |ORDER BY doc_id""".stripMargin)),

    // The flagship curation composition — what the operator family exists
    // for, as ONE lazy plan: PII-redact → normalize → exact-dedup on the
    // normalized hash (min doc_id survives) → quality gate → deterministic
    // train/val/test split → per-(split, lang) corpus stats. Shuffles: the
    // dedup window key and the final groupBy — nothing else.
    Q("pipeline_training_mix",
      (s, dir) => {
        import graft.ops.{Curate, Text}
        // same CollapseProject discipline as pipeline_corpus_clean: nm and
        // toks each materialize once (multi-referenced by the next select)
        val n = load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            Text.normalize(Curate.redactPii(col("text"))).as("nm"))
        val t = n.select(col("doc_id"), col("lang"), col("nm"),
          split(col("nm"), " ").as("toks"))
        val m = t.select(col("doc_id"), col("lang"),
          md5(col("nm").cast("binary")).as("k"),
          size(col("toks")).cast("long").as("n_tokens"),
          graft.ops.Exact.ratioBp(size(array_distinct(col("toks"))).cast("long"),
            size(col("toks")).cast("long")).as("distinct_bp"))
        val gated = graft.ops.Relational.firstPerKey(m, Seq("k"), Seq(col("doc_id").asc))
          .filter(col("n_tokens") >= 30 && col("distinct_bp") >= 4000)
        Curate.hashSplit(gated, col("doc_id"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
          .orderBy(col("split"), col("lang"))
      },
      Some(s"""WITH r AS (
             |  SELECT doc_id, lang,
             |    trim(regexp_replace(regexp_replace(lower(
             |      regexp_replace(regexp_replace(text,
             |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |        '[0-9]{6,}', '<NUM>', 'g')),
             |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nm
             |  FROM documents),
             |d AS (
             |  SELECT *, row_number() OVER (PARTITION BY md5(nm) ORDER BY doc_id) AS rn
             |  FROM r),
             |g AS (
             |  SELECT doc_id, lang, len(string_split(nm, ' ')) AS nt,
             |    floor(len(list_distinct(string_split(nm, ' '))) * 10000.0 /
             |          len(string_split(nm, ' ')))::BIGINT AS dbp
             |  FROM d WHERE rn = 1),
             |sp AS (
             |  SELECT lang, nt,
             |    CASE WHEN $UnitHash < 0.9 THEN 'train'
             |         WHEN $UnitHash < 0.95 THEN 'val' ELSE 'test' END AS split
             |  FROM g WHERE nt >= 30 AND dbp >= 4000)
             |SELECT split, lang, count(*) AS n_docs, sum(nt)::BIGINT AS sum_tokens
             |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin)),

    // PII redaction: mask email-like tokens and ≥6-digit runs before text
    // persists anywhere. Patterns use only constructs Java regex and RE2
    // interpret identically, proven by the hash match on the full text.
    Q("curate_redact_pii",
      (s, dir) => load(s, dir, "documents")
        .select(col("doc_id"), Curate.redactPii(col("text")).as("clean_text"),
          (Curate.redactPii(col("text")) =!= col("text"))
            .cast("int").cast("long").as("changed"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |regexp_replace(regexp_replace(text,
             |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |  '[0-9]{6,}', '<NUM>', 'g') AS clean_text,
             |(regexp_replace(regexp_replace(text,
             |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |  '[0-9]{6,}', '<NUM>', 'g') <> text)::INT::BIGINT AS changed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Winsorization (Curate.winsorize): per-status order prices clipped to
    // the exact nearest-rank [p05, p95] — bounds from the scale-safe
    // two-level cumulative-count percentile (no global sort), clip is a
    // map-side greatest/least on exact cents. Clip counts AND the clipped
    // sum are hash-checked.
    Q("curate_winsorize",
      (s, dir) => Curate.winsorize(load(s, dir, "orders"),
          Seq("o_orderstatus"), graft.ops.Exact.cents(col("o_totalprice")),
          0.05, 0.95)
        .groupBy(col("o_orderstatus"))
        .agg(sum(when(col("clip") === "lo", 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("clip") === "hi", 1L).otherwise(0L)).as("n_hi"),
          graft.ops.Exact.dollars(sum(col("v_clipped"))).as("sum_clipped"))
        .orderBy(col("o_orderstatus")),
      Some("""WITH f AS (
             |  SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             |         count(*) AS c
             |  FROM orders GROUP BY 1, 2),
             |cum AS (
             |  SELECT o_orderstatus, v, c,
             |    sum(c) OVER (PARTITION BY o_orderstatus ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS hi,
             |    sum(c) OVER (PARTITION BY o_orderstatus) AS n
             |  FROM f),
             |b AS (
             |  SELECT o_orderstatus,
             |    min(CASE WHEN q = 0.05 THEN v END) AS blo,
             |    min(CASE WHEN q = 0.95 THEN v END) AS bhi
             |  FROM (SELECT o_orderstatus, v, q FROM cum,
             |          (SELECT unnest([0.05, 0.95]) AS q) qs
             |        WHERE hi >= floor(q * (n - 1))::BIGINT + 1
             |          AND hi - c < floor(q * (n - 1))::BIGINT + 1) s
             |  GROUP BY 1),
             |p AS (SELECT o.o_orderstatus,
             |        CAST(round(o_totalprice * 100) AS BIGINT) AS v, b.blo, b.bhi
             |      FROM orders o JOIN b USING (o_orderstatus))
             |SELECT o_orderstatus,
             |  sum(CASE WHEN v < blo THEN 1 ELSE 0 END)::BIGINT AS n_lo,
             |  sum(CASE WHEN v > bhi THEN 1 ELSE 0 END)::BIGINT AS n_hi,
             |  sum(greatest(blo, least(bhi, v)))::DOUBLE / 100.0 AS sum_clipped
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Linear-model quality gate (Curate.linearScore): score every vector
    // with a fixed weight vector — the serving path of a CCNet/fasttext
    // style quality classifier. Map-side only: weights constant-fold into
    // the native DotProduct expression, no shuffle, no broadcast, one scan.
    // Weights are exact 1/64-grid values so their decimal literals
    // round-trip bit-identically into the oracle SQL, and both engines
    // accumulate the dot product in index order in double — the score is
    // hash-compared RAW, with no rounding tolerance.
    Q("curate_model_gate",
      (s, dir) => load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          Curate.linearScore(col("embedding"), GateW, GateBias).as("score"))
        .withColumn("kept", col("score") > lit(GateThreshold))
        .orderBy(col("vec_id")),
      Some(s"""SELECT vec_id, label, score, score > ($GateThreshold::DOUBLE) AS kept
             |FROM (SELECT vec_id, label,
             |        ($GateSqlExpr) + ($GateBias::DOUBLE) AS score
             |      FROM embeddings) t
             |ORDER BY vec_id""".stripMargin)),

    // Temperature-rebalanced language mixture (mC4/XLM-R α-sampling):
    // per-language keep rates ∝ n^α realize the flattened mixture at a
    // fixed budget; membership is the deterministic md5 unit hash. Rates
    // round to 6dp on both engines BEFORE the hash compare — pow's 1-ulp
    // cross-engine divergence cannot move a 6dp rate across a hash grid
    // point. n^α/Σn^α: the corpus-share totals cancel, so exact integer
    // counts feed pow directly.
    Q("curate_temperature_sample",
      (s, dir) => Curate.temperatureSample(load(s, dir, "documents"),
          col("lang"), col("doc_id"), alpha = 0.5, targetN = 200)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some(s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |z AS (SELECT sum(pow(n, 0.5::DOUBLE)) AS zsum FROM c),
             |r AS (SELECT lang, round(least(1.0::DOUBLE,
             |    200.0::DOUBLE * pow(n, 0.5::DOUBLE) / zsum / n), 6) AS rate
             |  FROM c, z)
             |SELECT doc_id, lang FROM documents d JOIN r USING (lang)
             |WHERE $UnitHash < rate ORDER BY doc_id""".stripMargin)),

    // DSIR-style data selection (Xie et al. 2023): rank the candidate pool
    // by the log-likelihood ratio of hashed-bigram unigram LMs — a target
    // LM (the doc_id % 7 = 0 "seed domain" slice) vs the background LM of
    // the pool itself — and keep the top 25. The LMs are FIXED-SIZE
    // (1024 md5-hashed buckets, replayed bit-for-bit by the oracle), so
    // the 100 TB cost is two corpus scans plus a broadcast of a 1024-row
    // stats table; selection is a pushed top-k. Scores are rounded to 4dp
    // BEFORE ranking on both engines (Java log vs DuckDB ln differ by
    // 1 ulp on ~3e-5 of integer inputs — rounding absorbs that).
    Q("curate_dsir_select",
      (s, dir) => {
        val d = load(s, dir, "documents")
        Curate.dsirSelect(
          pool = d.filter(col("doc_id") % 7 =!= 0),
          target = d.filter(col("doc_id") % 7 === 0),
          k = 25)
      },
      Some(s"""WITH bg AS (
             |  SELECT doc_id,
             |    (('0x' || substr(md5(g), 1, 7))::BIGINT % 1024) AS b
             |  FROM (SELECT doc_id, unnest(list_transform(range(1, len($Toks)),
             |          i -> ($Toks)[i] || ' ' || ($Toks)[i + 1])) AS g
             |        FROM documents) u),
             |tc AS (SELECT b, count(*) AS ct FROM bg WHERE doc_id % 7 = 0 GROUP BY b),
             |rc AS (SELECT b, count(*) AS cr FROM bg WHERE doc_id % 7 <> 0 GROUP BY b),
             |tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tc) AS nt,
             |               (SELECT coalesce(sum(cr), 0) FROM rc) AS nr),
             |scored AS (
             |  SELECT g.doc_id, count(*) AS n_grams,
             |    round(sum(ln(coalesce(tc.ct, 0) + 1) - ln(coalesce(rc.cr, 0) + 1))
             |      + count(*) * (ln((SELECT nr FROM tot) + 1024)
             |                  - ln((SELECT nt FROM tot) + 1024)), 4) AS score
             |  FROM bg g LEFT JOIN tc ON g.b = tc.b LEFT JOIN rc ON g.b = rc.b
             |  WHERE g.doc_id % 7 <> 0 GROUP BY g.doc_id)
             |SELECT doc_id, n_grams, score, rank FROM (
             |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) t
             |WHERE rank <= 25 ORDER BY rank""".stripMargin)),

    // DSIR at STEADY STATE: a small ingest batch (2% slice of the pool)
    // scored against the STORED LM table (catalog/StoredIndexes.dsirLm,
    // prewarmed by Bench outside the timed region). The timed cost is
    // batch gram hashing + one broadcast LM join + pushed top-k — never
    // the two corpus scans the rebuild sibling above pays to train the
    // LMs per run. Same formula, same oracle construction, batch-sliced.
    Q("curate_dsir_select_indexed",
      (s, dir) => {
        val batch = load(s, dir, "documents")
          .filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 50 === 1)
        Curate.dsirScoreTopK(batch, StoredIndexes.dsirLm(s, dir), k = 10)
      },
      Some(s"""WITH bg AS (
             |  SELECT doc_id,
             |    (('0x' || substr(md5(g), 1, 7))::BIGINT % 1024) AS b
             |  FROM (SELECT doc_id, unnest(list_transform(range(1, len($Toks)),
             |          i -> ($Toks)[i] || ' ' || ($Toks)[i + 1])) AS g
             |        FROM documents) u),
             |tc AS (SELECT b, count(*) AS ct FROM bg WHERE doc_id % 7 = 0 GROUP BY b),
             |rc AS (SELECT b, count(*) AS cr FROM bg WHERE doc_id % 7 <> 0 GROUP BY b),
             |tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tc) AS nt,
             |               (SELECT coalesce(sum(cr), 0) FROM rc) AS nr),
             |scored AS (
             |  SELECT g.doc_id, count(*) AS n_grams,
             |    round(sum(ln(coalesce(tc.ct, 0) + 1) - ln(coalesce(rc.cr, 0) + 1))
             |      + count(*) * (ln((SELECT nr FROM tot) + 1024)
             |                  - ln((SELECT nt FROM tot) + 1024)), 4) AS score
             |  FROM bg g LEFT JOIN tc ON g.b = tc.b LEFT JOIN rc ON g.b = rc.b
             |  WHERE g.doc_id % 7 <> 0 AND g.doc_id % 50 = 1 GROUP BY g.doc_id)
             |SELECT doc_id, n_grams, score, rank FROM (
             |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) t
             |WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // Deterministic corpus shuffle for training-data writes: shard AND
    // within-shard position are pure functions of md5(doc_id) — the
    // reproducible "global shuffle" (stable across runs, partitionings,
    // and appends). Per-row assignment and the FULL within-shard ordering
    // are oracle-proven, not just shard counts.
    Q("curate_shard_assign",
      (s, dir) => Curate.shardAssign(load(s, dir, "documents"),
          col("doc_id"), nShards = 16)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id")),
      Some(s"""WITH s AS (SELECT doc_id, $UnitHash AS u,
             |        least(floor($UnitHash * 16), 15)::BIGINT AS shard
             |      FROM documents)
             |SELECT doc_id, shard,
             |  row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) AS pos
             |FROM s ORDER BY doc_id""".stripMargin)),

    // URL/domain curation family (ops/Url) over deterministic md5-derived
    // URLs (the WAV/geo fixture discipline — both engines regenerate the
    // identical strings: scheme/userinfo/case/port/path/query variation,
    // 30 sites × 8 TLDs incl. 3 multi-label public suffixes, subdomains
    // to depth 2). Host extraction is one shared RE2 pattern; the
    // registrable-domain rule is the pinned PSL-subset CASE both engines
    // replay.
    Q("curate_domain_extract",
      (s, dir) => urlDocs(s, dir)
        .select(col("doc_id"), graft.ops.Url.host(col("url")).as("host"),
          graft.ops.Url.registrableDomain(
            graft.ops.Url.host(col("url"))).as("domain"))
        .orderBy(col("doc_id")),
      Some(s"""$UrlFixtureCte
             |SELECT doc_id, ${graft.ops.Url.hostSql("url")} AS host,
             |  ${graft.ops.Url.registrableDomainSql(
                  graft.ops.Url.hostSql("url"))} AS domain
             |FROM u ORDER BY doc_id""".stripMargin)),

    // Per-domain quota cap — the curate_lang_cap shape keyed on the
    // registrable domain: at most 5 docs per domain, preferring higher
    // distinct-token ratio (integer basis points), ties to the smaller
    // doc_id. WindowGroupLimit pushes the limit below the per-domain sort;
    // no global sort, no skew beyond the domain histogram itself.
    Q("curate_domain_cap",
      (s, dir) => graft.ops.Relational.topKPerGroup(
          urlDocs(s, dir).select(col("doc_id"),
            graft.ops.Url.registrableDomain(
              graft.ops.Url.host(col("url"))).as("domain"),
            graft.ops.Exact.ratioBp(
              size(array_distinct(split(col("text"), " "))).cast("long"),
              size(split(col("text"), " ")).cast("long")).as("distinct_bp")),
          Seq(col("domain")),
          Seq(col("distinct_bp").desc, col("doc_id").asc), 5, rankCol = "rank")
        .select(col("domain"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("distinct_bp"))
        .orderBy(col("domain"), col("rank")),
      Some(s"""$UrlFixtureCte
             |SELECT domain, rank, doc_id, distinct_bp FROM (
             |  SELECT domain, doc_id, distinct_bp,
             |    row_number() OVER (PARTITION BY domain
             |      ORDER BY distinct_bp DESC, doc_id) AS rank
             |  FROM (SELECT doc_id,
             |      ${graft.ops.Url.registrableDomainSql(
                      graft.ops.Url.hostSql("url"))} AS domain,
             |      CAST(floor(len(list_distinct($Toks))::DOUBLE * 10000
             |        / len($Toks)) AS BIGINT) AS distinct_bp
             |    FROM u) m) t
             |WHERE rank <= 5 ORDER BY domain, rank""".stripMargin)),

    // Domain blocklist anti-join — survivors per registrable domain after
    // removing blocked domains (subdomain coverage is inherent: blocking
    // happens at the registrable-domain key, so www./cdn.eu. variants of
    // a blocked apex all drop). The blocklist is config-sized → Spark
    // broadcasts the anti-join build side; the probe stays one narrow
    // pass over the corpus.
    Q("curate_domain_blocklist",
      (s, dir) => {
        import s.implicits._
        val blocked = Seq("site0.com", "site1.co.uk", "site2.de",
          "site3.io", "site4.com.au").toDF("domain")
        urlDocs(s, dir)
          .select(col("doc_id"), graft.ops.Url.registrableDomain(
            graft.ops.Url.host(col("url"))).as("domain"))
          .join(broadcast(blocked), Seq("domain"), "left_anti")
          .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("domain"))
      },
      Some(s"""$UrlFixtureCte
             |SELECT domain, count(*)::BIGINT AS n_docs FROM (
             |  SELECT ${graft.ops.Url.registrableDomainSql(
                    graft.ops.Url.hostSql("url"))} AS domain
             |  FROM u) d
             |WHERE domain NOT IN ('site0.com', 'site1.co.uk', 'site2.de',
             |  'site3.io', 'site4.com.au')
             |GROUP BY domain ORDER BY domain""".stripMargin)),

    // URL canonicalization (Url.normalize) — the step BEFORE any
    // URL-keyed dedup: scheme/host lowercased, default ports dropped,
    // fragment dropped, tracking params (utm_*/gclid/fbclid/msclkid)
    // stripped with surviving params kept IN ORDER. Input = the fixture
    // URL with deterministic junk appended for 2 of 3 docs (a tracking
    // param, a KEPT param, a second tracking param, a BARE valueless
    // tracking param, a fragment), so every rule — including the (=|$)
    // bare-name strip — is load-bearing in the hash; both engines replay
    // the identical regex/split/filter chain from shared constants.
    Q("curate_url_normalize",
      (s, dir) => {
        val hx16 = expr("cast(conv(substring(h, 16, 1), 16, 10) as bigint)")
        urlDocs(s, dir)
          .select(col("doc_id"),
            junkUrl(col("url"), hx16, expr("substring(h, 17, 2)")).as("url_in"))
          .select(col("doc_id"), col("url_in"),
            graft.ops.Url.normalize(col("url_in")).as("url_norm"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$UrlFixtureCte,
             |j AS (SELECT doc_id,
             |    CASE WHEN ('0x' || substr(h, 16, 1))::BIGINT % 3 = 0 THEN url
             |    ELSE url ||
             |      (CASE WHEN instr(url, '?') > 0 THEN '&' ELSE '?' END) ||
             |      'utm_source=s' || (('0x' || substr(h, 16, 1))::BIGINT % 10)
             |      || '&id=' || substr(h, 17, 2) || '&gclid=g&fbclid#frag'
             |    END AS url_in
             |  FROM u)
             |SELECT doc_id, url_in,
             |  ${graft.ops.Url.normalizeSql("url_in")} AS url_norm
             |FROM j ORDER BY doc_id""".stripMargin)),

    // URL-level exact dedup through the canonicalizer — the fetch-list
    // dedup every crawl pipeline runs BEFORE any text-level pass. The
    // fixture seeds the base URL on doc_id % 250 (two docs share each
    // base) while the junk decoration stays keyed on the doc's OWN hash,
    // so the two copies arrive as byte-DIFFERENT strings (different
    // tracking params / kept params / fragments, or one pristine) and
    // group together ONLY if normalization strips every variant — any
    // surviving junk splits a group and flips n_copies in the hash.
    // Scale shape: one narrow normalize pass + one groupBy on the
    // canonical string; survivor = min doc_id (the exactByContent rule).
    Q("dedup_url_canonical",
      (s, dir) => {
        val hx16 =
          expr("cast(conv(substring(hj, 16, 1), 16, 10) as bigint)")
        // tracking-ONLY junk (no kept params — those are correctly
        // preserved by the normalizer and would legitimately split
        // groups): every decorated variant must canonicalize back to
        // its pristine twin, so all 250 base URLs form 2-copy groups
        val junked = when(hx16 % 3 === 0, col("url")).otherwise(concat(
          col("url"),
          when(instr(col("url"), "?") > 0, lit("&")).otherwise(lit("?")),
          lit("utm_source=s"), (hx16 % 10).cast("string"),
          lit("&gclid=g&fbclid"), lit("#frag")))
        // Stage the junked URL as a NAMED column before normalize (the
        // curate_url_normalize discipline, r15): Url.normalize references
        // its input ~10× (scheme/auth/rest/query branches), so passing the
        // junk expression tree in directly clones it ~10× at Column-
        // composition time — ~10× the analyzed-plan nodes on every
        // downstream Dataset construction for zero runtime difference
        // (multi-referenced non-cheap columns don't CollapseProject).
        urlDocs(s, dir, seedExpr = "doc_id % 250")
          .withColumn("hj", md5(concat(lit("junk:"),
            col("doc_id").cast("string")).cast("binary")))
          .select(col("doc_id"), junked.as("url_in"))
          .select(col("doc_id"),
            graft.ops.Url.normalize(col("url_in")).as("url_norm"))
          .groupBy(col("url_norm"))
          .agg(min(col("doc_id")).as("survivor"),
            count(lit(1)).as("n_copies"))
          .orderBy(col("url_norm"))
      },
      Some {
        val cte = UrlFixtureCteSeeded("doc_id % 250")
        s"""$cte,
           |jx AS (SELECT doc_id, url,
           |    md5('junk:' || doc_id::VARCHAR) AS hj FROM u),
           |j AS (SELECT doc_id,
           |    CASE WHEN ('0x' || substr(hj, 16, 1))::BIGINT % 3 = 0 THEN url
           |    ELSE url ||
           |      (CASE WHEN instr(url, '?') > 0 THEN '&' ELSE '?' END) ||
           |      'utm_source=s' || (('0x' || substr(hj, 16, 1))::BIGINT % 10)
           |      || '&gclid=g&fbclid' || '#frag'
           |    END AS url_in
           |  FROM jx)
           |SELECT url_norm, min(doc_id)::BIGINT AS survivor,
           |  count(*)::BIGINT AS n_copies
           |FROM (SELECT doc_id,
           |    ${graft.ops.Url.normalizeSql("url_in")} AS url_norm
           |  FROM j) t
           |GROUP BY url_norm ORDER BY url_norm""".stripMargin
      }),

    // PSL-aware registrable domain (ops/Psl) — the production suffix rule
    // over a host fixture exercising every PSL rule class the column path
    // expresses: the implicit 1-label default (.com), ICANN 2-label
    // (co.nz; co.uk under a depth-2 subdomain), private-section 2-label
    // (github.io, blogspot.com), 3-label (s3.amazonaws.com — longest
    // match must beat the .com default), the *.ck wildcard, and the
    // !www.ck exception (every k-variant of kind 7 collapses into ONE
    // www.ck group — visible in the hash). Both engines consume the SAME
    // parsed snapshot (Psl.snapshot → literal InSet / SQL IN lists), so
    // the suffix set cannot drift between engines.
    Q("curate_domain_psl",
      (s, dir) => {
        def hx(i: Int, n: Int) =
          expr(s"cast(conv(substring(h, $i, $n), 16, 10) as bigint)")
        val k = (hx(2, 2) % 30).cast("string")
        val host = element_at(array(
          concat(lit("www.site"), k, lit(".com")),
          concat(lit("shop.site"), k, lit(".co.nz")),
          concat(lit("user"), k, lit(".github.io")),
          concat(lit("blog"), k, lit(".blogspot.com")),
          concat(lit("b"), k, lit(".s3.amazonaws.com")),
          concat(lit("deep.a.site"), k, lit(".co.uk")),
          concat(lit("shop"), k, lit(".example.ck")),
          concat(lit("sub"), k, lit(".www.ck"))),
          (hx(1, 1) % 8).cast("int") + 1)
        load(s, dir, "documents")
          .select(md5(concat(lit("psl:"), col("doc_id").cast("string"))
            .cast("binary")).as("h"))
          .select(graft.ops.Psl.registrableDomain(host).as("domain"))
          .groupBy(col("domain")).agg(count(lit(1)).as("n_hosts"))
          .orderBy(col("domain"))
      },
      Some {
        def hx(i: Int, n: Int) = s"('0x' || substr(h, $i, $n))::BIGINT"
        s"""WITH h0 AS (SELECT md5('psl:' || doc_id::VARCHAR) AS h
           |    FROM documents),
           |hk AS (SELECT h, (${hx(2, 2)} % 30)::VARCHAR AS k FROM h0),
           |ho AS (SELECT (['www.site' || k || '.com',
           |    'shop.site' || k || '.co.nz',
           |    'user' || k || '.github.io',
           |    'blog' || k || '.blogspot.com',
           |    'b' || k || '.s3.amazonaws.com',
           |    'deep.a.site' || k || '.co.uk',
           |    'shop' || k || '.example.ck',
           |    'sub' || k || '.www.ck'])[(${hx(1, 1)} % 8)::INT + 1]
           |    AS host FROM hk)
           |SELECT domain, count(*)::BIGINT AS n_hosts
           |FROM (SELECT ${graft.ops.Psl.registrableDomainSql("host")}
           |    AS domain
           |  FROM ho) d
           |GROUP BY domain ORDER BY domain""".stripMargin
      }),

    // FULL-PSL registrable domain (ops/Psl longest-suffix-match JOIN
    // path) — the general publicsuffix.org algorithm over a host fixture
    // whose kinds 4/7/8/9 are expressible ONLY by general rule shapes
    // (multi-label wildcard `*.compute.amazonaws.com`, city exception
    // `!city.kawasaki.jp` under wildcard `*.kawasaki.jp`, 5-label exact
    // `s3.dualstack.us-east-1.amazonaws.com`) — each resolves to a
    // DIFFERENT apex than the CaseWhen subset path would give (PslSpec
    // pins the divergence), so the join path is load-bearing in the
    // hash, not a re-test of the subset rules. Both engines run the SAME
    // K broadcast joins over the SAME parsed rule table
    // (Psl.snapshotFull → Spark broadcast frames / SQL VALUES lists) and
    // the SAME longest-first precedence coalesce.
    Q("curate_domain_psl_full",
      (s, dir) => {
        def hx(i: Int, n: Int) =
          expr(s"cast(conv(substring(h, $i, $n), 16, 10) as bigint)")
        val k = (hx(2, 2) % 30).cast("string")
        val host = element_at(array(
          concat(lit("www.site"), k, lit(".com")),
          concat(lit("user"), k, lit(".github.io")),
          concat(lit("b"), k, lit(".s3.amazonaws.com")),
          concat(lit("x.y"), k, lit(".compute.amazonaws.com")),
          concat(lit("shop"), k, lit(".example.ck")),
          concat(lit("sub"), k, lit(".www.ck")),
          concat(lit("foo"), k, lit(".city.kawasaki.jp")),
          concat(lit("a"), k, lit(".b.kawasaki.jp")),
          concat(lit("cdn"), k, lit(".s3.dualstack.us-east-1.amazonaws.com")),
          concat(lit("deep.a.site"), k, lit(".co.uk"))),
          (hx(1, 1) % 10).cast("int") + 1)
        val hosts = load(s, dir, "documents")
          .select(md5(concat(lit("pslf:"), col("doc_id").cast("string"))
            .cast("binary")).as("h"))
          .select(host.as("host"))
        graft.ops.Psl.withRegistrableDomainFull(hosts, col("host"), "domain")
          .groupBy(col("domain")).agg(count(lit(1)).as("n_hosts"))
          .orderBy(col("domain"))
      },
      Some {
        def hx(i: Int, n: Int) = s"('0x' || substr(h, $i, $n))::BIGINT"
        val full = graft.ops.Psl.registrableDomainFullSql(
          "ho", "host", Seq("host"), "domain")
        s"""WITH h0 AS (SELECT md5('pslf:' || doc_id::VARCHAR) AS h
           |    FROM documents),
           |hk AS (SELECT h, (${hx(2, 2)} % 30)::VARCHAR AS k FROM h0),
           |ho AS (SELECT (['www.site' || k || '.com',
           |    'user' || k || '.github.io',
           |    'b' || k || '.s3.amazonaws.com',
           |    'x.y' || k || '.compute.amazonaws.com',
           |    'shop' || k || '.example.ck',
           |    'sub' || k || '.www.ck',
           |    'foo' || k || '.city.kawasaki.jp',
           |    'a' || k || '.b.kawasaki.jp',
           |    'cdn' || k || '.s3.dualstack.us-east-1.amazonaws.com',
           |    'deep.a.site' || k || '.co.uk'])[(${hx(1, 1)} % 10)::INT + 1]
           |    AS host FROM hk),
           |pd AS ($full)
           |SELECT domain, count(*)::BIGINT AS n_hosts
           |FROM pd GROUP BY domain ORDER BY domain""".stripMargin
      }),

    // ================== incremental ingest flagship ==================
    // The LLM-pipeline components composed as ONE oracle-checked ingest:
    // batch (doc_id % m = 0) → URL canonicalize + fetch-list dedup (the
    // dedup_url_canonical stage: junk-decorated fixture URLs, min-id
    // survivor per canonical URL) → Bloom-prefiltered exact dedup vs the
    // corpus digest set (dedup_incremental_exact_bloom's stage: within-
    // batch min-id per digest, misses provably novel, hits confirmed by
    // the digest anti-join) → MinHash incremental probe vs the corpus
    // band index (NEW×CORPUS and NEW×earlier-NEW only) → quality gate
    // (pipeline_corpus_clean's integer token/distinct rules) → shard
    // assign (curate_shard_assign's reproducible global shuffle). The
    // DuckDB oracle replays the ENTIRE closure — URL junk, normalization,
    // digest windows, signatures, banding, candidate scoping, verify,
    // gates, shard/pos — so the hash proves the composition, not just
    // the stages in isolation.
    Q("pipeline_ingest_incremental",
      (s, dir) => ingestPipeline(s, dir, 5, stored = false),
      Some(ingestOracle(5))),

    // The same ingest at STEADY STATE: the 2% batch (doc_id % 50) probes
    // the SESSION-STORED corpus state (digest table + Bloom sketch +
    // MinHash index, all built once via StoredIndexes and prewarmed by
    // Bench) — the per-ingest cost a production loop actually pays:
    // batch URL work + bloom probe + confirm join + batch shingling +
    // band probes + gates + shard. The corpus documents table is NEVER
    // re-scanned (PlanContractSpec pins exactly one documents scan in
    // the physical plan — the batch side); corpus state arrives only
    // through the stored frames. Identical oracle closure at m = 50.
    Q("pipeline_ingest_incremental_indexed",
      (s, dir) => ingestPipeline(s, dir, StoredIndexes.DocMod, stored = true),
      Some(ingestOracle(StoredIndexes.DocMod))),
  )

  /** The shared ingest composition — `stored = false` rebuilds corpus
    * state inline (the oracle must be able to replay construction at any
    * modulus), `stored = true` probes the StoredIndexes session state
    * (modulus must be StoredIndexes.DocMod). Stage order and every
    * constant match `ingestOracle`.
    */
  private def ingestPipeline(s: org.apache.spark.sql.SparkSession,
                             dir: String, m: Int,
                             stored: Boolean): org.apache.spark.sql.DataFrame = {
    // The stage-1/2 batch output rides a LAZY localCheckpoint: stage 3
    // builds ~7 plan references over it (nToks/nBand/two band joins/two
    // verifies/union) and each re-analyzed the whole url-normalize +
    // window + bloom subtree — r15/r16 JobProbe measured ~1–1.8 s of PURE
    // driver-side plan analysis per run (guide §5: the driver should do
    // almost no data work; §7.3 planning-time bottleneck). The checkpoint
    // truncates every downstream reference to a LogicalRDD. Under AQE
    // even `localCheckpoint(false)` materializes stages 1-2 when this
    // frame is CONSTRUCTED (building its RDD executes the adaptive plan's
    // stages), so any caller that merely builds the query — a plan dump,
    // a test — runs them; in the bench that stays inside the timed
    // region. The blocks are batch-sized. Execution-mode trade (same as the
    // BPE/graph loops): checkpoint blocks are executor-local, so on a
    // real cluster an executor loss mid-query fails the job loudly and
    // the ingest re-runs from parquet — acceptable for a per-batch ingest
    // whose state is rebuilt per run. PlanContractSpec proves the
    // one-documents-scan contract on the UNtruncated stage plan (via
    // `ingestBatchStage`) plus zero documents scans after the truncation
    // point in the final plan.
    val b = ingestBatchStage(s, dir, m, stored).localCheckpoint(false)
    val docs = load(s, dir, "documents")
    // stage 3: MinHash incremental probe (flag rows → anti-join)
    val flags =
      if (stored) {
        val (cToks, cBand) = StoredIndexes.minHash(s, dir)
        graft.ops.Dedup.minHashIncrementalIndexed(b, cToks, cBand, 0.5)
      } else graft.ops.Dedup.minHashIncremental(b,
        docs.filter(col("doc_id") % m =!= 0), 0.5)
    val c = b.join(flags.select(col("doc_id")), Seq("doc_id"), "left_anti")
    // stage 4: quality gate (integer token rules — no floats, no ties)
    val toks = split(col("text"), " ")
    val d = c.filter(size(toks).cast("long") >= 30 &&
      graft.ops.Exact.ratioBp(size(array_distinct(toks)).cast("long"),
        size(toks).cast("long")) >= 4000)
    // stage 5: reproducible shard assignment over the final survivors
    Curate.shardAssign(d, col("doc_id"), nShards = 16)
      .select(col("doc_id"), col("url_norm"), col("content_md5"),
        col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** Stages 1–2 of the ingest (URL canonicalize + fetch-list dedup +
    * Bloom-prefiltered exact dedup), UNtruncated — `ingestPipeline`
    * checkpoints this frame before stage 3, and PlanContractSpec proves
    * the one-documents-scan contract on THIS plan (the final plan only
    * shows the checkpoint's LogicalRDD).
    */
  private[graft] def ingestBatchStage(s: org.apache.spark.sql.SparkSession,
                                      dir: String, m: Int,
                                      stored: Boolean): org.apache.spark.sql.DataFrame = {
    val docs = load(s, dir, "documents")
    // stage 1: URL canonicalize + fetch-list dedup. Base URL seeded on
    // doc_id % 250 (pairs of batch docs share a base), junk keyed on the
    // doc's OWN hash (tracking-only — kept params would legitimately
    // split groups), so the copies arrive byte-DIFFERENT and group only
    // if normalization strips every variant.
    val hxj = expr("cast(conv(substring(hj, 16, 1), 16, 10) as bigint)")
    val withUrl = urlDocs(s, dir, seedExpr = "doc_id % 250")
      .filter(col("doc_id") % m === 0)
      .withColumn("hj", md5(concat(lit("junk:"),
        col("doc_id").cast("string")).cast("binary")))
    val junked = when(hxj % 3 === 0, col("url")).otherwise(concat(
      col("url"),
      when(instr(col("url"), "?") > 0, lit("&")).otherwise(lit("?")),
      lit("utm_source=s"), (hxj % 10).cast("string"),
      lit("&gclid=g&fbclid#frag")))
    // junked staged as a named column first — normalize references its
    // input ~10×, and inlining the junk tree multiplies the analyzed plan
    // every downstream stage re-walks (the ingest pays construction-time
    // analysis ~7× over this subtree in the minhash probe builds; r15
    // measured ~1.5–2 s of pure driver construction per run).
    val normed = withUrl
      .select(col("doc_id"), col("text"), junked.as("url_in"))
      .select(col("doc_id"), col("text"),
        graft.ops.Url.normalize(col("url_in")).as("url_norm"))
    // The stage-1 output is BATCH-sized and referenced 2-3 times within
    // this stage's one computation (the digest split + confirm joins) —
    // persist it so the URL-dedup window runs once per materialization.
    // The cross-STAGE reuse is the caller's localCheckpoint; this cache
    // only dedups work inside it (MEMORY_ONLY self-evicts, the
    // minHashIncremental cache policy).
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val a = graft.ops.Relational.firstPerKey(normed, Seq("url_norm"),
      Seq(col("doc_id").asc)).persist(mem)
    // stage 2: Bloom-prefiltered exact dedup vs the corpus digest set
    val (corpusDig, bloom) =
      if (stored) StoredIndexes.digestBloom(s, dir)
      else {
        val cd = graft.ops.Dedup.contentDigests(
          docs.filter(col("doc_id") % m =!= 0))
        (cd, graft.ops.Dedup.digestBloom(cd, 1L << 17, 1L << 21))
      }
    graft.ops.Dedup.exactIncrementalBloom(a, corpusDig, bloom)
  }

  /** DuckDB replay of the FULL ingest closure at batch modulus `m` —
    * stage for stage, constant for constant, against `ingestPipeline`.
    * The sig/band CTEs are the incMinhashOracle construction verbatim
    * (TextQueries) with the candidate scoping generalized from "batch
    * doc" to "stage-2 survivor".
    */
  private def ingestOracle(m: Int): String = {
    val cte = UrlFixtureCteSeeded("doc_id % 250")
    s"""$cte,
       |b0 AS (SELECT doc_id, text, url,
       |    md5('junk:' || doc_id::VARCHAR) AS hj
       |  FROM u WHERE doc_id % $m = 0),
       |bj AS (SELECT doc_id, text,
       |    CASE WHEN ('0x' || substr(hj, 16, 1))::BIGINT % 3 = 0 THEN url
       |    ELSE url ||
       |      (CASE WHEN instr(url, '?') > 0 THEN '&' ELSE '?' END) ||
       |      'utm_source=s' || (('0x' || substr(hj, 16, 1))::BIGINT % 10)
       |      || '&gclid=g&fbclid' || '#frag'
       |    END AS url_in
       |  FROM b0),
       |bn AS (SELECT doc_id, text,
       |    ${graft.ops.Url.normalizeSql("url_in")} AS url_norm
       |  FROM bj),
       |sa AS (SELECT doc_id, text, url_norm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY url_norm
       |      ORDER BY doc_id) AS rn FROM bn) WHERE rn = 1),
       |sb AS (SELECT doc_id, text, url_norm, content_md5 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY content_md5
       |      ORDER BY doc_id) AS rn2
       |    FROM (SELECT *, md5(text) AS content_md5 FROM sa))
       |  WHERE rn2 = 1 AND content_md5 NOT IN (
       |    SELECT md5(text) FROM documents WHERE doc_id % $m <> 0)),
       |t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |toks AS (
       |  SELECT doc_id, CASE WHEN len(l) < 3 THEN []::VARCHAR[]
       |    ELSE list_sort(list_distinct(list_transform(range(1, len(l) - 1),
       |      i -> array_to_string(l[i : i + 2], ' ')))) END AS ts
       |  FROM t),
       |hv AS (
       |  SELECT doc_id, ts, list_transform(ts,
       |    t -> ('0x' || substr(md5(t), 1, 7))::BIGINT) AS hv
       |  FROM toks),
       |sigs AS (
       |  SELECT doc_id, list_transform(range(16), s ->
       |    list_min(list_transform(hv,
       |      h -> ((2*s + 3) * h + 12289*s + 1) % 268435399))) AS sig
       |  FROM hv),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    array_to_string(list_transform(sig[b * 2 + 1 : b * 2 + 2],
       |      x -> x::VARCHAR), ':') AS band_key
       |  FROM sigs, (SELECT unnest(range(8)) AS b) r),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |    AND a.doc_id <> b.doc_id
       |    AND a.doc_id IN (SELECT doc_id FROM sb)
       |    AND (b.doc_id % $m <> 0
       |         OR (b.doc_id < a.doc_id
       |             AND b.doc_id IN (SELECT doc_id FROM sb)))),
       |prs AS (
       |  SELECT i, j, round(len(list_intersect(x.ts, y.ts)) * 1.0 /
       |          len(list_distinct(list_concat(x.ts, y.ts))), 4) AS jaccard
       |  FROM cand JOIN toks x ON cand.i = x.doc_id
       |    JOIN toks y ON cand.j = y.doc_id
       |  WHERE jaccard IS NOT NULL),
       |sc AS (SELECT * FROM sb WHERE doc_id NOT IN (
       |    SELECT i FROM prs WHERE jaccard >= 0.5)),
       |sd AS (SELECT doc_id, url_norm, content_md5 FROM sc
       |  WHERE len(string_split(text, ' ')) >= 30
       |    AND floor(len(list_distinct(string_split(text, ' '))) * 10000.0 /
       |          len(string_split(text, ' ')))::BIGINT >= 4000),
       |se AS (SELECT doc_id, url_norm, content_md5, $UnitHash AS uh,
       |    least(floor($UnitHash * 16), 15)::BIGINT AS shard
       |  FROM sd)
       |SELECT doc_id, url_norm, content_md5, shard,
       |  row_number() OVER (PARTITION BY shard ORDER BY uh, doc_id) AS pos
       |FROM se ORDER BY doc_id""".stripMargin
  }

  /** `curate_url_normalize`'s input: the fixture URL with deterministic
    * junk appended for two of every three docs — a tracking param, a
    * KEPT param (order must survive), a second tracking param, a BARE
    * (valueless) tracking param, and a fragment — so every normalization
    * rule, including the `(=|$)` bare-name strip, is load-bearing in the
    * hash.
    */
  private def junkUrl(urlCol: org.apache.spark.sql.Column,
                      hx16: org.apache.spark.sql.Column,
                      keepId: org.apache.spark.sql.Column) =
    when(hx16 % 3 === 0, urlCol).otherwise(concat(urlCol,
      when(instr(urlCol, "?") > 0, lit("&")).otherwise(lit("?")),
      lit("utm_source=s"), (hx16 % 10).cast("string"),
      lit("&id="), keepId, lit("&gclid=g&fbclid#frag")))

  /** Deterministic URL fixture: one absolute URL per document, every
    * component an md5-nibble function of doc_id (the geo/WAV in-query
    * fixture discipline — FIXTURES.md). Variation exercised: http/https,
    * userinfo, UPPERCASED hosts (lowercase-folding), ports, paths, query
    * strings, subdomain depth 0–2, and 8 TLDs of which co.uk/com.au/co.jp
    * are multi-label public suffixes.
    */
  private def urlDocs(s: org.apache.spark.sql.SparkSession,
                      dir: String,
                      seedExpr: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    def hx(i: Int, n: Int) =
      expr(s"cast(conv(substring(h, $i, $n), 16, 10) as bigint)")
    val hp = load(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        md5(concat(lit("url:"), expr(seedExpr).cast("string"))
          .cast("binary")).as("h"))
      .select(col("doc_id"), col("text"), col("h"),
        concat(
          element_at(array(lit(""), lit("www."), lit("blog."),
            lit("cdn.eu.")), (hx(6, 1) % 4).cast("int") + 1),
          lit("site"), (hx(1, 4) % 30).cast("string"), lit("."),
          element_at(array(lit("com"), lit("org"), lit("net"), lit("io"),
            lit("co.uk"), lit("com.au"), lit("de"), lit("co.jp")),
            (hx(5, 1) % 8).cast("int") + 1)).as("hostr"))
    hp.select(col("doc_id"), col("text"), col("h"),
      concat(
        when(hx(7, 1) % 3 === 0, lit("http")).otherwise(lit("https")),
        lit("://"),
        when(hx(8, 1) % 7 === 0, lit("user:pw@")).otherwise(lit("")),
        when(hx(9, 1) % 5 === 0, upper(col("hostr"))).otherwise(col("hostr")),
        when(hx(10, 1) % 6 === 0, lit(":8443")).otherwise(lit("")),
        lit("/p/"), expr("substring(h, 11, 3)"),
        when(hx(14, 1) % 4 === 0,
          concat(lit("?ref="), expr("substring(h, 15, 2)")))
          .otherwise(lit(""))).as("url"))
  }

  /** The oracle-side twin of `urlDocs` — `u(doc_id, text, url)`. (`def`,
    * not `val` — referenced from `all`'s initializer above its own
    * definition site, the IvmOracle rule.)
    */
  private def UrlFixtureCte: String = UrlFixtureCteSeeded("doc_id")

  private def UrlFixtureCteSeeded(seed: String): String = {
    def hx(i: Int, n: Int) = s"('0x' || substr(h, $i, $n))::BIGINT"
    s"""WITH h0 AS (SELECT doc_id, text,
       |    md5('url:' || ($seed)::VARCHAR) AS h FROM documents),
       |hp AS (SELECT doc_id, text, h,
       |    (['', 'www.', 'blog.', 'cdn.eu.'])[(${hx(6, 1)} % 4)::INT + 1] ||
       |    'site' || (${hx(1, 4)} % 30) || '.' ||
       |    (['com', 'org', 'net', 'io', 'co.uk', 'com.au', 'de', 'co.jp'])
       |      [(${hx(5, 1)} % 8)::INT + 1] AS hostr
       |  FROM h0),
       |u AS (SELECT doc_id, text, h,
       |    (CASE WHEN ${hx(7, 1)} % 3 = 0 THEN 'http' ELSE 'https' END) ||
       |    '://' ||
       |    (CASE WHEN ${hx(8, 1)} % 7 = 0 THEN 'user:pw@' ELSE '' END) ||
       |    (CASE WHEN ${hx(9, 1)} % 5 = 0 THEN upper(hostr) ELSE hostr END) ||
       |    (CASE WHEN ${hx(10, 1)} % 6 = 0 THEN ':8443' ELSE '' END) ||
       |    '/p/' || substr(h, 11, 3) ||
       |    (CASE WHEN ${hx(14, 1)} % 4 = 0
       |        THEN '?ref=' || substr(h, 15, 2) ELSE '' END) AS url
       |  FROM hp)""".stripMargin
  }
}
