package graft.catalog

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Exact, Stop, Text}
import graft.tables.Tables.load

/** Text-analysis + document-dedup query surface over `documents` (north-star
  * extension operators; SURVEY §2.9). Every hash here is md5, so the DuckDB
  * oracle recomputes signatures/fingerprints bit-identically — the oracle
  * checks the ALGORITHM (candidate generation included), not just row counts.
  */
object TextQueries extends Catalog {

  // Textual twins of graft.ops.Text/Dedup used in the oracle SQL.
  private val Toks = "string_split(text, ' ')"
  private val TokSet = s"list_sort(list_distinct($Toks))"

  /** Deterministic HTML page wrapping one document — the web-crawl
    * fixture for `text_strip_markup` / `pipeline_corpus_clean_html`.
    * Line classes, each load-bearing in the strip's oracle hash: an
    * all-markup title line (tag strip), a nav bar and a link-only footer
    * (100% link density → dropped), the document text in a <p> (kept
    * verbatim), an entity line (every decode rule fires, incl. the
    * double-escape `&amp;lt;` → literal `&lt;` order proof), and a
    * mixed prose+link line under the density cut (kept WITH anchor
    * text). Both engines build the IDENTICAL string.
    */
  private def HtmlFixture(docId: org.apache.spark.sql.Column,
                          text: org.apache.spark.sql.Column) = concat(
    lit("<html><head><title>Doc "), docId.cast("string"),
    lit("</title></head><body>\n"),
    lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a>" +
      " <a href=\"/c\">Contact</a></nav>\n"),
    lit("<h1>Doc "), docId.cast("string"), lit("</h1>\n"),
    lit("<p>"), text, lit("</p>\n"),
    lit("<p>Fish &amp; chips &lt;b&gt; &quot;q&quot; &#39;s&#39;" +
      " A&nbsp;B &amp;lt;esc&amp;gt;</p>\n"),
    lit("<p>Read more about this topic <a href=\"/next\">on the next page</a> soon</p>\n"),
    lit("<div class=\"footer\"><a href=\"/x\">x</a>" +
      " <a href=\"/y\">yy</a></div>\n"),
    lit("</body></html>"))

  /** DuckDB twin of `HtmlFixture(doc_id, text)` — `||` kept at line END
    * (stripMargin interpolation trap).
    */
  private val HtmlFixtureSql: String =
    "'<html><head><title>Doc ' || doc_id::VARCHAR || " +
    "'</title></head><body>' || chr(10) || " +
    "'<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a>" +
    " <a href=\"/c\">Contact</a></nav>' || chr(10) || " +
    "'<h1>Doc ' || doc_id::VARCHAR || '</h1>' || chr(10) || " +
    "'<p>' || text || '</p>' || chr(10) || " +
    "'<p>Fish &amp; chips &lt;b&gt; &quot;q&quot; &#39;s&#39;" +
    " A&nbsp;B &amp;lt;esc&amp;gt;</p>' || chr(10) || " +
    "'<p>Read more about this topic <a href=\"/next\">on the next page</a> soon</p>' || chr(10) || " +
    "'<div class=\"footer\"><a href=\"/x\">x</a>" +
    " <a href=\"/y\">yy</a></div>' || chr(10) || " +
    "'</body></html>'"

  // Shared by text_pmi_pairs and its merged-state twin (the steady-state
  // query must reproduce EXACTLY the full recompute — same SQL verbatim).
  private val PmiOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
       |pos AS (SELECT doc_id, i, l[i] AS tok
       |        FROM t, unnest(range(1, len(l)+1)) AS u(i)),
       |pr AS (SELECT least(a.tok, b.tok) AS w1,
       |              greatest(a.tok, b.tok) AS w2
       |       FROM pos a JOIN pos b
       |       ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 3),
       |cp AS (SELECT w1, w2, count(*) AS c_ab FROM pr GROUP BY 1, 2),
       |uni AS (SELECT tok AS w, count(*) AS cw FROM pos GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM pos) AS n_tok,
       |               (SELECT count(*) FROM pr) AS n_p)
       |SELECT w1, w2, c_ab,
       |  round(ln(c_ab::DOUBLE * n_tok * n_tok /
       |           (n_p::DOUBLE * u1.cw * u2.cw)), 4) AS pmi
       |FROM cp JOIN uni u1 ON cp.w1 = u1.w
       |        JOIN uni u2 ON cp.w2 = u2.w, tot
       |WHERE c_ab >= 5
       |ORDER BY c_ab DESC, w1, w2 LIMIT 50""".stripMargin
  private val EnStop = Text.Lexicons.head._2.map(w => s"'$w'").mkString("[", ", ", "]")

  // Shared by every incremental-minhash variant (the % 5 original, the
  // steady-state-split rebuild sibling, and the stored-index twin): ONE
  // oracle template, parameterized only by the batch modulus.
  private def incMinhashOracle(m: Int) =
    s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
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
       |    AND a.doc_id % $m = 0 AND a.doc_id <> b.doc_id
       |    AND (b.doc_id % $m <> 0 OR b.doc_id < a.doc_id)),
       |pairs AS (
       |  SELECT i, j, round(len(list_intersect(x.ts, y.ts)) * 1.0 /
       |          len(list_distinct(list_concat(x.ts, y.ts))), 4) AS jaccard
       |  FROM cand JOIN toks x ON cand.i = x.doc_id JOIN toks y ON cand.j = y.doc_id
       |  WHERE jaccard IS NOT NULL),
       |flagged AS (
       |  SELECT i AS doc_id, min(j) AS dup_of FROM pairs
       |  WHERE jaccard >= 0.5 GROUP BY i)
       |SELECT f.doc_id, f.dup_of, p.jaccard
       |FROM flagged f JOIN pairs p ON p.i = f.doc_id AND p.j = f.dup_of
       |ORDER BY f.doc_id""".stripMargin

  // Shared by dedup_clusters and its incremental-merge twin: connected
  // components by recursive transitive closure over the verified pair
  // graph. The incremental query must reproduce EXACTLY this — merging
  // batch pairs into stored labels is only correct if it equals the full
  // recompute.
  // CTE block only (no WITH / final SELECT) so dedup_keep_best can extend
  // the same construction with its quality join — the two queries must
  // agree on the clustering by sharing its SQL verbatim.
  private val ClustersCtes =
    s"""t AS (SELECT doc_id, $Toks AS l FROM documents),
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
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT i AS a, j AS b FROM (
       |    SELECT i, j,
       |      round(len(list_intersect(x.ts, y.ts)) * 1.0 /
       |            len(list_distinct(list_concat(x.ts, y.ts))), 4) AS jac
       |    FROM cand JOIN toks x ON cand.i = x.doc_id
       |              JOIN toks y ON cand.j = y.doc_id) v
       |  WHERE jac >= 0.5),
       |edges AS (
       |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
       |  UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)""".stripMargin

  private val ClustersOracle =
    s"""WITH RECURSIVE $ClustersCtes
       |SELECT a AS doc_id, min(b) AS cluster_rep
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** Shared by dedup_common_span_incremental AND its stored-index twin —
    * both probes must hash-match the SAME full-closure restriction.
    */
  private val CommonSpanIncOracle =
    s"""WITH sh AS (
       |  SELECT id, unnest(spans) AS span FROM (
       |    SELECT doc_id AS id,
       |      CASE WHEN len($Toks) < 8 THEN []::VARCHAR[]
       |        ELSE list_distinct(list_transform(range(1, len($Toks) - 6),
       |          i -> array_to_string(($Toks)[i : i + 7], ' '))) END AS spans
       |    FROM documents) t),
       |keep AS (SELECT span FROM sh GROUP BY span
       |         HAVING count(*) BETWEEN 2 AND 64)
       |SELECT doc_a, doc_b, n_spans FROM (
       |  SELECT a.id AS doc_a, b.id AS doc_b,
       |         count(DISTINCT a.span) AS n_spans
       |  FROM sh a JOIN keep k ON a.span = k.span
       |            JOIN sh b ON b.span = a.span
       |  WHERE a.id < b.id
       |  GROUP BY 1, 2) p
       |WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared by text_novelty_incremental AND its stored-index twin. */
  private val NoveltyOracle =
    s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
       |sp AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(l) < 8 THEN []::VARCHAR[]
       |      ELSE list_distinct(list_transform(range(1, len(l) - 6),
       |        i -> array_to_string(l[i : i + 7], ' '))) END) AS span
       |  FROM t),
       |corp AS (SELECT DISTINCT span FROM sp WHERE doc_id % 7 <> 0),
       |b AS (SELECT doc_id, span FROM sp WHERE doc_id % 7 = 0)
       |SELECT b.doc_id, count(*) AS n_spans,
       |  sum(CASE WHEN corp.span IS NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_new,
       |  CAST(floor(sum(CASE WHEN corp.span IS NULL THEN 1 ELSE 0 END)::DOUBLE
       |    * 10000 / count(*)) AS BIGINT) AS novelty_bp
       |FROM b LEFT JOIN corp ON b.span = corp.span
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Merge budget for text_bpe_train — small enough that the unrolled
    * oracle stays tractable, large enough to exercise symbol-on-symbol
    * merges (iterations 6+ merge PAIRS OF MERGED symbols, e.g. m+er).
    */
  private[catalog] val BpeK = 10

  /** The unrolled K-iteration DuckDB chain shared by `text_bpe_train`
    * and `text_bpe_apply`: v0 is the char-split word-frequency table;
    * each stage k recounts adjacent pairs (p_k), takes the deterministic
    * argmax (t_k), and folds the greedy left-to-right merge into every
    * sequence (v_k) with `list_reduce` — the exact fold `bpeTrain` runs
    * via `aggregate`. The word column rides along so the apply twin can
    * join the final segmentation back to documents.
    */
  private def bpeChain(k: Int): String = {
    val head =
      s"""WITH words AS (
         |  SELECT w, count(*)::BIGINT AS n
         |  FROM (SELECT unnest($Toks) AS w FROM documents) t GROUP BY w),
         |v0 AS (SELECT w, n, array_to_string(
         |  list_transform(range(1, len(w)+1), i -> substr(w, i, 1)), ' ')
         |  AS seq FROM words)""".stripMargin
    val stages = (1 to k).map { i =>
      s""",
         |p$i AS (SELECT pair, sum(n)::BIGINT AS n_pairs FROM (
         |    SELECT n, unnest(CASE WHEN len(l) < 2 THEN []::VARCHAR[]
         |      ELSE list_transform(range(1, len(l)),
         |        j -> l[j] || ' ' || l[j+1]) END) AS pair
         |    FROM (SELECT n, string_split(seq, ' ') AS l FROM v${i - 1}) q) s
         |  GROUP BY pair),
         |t$i AS (SELECT pair, n_pairs FROM p$i
         |        ORDER BY n_pairs DESC, pair LIMIT 1),
         |v$i AS (SELECT v.w, v.n, list_reduce(string_split(v.seq, ' '),
         |    (acc, x) -> CASE
         |      WHEN x = split_part(t.pair, ' ', 2)
         |        AND (acc = split_part(t.pair, ' ', 1)
         |             OR ends_with(acc, ' ' || split_part(t.pair, ' ', 1)))
         |      THEN left(acc, len(acc) - len(split_part(t.pair, ' ', 1)))
         |           || replace(t.pair, ' ', '')
         |      ELSE acc || ' ' || x END) AS seq
         |  FROM v${i - 1} v, t$i t)""".stripMargin
    }.mkString
    s"$head$stages"
  }

  private def bpeTrainOracle(k: Int): String = {
    val union = (1 to k)
      .map(i => s"SELECT $i::BIGINT AS iter, pair, n_pairs FROM t$i")
      .mkString(" UNION ALL ")
    s"${bpeChain(k)}\nSELECT * FROM ($union) u ORDER BY iter"
  }

  /** `text_bpe_apply`'s twin: join the chain's FINAL segmentation back to
    * per-(doc, word) occurrence counts — subtokens per doc, all integer.
    *
    * NB: `bpeChain(k)` is already stripMargin'ed and its merge-fold stages
    * contain continuation lines beginning with whitespace + `||`; a second
    * stripMargin over the interpolated chain would eat the first pipe and
    * leave a bare `|` binary operator (DuckDB binder error). So — exactly
    * like `bpeTrainOracle` — strip ONLY the new suffix and concatenate.
    */
  private def bpeApplyOracle(k: Int): String =
    s"${bpeChain(k)},\n" +
      s"""docw AS (SELECT doc_id, w, count(*)::BIGINT AS c
         |  FROM (SELECT doc_id, unnest($Toks) AS w FROM documents) t
         |  GROUP BY doc_id, w)
         |SELECT doc_id, sum(c)::BIGINT AS n_words,
         |  sum(c * len(string_split(v.seq, ' ')))::BIGINT AS n_bpe_tokens
         |FROM docw JOIN v$k v USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(

    // X1: corpus word counts (explode + two-phase aggregate), top 20.
    Q("text_tokenize_counts",
      (s, dir) => Text.tokenCounts(load(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("token")).limit(20),
      Some(s"""SELECT token, count(*) AS cnt
             |FROM (SELECT unnest($Toks) AS token FROM documents) t
             |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin)),

    // [ext] hashing-trick featurization (Text.featureHash, Weinberger
    // et al. 2009): md5-bucketed token features with ±1 sign — the
    // fastText/VW input shape, no vocabulary pass. Bucket and sign are
    // md5-prefix arithmetic replayed verbatim by the oracle (the
    // unitHash portability discipline); one explode + keyed count.
    Q("text_feature_hashing",
      (s, dir) => Text.featureHash(load(s, dir, "documents"), 64)
        .orderBy(col("doc_id"), col("bucket")),
      Some(s"""WITH t AS (SELECT doc_id, unnest($Toks) AS tok
             |  FROM documents),
             |b AS (SELECT doc_id,
             |    ('0x' || substr(md5(tok), 1, 7))::BIGINT % 64 AS bucket,
             |    CASE WHEN ('0x' || substr(md5(tok), 8, 1))::BIGINT % 2 = 0
             |      THEN 1 ELSE -1 END AS sgn
             |  FROM t WHERE tok <> '')
             |SELECT doc_id, bucket, count(*) AS tf,
             |  sum(sgn)::BIGINT AS weight
             |FROM b GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin)),

    // [ext] one BPE merge-statistics round: adjacent symbol-pair counts,
    // top 50 under a deterministic (count DESC, pair ASC) total order.
    Q("text_bpe_pair_counts",
      (s, dir) => Text.bpePairCounts(load(s, dir, "documents"))
        .orderBy(col("n_pairs").desc, col("pair")).limit(50),
      Some(s"""WITH words AS (SELECT unnest($Toks) AS w FROM documents),
             |pairs AS (
             |  SELECT unnest(list_transform(range(1, length(w)),
             |    i -> substr(w, i, 2))) AS pair
             |  FROM words WHERE length(w) >= 2)
             |SELECT pair, count(*) AS n_pairs FROM pairs
             |GROUP BY pair ORDER BY n_pairs DESC, pair LIMIT 50""".stripMargin)),

    // [ext] the full iterative BPE trainer: K greedy merge rounds over the
    // vocabulary-sized word-frequency table (Text.bpeTrain). The oracle is
    // the UNROLLED K-stage CTE twin — each stage recounts pairs, picks the
    // same (count DESC, pair ASC) argmax, and replays the greedy
    // left-to-right merge as a list_reduce fold — so the whole merge
    // TRAJECTORY (not just one round) is pinned bit-identically.
    Q("text_bpe_train",
      (s, dir) => Text.bpeTrain(load(s, dir, "documents"), k = BpeK)
        .orderBy(col("iter")),
      Some(bpeTrainOracle(BpeK))),

    // [ext] APPLY the trained tokenizer: per-doc word + BPE-subtoken
    // counts under the K-merge vocabulary text_bpe_train learns — the
    // trainer's final segmented vocab is the apply table (no
    // re-segmentation); doc occurrences collapse map-side before the
    // vocabulary-sized join. Oracle = the same unrolled chain, final
    // stage joined back to documents.
    Q("text_bpe_apply",
      (s, dir) => Text.bpeTokenCounts(load(s, dir, "documents"), k = BpeK)
        .orderBy(col("doc_id")),
      Some(bpeApplyOracle(BpeK))),

    // [ext] APPLY at STEADY STATE: the same per-doc counts against the
    // STORED segmented vocabulary (trained once per session via
    // StoredIndexes — Bench prewarms it outside the timed region). The
    // timed cost is per-(doc, word) map-side collapse + ONE vocab-sized
    // join + keyed sum — no K-round training loop, no argmax barriers:
    // what every batch after the first pays in a production token-budget
    // pipeline. Same oracle: the stored vocabulary must reproduce the
    // from-scratch segmentation exactly.
    Q("text_bpe_apply_indexed",
      (s, dir) => Text.bpeTokenCountsIndexed(
          load(s, dir, "documents"), StoredIndexes.bpeVocab(s, dir))
        .orderBy(col("doc_id")),
      Some(bpeApplyOracle(BpeK))),

    // [ext] GPT-style sequence PACKING (Curate.packSequences): concat
    // documents in doc_id order, split at fixed 512-token boundaries —
    // per doc its global token offset and first/last sequence ids, the
    // pretraining shard layout. The global offset is the two-level
    // cumulative-sum machinery (NO global window — approx bucket bounds
    // → within-bucket window → broadcast offsets); the oracle replays it
    // as one DuckDB running sum. All integer.
    Q("curate_pack_sequences",
      (s, dir) => graft.ops.Curate.packSequences(
          load(s, dir, "documents"), seqLen = 512)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, coalesce(len($Toks), 0)::BIGINT AS c
             |           FROM documents),
             |cum AS (SELECT doc_id, c,
             |    sum(c) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             |      AS hi
             |  FROM t)
             |SELECT doc_id, c AS n_tokens, (hi - c)::BIGINT AS tok_start,
             |  (CASE WHEN c = 0 THEN NULL
             |        ELSE (hi - c) // 512 END)::BIGINT AS seq_first,
             |  (CASE WHEN c = 0 THEN NULL
             |        ELSE (hi - 1) // 512 END)::BIGINT AS seq_last,
             |  (CASE WHEN c = 0 THEN 0
             |        ELSE (hi - 1) // 512 - (hi - c) // 512 + 1
             |   END)::BIGINT AS n_seqs
             |FROM cum ORDER BY doc_id""".stripMargin)),

    // [ext] the packing MANIFEST (Curate.packManifest): one row per
    // (sequence, contributing doc) with the token count it contributes —
    // the writer input for materializing packed shards. Pure integer
    // interval-overlap arithmetic on the cumulative offsets; explode
    // fan-out = straddle count, output-sized. Oracle: the same running
    // sum + unnest(range) + min/max overlap.
    Q("curate_pack_manifest",
      (s, dir) => graft.ops.Curate.packManifest(
          load(s, dir, "documents"), seqLen = 512)
        .orderBy(col("seq_id"), col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, coalesce(len($Toks), 0)::BIGINT AS c
             |           FROM documents),
             |cum AS (SELECT doc_id, c,
             |    sum(c) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             |      AS hi
             |  FROM t),
             |spans AS (SELECT doc_id, (hi - c)::BIGINT AS st, c
             |  FROM cum WHERE c > 0),
             |m AS (SELECT doc_id, st, c,
             |    unnest(range(st // 512, (st + c - 1) // 512 + 1)) AS seq_id
             |  FROM spans)
             |SELECT seq_id, doc_id,
             |  (least(st + c, (seq_id + 1) * 512)
             |    - greatest(st, seq_id * 512))::BIGINT AS n_tok_in_seq
             |FROM m ORDER BY seq_id, doc_id""".stripMargin)),

    // [ext] CCNet-style corpus-frequency doc scores (integer-exact).
    Q("text_unigram_doc_score",
      (s, dir) => Text.unigramDocScores(load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH per_doc AS (
             |  SELECT doc_id, tok, count(*) AS c
             |  FROM (SELECT doc_id, unnest($Toks) AS tok FROM documents) t
             |  GROUP BY doc_id, tok),
             |vocab AS (SELECT tok, sum(c) AS tok_freq FROM per_doc GROUP BY tok)
             |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
             |  sum(c * tok_freq)::BIGINT AS sum_freq
             |FROM per_doc JOIN vocab USING (tok)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // [ext] TRUE log-domain perplexity scoring (Text.unigramSurprisal,
    // Wenzek et al. 2020 / CCNet): mean per-token surprisal in integer
    // micro-nats under the corpus-trained unigram LM — the log domain is
    // what makes perplexity filtering work (one ultra-rare token is NOT
    // compensated by many common ones, unlike the frequency-SUM sibling
    // text_unigram_doc_score above). Float discipline: ONE mirrored ln
    // per DISTINCT vocabulary token on the 6dp-prerounded clamped ratio,
    // floored to micro-nats — everything after is exact integers, so the
    // oracle replays the whole scoring bit-for-bit.
    Q("text_perplexity_unigram",
      (s, dir) => Text.unigramSurprisal(load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, unnest($Toks) AS token
             |           FROM documents),
             |occ AS (SELECT doc_id, token, count(*) AS n FROM t
             |        WHERE token <> '' GROUP BY 1, 2),
             |voc AS (SELECT token, sum(n) AS c FROM occ GROUP BY 1),
             |tot AS (SELECT sum(c) AS nn FROM voc),
             |k AS (SELECT token,
             |    floor(-ln(greatest(
             |      floor((c / nn) * 1000000 + 0.5) / 1000000.0, 1e-6))
             |      * 1000000)::BIGINT AS cost
             |  FROM voc, tot),
             |d AS (SELECT o.doc_id, sum(o.n)::BIGINT AS n_tokens,
             |    sum(o.n * k.cost)::BIGINT AS surprisal_total
             |  FROM occ o JOIN k USING (token) GROUP BY 1)
             |SELECT doc_id, n_tokens, surprisal_total,
             |  (surprisal_total // n_tokens)::BIGINT AS surprisal_per_tok
             |FROM d ORDER BY doc_id""".stripMargin)),

    // [ext] Perplexity against a STORED reference LM — the production
    // steady state (CCNet scores crawls against a Wikipedia LM, not
    // against themselves): the even-doc_id half trains the unigram
    // table, the odd half scores against it. Out-of-vocabulary tokens
    // price at the 1e-6 clamp's maximum cost (13 815 510 micro-nats)
    // straight out of the same formula with c = 0 — and the mutated-copy
    // corpus guarantees OOV tokens, so the path is load-bearing in the
    // hash. The batch never trains anything: one LEFT token-keyed join
    // against the vocabulary-sized stored table.
    Q("text_perplexity_ref",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val lm = Text.tokenCounts(docs.filter(col("doc_id") % 2 === 0))
        Text.unigramSurprisalAgainst(
            docs.filter(col("doc_id") % 2 =!= 0), lm, cntCol = "cnt")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($Toks) AS token
             |           FROM documents),
             |voc AS (SELECT token, count(*) AS c FROM t
             |        WHERE doc_id % 2 = 0 GROUP BY 1),
             |tot AS (SELECT sum(c) AS nn FROM voc),
             |k AS (SELECT token,
             |    floor(-ln(greatest(
             |      floor((c / nn) * 1000000 + 0.5) / 1000000.0, 1e-6))
             |      * 1000000)::BIGINT AS cost
             |  FROM voc, tot),
             |occ AS (SELECT doc_id, token, count(*) AS n FROM t
             |        WHERE doc_id % 2 <> 0 AND token <> '' GROUP BY 1, 2),
             |d AS (SELECT o.doc_id, sum(o.n)::BIGINT AS n_tokens,
             |    sum(o.n * coalesce(k.cost, 13815510))::BIGINT
             |      AS surprisal_total
             |  FROM occ o LEFT JOIN k USING (token) GROUP BY 1)
             |SELECT doc_id, n_tokens, surprisal_total,
             |  (surprisal_total // n_tokens)::BIGINT AS surprisal_per_tok
             |FROM d ORDER BY doc_id""".stripMargin)),

    // [ext] Stored-bigram-LM familiarity scores — the sequence-aware
    // sibling of text_unigram_doc_score. LM = bigram counts from the
    // doc_id%2=0 half; the other half scores (n_bigrams, n_known,
    // Σ occ·lm_freq), all integer (no logs), per-doc counts collapse
    // map-side before the bigram-keyed LM join.
    Q("text_bigram_lm_score",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val lm = Text.bigramLm(docs.filter(col("doc_id") % 2 === 0))
        Text.bigramLmScores(docs.filter(col("doc_id") % 2 =!= 0), lm)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
             |bg AS (SELECT doc_id, unnest(CASE WHEN len(l) < 2
             |    THEN []::VARCHAR[]
             |    ELSE list_transform(range(1, len(l)),
             |      i -> array_to_string(l[i : i + 1], ' ')) END) AS bg
             |  FROM t),
             |lm AS (SELECT bg, count(*) AS lm_freq FROM bg
             |       WHERE doc_id % 2 = 0 GROUP BY bg),
             |tgt AS (SELECT doc_id, bg, count(*) AS c FROM bg
             |        WHERE doc_id % 2 <> 0 GROUP BY doc_id, bg)
             |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
             |  sum(CASE WHEN lm_freq IS NOT NULL THEN c ELSE 0 END)::BIGINT
             |    AS n_known,
             |  sum(c * coalesce(lm_freq, 0))::BIGINT AS sum_freq
             |FROM tgt LEFT JOIN lm USING (bg)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // [ext] Incremental LM maintenance: a new batch's (doc_id%5=0) bigram
    // counts merged into the stored LM built from the rest — the oracle
    // recomputes the LM over the WHOLE corpus, so the hash match proves
    // merge ≡ full recompute (the incremental-view law; old text never
    // re-read). Restricted to lm_freq >= 3 to keep the dump proportionate.
    Q("text_bigram_lm_incremental",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val stored = Text.bigramLm(docs.filter(col("doc_id") % 5 =!= 0))
        val batch = Text.bigramLm(docs.filter(col("doc_id") % 5 === 0))
        Text.mergeBigramLm(stored, batch)
          .filter(col("lm_freq") >= 3)
          .orderBy(col("bg"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
             |bg AS (SELECT doc_id, unnest(CASE WHEN len(l) < 2
             |    THEN []::VARCHAR[]
             |    ELSE list_transform(range(1, len(l)),
             |      i -> array_to_string(l[i : i + 1], ' ')) END) AS bg
             |  FROM t)
             |SELECT bg, count(*) AS lm_freq FROM bg
             |GROUP BY bg HAVING count(*) >= 3 ORDER BY bg""".stripMargin)),

    // [ext] Composed LM filter — the pieces working as a curation
    // pipeline: bigram-LM familiarity (integer avg bigram freq) → rank
    // against the doc's OWN LANGUAGE's distribution (rankNormalizeBpBy —
    // raw familiarity isn't comparable across languages) → keep the top
    // half per language. Every stage integer-exact; the oracle replays
    // the whole composition.
    Q("pipeline_lm_filter",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val lm = Text.bigramLm(docs.filter(col("doc_id") % 2 === 0))
        val scored = Text.bigramLmScores(docs.filter(col("doc_id") % 2 =!= 0), lm)
          .withColumn("familiarity", expr("sum_freq div n_bigrams"))
        val withLang = scored
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("familiarity"))
        graft.ops.Relational.rankNormalizeBpBy(withLang, Seq("lang"),
            col("familiarity"))
          .filter(col("rank_bp") >= 5000)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
             |bg AS (SELECT doc_id, unnest(CASE WHEN len(l) < 2
             |    THEN []::VARCHAR[]
             |    ELSE list_transform(range(1, len(l)),
             |      i -> array_to_string(l[i : i + 1], ' ')) END) AS bg
             |  FROM t),
             |lm AS (SELECT bg, count(*) AS lm_freq FROM bg
             |       WHERE doc_id % 2 = 0 GROUP BY bg),
             |tgt AS (SELECT doc_id, bg, count(*) AS c FROM bg
             |        WHERE doc_id % 2 <> 0 GROUP BY doc_id, bg),
             |sc AS (SELECT doc_id,
             |    (sum(c * coalesce(lm_freq, 0)) // sum(c))::BIGINT
             |      AS familiarity
             |  FROM tgt LEFT JOIN lm USING (bg) GROUP BY doc_id),
             |wl AS (SELECT sc.doc_id, d.lang, familiarity
             |       FROM sc JOIN documents d USING (doc_id)),
             |f AS (SELECT lang, familiarity AS v, count(*) AS c
             |      FROM wl GROUP BY 1, 2),
             |cum AS (SELECT lang, v, c,
             |    sum(c) OVER (PARTITION BY lang ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS hi,
             |    sum(c) OVER (PARTITION BY lang) AS n
             |  FROM f)
             |SELECT wl.doc_id, wl.lang, wl.familiarity,
             |  (((hi - c) * 10000) // n)::BIGINT AS rank_bp
             |FROM wl JOIN cum ON wl.lang = cum.lang AND wl.familiarity = cum.v
             |WHERE ((hi - c) * 10000) // n >= 5000
             |ORDER BY wl.doc_id""".stripMargin)),

    // [ext] Zipf histogram: distinct-token counts per power-of-two
    // frequency bucket; bucket = base-2 digit count (integer-exact).
    Q("text_zipf_histogram",
      (s, dir) => Text.tokenFrequencyHistogram(load(s, dir, "documents"))
        .orderBy(col("freq_bucket")),
      Some(s"""WITH counts AS (
             |  SELECT token, count(*) AS cnt
             |  FROM (SELECT unnest($Toks) AS token FROM documents) t
             |  GROUP BY token)
             |SELECT length(to_base(cnt, 2))::BIGINT AS freq_bucket,
             |  count(*) AS n_tokens
             |FROM counts GROUP BY freq_bucket ORDER BY freq_bucket""".stripMargin)),

    // [ext] Collocation extraction (Church & Hanks 1990): top-50 token
    // pairs co-occurring within a ±3 offset window, ranked by EXACT count
    // (ties on the pair strings — the float PMI is reported, never the
    // sort key). Pairs are generated map-side from array slices (no
    // position self-join, no lambda HOFs); the only shuffles are the two
    // keyed counts. PMI's single ln rounds to 4dp, absorbing cross-engine
    // 1-ulp wobble on exact-integer ratios (DSIR discipline).
    Q("text_pmi_pairs",
      (s, dir) => Text.pmiPairs(load(s, dir, "documents"),
        window = 3, topK = 50, minCount = 5),
      Some(PmiOracleSql)),

    // [ext] PMI at STEADY STATE: the same top-50 computed from MERGED
    // per-batch states (doc_id parity split) — `pmiState` partials sum
    // into exactly the full-corpus state (minCount applies at read time,
    // so pairs crossing the threshold only after a later batch are not
    // lost). The oracle is the identical full-recompute SQL: the hash
    // match IS the merge ≡ full proof, per-row.
    Q("text_pmi_incremental",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Text.pmiFromState(
          Text.mergePmiState(
            Text.pmiState(docs.filter(col("doc_id") % 2 === 0), 3)
              .unionByName(
                Text.pmiState(docs.filter(col("doc_id") % 2 =!= 0), 3))),
          topK = 50, minCount = 5)
      },
      Some(PmiOracleSql)),

    // [ext] TextRank keyword extraction (Mihalcea & Tarau 2004): integer
    // PageRank over the word co-occurrence graph — the PMI pair state's
    // edges (count ≥ 3) undirected, 3 fixed iterations of the same
    // all-long rank arithmetic as graph_pagerank, top-25 by (rank, token).
    // The full composition is vocab-sized after the one corpus-scan state
    // build; the oracle replays pair counts, the undirected closure, and
    // every unrolled iteration, so the ranks are bit-exact, not "close".
    Q("text_textrank_keywords",
      (s, dir) => {
        val edges = Text.pmiState(load(s, dir, "documents"), 3)
          .filter(col("kind") === "p" && col("c") >= 3)
          .select(col("w1").as("src"), col("w2").as("dst"))
        graft.ops.Graph.pageRankBp(graft.ops.Graph.undirect(edges),
            Stop.Rounds(3)).out
          .select(col("node").as("token"), col("rank_bp"))
          .orderBy(col("rank_bp").desc, col("token"))
          .limit(25)
      },
      Some {
        def step(prev: String) =
          s"""SELECT u.dst AS node,
             |  1500 + sum((85 * r.rank_bp) // (100 * d.outdeg)) AS rank_bp
             |FROM und u JOIN deg d ON u.src = d.src
             |           JOIN $prev r ON u.src = r.node
             |GROUP BY u.dst""".stripMargin
        s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
           |pos AS (SELECT doc_id, i, l[i] AS tok
           |        FROM t, unnest(range(1, len(l)+1)) AS u(i)),
           |pr AS (SELECT least(a.tok, b.tok) AS w1,
           |              greatest(a.tok, b.tok) AS w2
           |       FROM pos a JOIN pos b
           |       ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 3),
           |cp AS (SELECT w1, w2, count(*) AS c FROM pr GROUP BY 1, 2),
           |e0 AS (SELECT w1 AS src, w2 AS dst FROM cp WHERE c >= 3),
           |und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
           |r0 AS (SELECT src AS node, 10000::BIGINT AS rank_bp FROM deg),
           |r1 AS (${step("r0")}),
           |r2 AS (${step("r1")}),
           |r3 AS (${step("r2")})
           |SELECT node AS token, rank_bp::BIGINT AS rank_bp FROM r3
           |ORDER BY rank_bp DESC, token LIMIT 25""".stripMargin
      }),

    // X6: per-language/source aggregates (exact integer sums).
    Q("text_lang_stats",
      (s, dir) => load(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          Exact.avgOf(sum(col("n_chars")), count(lit(1))).as("avg_chars"))
        .orderBy(col("lang"), col("source")),
      Some("""SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
             |sum(n_chars)::DOUBLE / count(*) AS avg_chars
             |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // Quality scoring: ratio metrics as floor-scaled basis points
    // (deterministic across engines — no rounding-tie rule; ops.Exact).
    Q("text_quality_score",
      (s, dir) => {
        val d = Text.qualityMetrics(load(s, dir, "documents"))
        d.select(col("doc_id"), col("n_tokens"), col("distinct_bp"),
            col("avg_token_len_bp"), col("stopword_bp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, len(l)::BIGINT AS n_tokens,
             |CAST(floor(len(list_distinct(l))::DOUBLE * 10000 / len(l)) AS BIGINT) AS distinct_bp,
             |CAST(floor(list_sum(list_transform(l, t -> length(t)))::DOUBLE * 10000 / len(l))
             |  AS BIGINT) AS avg_token_len_bp,
             |CAST(floor(len(list_filter(l, t -> list_contains($EnStop, t)))::DOUBLE * 10000
             |  / len(l)) AS BIGINT) AS stopword_bp
             |FROM (SELECT doc_id, $Toks AS l FROM documents) t ORDER BY doc_id""".stripMargin)),

    // Gopher-rules composite quality filter (Rae et al. 2021 App. A):
    // token-count window, mean-token-length window, alpha-word share,
    // ≥2 distinct stopwords — per-rule booleans + the conjunction, all
    // exact integers, one narrow map-side projection. Thresholds chosen
    // so every rule except alpha fails real rows at sf0.01 (72 docs
    // fail overall) — the counts are load-bearing, not all-TRUE.
    Q("text_quality_gopher",
      (s, dir) => Text.gopherQualityFlags(load(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len_bp"),
          col("alpha_word_bp"), col("stop_hits"), col("r_count"),
          col("r_avg_len"), col("r_alpha"), col("r_stop"), col("pass"))
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
             |m AS (SELECT doc_id, len(l)::BIGINT AS n_tokens,
             |  CAST(floor(list_sum(list_transform(l, x -> length(x)))::DOUBLE
             |    * 10000 / len(l)) AS BIGINT) AS avg_token_len_bp,
             |  CAST(floor(len(list_filter(l,
             |      x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
             |    * 10000 / len(l)) AS BIGINT) AS alpha_word_bp,
             |  len(list_intersect(list_distinct(l), $EnStop))::BIGINT
             |    AS stop_hits
             |  FROM t)
             |SELECT doc_id, n_tokens, avg_token_len_bp, alpha_word_bp,
             |  stop_hits,
             |  n_tokens BETWEEN 20 AND 100000 AS r_count,
             |  avg_token_len_bp BETWEEN 40000 AND 100000 AS r_avg_len,
             |  alpha_word_bp >= 7000 AS r_alpha,
             |  stop_hits >= 2 AS r_stop,
             |  (n_tokens BETWEEN 20 AND 100000)
             |    AND (avg_token_len_bp BETWEEN 40000 AND 100000)
             |    AND alpha_word_bp >= 7000 AND stop_hits >= 2 AS pass
             |FROM m ORDER BY doc_id""".stripMargin)),

    // Character-level Shannon entropy — the "text vs noise/base64/binary
    // spill" quality signal next to the token ratios. Exact integer char
    // counts on both engines; H = log2(N) − (Σ n·log2 n)/N so the only
    // float op is log2, rounded 4dp.
    Q("text_char_entropy",
      (s, dir) => Text.charEntropy(load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some("""WITH cc AS (
             |  SELECT doc_id, c, count(*) AS n
             |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
             |        FROM documents) u
             |  WHERE c <> '' GROUP BY doc_id, c)
             |SELECT doc_id, sum(n)::BIGINT AS n_chars,
             |  round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 4) AS entropy_bits
             |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 top-k retrieval over the corpus for a literal query set — the
    // ranked-fuzzy-overlap companion to the exact shingle decontaminator
    // (contamination triage: "which training docs match this prompt").
    // Postings are semi-joined to query terms BEFORE any aggregate, so
    // the scoring shuffles carry only matching postings. The oracle
    // replays the Okapi formula with the identical double association;
    // ::DOUBLE casts keep DuckDB off its DECIMAL-literal path.
    Q("text_bm25_topk",
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          ("q1", Seq("spark", "join", "fast")),
          ("q2", Seq("window", "merge")),
          ("q3", Seq("vector", "scan", "slow"))).toDF("qid", "terms")
        Text.bm25TopK(load(s, dir, "documents"), queries, 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH q(qid, terms) AS (VALUES
             |    ('q1', ['spark', 'join', 'fast']),
             |    ('q2', ['window', 'merge']),
             |    ('q3', ['vector', 'scan', 'slow'])),
             |qt AS (SELECT DISTINCT qid, unnest(terms) AS t FROM q),
             |p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |      FROM documents),
             |dl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
             |       FROM documents),
             |st AS (SELECT count(*) AS n_docs,
             |              sum(len(string_split(text, ' ')))::DOUBLE / count(*) AS avgdl
             |       FROM documents),
             |tf AS (SELECT p.doc_id, p.t, count(*) AS tf
             |       FROM p JOIN (SELECT DISTINCT t FROM qt) x ON p.t = x.t
             |       GROUP BY p.doc_id, p.t),
             |dfx AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
             |sc AS (SELECT qt.qid, tf.doc_id,
             |    round(sum(
             |      ln(1.0::DOUBLE + (st.n_docs - dfx.df + 0.5::DOUBLE)
             |                     / (dfx.df + 0.5::DOUBLE)) *
             |      (tf.tf * 2.2::DOUBLE) /
             |      (tf.tf + (dl.dl / st.avgdl * 0.75::DOUBLE + 0.25::DOUBLE)
             |               * 1.2::DOUBLE)), 4) AS score
             |  FROM tf JOIN dfx ON tf.t = dfx.t JOIN qt ON tf.t = qt.t
             |       JOIN dl ON tf.doc_id = dl.doc_id, st
             |  GROUP BY qt.qid, tf.doc_id)
             |SELECT qid, rank, doc_id, score FROM (
             |  SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY score DESC, doc_id) AS rank FROM sc) t
             |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // Repetition signals (Gopher-style boilerplate detectors): share of all
    // unigrams/bigrams held by the single most frequent gram, floor-scaled
    // basis points. High values mark template/looping text for quality
    // gates; the oracle replays gram construction and both shares.
    Q("text_repetition_bp",
      (s, dir) => Text.repetitionMetrics(load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
             |uc AS (
             |  SELECT doc_id, g, count(*) AS c
             |  FROM (SELECT doc_id, unnest(l) AS g FROM t) u GROUP BY doc_id, g),
             |ua AS (SELECT doc_id, max(c) AS mx, sum(c) AS n FROM uc GROUP BY doc_id),
             |bc AS (
             |  SELECT doc_id, g, count(*) AS c
             |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(l)),
             |    i -> l[i] || ' ' || l[i + 1])) AS g FROM t WHERE len(l) >= 2) b
             |  GROUP BY doc_id, g),
             |ba AS (SELECT doc_id, max(c) AS mx, sum(c) AS n FROM bc GROUP BY doc_id)
             |SELECT t.doc_id,
             |  coalesce(floor(ua.mx * 10000.0 / ua.n), 0)::BIGINT AS top_token_bp,
             |  coalesce(floor(ba.mx * 10000.0 / ba.n), 0)::BIGINT AS top_bigram_bp
             |FROM t LEFT JOIN ua USING (doc_id) LEFT JOIN ba USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Language-ID: lexicon-overlap argmax (first language attaining the max
    // wins, in Lexicons order) — confusion matrix against the labeled lang.
    Q("text_langid_ngram",
      (s, dir) => load(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted")),
      Some {
        val scores = Text.Lexicons.map { case (lang, lex) =>
          s"len(list_intersect(ts, ${lex.map(w => s"'$w'").mkString("[", ", ", "]")})) AS s_$lang"
        }.mkString(",\n")
        val langs = Text.Lexicons.map(_._1)
        val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
        val caseChain = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
        s"""SELECT lang, predicted, count(*) AS n FROM (
           |  SELECT lang, CASE $caseChain END AS predicted FROM (
           |    SELECT lang, $m AS m, * FROM (
           |      SELECT lang, $scores FROM (
           |        SELECT lang, $TokSet AS ts FROM documents) t0) t1) t2) t3
           |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
      }),

    // BPE-ish regex token counting per language.
    Q("text_token_count_bpe",
      (s, dir) => load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(Text.regexTokenCount(col("text")).cast("long")).as("sum_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang")),
      Some(s"""SELECT lang,
             |sum(len(regexp_extract_all(text, '${Text.TokenRegex}')))::BIGINT AS sum_tokens,
             |count(*) AS n_docs
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Order/repetition-insensitive content fingerprint (md5 of sorted
    // distinct token set) — the cheap near-dup collision detector.
    Q("doc_fingerprint",
      (s, dir) => load(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, md5(array_to_string($TokSet, ' ')) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // X2: exact dedup by content hash — survivor id + multiplicity per
    // distinct content (shuffle carries 16-byte digests, not documents).
    Q("dedup_exact",
      (s, dir) => Dedup.exactByContent(load(s, dir, "documents"))
        .select(col("doc_id"), col("n_copies"), col("content_hash"))
        .orderBy(col("doc_id")),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies, md5(text) AS content_hash
             |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin)),

    // X3a: MinHash-LSH near-dup pairs over 3-gram shingles (16 hashes,
    // 8 bands × 2) verified by exact Jaccard ≥ 0.5. The oracle replays
    // signature construction, band bucketing AND verification —
    // full-algorithm equivalence, not a rows-only check.
    Q("dedup_minhash",
      (s, dir) => Dedup.minHashNearDupPairs(load(s, dir, "documents"), 0.5)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
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
             |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
             |pairs AS (
             |  SELECT i AS doc_a, j AS doc_b,
             |    round(len(list_intersect(x.ts, y.ts)) * 1.0 /
             |          len(list_distinct(list_concat(x.ts, y.ts))), 4) AS jaccard
             |  FROM cand JOIN toks x ON cand.i = x.doc_id JOIN toks y ON cand.j = y.doc_id)
             |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // MinHash candidate-budget pre-flight — third member of the LSH budget
    // family (see dedup_simhash_budget): Σ C(bucket, 2) over the 8-band ×
    // 2-hash buckets, one signature pass + one keyed count. The oracle
    // replays signatures and band keys exactly as dedup_minhash does, then
    // the bucket combinatorics.
    Q("dedup_minhash_budget",
      (s, dir) => Dedup.minHashCandidateBudget(load(s, dir, "documents")),
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
             |toks AS (
             |  SELECT doc_id, CASE WHEN len(l) < 3 THEN []::VARCHAR[]
             |    ELSE list_sort(list_distinct(list_transform(range(1, len(l) - 1),
             |      i -> array_to_string(l[i : i + 2], ' ')))) END AS ts
             |  FROM t),
             |hv AS (
             |  SELECT doc_id, list_transform(ts,
             |    t -> ('0x' || substr(md5(t), 1, 7))::BIGINT) AS hv
             |  FROM toks WHERE len(ts) > 0),
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
             |c AS (SELECT count(*) AS c FROM bands GROUP BY band, band_key)
             |SELECT (coalesce(sum(c), 0) // 8)::BIGINT AS n_docs,
             |  count(*)::BIGINT AS n_buckets,
             |  coalesce(max(c), 0)::BIGINT AS max_bucket,
             |  coalesce(sum((c * (c - 1)) // 2), 0)::BIGINT AS cand_pairs
             |FROM c""".stripMargin)),

    // X2 incremental: exact dedup of a NEW batch (doc_id % 5 = 0) against
    // the EXISTING corpus (the rest) — the steady-state production shape;
    // nothing corpus-wide recomputes per ingest. Survivors = min-id within
    // the batch's own dup groups, minus content already in the corpus.
    Q("dedup_incremental_exact",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Dedup.exactIncremental(
            docs.filter(col("doc_id") % 5 === 0),
            Dedup.contentDigests(docs.filter(col("doc_id") % 5 =!= 0)))
          .select(col("doc_id"), col("content_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
             |nw AS (SELECT * FROM h WHERE doc_id % 5 = 0),
             |surv AS (SELECT content_md5, min(doc_id) AS doc_id
             |  FROM nw GROUP BY content_md5)
             |SELECT doc_id, content_md5 FROM surv
             |WHERE content_md5 NOT IN (
             |  SELECT content_md5 FROM h WHERE doc_id % 5 <> 0)
             |ORDER BY doc_id""".stripMargin)),

    // X2 incremental behind a Bloom pre-probe (Dedup.exactIncrementalBloom)
    // — the 100 TB ingest shape: the corpus's digest table reduces to a
    // broadcastable Bloom sketch (Spark's own BloomFilterAggregate, built
    // here in one pass; stored next to the digest table in production),
    // batch survivors that MISS the bloom are provably novel and skip the
    // corpus entirely, hits confirm through the same anti-join. The oracle
    // is dedup_incremental_exact's plain anti-join VERBATIM — the hash
    // match proves bloom-prefiltered ≡ unfiltered at any fpp.
    Q("dedup_incremental_exact_bloom",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val corpus = graft.ops.Dedup.contentDigests(
          docs.filter(col("doc_id") % 5 =!= 0))
        val bloom = graft.ops.Dedup.digestBloom(
          corpus, expectedItems = 1L << 17, numBits = 1L << 21)
        graft.ops.Dedup.exactIncrementalBloom(
            docs.filter(col("doc_id") % 5 === 0), corpus, bloom)
          .select(col("doc_id"), col("content_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
             |nw AS (SELECT * FROM h WHERE doc_id % 5 = 0),
             |surv AS (SELECT content_md5, min(doc_id) AS doc_id
             |  FROM nw GROUP BY content_md5)
             |SELECT doc_id, content_md5 FROM surv
             |WHERE content_md5 NOT IN (
             |  SELECT content_md5 FROM h WHERE doc_id % 5 <> 0)
             |ORDER BY doc_id""".stripMargin)),

    // X3 incremental: MinHash-LSH near-dup flags for the same NEW batch
    // against the corpus — band buckets join NEW×CORPUS and NEW×earlier-NEW
    // only (CORPUS×CORPUS happened at its own ingest). The oracle replays
    // signatures, banding, candidate scoping AND the min-dup_of policy.
    Q("dedup_incremental_minhash",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Dedup.minHashIncremental(
            docs.filter(col("doc_id") % 5 === 0),
            docs.filter(col("doc_id") % 5 =!= 0), 0.5)
          .orderBy(col("doc_id"))
      },
      Some(incMinhashOracle(5))),

    // STEADY-STATE-split rebuild baseline: same semantics, but the batch is
    // 2% of the corpus (doc_id % 50) — the honest per-ingest shape, where
    // re-shingling the 98% corpus side from text dominates. Exists so the
    // stored-index twin below has an apples-to-apples sibling: the % 5
    // query's 20% batch makes index build a minority cost and the contrast
    // structural noise.
    Q("dedup_incremental_minhash_small",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Dedup.minHashIncremental(
            docs.filter(col("doc_id") % StoredIndexes.DocMod === 0),
            docs.filter(col("doc_id") % StoredIndexes.DocMod =!= 0), 0.5)
          .orderBy(col("doc_id"))
      },
      Some(incMinhashOracle(StoredIndexes.DocMod))),

    // The same steady-state ingest against the STORED corpus index (built
    // once per session via StoredIndexes — Bench prewarms it outside the
    // timed region): this query's cost is batch shingling + band probes +
    // candidate verify ONLY. Identical result and oracle as the _small
    // rebuild sibling — the bench delta between the two IS the per-ingest
    // saving the stored index exists to deliver.
    Q("dedup_incremental_minhash_indexed",
      (s, dir) => {
        val (toks, banded) = StoredIndexes.minHash(s, dir)
        Dedup.minHashIncrementalIndexed(
            load(s, dir, "documents")
              .filter(col("doc_id") % StoredIndexes.DocMod === 0),
            toks, banded, 0.5)
          .orderBy(col("doc_id"))
      },
      Some(incMinhashOracle(StoredIndexes.DocMod))),

    // X3a': near-dup CLUSTERS — connected components over the verified
    // MinHash pair graph, min-id representative per component (the dedup
    // survivor policy). Oracle recomputes the same components by recursive
    // transitive closure; components are small by construction, so the
    // closure stays tiny even though pairwise near-dup is not transitive.
    Q("dedup_clusters",
      (s, dir) => Dedup.nearDupClusters(load(s, dir, "documents"), 0.5)
        .orderBy(col("doc_id")),
      Some(ClustersOracle)),

    // X3a'' — INCREMENTAL clustering: stored labels (clusters over the
    // corpus split) + the batch's full probe pair set, merged by
    // mergeClusters (rep-graph union-find over affected components only —
    // history is never re-propagated). The candidate coverage of
    // corpus-pairs ∪ batch-probe-pairs equals the full corpus+batch LSH
    // scan, so the merged labels must hash-match the FULL-recompute
    // oracle — the equality that makes incremental maintenance sound.
    Q("dedup_clusters_incremental",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        val labels = Dedup.nearDupClusters(corpus, 0.5)
        val (toks, banded) = Dedup.minHashIndex(corpus)
        val newPairs = Dedup.minHashIncrementalIndexedPairs(batch, toks, banded, 0.5)
          .select(col("doc_id").as("doc_a"), col("dup_of").as("doc_b"))
        Dedup.mergeClusters(labels, newPairs).orderBy(col("doc_id"))
      },
      Some(ClustersOracle)),

    // X3a''' — incremental clustering at STEADY STATE: stored labels AND
    // stored MinHash index (both built once per session via StoredIndexes —
    // Bench prewarms them outside the timed region), so the timed cost is
    // the per-ingest merge a production loop actually pays: batch shingling
    // + band probes + mergeClusters' rep-graph union-find. The rebuild
    // sibling above recomputes corpus labels + index per run for oracle
    // replay; the bench delta between the two IS the per-ingest saving.
    // Same full-recompute closure oracle — the steady-state split's
    // corpus-pairs ∪ batch-probe-pairs still covers the full LSH scan.
    Q("dedup_clusters_incremental_indexed",
      (s, dir) => {
        val (toks, banded) = StoredIndexes.minHash(s, dir)
        val labels = StoredIndexes.clusterLabels(s, dir)
        val batch = load(s, dir, "documents")
          .filter(col("doc_id") % StoredIndexes.DocMod === 0)
        val newPairs = Dedup.minHashIncrementalIndexedPairs(batch, toks, banded, 0.5)
          .select(col("doc_id").as("doc_a"), col("dup_of").as("doc_b"))
        Dedup.mergeClusters(labels, newPairs).orderBy(col("doc_id"))
      },
      Some(ClustersOracle)),

    // X3b: SimHash 32-bit fingerprints (per-nibble-high-bit of md5 votes).
    Q("dedup_simhash",
      (s, dir) => load(s, dir, "documents")
        .select(col("doc_id"), Dedup.simHashBits(Text.tokenSet(col("text"))).as("simhash"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
             |array_to_string(list_transform(range(1, 33), i ->
             |  CASE WHEN list_sum(list_transform(hs, h ->
             |    CASE WHEN substr(h, i, 1) >= '8' THEN 1 ELSE -1 END)) > 0
             |  THEN '1' ELSE '0' END), '') AS simhash
             |FROM (SELECT doc_id, list_transform($TokSet, t -> md5(t)) AS hs
             |      FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // X3b': SimHash near-dup PAIRS (hamming ≤ 3) via 4-band exact-match
    // blocking — PROVABLY lossless by pigeonhole (3 differing bits cannot
    // touch all 4 fingerprint slices), unlike the probabilistic cosine/
    // Jaccard LSH families. The oracle is the quadratic hamming definition;
    // the hash match is the (here: unconditional) losslessness proof. The
    // catalog instance runs on a 1/5 subset and aggregates to pair counts
    // per distance: this corpus's tiny shared vocabulary collapses token-set
    // SimHashes so badly that raw h≤3 pair output is ~28% of ALL pairs
    // (3.5 M rows at sf0.1) — data pathology, not operator pathology; the
    // operator itself returns the raw pairs.
    Q("dedup_simhash_pairs",
      (s, dir) => Dedup.simHashNearDupPairs(
          load(s, dir, "documents").filter(col("doc_id") % 5 === 0), 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming")),
      Some(s"""WITH f AS (
             |  SELECT doc_id,
             |    array_to_string(list_transform(range(1, 33), i ->
             |      CASE WHEN list_sum(list_transform(hs, h ->
             |        CASE WHEN substr(h, i, 1) >= '8' THEN 1 ELSE -1 END)) > 0
             |      THEN '1' ELSE '0' END), '') AS fp
             |  FROM (SELECT doc_id, list_transform($TokSet, t -> md5(t)) AS hs
             |        FROM documents WHERE doc_id % 5 = 0) t)
             |SELECT hamming, count(*) AS n_pairs FROM (
             |  SELECT list_sum(list_transform(range(1, 33), i ->
             |      CASE WHEN substr(a.fp, i, 1) <> substr(b.fp, i, 1)
             |        THEN 1 ELSE 0 END))::BIGINT AS hamming
             |  FROM f a JOIN f b ON a.doc_id < b.doc_id) p
             |WHERE hamming <= 3 GROUP BY hamming ORDER BY hamming""".stripMargin)),

    // LSH candidate-budget pre-flight (Dedup.simHashCandidateBudget): the
    // pre-distinct pair fan-out Σ C(bucket, 2) of the 4×8-bit simhash
    // banding, from ONE O(n) keyed count — no self-join. This is the probe
    // a 100 TB operator runs to decide when the band knobs must widen
    // (BASELINE.md sf10 decade table: fixed knobs densify ~quadratically,
    // scaled knobs restore ~linear candidates). Oracle replays the
    // fingerprints and the bucket combinatorics exactly.
    Q("dedup_simhash_budget",
      (s, dir) => Dedup.simHashCandidateBudget(load(s, dir, "documents")),
      Some(s"""WITH f AS (
             |  SELECT doc_id,
             |    array_to_string(list_transform(range(1, 33), i ->
             |      CASE WHEN list_sum(list_transform(hs, h ->
             |        CASE WHEN substr(h, i, 1) >= '8' THEN 1 ELSE -1 END)) > 0
             |      THEN '1' ELSE '0' END), '') AS fp
             |  FROM (SELECT doc_id, list_transform($TokSet, t -> md5(t)) AS hs
             |        FROM documents) t),
             |c AS (SELECT count(*) AS c FROM (
             |    SELECT doc_id, k::VARCHAR || ':' || substr(fp, k * 8 + 1, 8) AS bkey
             |    FROM f, (SELECT unnest(range(4)) AS k) ks) b
             |  GROUP BY bkey)
             |SELECT (SELECT count(*) FROM f)::BIGINT AS n_docs,
             |  (SELECT count(*) FROM c)::BIGINT AS n_buckets,
             |  (SELECT max(c) FROM c)::BIGINT AS max_bucket,
             |  (SELECT coalesce(sum((c * (c - 1)) // 2), 0) FROM c)::BIGINT
             |    AS cand_pairs""".stripMargin)),

    // X3c: exact n-gram (3-shingle) Jaccard pairs ≥ 0.6 per language.
    // The Spark side prunes the O(n²) scan with LOSSLESS PPJoin prefix
    // filtering (rarest ⌊0.4·n⌋+2 shingles — the +2, not the textbook +1,
    // absorbs float-ulp undershoot of (1−t)·n; see Dedup.ngramJaccardPairs);
    // the oracle is the plain quadratic DEFINITION — the hash match proves
    // the pruning drops nothing.
    Q("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(load(s, dir, "documents"), 3, 0.6)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH t AS (
             |  SELECT doc_id AS id, lang,
             |    CASE WHEN len($Toks) < 3 THEN []::VARCHAR[]
             |      ELSE list_sort(list_distinct(list_transform(range(1, len($Toks) - 1),
             |        i -> array_to_string(($Toks)[i : i + 2], ' ')))) END AS sh
             |  FROM documents)
             |SELECT doc_a, doc_b, jaccard FROM (
             |  SELECT a.id AS doc_a, b.id AS doc_b,
             |    round(len(list_intersect(a.sh, b.sh)) * 1.0 /
             |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
             |  FROM t a JOIN t b ON a.lang = b.lang AND a.id < b.id) p
             |WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin)),

    // Dirichlet query-likelihood retrieval (Text.dirichletQlTopK — Zhai &
    // Lafferty '01), the language-model ranking family next to BM25: the
    // matching-terms decomposition touches only matching postings, the
    // per-query constant keeps emitted scores true log-likelihoods, and
    // cf=0 query terms drop as uninformative. Same query set as
    // text_bm25_topk so the two models' orderings are directly
    // comparable; the oracle replays the identical double-op order
    // (round 4 absorbs the ln ulp).
    Q("text_ql_topk",
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          ("q1", Seq("spark", "join", "fast")),
          ("q2", Seq("window", "merge")),
          ("q3", Seq("vector", "scan", "slow"))).toDF("qid", "terms")
        Text.dirichletQlTopK(load(s, dir, "documents"), queries, 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH q(qid, terms) AS (VALUES
             |    ('q1', ['spark', 'join', 'fast']),
             |    ('q2', ['window', 'merge']),
             |    ('q3', ['vector', 'scan', 'slow'])),
             |qt AS (SELECT DISTINCT qid, unnest(terms) AS t FROM q),
             |p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |      FROM documents),
             |dl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
             |       FROM documents),
             |nt AS (SELECT sum(dl)::BIGINT AS n_tok FROM dl),
             |cf AS (SELECT p.t, count(*) AS cf
             |       FROM p JOIN (SELECT DISTINCT t FROM qt) x ON p.t = x.t
             |       GROUP BY p.t),
             |qc AS (SELECT qid,
             |    sum(ln(cf / n_tok)) + count(*) * ln(2000.0::DOUBLE) AS kq,
             |    count(*) AS nq
             |  FROM qt JOIN cf ON qt.t = cf.t, nt GROUP BY qid),
             |tf AS (SELECT p.doc_id, p.t, count(*) AS tf
             |       FROM p JOIN cf ON p.t = cf.t GROUP BY p.doc_id, p.t),
             |m AS (SELECT qt.qid, tf.doc_id,
             |    sum(ln(1.0::DOUBLE + (tf.tf * nt.n_tok)
             |                       / (2000.0::DOUBLE * cf.cf))) AS m
             |  FROM tf JOIN cf ON tf.t = cf.t JOIN qt ON tf.t = qt.t, nt
             |  GROUP BY qt.qid, tf.doc_id),
             |sc AS (SELECT m.qid, m.doc_id,
             |    round(m.m + qc.kq - qc.nq * ln(dl.dl + 2000.0::DOUBLE), 4)
             |      AS score
             |  FROM m JOIN qc ON m.qid = qc.qid
             |       JOIN dl ON m.doc_id = dl.doc_id)
             |SELECT qid, rank, doc_id, score FROM (
             |  SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY score DESC, doc_id) AS rank FROM sc) t
             |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // [ext] Cross-source duplication matrix — the governance report a
    // training-data pipeline runs before mixing corpora: verified
    // near-dup pairs (the ngram-jaccard definition above) aggregated by
    // unordered source pair, with the pair count and the SUM of jaccard
    // in integer basis points (a float avg would be partition-order-
    // dependent; the bp sum is exact and order-free — readers divide).
    // Costs one small keyed join back to (doc_id, source) on top of the
    // PPJoin pair generation; output is O(sources²), driver-safe.
    Q("dedup_cross_source_matrix",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        Dedup.ngramJaccardPairs(docs, 3, 0.6)
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("_sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("_sb")), "doc_b")
          .select(least(col("_sa"), col("_sb")).as("source_a"),
            greatest(col("_sa"), col("_sb")).as("source_b"),
            col("jaccard"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(round(col("jaccard") * 10000).cast("long"))
              .as("sum_jaccard_bp"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id AS id, lang,
             |    CASE WHEN len($Toks) < 3 THEN []::VARCHAR[]
             |      ELSE list_sort(list_distinct(list_transform(range(1, len($Toks) - 1),
             |        i -> array_to_string(($Toks)[i : i + 2], ' ')))) END AS sh
             |  FROM documents),
             |p AS (SELECT doc_a, doc_b, jaccard FROM (
             |  SELECT a.id AS doc_a, b.id AS doc_b,
             |    round(len(list_intersect(a.sh, b.sh)) * 1.0 /
             |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
             |  FROM t a JOIN t b ON a.lang = b.lang AND a.id < b.id) q
             |  WHERE jaccard >= 0.6)
             |SELECT least(sa.source, sb.source) AS source_a,
             |  greatest(sa.source, sb.source) AS source_b,
             |  count(*) AS n_pairs,
             |  sum(CAST(round(jaccard * 10000, 0) AS BIGINT))::BIGINT
             |    AS sum_jaccard_bp
             |FROM p JOIN documents sa ON p.doc_a = sa.doc_id
             |       JOIN documents sb ON p.doc_b = sb.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // n-gram CONTAINMENT dedup (Broder 1997's asymmetric companion to
    // resemblance): directed pairs where ≥ 80% of src's 3-gram shingles
    // occur in dst — the "truncation / excerpt / superset" signal that
    // Jaccard structurally misses when lengths differ (the union term
    // grows with the longer doc). Lossless asymmetric prefix filter:
    // src's df-ordered prefix joins dst's FULL shingle list (see
    // ops/Dedup.scala); the oracle is the quadratic definition, so the
    // hash match proves losslessness. Empty shingle sets (< n tokens)
    // are excluded as src — containment over ∅ is undefined.
    Q("dedup_containment",
      (s, dir) => Dedup.containmentPairs(load(s, dir, "documents"), 3, 0.8)
        .orderBy(col("src"), col("dst")),
      Some(s"""WITH t AS (
             |  SELECT doc_id AS id, lang,
             |    CASE WHEN len($Toks) < 3 THEN []::VARCHAR[]
             |      ELSE list_sort(list_distinct(list_transform(range(1, len($Toks) - 1),
             |        i -> array_to_string(($Toks)[i : i + 2], ' ')))) END AS sh
             |  FROM documents)
             |SELECT src, dst, containment FROM (
             |  SELECT a.id AS src, b.id AS dst,
             |    round(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 4)
             |      AS containment
             |  FROM t a JOIN t b ON a.lang = b.lang AND a.id <> b.id
             |  WHERE len(a.sh) > 0) p
             |WHERE containment >= 0.8 ORDER BY src, dst""".stripMargin)),

    // OOV tracking (Text.vocabulary + oovStats): the 10% batch's token
    // occurrences probed against the 90% corpus's stored vocabulary —
    // vocab drift / tokenizer coverage per ingest batch. The vocabulary
    // is distinct by construction so the membership join never multiplies
    // rows; rate is exact basis points.
    Q("text_oov_rate",
      (s, dir) => {
        val d = load(s, dir, "documents")
        graft.ops.Text.oovStats(
            d.filter(col("doc_id") % 10 === 0),
            graft.ops.Text.vocabulary(d.filter(col("doc_id") % 10 =!= 0)))
          .orderBy(col("lang"))
      },
      Some(s"""WITH v AS (
             |  SELECT DISTINCT lang, unnest($Toks) AS token
             |  FROM documents WHERE doc_id % 10 <> 0),
             |bt AS (SELECT lang, unnest($Toks) AS token
             |       FROM documents WHERE doc_id % 10 = 0)
             |SELECT bt.lang, count(*) AS n_tokens,
             |  sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             |  CAST(floor(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
             |    * 10000 / count(*)) AS BIGINT) AS oov_bp
             |FROM bt LEFT JOIN v ON bt.lang = v.lang AND bt.token = v.token
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental corpus statistics — ops/IncrAgg applied to the TEXT
    // domain (the operator is generic over any keyed value): per-language
    // token totals maintained from 3 ingest batches' mergeable partials,
    // hash-matched against the full single-pass recompute. The HLL sketch
    // tracks distinct per-language document LENGTHS (a skewed, non-unique
    // column — a real distinct-count, unlike unique ids).
    Q("text_incremental_stats",
      (s, dir) => {
        val d = load(s, dir, "documents")
          .withColumn("_nt", size(split(col("text"), " ")).cast("long"))
        val state = (0 until 3).map { b =>
          graft.ops.IncrAgg.partialState(
            d.filter(pmod(col("doc_id"), lit(3)) === b),
            Seq("lang"), col("_nt"), col("_nt"))
        }.reduce(_ unionByName _)
        val merged = graft.ops.IncrAgg.mergeState(state, Seq("lang"))
        val exact = d.groupBy(col("lang"))
          .agg(countDistinct(col("_nt")).as("n_lens"))
        merged.join(exact, Seq("lang"))
          .select(col("lang"), col("cnt"), col("sum_v").as("sum_tokens"),
            col("min_v").as("min_tokens"), col("max_v").as("max_tokens"),
            col("n_lens"),
            (abs(col("approx_distinct") - col("n_lens")) <=
              lit(3 * 0.016) * col("n_lens")).as("approx_ok"))
          .orderBy(col("lang"))
      },
      Some(s"""SELECT lang, count(*) AS cnt,
             |sum(len($Toks))::BIGINT AS sum_tokens,
             |min(len($Toks))::BIGINT AS min_tokens,
             |max(len($Toks))::BIGINT AS max_tokens,
             |count(DISTINCT len($Toks)) AS n_lens, TRUE AS approx_ok
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // X3d: exact common-SPAN pairs (Dedup.commonSpanPairs) — documents
    // sharing ≥1 verbatim 8-token run. The substring-level duplication
    // signal Jaccard can't see (a long quote inside otherwise-different
    // docs); spans with df > 64 are excluded as boilerplate, which also
    // caps the per-span pair fan-out. The Spark side groups 16-byte span
    // digests; the oracle groups the raw span text — same partition.
    Q("dedup_common_span",
      (s, dir) => graft.ops.Dedup
        .commonSpanPairs(load(s, dir, "documents"), 8, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH sh AS (
             |  SELECT id, unnest(spans) AS span FROM (
             |    SELECT doc_id AS id,
             |      CASE WHEN len($Toks) < 8 THEN []::VARCHAR[]
             |        ELSE list_distinct(list_transform(range(1, len($Toks) - 6),
             |          i -> array_to_string(($Toks)[i : i + 7], ' '))) END AS spans
             |    FROM documents) t),
             |keep AS (SELECT span FROM sh GROUP BY span
             |         HAVING count(*) BETWEEN 2 AND 64)
             |SELECT a.id AS doc_a, b.id AS doc_b,
             |       count(DISTINCT a.span) AS n_spans
             |FROM sh a JOIN keep k ON a.span = k.span
             |          JOIN sh b ON b.span = a.span
             |WHERE a.id < b.id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Incremental common-span probe: the 10% batch (doc_id % 10 = 0)
    // probes the 90% corpus's span-digest index — NEW×CORPUS and
    // NEW×NEW only, corpus text never re-shingled. Oracle = the FULL
    // commonSpanPairs closure restricted to pairs touching the batch, so
    // the hash match proves the probe (including the df cap computed over
    // the union) is exactly the full recompute's answer for those pairs.
    Q("dedup_common_span_incremental",
      (s, dir) => {
        val d = load(s, dir, "documents")
        val index = graft.ops.Dedup.spanIndex(
          d.filter(col("doc_id") % 10 =!= 0), 8)
        graft.ops.Dedup.commonSpanIncrementalPairs(
            d.filter(col("doc_id") % 10 === 0), index, 8, maxDf = 64)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(CommonSpanIncOracle)),

    // STORED-INDEX steady-state twin of the probe above — SAME split, SAME
    // oracle: the span-digest index is built once per session
    // (StoredIndexes.spanIdx, Bench-prewarmed), so the timed region is
    // batch span hashing + the digest join + the pair aggregate only,
    // never the 90% corpus side's re-shingling. The per-ingest shape of
    // run-over-run substring dedup.
    Q("dedup_common_span_incremental_indexed",
      (s, dir) => graft.ops.Dedup.commonSpanIncrementalPairs(
          load(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          StoredIndexes.spanIdx(s, dir, 10), 8, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(CommonSpanIncOracle)),

    // End-to-end corpus-cleaning pipeline — the composition the operators
    // exist for: normalize → exact-dedup on normalized content (min doc_id
    // survives) → quality gate (length + distinct-token ratio) → per-language
    // corpus stats. One lazy plan; Catalyst fuses the narrow stages and the
    // only shuffles are the dedup key and the final groupBy.
    Q("pipeline_corpus_clean",
      (s, dir) => {
        // Projection structure is deliberate: `nm` (two regex passes) and
        // `toks` (split) are each defined in their own projection and then
        // referenced MULTIPLE times by the next one — CollapseProject only
        // inlines non-cheap expressions with a single reference, so each is
        // computed once per row instead of once per downstream use (the
        // round-1 shape re-ran the normalize chain ~4× per row).
        val n = load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), Text.normalize(col("text")).as("nm"))
        val t = n.select(col("doc_id"), col("lang"), col("nm"),
          split(col("nm"), " ").as("toks"))
        val m = t.select(col("doc_id"), col("lang"),
          md5(col("nm").cast("binary")).as("k"),
          size(col("toks")).cast("long").as("n_tokens"),
          graft.ops.Exact.ratioBp(size(array_distinct(col("toks"))).cast("long"),
            size(col("toks")).cast("long")).as("distinct_bp"))
        graft.ops.Relational.firstPerKey(m, Seq("k"), Seq(col("doc_id").asc))
          .filter(col("n_tokens") >= 30 && col("distinct_bp") >= 4000)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
          .orderBy(col("lang"))
      },
      Some("""WITH n AS (
             |  SELECT doc_id, lang,
             |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             |      ' +', ' ', 'g')) AS nm
             |  FROM documents),
             |d AS (
             |  SELECT *, row_number() OVER (PARTITION BY md5(nm) ORDER BY doc_id) AS rn
             |  FROM n),
             |k AS (
             |  SELECT lang, len(string_split(nm, ' ')) AS nt,
             |    floor(len(list_distinct(string_split(nm, ' '))) * 10000.0 /
             |          len(string_split(nm, ' ')))::BIGINT AS dbp
             |  FROM d WHERE rn = 1)
             |SELECT lang, count(*) AS n_docs, sum(nt)::BIGINT AS sum_tokens
             |FROM k WHERE nt >= 30 AND dbp >= 4000
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Markup/boilerplate strip (ops/Text.stripMarkup) — the web-crawl
    // stage 0 over a deterministic HTML fixture wrapping every document:
    // a nav bar and a link-only footer (link density 100% → the
    // line-level rule MUST drop them), a mixed read-more line (density
    // under the cut → kept WITH its anchor text), an entity-laden line
    // (every decode rule load-bearing, &amp; last), and the document text
    // in a <p>. The md5 over the cleaned text proves byte equality of
    // the whole strip → filter → decode chain across engines.
    Q("text_strip_markup",
      (s, dir) => {
        val html = HtmlFixture(col("doc_id"), col("text"))
        val h = load(s, dir, "documents")
          .select(col("doc_id"), html.as("html"))
        h.select(col("doc_id"),
            Text.stripMarkup(col("html")).as("clean"))
          .select(col("doc_id"),
            length(col("clean")).cast("long").as("n_chars_clean"),
            md5(col("clean").cast("binary")).as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH h AS (SELECT doc_id, ${HtmlFixtureSql} AS html
             |    FROM documents),
             |c AS (SELECT doc_id, ${Text.stripMarkupSql("html")} AS clean
             |  FROM h)
             |SELECT doc_id, len(clean)::BIGINT AS n_chars_clean,
             |  md5(clean) AS clean_md5
             |FROM c ORDER BY doc_id""".stripMargin)),

    // pipeline_corpus_clean with stripMarkup wired as STAGE 0: raw HTML →
    // markup strip → normalize → exact-dedup on the normalized hash →
    // Gopher-ish gates → per-lang rollup. Same projection discipline as
    // the plain pipeline (each expensive column in its own projection,
    // referenced multiple times downstream so CollapseProject cannot
    // inline a recompute per use).
    Q("pipeline_corpus_clean_html",
      (s, dir) => {
        val html = HtmlFixture(col("doc_id"), col("text"))
        val h = load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), html.as("html"))
        val n = h.select(col("doc_id"), col("lang"),
          Text.normalize(Text.stripMarkup(col("html"))).as("nm"))
        val t = n.select(col("doc_id"), col("lang"), col("nm"),
          split(col("nm"), " ").as("toks"))
        val m = t.select(col("doc_id"), col("lang"),
          md5(col("nm").cast("binary")).as("k"),
          size(col("toks")).cast("long").as("n_tokens"),
          graft.ops.Exact.ratioBp(size(array_distinct(col("toks"))).cast("long"),
            size(col("toks")).cast("long")).as("distinct_bp"))
        graft.ops.Relational.firstPerKey(m, Seq("k"), Seq(col("doc_id").asc))
          .filter(col("n_tokens") >= 30 && col("distinct_bp") >= 4000)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH h AS (SELECT doc_id, lang, ${HtmlFixtureSql} AS html
             |    FROM documents),
             |n AS (
             |  SELECT doc_id, lang,
             |    trim(regexp_replace(regexp_replace(lower(${Text.stripMarkupSql("html")}),
             |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nm
             |  FROM h),
             |d AS (
             |  SELECT *, row_number() OVER (PARTITION BY md5(nm) ORDER BY doc_id) AS rn
             |  FROM n),
             |k AS (
             |  SELECT lang, len(string_split(nm, ' ')) AS nt,
             |    floor(len(list_distinct(string_split(nm, ' '))) * 10000.0 /
             |          len(string_split(nm, ' ')))::BIGINT AS dbp
             |  FROM d WHERE rn = 1)
             |SELECT lang, count(*) AS n_docs, sum(nt)::BIGINT AS sum_tokens
             |FROM k WHERE nt >= 30 AND dbp >= 4000
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Top distinctive terms per doc: tf-idf ordering without ln (integer
    // (tf desc, df asc) ranking — bit-equal across engines, unlike libm ln).
    Q("text_top_terms",
      (s, dir) => Text.topTermsPerDoc(load(s, dir, "documents"), 3)
        .orderBy(col("doc_id"), col("rank")),
      Some(s"""WITH tf AS (
             |  SELECT doc_id, token, count(*) AS tf FROM (
             |    SELECT doc_id, unnest($Toks) AS token FROM documents) t
             |  GROUP BY doc_id, token),
             |d AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
             |SELECT doc_id, rank, token, tf, df FROM (
             |  SELECT tf.doc_id, tf.token, tf.tf, d.df,
             |    row_number() OVER (PARTITION BY tf.doc_id
             |      ORDER BY tf.tf DESC, d.df ASC, tf.token) AS rank
             |  FROM tf JOIN d USING (token)) t
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Canonical normalization (lowercase / punct→space / collapse / trim) +
    // the normalized-content dedup key it exists for.
    Q("text_normalize",
      (s, dir) => load(s, dir, "documents")
        .select(col("doc_id"), Text.normalize(col("text")).as("norm_text"))
        .withColumn("norm_hash", md5(col("norm_text").cast("binary")))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             |  ' +', ' ', 'g')) AS norm_text,
             |md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             |  ' +', ' ', 'g'))) AS norm_hash
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multimodal plumbing: opaque binary column + typed metadata — byte
    // length and content digest computed on the BINARY value (SURVEY §2.9
    // note; decode stubs live in graft.ops.Multimodal).
    Q("multimodal_binary_meta",
      (s, dir) => load(s, dir, "documents")
        .withColumn("blob", col("text").cast("binary"))
        .select(col("doc_id"), expr("octet_length(blob)").cast("long").as("n_bytes"),
          md5(col("blob")).as("content_md5"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, octet_length(text::BLOB)::BIGINT AS n_bytes,
             |md5(text) AS content_md5, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // [ext] Frame sampling over opaque media payloads — the video-style
    // "pick k representative frames" plumbing (deterministic stride over
    // the byte stream standing in for frame decode, same honest-stub
    // stance as the codec seam: the slicing/explode/schema/ordering are
    // the real deliverable, the 16-byte windows stand in for decoded
    // frames). Map-side explode of a fixed 4-slot sequence + one binary
    // substring per frame; no shuffle at all before the output sort.
    Q("multimodal_frame_sample",
      (s, dir) => load(s, dir, "documents")
        .withColumn("blob", col("text").cast("binary"))
        .withColumn("n_bytes", expr("octet_length(blob)").cast("long"))
        // both engines slice the UPPERCASE hex encoding (DuckDB 1.0 has no
        // BLOB substring): hex offset of 1-based byte offset o is 2(o−1)+1,
        // a 16-byte frame is 32 hex chars, and the digest runs over those
        // ASCII chars on both sides.
        .withColumn("h", hex(col("blob")))
        .select(col("doc_id"), col("h"), col("n_bytes"),
          explode(sequence(lit(0L), lit(3L))).as("frame_index"))
        .withColumn("boff",
          lit(1L) + col("frame_index") * greatest(expr("n_bytes div 4"), lit(1L)))
        .filter(col("boff") <= col("n_bytes"))
        .select(col("doc_id"), col("frame_index"),
          md5(expr("substr(h, (boff - 1) * 2 + 1, 32)").cast("binary"))
            .as("frame_md5"))
        .orderBy(col("doc_id"), col("frame_index")),
      Some("""WITH b AS (SELECT doc_id, hex(text::BLOB) AS h,
             |    octet_length(text::BLOB)::BIGINT AS n_bytes FROM documents),
             |fr AS (SELECT doc_id, k AS frame_index,
             |    1 + k * greatest(n_bytes // 4, 1) AS boff, h, n_bytes
             |  FROM b, (SELECT unnest(range(4)) AS k) ks)
             |SELECT doc_id, frame_index,
             |  md5(substring(h, ((boff - 1) * 2 + 1)::INT, 32)) AS frame_md5
             |FROM fr WHERE boff <= n_bytes
             |ORDER BY doc_id, frame_index""".stripMargin)),

    // Multimodal decode path: batched per-partition feature extraction
    // behind the pluggable codec seam (stub codec — container ships no
    // image/audio libs; the Spark plumbing is the deliverable).
    // Oracle-verifiable serialization: StubCodec feature i is
    // (acc_i & 0xffff)/65535 in FLOAT where acc_i folds payload bytes
    // i, i+8, … as acc·31+b (32-bit wrap, init i+1). The float division
    // costs < 2⁻²⁴ relative error, so round(f·65535) recovers the 16-bit
    // integer EXACTLY — and that integer fold IS ANSI-SQL-expressible:
    // DuckDB replays it with hex(blob) byte extraction + list_reduce mod
    // 2³². The oracle therefore hash-checks batching, ordering, dimension
    // interleave and the rolling hash end-to-end; MultimodalSpec pins the
    // float-side determinism separately.
    Q("multimodal_features",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, transform => atransform, array_join, round => fround}
        graft.ops.Multimodal.documentFeatures(s, load(s, dir, "documents"))
          .toDF().select(col("media_id"), col("kind"), col("n_bytes"),
            col("width"), col("height"),
            array_join(atransform(col("features"),
              f => fround(f.cast("double") * 65535).cast("long").cast("string")),
              ",").as("features_k_csv"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id, lang AS kind,
             |octet_length(text::BLOB)::INT AS n_bytes,
             |(octet_length(text::BLOB) % 640)::INT AS width,
             |(octet_length(text::BLOB) % 480)::INT AS height,
             |array_to_string(list_transform(range(8), i ->
             |  (list_reduce(
             |     list_prepend(i + 1, list_transform(
             |       range(i, octet_length(text::BLOB), 8),
             |       j -> ('0x' || substr(hex(text::BLOB), 2*j + 1, 2))::BIGINT)),
             |     (acc, b) -> (acc * 31 + b) % 4294967296) % 65536)::VARCHAR), ',')
             |  AS features_k_csv
             |FROM documents ORDER BY media_id""".stripMargin)),

    // Same decode pipeline, but through the md5-derived stub codec whose
    // output IS SQL-expressible — so this row gets a full hash-checked
    // oracle that replays batching, ordering, and feature derivation
    // end-to-end (each feature = one 16-bit group of the payload digest,
    // integral → exact in FLOAT and in the CSV serialization). Keeps the
    // opaque-codec query above as the rows-only twin.
    Q("multimodal_features_md5",
      (s, dir) => {
        import graft.ops.Multimodal
        import org.apache.spark.sql.functions.{transform => atransform, array_join}
        Multimodal.extractFeatures(
            Multimodal.asMedia(load(s, dir, "documents"), "doc_id", "lang", "text"),
            new Multimodal.Md5StubCodec()).toDF()
          .select(col("media_id"), col("kind"), col("n_bytes"),
            col("width"), col("height"),
            array_join(atransform(col("features"),
              f => f.cast("int").cast("string")), ",").as("features_csv"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id, lang AS kind,
             |octet_length(text::BLOB)::INT AS n_bytes,
             |(octet_length(text::BLOB) % 640)::INT AS width,
             |(octet_length(text::BLOB) % 480)::INT AS height,
             |array_to_string(list_transform(range(8), i ->
             |  ('0x' || substr(md5(text), i * 4 + 1, 4))::INT::VARCHAR), ',')
             |  AS features_csv
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Perceptual fingerprint extraction (Multimodal.perceptualHashBands):
    // the classic 64-bit average-hash, computed in the batched decode
    // seam over payload bytes (production swaps in decoded 8×8 luma,
    // nothing downstream changes) and emitted as 4 × 16-bit band words —
    // the blocking keys of the near-dup join below. bit b = blockSum·n ≥
    // totalSum·blockLen, pure integer cross-multiplication, so the
    // oracle replays all 64 bits of every document byte-by-byte from
    // hex(payload).
    Q("multimodal_phash",
      (s, dir) => {
        import graft.ops.Multimodal
        Multimodal.perceptualHashBands(
            Multimodal.asMedia(load(s, dir, "documents"),
              "doc_id", "lang", "text"))
          .orderBy(col("media_id"), col("band"))
      },
      Some("""WITH e AS (SELECT doc_id, hex(text::BLOB) AS hx,
             |    octet_length(text::BLOB) AS n
             |  FROM documents WHERE octet_length(text::BLOB) > 0),
             |bv AS (SELECT doc_id, n, (i * 64) // n AS blk,
             |    ('0x' || substr(hx, (2 * i + 1)::INT, 2))::BIGINT AS v
             |  FROM e, unnest(range(n)) AS t(i)),
             |blocks AS (SELECT doc_id, blk, sum(v) AS bsum, count(*) AS blen,
             |    max(n) AS n FROM bv GROUP BY 1, 2),
             |tot AS (SELECT doc_id, sum(bsum) AS tsum FROM blocks GROUP BY 1),
             |bits AS (SELECT d.doc_id, r.b AS blk,
             |    CASE WHEN bl.blk IS NOT NULL AND bl.bsum * bl.n >= t.tsum * bl.blen
             |         THEN 1 ELSE 0 END AS bit
             |  FROM (SELECT DISTINCT doc_id FROM blocks) d
             |  CROSS JOIN (SELECT unnest(range(64)) AS b) r
             |  LEFT JOIN blocks bl ON bl.doc_id = d.doc_id AND bl.blk = r.b
             |  JOIN tot t ON t.doc_id = d.doc_id)
             |SELECT doc_id AS media_id, blk // 16 AS band,
             |  sum(bit * (1::BIGINT << (blk % 16)::INT))::BIGINT AS band_val
             |FROM bits GROUP BY 1, 2 ORDER BY media_id, band""".stripMargin)),

    // Perceptual near-dup pairs (Multimodal.perceptualNearDupPairs):
    // hamming(aHash) ≤ 3 via the lossless pigeonhole band join (4 bands >
    // 3 flipped bits). The test corpus has no organic perceptual dups —
    // its ~94 band-collision candidates all verify at hamming 12-33 — so
    // the instance plants 20 single-byte-edited copies (doc_id % 25,
    // id +10M, first char → 'X'; SQL-replayable), all 20 of which land at
    // hamming ≤ 3: the reject path AND the accept path both load-bearing.
    Q("multimodal_phash_neardup",
      (s, dir) => {
        import graft.ops.Multimodal
        val docs = load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val planted = docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("X"), expr("substring(text, 2)")).as("text"),
            col("lang"))
        Multimodal.perceptualNearDupPairs(
            Multimodal.asMedia(docs.unionByName(planted),
              "doc_id", "lang", "text"))
          .orderBy(col("media_a"), col("media_b"))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000000, 'X' || substr(text, 2)
             |  FROM documents WHERE doc_id % 25 = 0),
             |e AS (SELECT doc_id, hex(text::BLOB) AS hx,
             |    octet_length(text::BLOB) AS n
             |  FROM docs WHERE octet_length(text::BLOB) > 0),
             |bv AS (SELECT doc_id, n, (i * 64) // n AS blk,
             |    ('0x' || substr(hx, (2 * i + 1)::INT, 2))::BIGINT AS v
             |  FROM e, unnest(range(n)) AS t(i)),
             |blocks AS (SELECT doc_id, blk, sum(v) AS bsum, count(*) AS blen,
             |    max(n) AS n FROM bv GROUP BY 1, 2),
             |tot AS (SELECT doc_id, sum(bsum) AS tsum FROM blocks GROUP BY 1),
             |bits AS (SELECT d.doc_id, r.b AS blk,
             |    CASE WHEN bl.blk IS NOT NULL AND bl.bsum * bl.n >= t.tsum * bl.blen
             |         THEN 1 ELSE 0 END AS bit
             |  FROM (SELECT DISTINCT doc_id FROM blocks) d
             |  CROSS JOIN (SELECT unnest(range(64)) AS b) r
             |  LEFT JOIN blocks bl ON bl.doc_id = d.doc_id AND bl.blk = r.b
             |  JOIN tot t ON t.doc_id = d.doc_id),
             |bands AS (SELECT doc_id, blk // 16 AS band,
             |    sum(bit * (1::BIGINT << (blk % 16)::INT))::BIGINT AS bval
             |  FROM bits GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id),
             |ham AS (SELECT c.i, c.j,
             |    sum(bit_count(xor(ba.bval, bb.bval)))::BIGINT AS hamming
             |  FROM cand c
             |  JOIN bands ba ON ba.doc_id = c.i
             |  JOIN bands bb ON bb.doc_id = c.j AND bb.band = ba.band
             |  GROUP BY 1, 2)
             |SELECT i AS media_a, j AS media_b, hamming FROM ham
             |WHERE hamming <= 3 ORDER BY media_a, media_b""".stripMargin)),

    // REAL-PIXEL perceptual hashing, oracle-checked end-to-end: each doc
    // becomes a deterministic 16×16 binary P6 image (header WITH a
    // comment line; raster = 48 chained md5 digests of "doc_id:k" —
    // 768 RGB bytes both engines can regenerate), decoded by the REAL
    // Netpbm parser (Multimodal.PnmDecoder: header/comment skip → BT.601
    // integer luma → the aHash cross-multiplied bit rule over decoded
    // pixels, NOT payload bytes). The oracle rebuilds the raster from the
    // same md5 chain and replays luma + 2×2-block means + bit rule in
    // pure integer SQL — a parse that mis-skipped the header or comment
    // by even one byte would shift every pixel and hash-mismatch. This
    // closes the last spec-only gap: the decoded-pixel path now has a
    // driver-adjudicated oracle, not just MultimodalSpec fixtures.
    Q("multimodal_phash_decoded",
      (s, dir) => {
        import graft.ops.Multimodal
        val headerHex = "P6\n# seeded 16x16 fixture\n16 16\n255\n"
          .getBytes("US-ASCII").map("%02x".format(_)).mkString
        val rasterHex = concat((0 until 48).map(k =>
          md5(concat(col("doc_id").cast("string"), lit(s":$k"))
            .cast("binary"))): _*)
        val media = load(s, dir, "documents")
          .select(col("doc_id"), lit("image").as("kind"),
            unhex(concat(lit(headerHex), rasterHex)).as("payload"))
        Multimodal.perceptualHashBands(
            Multimodal.asMedia(media, "doc_id", "kind", "payload"),
            decoder = Some(new Multimodal.PnmDecoder()))
          .orderBy(col("media_id"), col("band"))
      },
      Some {
        val rh = (0 until 48)
          .map(k => s"md5(doc_id::VARCHAR || ':$k')").mkString(" || ")
        s"""WITH rh AS (SELECT doc_id, $rh AS hx FROM documents),
           |px AS (SELECT doc_id,
           |    (299 * ('0x' || substr(hx, (6 * p + 1)::INT, 2))::BIGINT
           |     + 587 * ('0x' || substr(hx, (6 * p + 3)::INT, 2))::BIGINT
           |     + 114 * ('0x' || substr(hx, (6 * p + 5)::INT, 2))::BIGINT)
           |      // 1000 AS l,
           |    ((p // 16) // 2) * 8 + ((p % 16) // 2) AS blk
           |  FROM rh, unnest(range(256)) AS t(p)),
           |tot AS (SELECT doc_id, sum(l) AS tsum FROM px GROUP BY 1),
           |blocks AS (SELECT doc_id, blk, sum(l) AS bsum
           |  FROM px GROUP BY 1, 2),
           |bits AS (SELECT b.doc_id, b.blk,
           |    CASE WHEN b.bsum * 256 >= t.tsum * 4 THEN 1 ELSE 0 END AS bit
           |  FROM blocks b JOIN tot t ON t.doc_id = b.doc_id)
           |SELECT doc_id AS media_id, blk // 16 AS band,
           |  sum(bit * (1::BIGINT << (blk % 16)::INT))::BIGINT AS band_val
           |FROM bits GROUP BY 1, 2 ORDER BY media_id, band""".stripMargin
      }),

    // REAL-SAMPLE audio decode, oracle-checked end-to-end — the audio
    // sibling of multimodal_phash_decoded: each doc becomes a
    // deterministic 16 kHz mono WAV (RIFF header + an odd-sized LIST
    // chunk the chunk walk must SKIP with its pad byte + 512 bytes of
    // s16le PCM = 32 chained md5 digests of "doc_id:k" both engines
    // regenerate), parsed by the REAL RIFF/WAVE parser
    // (Multimodal.WavDecoder), then per-frame Σ s² energy and peak |s|
    // over 64-sample frames — all-integer, so the oracle replays
    // little-endian signed sample extraction + the frame math in SQL. A
    // parse that mis-skipped the LIST pad or byte-swapped a sample would
    // shift every frame energy and hash-mismatch.
    Q("multimodal_audio_energy",
      (s, dir) => {
        import graft.ops.Multimodal
        val media = load(s, dir, "documents")
          .select(col("doc_id"), lit("audio").as("kind"),
            unhex(concat(lit(WavHeaderHex), WavPcmHex)).as("payload"))
        Multimodal.audioFrameStats(
            Multimodal.asMedia(media, "doc_id", "kind", "payload"),
            new Multimodal.WavDecoder(), frameLen = 64)
          .orderBy(col("media_id"), col("frame"))
      },
      Some(s"""WITH $WavSampleCtes
             |SELECT doc_id AS media_id, frame,
             |  count(*)::BIGINT AS n_samples,
             |  sum(s * s)::BIGINT AS energy,
             |  max(abs(s))::BIGINT AS peak
             |FROM smp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Corpus-card summary over the same decoded audio: duration, frame
    // count, SILENT-frame count (mean square power below threshold,
    // cross-multiplied `energy < n·thr` so the short tail rule is exact)
    // and global peak. The threshold sits near the fixture's median frame
    // power, so roughly half the comparisons land on each side — every
    // one of them load-bearing in the hash.
    Q("multimodal_audio_summary",
      (s, dir) => {
        import graft.ops.Multimodal
        val media = load(s, dir, "documents")
          .select(col("doc_id"), lit("audio").as("kind"),
            unhex(concat(lit(WavHeaderHex), WavPcmHex)).as("payload"))
        Multimodal.audioSummary(
            Multimodal.asMedia(media, "doc_id", "kind", "payload"),
            new Multimodal.WavDecoder(), frameLen = 64,
            silenceMeanSq = 350000000L)
          .orderBy(col("media_id"))
      },
      Some(s"""WITH $WavSampleCtes,
             |fr AS (SELECT doc_id, frame, count(*) AS n,
             |    sum(s * s) AS e, max(abs(s)) AS p
             |  FROM smp GROUP BY 1, 2)
             |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
             |  256::BIGINT AS n_samples, 16::BIGINT AS duration_ms,
             |  count(*)::BIGINT AS n_frames,
             |  sum(CASE WHEN e < n * 350000000 THEN 1 ELSE 0 END)::BIGINT
             |    AS silent_frames,
             |  max(p)::BIGINT AS peak
             |FROM fr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Audio near-dup over the envelope fingerprint
    // (Multimodal.audioNearDupPairs — the image near-dup's shared banded
    // single join, fed by the WAV decode seam). Planted variants per
    // doc_id%25 doc: a RE-CONTAINERED copy (+10⁷ — same PCM behind a
    // header WITHOUT the LIST chunk; a correct chunk walk decodes
    // identical samples → hamming 0) and a LIGHTLY-EDITED copy (+2·10⁷ —
    // digest 0 of the PCM chain swapped, 8 of 256 samples move → a few
    // envelope bits). The oracle regenerates all three sample streams
    // from the md5 chains and replays |s| block sums, the
    // cross-multiplied bit rule, band words, candidates and hamming in
    // integer SQL — a parser that mis-handled the absent LIST chunk
    // would shift the copy's samples and break the hamming-0 pairs.
    Q("multimodal_audio_neardup",
      (s, dir) => {
        import graft.ops.Multimodal
        val docs = load(s, dir, "documents")
        val planted = docs.filter(col("doc_id") % 25 === 0)
        val base = docs.select(col("doc_id").as("mid"),
          unhex(concat(lit(WavHeaderHex), WavPcmHex)).as("payload"))
        val reContainered = planted.select(
          (col("doc_id") + 10000000L).as("mid"),
          unhex(concat(lit(WavHeaderNoListHex), WavPcmHex)).as("payload"))
        val edited = planted.select(
          (col("doc_id") + 20000000L).as("mid"),
          unhex(concat(lit(WavHeaderHex), WavPcmHexAlt)).as("payload"))
        val media = base.unionByName(reContainered).unionByName(edited)
          .withColumn("kind", lit("audio"))
        Multimodal.audioNearDupPairs(
            Multimodal.asMedia(media, "mid", "kind", "payload"),
            new Multimodal.WavDecoder())
          .orderBy(col("media_a"), col("media_b"))
      },
      Some {
        val chain = (1 until 32).map(k => s"md5(doc_id::VARCHAR || ':$k')")
          .mkString(" || ")
        s"""WITH ids AS (
           |  SELECT doc_id, doc_id AS mid, 0 AS alt FROM documents
           |  UNION ALL
           |  SELECT doc_id, doc_id + 10000000, 0 FROM documents
           |  WHERE doc_id % 25 = 0
           |  UNION ALL
           |  SELECT doc_id, doc_id + 20000000, 1 FROM documents
           |  WHERE doc_id % 25 = 0),
           |rh AS (SELECT mid,
           |    CASE WHEN alt = 1 THEN md5(doc_id::VARCHAR || ':alt')
           |         ELSE md5(doc_id::VARCHAR || ':0') END || $chain AS hx
           |  FROM ids),
           |smp AS (SELECT mid, i,
           |    abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS a
           |  FROM (SELECT mid, t.i AS i,
           |      ('0x' || substr(hx, (4 * i + 3)::INT, 2) ||
           |       substr(hx, (4 * i + 1)::INT, 2))::BIGINT AS v
           |    FROM rh, unnest(range(256)) AS t(i)) raw),
           |blocks AS (SELECT mid, i // 4 AS blk, sum(a) AS bsum
           |  FROM smp GROUP BY 1, 2),
           |tot AS (SELECT mid, sum(bsum) AS tsum FROM blocks GROUP BY 1),
           |bits AS (SELECT b.mid, b.blk,
           |    CASE WHEN b.bsum * 256 >= t.tsum * 4 THEN 1 ELSE 0 END AS bit
           |  FROM blocks b JOIN tot t ON t.mid = b.mid),
           |bands AS (SELECT mid, blk // 16 AS band,
           |    sum(bit * (1::BIGINT << (blk % 16)::INT))::BIGINT AS bval
           |  FROM bits GROUP BY 1, 2),
           |cand AS (SELECT DISTINCT a.mid AS i, b.mid AS j
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bval = b.bval AND a.mid < b.mid),
           |ham AS (SELECT c.i, c.j,
           |    sum(bit_count(xor(ba.bval, bb.bval)))::BIGINT AS hamming
           |  FROM cand c
           |  JOIN bands ba ON ba.mid = c.i
           |  JOIN bands bb ON bb.mid = c.j AND bb.band = ba.band
           |  GROUP BY 1, 2)
           |SELECT i AS media_a, j AS media_b, hamming FROM ham
           |WHERE hamming <= 3 ORDER BY media_a, media_b""".stripMargin
      }),

    // RAG/pretraining chunking: overlapping 32-token windows with 8-token
    // overlap (step 24). Chunk-count and extent arithmetic is integer-only
    // on both engines; the hash match proves every token lands exactly in
    // the chunks the formula says — including the shorter tail chunk and
    // single-chunk short docs. Zero-shuffle narrow explode (ops/Text).
    Q("text_chunk_windows",
      (s, dir) => Text.chunkWindows(load(s, dir, "documents"), 32, 8)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some(s"""WITH t AS (SELECT doc_id, $Toks AS l FROM documents),
             |u AS (SELECT doc_id, l, len(l) AS n,
             |        unnest(range(1 + (greatest(len(l) - 32, 0) + 23) // 24))
             |          AS chunk_id
             |      FROM t)
             |SELECT doc_id, chunk_id,
             |  least(32, n - chunk_id * 24)::BIGINT AS n_tokens,
             |  array_to_string(
             |    l[chunk_id * 24 + 1 : chunk_id * 24 + least(32, n - chunk_id * 24)],
             |    ' ') AS chunk_text
             |FROM u ORDER BY doc_id, chunk_id""".stripMargin)),

    // Cluster RESOLUTION — keep the best copy: the argmax-quality member
    // of each near-dup cluster (distinct-token ratio as the score, lowest
    // doc_id on ties), plus member counts. Shares the clustering SQL with
    // dedup_clusters verbatim (ClustersCtes), so the hash match pins the
    // keep/drop decision end to end: clustering, score, tiebreak.
    Q("dedup_keep_best",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Dedup.keepBestPerCluster(
            Dedup.nearDupClusters(docs, 0.5),
            Text.qualityMetrics(docs).select(col("doc_id"),
              col("distinct_bp").as("score")))
          .orderBy(col("cluster_rep"))
      },
      Some(s"""WITH RECURSIVE $ClustersCtes,
             |labels AS (SELECT a AS doc_id, min(b) AS cluster_rep
             |           FROM reach GROUP BY a),
             |q AS (SELECT doc_id,
             |        CAST(floor(len(list_distinct(l))::DOUBLE * 10000 / len(l))
             |          AS BIGINT) AS score
             |      FROM t),
             |j AS (SELECT labels.doc_id AS doc_id, cluster_rep, score
             |      FROM labels JOIN q USING (doc_id)),
             |r AS (SELECT *,
             |        row_number() OVER (PARTITION BY cluster_rep
             |          ORDER BY score DESC, doc_id) AS rn,
             |        count(*) OVER (PARTITION BY cluster_rep) AS n_members
             |      FROM j)
             |SELECT cluster_rep, doc_id AS kept_doc_id, score,
             |  n_members::BIGINT AS n_members
             |FROM r WHERE rn = 1 ORDER BY cluster_rep""".stripMargin)),

    // Nucleus ("top-p") vocabulary truncation per language at 90%: the
    // integer-exact cut rule (cum_before·10⁴ < 9000·total) under the
    // (count desc, token) total order — per-row membership, cumulative
    // counts, and ranks all hash-checked. Windows sort the O(vocab) count
    // table, never the corpus.
    Q("text_topp_vocab",
      (s, dir) => Text.topPVocabulary(load(s, dir, "documents"), pBp = 9000)
        .orderBy(col("lang"), col("rank")),
      Some(s"""WITH c AS (
             |  SELECT lang, token, count(*) AS n
             |  FROM (SELECT lang, unnest($Toks) AS token FROM documents) u
             |  GROUP BY 1, 2),
             |r AS (SELECT lang, token, n,
             |        coalesce(sum(n) OVER (PARTITION BY lang
             |          ORDER BY n DESC, token
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          AS cum_before,
             |        sum(n) OVER (PARTITION BY lang) AS total,
             |        row_number() OVER (PARTITION BY lang
             |          ORDER BY n DESC, token) AS rank
             |      FROM c)
             |SELECT lang, token, n::BIGINT AS n,
             |  (cum_before + n)::BIGINT AS cum_n, rank
             |FROM r WHERE cum_before * 10000 < 9000 * total
             |ORDER BY lang, rank""".stripMargin)),

    // Batch novelty vs the corpus span set (Dedup.spanNovelty): per new
    // doc, the exact-bp share of its distinct 8-token spans absent from
    // the corpus — the "is this ingest new text" monitor. The corpus side
    // is the span-digest INDEX shape (16-byte digests, text never
    // re-read); batch = doc_id % 7 = 0 against the rest.
    Q("text_novelty_incremental",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Dedup.spanNovelty(docs.filter(col("doc_id") % 7 === 0),
            Dedup.spanIndex(docs.filter(col("doc_id") % 7 =!= 0), 8))
          .orderBy(col("doc_id"))
      },
      Some(NoveltyOracle)),

    // STORED-INDEX steady-state twin of the novelty monitor — SAME split,
    // SAME oracle: the corpus span-digest set comes from the session-built
    // stored index (Bench-prewarmed), so the timed region is batch span
    // hashing + one digest join + one keyed aggregate. This is the shape
    // a per-ingest "is this new text" check actually runs at: O(batch),
    // corpus text untouched.
    Q("text_novelty_indexed",
      (s, dir) => graft.ops.Dedup.spanNovelty(
          load(s, dir, "documents").filter(col("doc_id") % 7 === 0),
          StoredIndexes.spanIdx(s, dir, 7))
        .orderBy(col("doc_id")),
      Some(NoveltyOracle)),

    // Fuzzy self-join (edit distance ≤ 1) via SymSpell deletion-
    // neighborhood blocking — the string-side near-dup operator (typo
    // unification, entity-string cleanup). String universe: the corpus's
    // distinct word bigrams plus a deterministically corrupted twin of
    // each (middle character deleted — same surgery both engines), so
    // matches are guaranteed and the oracle's QUADRATIC levenshtein scan
    // proves the deletion-variant blocking lossless. Spark side never
    // goes quadratic: explode variants → variant-keyed equi-join →
    // per-candidate verify (ops/Text.fuzzyPairsEd1).
    // [ext] Blocked Jaro-Winkler record linkage (Text.jaroLinkagePairs,
    // Jaro 1989 / Winkler 1990) over part names: exact BASIS-POINT scores
    // from the native integer-rational expression — no float thresholds
    // to disagree across engines — under the standard same-first-char +
    // length±2 blocking. The oracle replays the GREEDY MATCH ITSELF with
    // a recursive CTE (window-bounded smallest-eligible-j per step, mask
    // in a BIGINT) plus the same rational boost/floor. 216 candidates →
    // 40 pairs at τ=8800 at sf0.01: blocking, matching, and threshold all
    // load-bearing.
    Q("text_jaro_linkage",
      (s, dir) => graft.ops.Text.jaroLinkagePairs(
          load(s, dir, "part"), "p_name", minScoreBp = 8800L)
        .orderBy(col("score_bp").desc, col("name_a"), col("name_b")),
      Some("""WITH RECURSIVE v AS (SELECT DISTINCT p_name AS w FROM part
             |  WHERE p_name IS NOT NULL AND length(p_name) > 0),
             |bl AS (SELECT a.w AS x, c.w AS y, length(a.w) AS l1,
             |    length(c.w) AS l2,
             |    greatest(greatest(length(a.w), length(c.w)) // 2 - 1, 0) AS w
             |  FROM v a JOIN v c ON substr(a.w, 1, 1) = substr(c.w, 1, 1)
             |    AND abs(length(a.w) - length(c.w)) <= 2 AND a.w < c.w),
             |rec AS (
             |  SELECT x, y, l1, l2, w, 0 AS i, 0::BIGINT AS mask, '' AS m1
             |  FROM bl
             |  UNION ALL
             |  SELECT x, y, l1, l2, w, i + 1,
             |    mask | CASE WHEN j IS NULL THEN 0::BIGINT
             |                ELSE (1::BIGINT << j::INT) END,
             |    m1 || CASE WHEN j IS NULL THEN '' ELSE substr(x, i + 1, 1) END
             |  FROM (
             |    SELECT r.*, list_min(list_filter(
             |        range(greatest(0, i - w), least(l2, i + w + 1)),
             |        jj -> substr(y, jj::INT + 1, 1) = substr(x, i + 1, 1)
             |          AND (mask >> jj::INT) & 1 = 0)) AS j
             |    FROM rec r WHERE i < l1) t),
             |tt AS (SELECT x, y, l1, l2, m1, length(m1) AS m,
             |    array_to_string(list_transform(
             |      list_filter(range(l2), jj -> (mask >> jj::INT) & 1 = 1),
             |      jj -> substr(y, jj::INT + 1, 1)), '') AS m2
             |  FROM rec WHERE i = l1),
             |sc AS (SELECT x, y, m, nm, dn, lp FROM (
             |    SELECT x, y, m,
             |      m::BIGINT * m * l2 + m::BIGINT * m * l1 +
             |        (m::BIGINT - coalesce(list_sum(list_transform(range(m),
             |           p -> CASE WHEN substr(m1, p::INT + 1, 1) <>
             |                         substr(m2, p::INT + 1, 1)
             |                THEN 1 ELSE 0 END)), 0) // 2) * l1 * l2 AS nm,
             |      3::BIGINT * l1 * l2 * m AS dn,
             |      list_sum(list_transform(range(4), p ->
             |        CASE WHEN p < least(l1, l2)
             |              AND substr(x, 1, p::INT + 1) = substr(y, 1, p::INT + 1)
             |             THEN 1 ELSE 0 END)) AS lp
             |    FROM tt) s0)
             |SELECT x AS name_a, y AS name_b, score_bp::BIGINT AS score_bp
             |FROM (
             |  SELECT x, y,
             |    CASE WHEN m = 0 THEN 0
             |         WHEN nm * 10 > dn * 7
             |           THEN ((nm * 10 + lp * (dn - nm)) * 10000) // (dn * 10)
             |         ELSE (nm * 10000) // dn END AS score_bp
             |  FROM sc) f
             |WHERE score_bp >= 8800
             |ORDER BY score_bp DESC, name_a, name_b""".stripMargin)),

    Q("text_fuzzy_join",
      (s, dir) => {
        val l = split(lower(col("text")), " ")
        val bg = load(s, dir, "documents")
          .select(explode(zip_with(
            slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
            (x, y) => concat_ws(" ", x, y))).as("s0"))
          .distinct()
        val uni = bg.select(col("s0").as("s"))
          .unionByName(bg.select(
            expr("concat(substring(s0, 1, (length(s0)+1) div 2 - 1), " +
              "substring(s0, (length(s0)+1) div 2 + 1))").as("s")))
          .distinct()
        Text.fuzzyPairsEd1(uni, "s").orderBy(col("a"), col("b"))
      },
      Some(s"""WITH t AS (SELECT $Toks AS l FROM (
             |       SELECT lower(text) AS text FROM documents) lt),
             |v0 AS (SELECT DISTINCT unnest(list_transform(range(1, len(l)),
             |         i -> l[i] || ' ' || l[i+1])) AS s FROM t),
             |v AS (SELECT s FROM v0
             |      UNION
             |      SELECT substr(s, 1, (len(s)+1)//2 - 1) ||
             |             substr(s, (len(s)+1)//2 + 1) FROM v0)
             |SELECT a.s AS a, b.s AS b
             |FROM v a JOIN v b ON a.s < b.s AND levenshtein(a.s, b.s) <= 1
             |ORDER BY a, b""".stripMargin)),

    // Phrase search via positional postings conjunction (ops/Text
    // .phraseSearch): the phrase set is the corpus's own top-5 bigrams
    // (count desc, bigram tie-break — deterministic), so the query is
    // self-contained; the oracle finds the same docs by whitespace-
    // boundary SUBSTRING scan — a definitionally different algorithm —
    // proving the inverted-index path lossless.
    Q("text_phrase_search",
      (s, dir) => {
        val d = load(s, dir, "documents")
        val l = split(col("text"), " ")
        val top5 = d
          .select(explode(zip_with(
            slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
            (x, y) => concat_ws(" ", x, y))).as("phrase"))
          .groupBy(col("phrase")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("phrase")).limit(5)
          .select(col("phrase"))
        Text.phraseSearch(d, top5).orderBy(col("phrase"), col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text, $Toks AS l FROM documents),
             |bg AS (SELECT unnest(list_transform(range(1, len(l)),
             |         i -> l[i] || ' ' || l[i+1])) AS phrase FROM t),
             |top5 AS (SELECT phrase FROM (
             |  SELECT phrase, count(*) AS n FROM bg GROUP BY phrase
             |  ORDER BY n DESC, phrase LIMIT 5) q)
             |SELECT p.phrase, d.doc_id
             |FROM t d JOIN top5 p
             |  ON contains(' ' || d.text || ' ', ' ' || p.phrase || ' ')
             |ORDER BY phrase, doc_id""".stripMargin)),
  )

  /** Fixed RIFF/WAVE header of the audio fixtures (shared by the two
    * `multimodal_audio_*` queries): 16 kHz mono s16le PCM, one ODD-sized
    * LIST chunk (5 payload bytes + the RIFF pad byte — the skip rule a
    * sloppy parser gets wrong) before a 512-byte data chunk
    * (256 samples). `def`s, not `val`s — referenced from `all`'s
    * initializer.
    */
  private def WavHeaderHex: String = {
    val bb = java.nio.ByteBuffer.allocate(58)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(562)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort).putInt(16000).putInt(32000)
      .putShort(2.toShort).putShort(16.toShort)
      .put("LIST".getBytes("US-ASCII")).putInt(5)
      .put("graft".getBytes("US-ASCII")).put(0.toByte)
      .put("data".getBytes("US-ASCII")).putInt(512)
    bb.array().map("%02x".format(_)).mkString
  }

  /** The fixture's 512 PCM bytes: 32 chained md5 digests of "doc_id:k" —
    * regenerable by both engines (the multimodal_phash_decoded pattern).
    */
  private def WavPcmHex: org.apache.spark.sql.Column =
    concat((0 until 32).map(k =>
      md5(concat(col("doc_id").cast("string"), lit(s":$k"))
        .cast("binary"))): _*)

  /** The lightly-edited variant: digest 0 swapped for "doc_id:alt" —
    * 8 of 256 samples move, the rest of the chain untouched.
    */
  private def WavPcmHexAlt: org.apache.spark.sql.Column =
    concat(md5(concat(col("doc_id").cast("string"), lit(":alt"))
      .cast("binary")) +: (1 until 32).map(k =>
      md5(concat(col("doc_id").cast("string"), lit(s":$k"))
        .cast("binary"))): _*)

  /** The re-containered header: identical fmt/data, NO LIST chunk —
    * 44 bytes, RIFF size 548. Same PCM behind it ⇒ a correct chunk walk
    * must decode identical samples.
    */
  private def WavHeaderNoListHex: String = {
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(548)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort).putInt(16000).putInt(32000)
      .putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(512)
    bb.array().map("%02x".format(_)).mkString
  }

  /** Oracle CTEs regenerating the same samples straight from the digest
    * chain: sample i = signed little-endian 16-bit at bytes (2i, 2i+1) of
    * the digest stream (hex chars 4i+1..4i+4, hi byte first in the '0x'
    * parse), frame = i // 64.
    */
  private def WavSampleCtes: String = {
    val rh = (0 until 32).map(k => s"md5(doc_id::VARCHAR || ':$k')")
      .mkString(" || ")
    s"""rh AS (SELECT doc_id, $rh AS hx FROM documents),
       |smp AS (SELECT doc_id, i // 64 AS frame,
       |    CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
       |  FROM (SELECT doc_id, t.i AS i,
       |      ('0x' || substr(hx, (4 * i + 3)::INT, 2) ||
       |       substr(hx, (4 * i + 1)::INT, 2))::BIGINT AS v
       |    FROM rh, unnest(range(256)) AS t(i)) raw)""".stripMargin
  }
}
