package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Text-analysis operators for LLM-style data pipelines (SURVEY §2.9 X1/X6 +
  * north-star extensions): tokenization, language ID, quality scoring, token
  * counting, document fingerprinting.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (split / transform / aggregate / regexp) — no Scala UDFs — so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with
  * partitions: per-document work only, no shuffle except final aggregations.
  */
object Text {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct sorted tokens — the canonical "token set" used by dedup ops. */
  def tokenSet(text: Column): Column = array_sort(array_distinct(tokens(text)))

  /** Word counts over a corpus: explode + groupBy — the classic two-phase
    * (partial map-side + final) aggregation; shuffle volume is O(distinct
    * tokens), not O(corpus). SURVEY X1.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** CCNet-style perplexity scoring (Wenzek et al. 2020: language-model
    * surprisal as the corpus-quality filter): every document scored by
    * its mean per-token surprisal under a unigram LM trained on the
    * corpus ITSELF — boilerplate and templated spam score LOW (their
    * tokens dominate the corpus), lorem-ipsum-like noise scores HIGH.
    * Production swaps the self-trained unigram table for a stored
    * reference-LM table; nothing downstream changes.
    *
    * Float discipline (the `weightedSample` pattern): P(t) = c(t)/N is
    * 6dp-prerounded and clamped at 1e-6, then ONE mirrored ln per
    * DISTINCT token and an immediate floor to integer micro-nats —
    * `cost(t) = ⌊−ln(max(round6(c/N), 1e-6))·10⁶⌋` — so doc totals,
    * token counts, and the truncating per-token division are all exact
    * integers an external engine replays bit-for-bit.
    *
    * Scale shape: one (doc, token) keyed aggregate (shuffle O(doc-token
    * pairs, pre-collapsed map-side)), one vocabulary-sized aggregate, a
    * 1-row total crossJoin, one token-keyed join back (vocabulary-sized
    * build side), one doc-keyed sum. No windows, no driver state; the LM
    * table is O(vocabulary). Empty documents (no non-empty token) have
    * no surprisal and are absent, like every per-token readout here.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val occ = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("n"))
    val vocab = occ.groupBy(col("token")).agg(sum(col("n")).as("c"))
    val total = vocab.agg(sum(col("c")).as("nn"))
    val cost = vocab.crossJoin(total).select(col("token"),
      floor(-log(greatest(Vectors.round6(col("c") / col("nn")), lit(1e-6)))
        * lit(1e6)).cast("long").as("cost"))
    occ.join(cost, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_tokens"),
        sum(col("n") * col("cost")).cast("long").as("surprisal_total"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_total"),
        expr("surprisal_total div n_tokens").as("surprisal_per_tok"))
  }

  /** `unigramSurprisal` against a STORED reference LM — the production
    * steady state (CCNet scores crawls against a Wikipedia-trained LM,
    * not against themselves): `lm` is any `(token, cnt)` table (e.g.
    * `tokenCounts` output, stored once). Out-of-vocabulary tokens price
    * at the 1e-6 clamp — `⌊−ln(1e-6)·10⁶⌋` = 13 815 510 micro-nats, the
    * maximum cost — falling straight out of the same formula with c = 0
    * (no special casing, no silent drop). Scale shape: the batch never
    * trains anything; one LEFT token-keyed join against the
    * vocabulary-sized LM + one doc-keyed sum.
    */
  def unigramSurprisalAgainst(batch: DataFrame, lm: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              tokenCol: String = "token",
                              cntCol: String = "cnt"): DataFrame = {
    val occ = batch.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("n"))
    val vocab = lm.select(col(tokenCol).as("token"), col(cntCol).as("c"))
    val total = vocab.agg(sum(col("c")).as("nn"))
    val cost = vocab.crossJoin(total).select(col("token"),
      floor(-log(greatest(Vectors.round6(col("c") / col("nn")), lit(1e-6)))
        * lit(1e6)).cast("long").as("cost"))
    occ.join(cost, Seq("token"), "left")
      .select(col("doc_id"), col("n"),
        coalesce(col("cost"), lit(13815510L)).as("cost"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_tokens"),
        sum(col("n") * col("cost")).cast("long").as("surprisal_total"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_total"),
        expr("surprisal_total div n_tokens").as("surprisal_per_tok"))
  }

  /** Hashing-trick featurization (Weinberger et al. 2009, the
    * fastText/Vowpal-Wabbit input shape): every token lands in bucket
    * md5(token) mod `dim` with a ±1 sign from the next md5 nibble, and the
    * sparse (doc, bucket) → (tf, signed weight) rows come out of ONE
    * explode + keyed count — no vocabulary pass, no dictionary broadcast,
    * new tokens at inference hash to the same buckets for free. The md5
    * prefix (not a JVM hash) keeps the bucket assignment engine-portable
    * and eternally stable — the `Curate.unitHash` discipline.
    *
    * Scale shape: explode is map-side; a doc's tokens sit in one
    * partition, so the (doc_id, bucket) partial aggregate collapses to
    * ≤ `dim` rows per doc BEFORE the shuffle — shuffle volume is
    * O(docs·dim), independent of corpus length.
    */
  def featureHash(docs: DataFrame, dim: Int,
                  textCol: String = "text"): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val tok = col("tok")
    val h = conv(substring(md5(tok.cast("binary")), 1, 7), 16, 10)
      .cast("long")
    val sgn = when(conv(substring(md5(tok.cast("binary")), 8, 1), 16, 10)
      .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
    docs.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .filter(tok =!= "")
      .select(col("doc_id"), (h % dim).as("bucket"), sgn.as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"), sum(col("sgn")).as("weight"))
  }

  /** Adjacent whitespace-token bigrams, in document order with
    * multiplicity (`"a b c"` → `["a b", "b c"]`; <2 tokens → empty).
    * Per-row array op — no shuffle, no per-pair join.
    *
    * Shape note: built as `zip_with(slice, slice)` — the tokenizing
    * `split` is referenced only by per-ROW arguments, never inside the
    * per-ELEMENT lambda. The earlier `transform(sequence(...), i =>
    * element_at(toks, i))` form embedded the split expression at every
    * element_at site (Column vals are expression COPIES, and HOF lambdas
    * re-evaluate captures per element), re-splitting the whole document
    * once per bigram — O(tokens²) chars per row, the dominant cost of
    * every bigram query at sf1.
    */
  def bigrams(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
  }

  /** Bigram language model from a reference corpus: `(bg, lm_freq)` — the
    * stored-counts table a familiarity gate scores against. */
  def bigramLm(reference: DataFrame, textCol: String = "text"): DataFrame =
    reference.select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("lm_freq"))

  /** Merge a batch's bigram counts into a stored LM — counts are a
    * mergeable state (sum per bigram), so `merge(lm(old), lm(batch)) ≡
    * lm(old ∪ batch)` exactly and the old corpus text is never re-read:
    * the same incremental-view pattern as `IncrAgg`/`percentileState`.
    * Shuffle is O(distinct bigrams in the smaller side's neighborhood),
    * never corpus-sized.
    */
  def mergeBigramLm(stored: DataFrame, batch: DataFrame): DataFrame =
    stored.unionByName(batch)
      .groupBy(col("bg")).agg(sum(col("lm_freq")).as("lm_freq"))

  /** Score documents against a stored bigram LM — the sequence-aware
    * sibling of `unigramDocScores` (CCNet-style familiarity: in-domain
    * text hits frequent reference bigrams; gibberish and wrong-language
    * text misses). Integer-exact, no logs/floats: per doc,
    * `n_bigrams` (total), `n_known` (occurrences whose bigram exists in
    * the LM), `sum_freq` (Σ occurrence·lm_freq). Docs with <2 tokens have
    * no bigrams and are absent, matching the definitional SQL.
    *
    * Scale shape: bigrams collapse to per-doc counts BEFORE touching the
    * LM join, so each (doc, bigram) crosses the wire once, not once per
    * occurrence; the LM side is already aggregated O(vocab²-observed).
    * Both sides shuffle on the bigram key only.
    */
  def bigramLmScores(docs: DataFrame, lm: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val perDoc = docs
      .select(col(idCol), explode(bigrams(col(textCol))).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
    perDoc.join(lm, Seq("bg"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(when(col("lm_freq").isNotNull, col("c")).otherwise(0L)).as("n_known"),
        sum(col("c") * coalesce(col("lm_freq"), lit(0L))).as("sum_freq"))
  }

  /** One statistics round of byte-pair-encoding vocabulary induction:
    * counts of ADJACENT two-character symbol pairs within each whitespace
    * token — the quantity a BPE merge step maximizes. Tokenizer training at
    * corpus scale IS this count: per-row explode (no pre-shuffle), map-side
    * partial aggregation, and a final shuffle of O(distinct pairs) rows —
    * bounded by alphabet², independent of corpus size.
    *
    * Single-character tokens contribute nothing (guarded explicitly:
    * Spark's `sequence(1, 0)` yields a DESCENDING [1, 0], not empty).
    */
  def bpePairCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_pairs"))

  /** The full iterative BPE vocabulary TRAINER (Sennrich et al. 2016) —
    * `bpePairCounts` is one statistics round; this runs the fixed-K merge
    * LOOP: count adjacent symbol pairs weighted by word frequency, merge
    * the most frequent pair into one symbol everywhere it occurs
    * (greedy left-to-right, the reference algorithm's scan order), and
    * recount. Output: the K learned merges in order — (iter, pair,
    * n_pairs), the tokenizer's merge table.
    *
    * Scale shape — the standard iterative-trainer pattern (same as
    * `Graph.pageRank`): ALL per-iteration state lives in the DISTINCT-WORD
    * frequency table (vocabulary-sized, never corpus-sized — the corpus is
    * tokenized exactly once), each iteration is one map-side pair explode
    * + keyed sum, and the only driver synchronization is a ONE-ROW collect
    * of the argmax pair (K rows total — bounded by the merge budget, not
    * the data). State rides a lazy localCheckpoint per iteration, so BOTH
    * the recompute depth AND the logical plan stay O(1) across iterations
    * (each round's argmax job materializes the previous round's frame as a
    * side effect — one job per merge round).
    *
    * Ties break (count DESC, pair ASC) — a deterministic total order, so
    * the whole merge trajectory replays bit-identically in the oracle's
    * unrolled-CTE twin. The pair is encoded "a b" (space-joined); symbols
    * never contain spaces (words come from a whitespace tokenizer), so the
    * space-joined symbol-sequence encoding is unambiguous and the greedy
    * merge is a string fold: append each symbol, or — when the running
    * sequence ends with `a` and the next symbol is `b` — replace that
    * trailing `a` with the merged symbol `ab`.
    */
  def bpeTrain(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    // The final vocabulary is a LAZY localCheckpoint (see bpeTrainState);
    // unused here, it is simply never materialized — nothing to unpersist.
    val (merges, _) = bpeTrainState(docs, k, textCol)
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(
        merges.map(m => Row(m._1, m._2, m._3)): _*)),
      StructType(Seq(StructField("iter", LongType),
        StructField("pair", StringType), StructField("n_pairs", LongType))))
  }

  /** The greedy left-to-right merge of pair (a, b) over a space-joined
    * symbol sequence, as one fold expression (see `bpeTrain`'s doc).
    */
  private def bpeMergeExpr(seqCol: Column, a: String, b: String): Column = {
    val l = split(seqCol, " ")
    aggregate(
      slice(l, lit(2), greatest(size(l) - 1, lit(0))),
      element_at(l, 1),
      (acc, x) => when(x === lit(b) &&
          (acc === lit(a) || acc.endsWith(lit(" " + a))),
        concat(acc.substr(lit(1), length(acc) - length(lit(a))),
          lit(a + b)))
        .otherwise(concat(acc, lit(" "), x)))
  }

  /** The trainer's engine: returns the merge table AND the final
    * segmented vocabulary `(w, n, seq)`. The returned frame is a LAZY
    * `localCheckpoint` (NOT a CacheManager persist — `unpersist()` on it
    * is a no-op; checkpoint blocks are RDD-level and reclaimed by the
    * ContextCleaner once the frame is dropped, or eagerly by the loop's
    * own round-over-round cleanup below). Execution-mode assumption:
    * localCheckpoint blocks live on executors and are NOT recoverable —
    * an executor loss mid-train fails the job loudly and the caller
    * re-runs the k rounds from source. That is the standard trade for
    * iterative Spark in `local[n]` / non-preemptible clusters; a 100 TB
    * deployment on spot/preemptible executors should periodically write
    * the vocabulary frame to reliable storage instead (it is the ONLY
    * loop state, so recovery = re-read + resume — documented contract,
    * deliberately not code the bench would never exercise).
    */
  private def bpeTrainState(docs: DataFrame, k: Int, textCol: String)
      : (Seq[(Long, String, Long)], DataFrame) = {
    require(k >= 1, "k must be >= 1")
    // vocabulary-sized state: (word, corpus freq, space-joined symbol seq)
    // empty-token guard: Spark's sequence(1, 0) is a DESCENDING [1, 0],
    // not empty (the bpePairCounts gotcha) — an empty word must char-split
    // to [""] on both engines, not a phantom 2-symbol sequence
    //
    // Iteration state rides LAZY localCheckpoints, not persist(): each
    // round's frame is materialized AS A SIDE EFFECT of the next round's
    // argmax job (one job per merge round, not two), and the checkpoint
    // truncates the LOGICAL plan to a LogicalRDD — with persist() the
    // analyzed plan still chained every previous round's merge lambda, so
    // driver-side analysis cost grew O(k²) across the loop (r15 measured
    // the inter-job gaps growing 0.06 s → 0.4 s over 10 rounds, ~3 s of a
    // 7.6 s wall, and a 1.4 MB formatted plan on the apply path).
    // Dead rounds' blocks are dropped EXPLICITLY once the next round's
    // argmax has materialized their child (r16, ADVICE): the
    // ContextCleaner only reclaims after a driver GC, so k rounds of
    // MEMORY_AND_DISK vocabulary blocks could otherwise accumulate and
    // pressure the MEMORY_ONLY session caches.
    var vocab = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("w"), col("n"),
        when(length(col("w")) === 0, lit(""))
          .otherwise(concat_ws(" ",
            transform(sequence(lit(1), length(col("w"))),
              i => col("w").substr(i, lit(1))))).as("seq"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    // `parent` = the PREVIOUS round's frame: its blocks become dead the
    // moment the current round's argmax job has materialized `vocab`
    // (the aggregation reads every vocab partition, and storing the
    // checkpoint block is a side effect of computing it), so they can be
    // dropped deterministically instead of waiting for a driver GC. The
    // final round's parent is left alone — the returned frame is still
    // LAZY and needs it to materialize. Spark logs one WARN per dropped
    // parent ("lineage has been truncated and cannot be recomputed after
    // unpersisting"): that is expected here, not a defect — nothing
    // recomputes the parent once the current round's blocks exist.
    var parent: Option[DataFrame] = None
    def dropCheckpointBlocks(ds: DataFrame): Unit =
      ds.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false); ()
        case _ => ()
      }
    for (it <- 1 to k) {
      // zip_with(slice, slice) — not transform(sequence, element_at):
      // see `bigrams` (captures re-evaluate per element)
      val l = split(col("seq"), " ")
      val counts = vocab
        .filter(size(l) >= 2)
        .select(col("n"), explode(zip_with(
            slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
            (a, b) => concat(a, lit(" "), b)))
          .as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("n_pairs"))
      // the iteration's sync barrier: ONE bounded row (the argmax pair)
      val topOpt = counts.orderBy(col("n_pairs").desc, col("pair").asc)
        .limit(1).collect().headOption
      // this round's argmax just materialized `vocab` — its parent's
      // blocks are dead; reclaim them now (GC-independent)
      parent.foreach(dropCheckpointBlocks)
      parent = Some(vocab)
      // Fail FAST if the corpus runs out of mergeable pairs before k
      // rounds: a silent stop here would diverge from the unrolled
      // oracle twin, whose stage v_i cross-joins a then-EMPTY t_i and
      // collapses the vocabulary to zero rows (train oracle degrades
      // consistently, but the APPLY oracle would return zero doc rows
      // while Spark kept returning real counts). k must not exceed the
      // corpus's available merge count — loud beats wrong.
      require(topOpt.isDefined,
        s"BPE pair counts ran dry at iteration $it of $k — this corpus " +
          s"supports only ${it - 1} merges; lower k (the unrolled CTE " +
          "oracle cannot replay a dry merge round)")
      topOpt.foreach { top =>
          val pair = top.getString(0)
          merges += ((it.toLong, pair, top.getLong(1)))
          val Array(a, b) = pair.split(" ", 2)
          // Lazy checkpoint: NO materialization job here — the next
          // round's argmax (or the apply-path consumer) computes it from
          // the parent's already-materialized blocks and stores it.
          vocab = vocab.select(col("w"), col("n"),
            bpeMergeExpr(col("seq"), a, b).as("seq")).localCheckpoint(false)
        }
    }
    (merges.toSeq, vocab)
  }

  /** APPLY the trained tokenizer: per-document word and BPE-subtoken
    * counts under the K-merge vocabulary `bpeTrain` learns — the
    * "token budget with the tokenizer you actually trained" statistic
    * (plain `tokenCountBpe` approximates with a fixed regex).
    *
    * The trainer's final segmented vocabulary IS the apply table — no
    * re-segmentation pass: per-(doc, word) occurrence counts collapse
    * map-side, join the vocabulary-sized `(w, #subtokens)` frame, and
    * one keyed sum yields the doc totals. All integer-exact.
    */
  def bpeTokenCounts(docs: DataFrame, k: Int, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val (_, vocab) = bpeTrainState(docs, k, textCol)
    bpeTokenCountsIndexed(docs, vocab, idCol, textCol)
  }

  /** The trainer's final segmented vocabulary `(w, n, seq)` — the apply
    * table a production tokenizer pipeline trains ONCE and stores (see
    * `StoredIndexes.bpeVocab`); `bpeTokenCountsIndexed` consumes it.
    * Returned as a lazy localCheckpoint (see `bpeTrainState`): not a
    * CacheManager entry, so there is nothing to unpersist — materialize
    * it (e.g. write it out) and drop the reference.
    */
  def bpeVocabulary(docs: DataFrame, k: Int,
                    textCol: String = "text"): DataFrame =
    bpeTrainState(docs, k, textCol)._2

  /** APPLY against a PREBUILT segmented vocabulary `(w, seq)` — the
    * steady-state tokenizer path: per-(doc, word) occurrence counts
    * collapse map-side, then ONE vocabulary-sized join + keyed sum. No
    * training loop, no argmax barriers — this is what every batch after
    * the first pays in a production token-budget pipeline.
    */
  def bpeTokenCountsIndexed(docs: DataFrame, vocab: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val perDoc = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    perDoc.join(
        vocab.select(col("w"),
          size(split(col("seq"), " ")).cast("long").as("ns")), "w")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("ns")).as("n_bpe_tokens"))
  }

  /** Corpus-frequency document scores (the CCNet-style LM-filter shape,
    * kept integer-exact so the oracle hash-compares): per document, the
    * token count and the sum over tokens of that token's CORPUS frequency.
    * High `sum_freq`/`n_tokens` ≈ common boilerplate; low ≈ rare/noisy text.
    *
    * Scale shape: occurrences are pre-aggregated to one row per
    * (doc, token) BEFORE the vocabulary join, so a head token ("the")
    * crosses the wire once per document, not once per occurrence — the
    * join-side skew that sinks the naive per-occurrence formulation is
    * collapsed at the map side, and what remains is AQE-splittable. The
    * vocabulary is derived from the same pre-aggregated frame, so the
    * corpus is tokenized once per branch with no per-occurrence shuffle
    * anywhere.
    */
  def unigramDocScores(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val perDoc = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    val vocab = perDoc.groupBy(col("tok")).agg(sum(col("c")).as("tok_freq"))
    perDoc.join(vocab, "tok")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("tok_freq")).as("sum_freq"))
  }

  /** Zipf sanity histogram of the corpus vocabulary: how many distinct
    * tokens fall in each power-of-two frequency bucket. Bucket id is
    * `length(bin(count))` = floor(log2)+1 — integer-exact (no floating
    * log at bucket boundaries), so the oracle replays it bit-identically
    * with base-2 digit counts. Output is O(log corpus) rows.
    */
  def tokenFrequencyHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    tokenCounts(docs, textCol)
      .select(length(bin(col("cnt"))).cast("long").as("freq_bucket"))
      .groupBy("freq_bucket").agg(count(lit(1)).as("n_tokens"))

  /** BPE-ish regex token count: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs. Mirrors the common pre-tokenizer split rule.
    */
  val TokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def regexTokenCount(text: Column): Column = regexp_count(text, lit(TokenRegex))

  /** Language-ID lexicons: tiny per-language stopword lists. Deterministic
    * n-gram/stopword-overlap heuristic — the classic cheap langid signal for
    * corpus filtering. Tie-break: first language in `Lexicons` order wins.
    */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "row", "fast"),
    "fr" -> Seq("le", "la", "et", "de", "un", "est", "que", "les", "des"),
    "es" -> Seq("el", "la", "y", "de", "un", "es", "que", "los", "las"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "nicht", "mit", "den"),
    "zh" -> Seq("de", "shi", "bu", "le", "ren", "wo", "you", "ta", "zhe"))

  /** Predicted language = argmax over lexicon-overlap scores.
    * `array_intersect` on the token set keeps it one pass per lexicon.
    */
  def langIdScore(text: Column, lexicon: Seq[String]): Column =
    size(array_intersect(tokenSet(text), array(lexicon.map(lit): _*))).cast("long")

  def langId(text: Column): Column = {
    // fold: keep (bestScore, bestLang); strict > keeps first-wins tie-break
    val first = Lexicons.head
    Lexicons.tail.foldLeft(
      struct(langIdScore(text, first._2).as("s"), lit(first._1).as("l"))
    ) { case (acc, (lang, lex)) =>
      val s = langIdScore(text, lex)
      when(s > acc("s"), struct(s.as("s"), lit(lang).as("l"))).otherwise(acc)
    }.getField("l")
  }

  /** Quality metrics per document: token count, distinct-token ratio, mean
    * token length, stopword ratio — the standard cheap quality signals used
    * to filter pretraining corpora. Ratios are emitted as floor-scaled basis
    * points (`Exact.ratioBp`): deterministic across engines, no rounding-tie
    * rule (SURVEY §7.4 float-determinism note).
    */
  def qualityMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val stop = array(Lexicons.head._2.map(lit): _*)
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("distinct_bp",
        Exact.ratioBp(size(array_distinct(toks)).cast("long"), nTok))
      .withColumn("avg_token_len_bp",
        Exact.ratioBp(aggregate(toks, lit(0L), (acc, t) => acc + length(t)), nTok))
      .withColumn("stopword_bp",
        Exact.ratioBp(size(filter(toks, t => array_contains(stop, t))).cast("long"), nTok))
  }

  /** Gopher-style composite quality FILTER (Rae et al. 2021, Appendix A —
    * the rule family most pretraining corpora gate on): per document, the
    * four cheap structural signals and one boolean per rule plus the
    * conjunction:
    *   - token count within [minTokens, maxTokens];
    *   - mean token length within [minAvgLenBp, maxAvgLenBp] (floor basis
    *     points of characters per token — integer-exact, no float ties);
    *   - share of tokens containing an ASCII letter ≥ minAlphaBp;
    *   - at least `minStopHits` DISTINCT common stopwords present (the
    *     "contains 2 of the stop set" rule — also a cheap language gate).
    * All metrics are exact integers; the rules compile to one narrow
    * map-side projection over the token array (no shuffle at all until a
    * consumer aggregates), which is the right shape for a filter that
    * runs over every document of a 100 TB corpus.
    */
  def gopherQualityFlags(docs: DataFrame,
                         minTokens: Long = 20, maxTokens: Long = 100000,
                         minAvgLenBp: Long = 40000, maxAvgLenBp: Long = 100000,
                         minAlphaBp: Long = 7000, minStopHits: Long = 2,
                         textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val stop = array(Lexicons.head._2.map(lit): _*)
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("avg_token_len_bp",
        Exact.ratioBp(aggregate(toks, lit(0L), (acc, t) => acc + length(t)), nTok))
      .withColumn("alpha_word_bp",
        Exact.ratioBp(
          size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long"), nTok))
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(toks), stop)).cast("long"))
      .withColumn("r_count",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .withColumn("r_avg_len",
        col("avg_token_len_bp") >= minAvgLenBp &&
          col("avg_token_len_bp") <= maxAvgLenBp)
      .withColumn("r_alpha", col("alpha_word_bp") >= minAlphaBp)
      .withColumn("r_stop", col("stop_hits") >= minStopHits)
      .withColumn("pass",
        col("r_count") && col("r_avg_len") && col("r_alpha") && col("r_stop"))
  }

  /** Character-level Shannon entropy per document, in bits —
    * H = −Σ_c (n_c/N)·log2(n_c/N) over the document's characters. The
    * cheap "is this text or noise/binary-spill/compressed junk" signal a
    * pretraining quality gate runs next to the token ratios: natural-
    * language text sits ~4±0.7 bits/char, base64 and hex spills sit high,
    * template/repeated junk sits low. Distributed shape: explode to
    * (doc, char) rows → two-phase count → per-doc sum; the shuffle carries
    * distinct (doc, char) pairs — at most |alphabet| rows per document,
    * never text. Entropy rounds to 4dp (log2 is the only float op; both
    * engines compute it from the same exact integer counts).
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val cc = docs
      .select(col(idCol), explode(split(col(textCol), "")).as("c"))
      // Spark's split("", limit=-1) can emit a trailing "" that DuckDB's
      // char split does not — drop empties explicitly on both sides
      .filter(col("c") =!= "")
      .groupBy(col(idCol), col("c")).agg(count(lit(1)).as("n"))
    cc.groupBy(col(idCol))
      .agg(sum(col("n")).as("len"),
        sum(col("n") * log2(col("n"))).as("nlg"))
      // H = log2(N) − (Σ n·log2 n)/N — one pass, no per-char division
      .select(col(idCol),
        col("len").cast("long").as("n_chars"),
        round(log2(col("len")) - col("nlg") / col("len"), 4).as("entropy_bits"))
  }

  /** BM25-scored top-k retrieval (Robertson–Spärck Jones; the Okapi
    * formula with the +1 idf floor Lucene uses, so idf is never negative):
    *
    *   score(q, d) = Σ_{t ∈ q} ln(1 + (N − df + 0.5)/(df + 0.5)) ·
    *                 tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *
    * The retrieval pass a data pipeline needs around its corpus — e.g.
    * "which training documents match this benchmark prompt" during
    * contamination triage (the shingle decontaminator answers exact
    * overlap; BM25 answers ranked fuzzy overlap).
    *
    * 100 TB shape: the query set broadcasts (it is human-sized); the
    * corpus postings explode ONCE and are immediately semi-joined down to
    * query terms, so the tf/df aggregates and the scoring shuffle carry
    * only matching postings — non-matching tokens die map-side next to
    * the scan. Corpus-wide stats (per-doc length, avgdl) are one keyed
    * agg + a 1-row broadcast. Top-k per query is a partitioned window
    * (WindowGroupLimit pushes the limit). Scores round to 4dp before
    * ranking (ties → doc_id) — the ln-ulp story, as with DSIR.
    *
    * `queries`: (qid, terms Array[String]). Docs matching NO query term
    * simply never appear; a query matching nothing returns no rows.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val qterms = broadcast(
      queries.select(col("qid"), explode(col("terms")).as("t")).distinct())
    val postings = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
    val dl = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    // matching postings only: the broadcast semi-join prunes BEFORE any agg
    val tf = postings.join(broadcast(qterms.select(col("t")).distinct()), "t")
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df_), "t")
      .join(qterms, "t")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"), col(idCol), col("dl"), col("n_docs"), col("avgdl"))
      // association mirrored EXACTLY by the oracle SQL (same double ops in
      // the same order; only ln carries a 1-ulp risk, absorbed by round 4)
      .agg(sum(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") +
            (col("dl") / col("avgdl") * lit(b) + lit(1 - b)) * lit(k1)))
        .as("s"))
      .select(col("qid"), col(idCol), round(col("s"), 4).as("score"))
    Relational.topKPerGroup(scored, Seq(col("qid")),
        Seq(col("score").desc, col(idCol)), k, rankCol = "rank")
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col(idCol), col("score"))
  }

  /** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty,
    * SIGIR '01) — the language-model retrieval family next to BM25's
    * probabilistic one:
    *
    *   score(q,d) = Σ_{t∈q∩d} ln(1 + tf·|C| / (μ·cf_t))
    *                + K_q − n_q·ln(dl_d + μ)
    *
    * the standard matching-terms decomposition of Σ_{t∈q} ln P(t|d)
    * under P(t|d) = (tf + μ·cf_t/|C|) / (dl + μ): only MATCHING postings
    * are ever touched (the scale point — the naive form scores every
    * (doc, term) combo), with the per-query constant
    * K_q = Σ_{t∈q} ln(cf_t/|C|) + n_q·ln μ folded in so emitted scores
    * are true log-likelihoods, not just rank-equivalent. Query terms
    * absent from the collection (cf = 0) are dropped as uninformative
    * (they price every document identically at −∞). Docs matching no
    * surviving term never appear — the bm25TopK convention. Float
    * discipline: same double ops in the same order as the oracle, only
    * ln carries a 1-ulp risk, absorbed by round(4) (the bm25/DSIR
    * story). Shape: broadcast query terms, one postings semi-join +
    * keyed tf count, collection stats as a 1-row broadcast, pushed
    * top-k per query.
    */
  def dirichletQlTopK(docs: DataFrame, queries: DataFrame, k: Int,
                      mu: Double = 2000.0,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(mu > 0, s"mu must be > 0, got $mu")
    val qterms = broadcast(
      queries.select(col("qid"), explode(col("terms")).as("t")).distinct())
    val postings = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
    val dl = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val nTok = dl.agg(sum(col("dl")).as("n_tok"))
    // collection frequency of the query terms only (broadcast semi-join
    // prunes the postings before any aggregation)
    val cf = postings
      .join(broadcast(qterms.select(col("t")).distinct()), "t")
      .groupBy(col("t")).agg(count(lit(1)).as("cf"))
    // per-query constant over the cf>0 terms — query-sized frames only
    val qconst = qterms.join(broadcast(cf), "t")
      .crossJoin(broadcast(nTok))
      .groupBy(col("qid"))
      .agg((sum(log(col("cf") / col("n_tok"))) +
        count(lit(1)) * log(lit(mu))).as("kq"),
        count(lit(1)).as("nq"))
    val tf = postings.join(broadcast(cf.select(col("t"))), "t")
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(broadcast(cf), "t")
      .join(qterms, "t")
      .crossJoin(broadcast(nTok))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(log(lit(1.0) +
        (col("tf") * col("n_tok")) / (lit(mu) * col("cf")))).as("m"))
      .join(broadcast(qconst), "qid")
      .join(dl, idCol)
      .select(col("qid"), col(idCol),
        round(col("m") + col("kq") -
          col("nq") * log(col("dl") + lit(mu)), 4).as("score"))
    Relational.topKPerGroup(scored, Seq(col("qid")),
        Seq(col("score").desc, col(idCol)), k, rankCol = "rank")
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col(idCol), col("score"))
  }

  /** Repetition signals per document — the boilerplate/looping-text
    * detectors pretraining quality gates use alongside `qualityMetrics`:
    * the fraction of all unigrams taken by the single most frequent token,
    * and likewise for bigrams (template pages and degenerate generations
    * score high; prose scores low). Distributed shape: explode to
    * (doc, gram) rows → two-phase count → per-doc max/sum — the shuffle
    * carries distinct (doc, gram) pairs, never text. Fractions are
    * floor-scaled basis points (`Exact.ratioBp` — no cross-engine rounding
    * tie); docs with no bigrams report 0.
    */
  def repetitionMetrics(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    def topShare(grams: Column, out: String) =
      docs.select(col(idCol), explode(grams).as("g"))
        .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col(idCol))
        .agg(Exact.ratioBp(max(col("c")), sum(col("c"))).as(out))
    docs.select(col(idCol))
      .join(topShare(toks, "top_token_bp"), Seq(idCol), "left")
      .join(topShare(bigrams(col(textCol)), "top_bigram_bp"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("top_token_bp"), lit(0L)).as("top_token_bp"),
        coalesce(col("top_bigram_bp"), lit(0L)).as("top_bigram_bp"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set — order- and
    * repetition-insensitive, so token-permuted copies collide (the cheap
    * "bag-of-words identical" near-dup detector; md5 is portable across
    * engines, unlike murmur/xxhash).
    */
  def fingerprint(text: Column): Column = md5(to_binary(array_join(tokenSet(text), " "), lit("utf-8")))

  /** Most distinctive terms per document: tokens ranked by (tf desc,
    * df asc, token asc), top k — tf-idf ORDERING without idf's `ln` (whose
    * libm rounding is not guaranteed bit-equal across engines; the integer
    * ordering is, and for ranking that is all idf contributes). Two
    * two-phase aggregations (per-doc tf, corpus df) + a window top-k;
    * shuffle volume is O(distinct (doc, token)).
    */
  def topTermsPerDoc(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    Relational.topKPerGroup(tf.join(dfreq, "token"), Seq(col("doc_id")),
      Seq(col("tf").desc, col("df").asc, col("token").asc), k, rankCol = "rank")
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("token"), col("tf"), col("df"))
  }

  /** Canonical text normalization for dedup/training corpora: lowercase,
    * non-alphanumerics → space, whitespace collapsed, trimmed. Regex stays
    * in the `[a-z0-9 ]` ASCII subset on purpose — portable across engines
    * (Java vs RE2-style classes like `\\p{Punct}` diverge) and exactly the
    * normalization the md5-based dedup keys assume. Narrow, codegen'd,
    * per-row — free at any scale.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Anchor-element regex — a whole `<a ...>text</a>` block, the unit the
    * line-level link-density rule deletes to measure how much of a line is
    * link text. `(?i)` + lazy `.*?` are portable Java-regex/RE2 syntax, so
    * Spark and the DuckDB oracle run the identical pattern.
    */
  val AnchorRegex: String = "(?i)<a\\b[^>]*>.*?</a>"

  /** Any single markup tag (HTML element, comment remnant, doctype). */
  val TagRegex: String = "<[^>]*>"

  /** Markup/boilerplate strip — the missing FIRST stage of a web-crawl
    * pipeline, upstream of `normalize`/Gopher/CCNet (which all assume
    * running text, and mis-score raw HTML badly — TextOpsSpec pins the
    * shift). Three classic passes, all per-row column arithmetic:
    *   1. line-level boilerplate filter: per line, strip tags two ways —
    *      everything, and with whole `<a>…</a>` elements DELETED first —
    *      and drop the line when link text is more than `maxLinkBp`
    *      basis points of its visible text (nav bars / footers / link
    *      farms die here; the public Gopher-rules companion is exactly
    *      this link-density cut) or when no visible text remains;
    *   2. tag removal on the kept lines (tags → space, whitespace
    *      collapsed — `<p>a</p><p>b</p>` must not fuse words);
    *   3. entity decode LAST (`&lt;` etc. were escaped CONTENT, not
    *      markup — decoding before the tag pass would invent tags), with
    *      `&amp;` last of all so `&amp;lt;` decodes to the literal text
    *      `&lt;` as the HTML spec requires.
    * Integer basis-point arithmetic (no float ties), one struct per line
    * computed ONCE (transform → filter → project). Scale shape: pure
    * scan-side map over every crawled page, no shuffle contributed — the
    * 100 TB posture for a stage that must touch every raw byte once.
    */
  def stripMarkup(raw: Column, maxLinkBp: Int = 5000): Column = {
    def lineText(l: Column): Column =
      trim(regexp_replace(regexp_replace(l, TagRegex, " "), "\\s+", " "))
    val scored = transform(split(raw, "\n"), l => struct(
      lineText(l).as("t"),
      lineText(regexp_replace(l, AnchorRegex, " ")).as("tn")))
    val kept = filter(scored, s =>
      length(s.getField("t")) > 0 &&
        (length(s.getField("t")) - length(s.getField("tn"))) * lit(10000L) <=
          lit(maxLinkBp.toLong) * length(s.getField("t")))
    val joined = array_join(transform(kept, s => s.getField("t")), "\n")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(joined) { case (c, (e, v)) => regexp_replace(c, e, v) }
  }

  /** DuckDB twin of `stripMarkup(raw, maxLinkBp)` for an expression `r` —
    * same regexes, same struct-per-line shape, same decode order. DuckDB
    * needs the explicit 'g' flag (its regexp_replace is first-match by
    * default where Spark's is global) and a coalesce on the join (its
    * array_to_string of an EMPTY list is NULL, not ''). No emitted line
    * begins with `|` (catalog stripMargin interpolation trap).
    */
  def stripMarkupSql(r: String, maxLinkBp: Int = 5000): String = {
    def lineText(l: String): String =
      s"trim(regexp_replace(regexp_replace($l, '$TagRegex', ' ', 'g'), '\\s+', ' ', 'g'))"
    val scored = s"list_transform(string_split($r, chr(10)), l -> " +
      s"{'t': ${lineText("l")}, " +
      s"'tn': ${lineText(s"regexp_replace(l, '$AnchorRegex', ' ', 'g')")}})"
    val kept = s"list_filter($scored, s -> len(s.t) > 0 AND " +
      s"(len(s.t) - len(s.tn)) * 10000 <= $maxLinkBp * len(s.t))"
    val joined = s"coalesce(array_to_string(" +
      s"list_transform($kept, s -> s.t), chr(10)), '')"
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "''",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(joined) { case (c, (e, v)) => s"replace($c, '$e', '$v')" }
  }

  /** Per-language vocabulary of a corpus: distinct (lang, token) with
    * occurrence counts — the stored state behind OOV tracking. One
    * explode + one keyed aggregate; the table is O(vocab), not O(corpus),
    * and appends compose (re-aggregate counts by key, or just union for
    * membership-only use — `oovStats` only tests membership).
    */
  def vocabulary(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))

  /** Out-of-vocabulary rate of a batch against a stored vocabulary: per
    * language, the share (exact basis points) of batch token OCCURRENCES
    * whose (lang, token) is absent from the vocabulary — the vocab-drift /
    * tokenizer-coverage monitor a corpus ingest runs per batch. One
    * (lang, token)-keyed left join + one keyed aggregate; the corpus
    * itself is never re-read — the same stored-state steady-state shape
    * as the dedup probes. The vocab side is DISTINCT'd defensively before
    * the join: a fresh `vocabulary()` is distinct by construction, but an
    * APPENDED stored vocabulary (per-batch delta dirs) carries duplicate
    * (lang, token) rows, and a duplicate on the build side would multiply
    * batch occurrences — one O(vocab) exchange buys membership semantics
    * for every vocab source.
    */
  def oovStats(batch: DataFrame, vocab: DataFrame): DataFrame =
    batch.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .join(vocab.select(col("lang"), col("token")).distinct()
          .withColumn("_known", lit(true)),
        Seq("lang", "token"), "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", Exact.ratioBp(col("n_oov"), col("n_tokens")))

  /** Nucleus ("top-p") vocabulary truncation per language: the smallest
    * set of highest-frequency tokens whose cumulative occurrence share
    * reaches `pBp` basis points — the tokenizer-vocab sizing decision. The
    * keep rule is integer-exact (a token stays while the cumulative count
    * BEFORE it still falls short: `cum_before · 10⁴ < pBp · total`) under
    * the total order (count desc, token asc), so the cut is bit-identical
    * in any engine. The windows partition by language and sort the
    * (lang, token, n) COUNT table — O(vocab), never O(corpus); the corpus
    * scan collapses to vocabulary() first.
    */
  def topPVocabulary(docs: DataFrame, pBp: Int): DataFrame = {
    require(pBp > 0 && pBp <= 10000, s"pBp must be in (0, 10000], got $pBp")
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
    val ordered = byLang.orderBy(col("n").desc, col("token"))
    vocabulary(docs)
      .withColumn("cum_before", coalesce(sum(col("n")).over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("n")).over(byLang))
      .withColumn("rank", row_number().over(ordered).cast("long"))
      .filter(col("cum_before") * 10000 < lit(pBp.toLong) * col("total"))
      .select(col("lang"), col("token"), col("n"),
        (col("cum_before") + col("n")).as("cum_n"), col("rank"))
  }

  /** Overlapping token windows — the retrieval/pretraining "chunking" op:
    * chunk `i` of a document covers tokens `[i·step + 1, i·step + size]`
    * (1-based, `step = chunkSize − overlap`), and the chunk count
    * `1 + ceil(max(n − chunkSize, 0) / step)` is the smallest window count
    * covering every token — the last chunk may be shorter, but no token is
    * dropped and every adjacent pair of full chunks shares exactly
    * `overlap` tokens. Pure per-row explode, zero shuffle; chunk ids are a
    * function of the document alone, so re-runs and backfills produce
    * identical chunk keys for downstream dedup or embedding joins.
    */
  def chunkWindows(docs: DataFrame, chunkSize: Int, overlap: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    // integer-only ceil-div (int/int is a DOUBLE in Spark SQL; the cast
    // truncates, which equals floor on these non-negatives)
    val nChunks = ((greatest(col("_n") - lit(chunkSize), lit(0)) +
      lit(step - 1)) / lit(step)).cast("int") + lit(1)
    val tail = least(lit(chunkSize), col("_n") - col("chunk_id") * step)
    docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .select(col(idCol), col("_toks"), col("_n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        tail.cast("long").as("n_tokens"),
        concat_ws(" ",
          slice(col("_toks"), col("chunk_id") * step + 1, tail))
          .as("chunk_text"))
  }

  /** Single-character deletion neighborhood of `s`, including `s` itself,
    * de-duplicated — the symmetric-delete blocking key set (Garbe's
    * SymSpell, public algorithm). If ed(a, b) = 1 the neighborhoods of
    * `a` and `b` always intersect: a substitution deletes the differing
    * position from both; an insertion/deletion makes the shorter string
    * itself a variant of the longer. The converse does NOT hold (two
    * distance-2 strings can share a variant), so candidates from a
    * variant join must be verified — see `fuzzyPairsEd1`.
    */
  def deletionVariants(s: Column): Column =
    when(length(s) === 0, array(s)).otherwise(
      array_distinct(concat(array(s),
        transform(sequence(lit(1), length(s)), i =>
          concat(substr(s, lit(1), i - lit(1)),
            substr(s, i + lit(1), length(s)))))))

  /** Edit-distance-≤1 pairs `(a, b)` with `a < b` within one string
    * column: SymSpell deletion-neighborhood blocking + exact
    * `levenshtein` verification. Blocking is a lossless OVER-approximation
    * for distance 1 (see `deletionVariants`), and the verify filter runs
    * per CANDIDATE pair only, so the output provably equals the quadratic
    * all-pairs scan — the oracle runs that quadratic definition.
    *
    * Scale shape: one explode (|s|+1 variants per string), one
    * variant-keyed equi-join, one distinct on the (small) candidate pair
    * set, per-candidate verify. No all-pairs anywhere; a pathological
    * shared-variant key (n strings → n² candidates) is the same df-skew
    * shape as `commonSpanPairs` and salts the same way if it ever arises
    * in a real vocabulary.
    */
  /** Documents containing each multi-token phrase, found via a POSITIONAL
    * postings conjunction — the inverted-index search shape, not a
    * substring scan: tokens post as (doc, token, position); each phrase's
    * token slots join the postings on token; a hit is an anchor position
    * (pos − slot) where EVERY slot of the phrase matched. Equivalent to
    * whitespace-boundary substring search on the space-joined text — the
    * oracle runs that definition, proving the index path lossless.
    *
    * Scale shape: the postings and phrase-slot frames shuffle on token
    * only; the phrase side is tiny (broadcast), so the conjunction is a
    * map-side join over postings plus one keyed aggregate on
    * (phrase, doc, anchor) — no doc×phrase blowup, corpus text read once.
    * Duplicate tokens inside a phrase are handled by counting DISTINCT
    * matched slots per anchor.
    */
  def phraseSearch(docs: DataFrame, phrases: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   phraseCol: String = "phrase"): DataFrame = {
    val postings = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("_pos", "_tok")))
    val slots = phrases
      .withColumn("_plen", size(tokens(col(phraseCol))))
      .select(col(phraseCol), col("_plen"),
        posexplode(tokens(col(phraseCol))).as(Seq("_slot", "_ptok")))
    postings.join(broadcast(slots), col("_tok") === col("_ptok"))
      .select(col(phraseCol), col(idCol), col("_plen"), col("_slot"),
        (col("_pos") - col("_slot")).as("_anchor"))
      .groupBy(col(phraseCol), col(idCol), col("_anchor"), col("_plen"))
      .agg(countDistinct(col("_slot")).as("_hits"))
      .filter(col("_hits") === col("_plen"))
      .select(col(phraseCol), col(idCol)).distinct()
  }

  def fuzzyPairsEd1(strings: DataFrame, strCol: String = "s"): DataFrame = {
    val v = strings.select(col(strCol).as("_s"),
      explode(deletionVariants(col(strCol))).as("_v"))
    v.as("fza").join(v.as("fzb"),
        col("fza._v") === col("fzb._v") && col("fza._s") < col("fzb._s"))
      .select(col("fza._s").as("a"), col("fzb._s").as("b"))
      .distinct()
      .filter(levenshtein(col("a"), col("b")) <= 1)
  }

  /** Collocation extraction via windowed pointwise mutual information
    * (Church & Hanks 1990): count unordered token co-occurrences within a
    * ±`window` offset, then rank pairs and report
    * `PMI = ln(p(a,b) / (p(a)·p(b)))` with `p(a,b) = c_ab/N_pairs`,
    * `p(w) = c_w/N_tokens`.
    *
    * Scale shape: co-occurrence pairs are generated MAP-SIDE — for each
    * offset d ≤ window, `arrays_zip(slice(toks,1,m−d), slice(toks,1+d,m−d))`
    * (plain codegen'd expressions, no lambda HOFs, no per-doc self-join on
    * positions) — so the only shuffles are the two keyed aggregations
    * (pair counts, unigram counts) with map-side partial combine, both
    * O(vocab²-observed) / O(vocab), never O(corpus²). Totals ride a 1-row
    * broadcast; the final top-k pushes TakeOrdered. Ranking is on the
    * EXACT integer count (ties on the pair strings) — the float PMI is a
    * reported value, never the sort key; it rounds to 4dp which absorbs
    * ln's cross-engine 1-ulp wobble (same discipline as DSIR's scores).
    */
  def pmiPairs(docs: DataFrame, window: Int, topK: Int, minCount: Long,
               textCol: String = "text"): DataFrame =
    pmiFromState(pmiState(docs, window, textCol), topK, minCount)

  /** The mergeable frequency state behind `pmiPairs`: UNFILTERED windowed
    * pair counts (`kind = 'p'`) and unigram counts (`kind = 'u'`) in one
    * frame — the incremental-view pattern (`IncrAgg`/`percentileState`/
    * `mergeBigramLm`): partials built from independent ingest batches merge
    * by summing counts into a state identical to one built from the union,
    * and both PMI totals (N_tokens, N_pairs) are recoverable as state sums,
    * so a refresh reads the O(vocab + vocab²-observed) state, never the raw
    * history. minCount filtering happens at READ time (`pmiFromState`) —
    * a state filtered at build time would under-merge counts that cross
    * the threshold only after a later batch.
    */
  def pmiState(docs: DataFrame, window: Int,
               textCol: String = "text"): DataFrame =
    // Tokenized once, referenced by the unigram branch and `window` pair
    // branches — same MEMORY_ONLY multi-reference rationale as the dedup
    // shingle caches. Long-running callers that invoke this per micro-
    // batch must manage the cache themselves via `pmiStateFromTokens`
    // (see StreamOps.pmiDocumentBatch) — a per-batch persist with no
    // unpersist would accumulate dead entries for the stream's life.
    pmiStateFromTokens(
      docs.select(tokens(col(textCol)).as("l"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY),
      window)

  /** `pmiState` from an already-tokenized `(l: array<string>)` frame, no
    * caching — the caller owns the frame's persist/unpersist lifecycle.
    */
  def pmiStateFromTokens(toks: DataFrame, window: Int): DataFrame = {
    require(window >= 1)
    val m = size(col("l"))
    val pairs = (1 to window).map { d =>
      toks.filter(m > d)
        .select(explode(arrays_zip(
          slice(col("l"), lit(1), m - d),
          slice(col("l"), lit(d + 1), m - d))).as("p"))
        .select(least(col("p")("0"), col("p")("1")).as("w1"),
          greatest(col("p")("0"), col("p")("1")).as("w2"))
    }.reduce(_.unionByName(_))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .select(lit("p").as("kind"), col("w1"), col("w2"), col("c"))
      .unionByName(
        toks.select(explode(col("l")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
          .select(lit("u").as("kind"), col("w").as("w1"),
            lit(null).cast("string").as("w2"), col("c")))
  }

  /** Merge unioned `pmiState` partials: one keyed sum. */
  def mergePmiState(partials: DataFrame): DataFrame =
    partials.groupBy(col("kind"), col("w1"), col("w2"))
      .agg(sum(col("c")).as("c"))

  /** Top-k PMI collocations from a `(kind, w1, w2, c)` state — the read
    * side of the incremental pair above; `pmiPairs` is exactly
    * `pmiFromState(pmiState(docs))`. Ranked by the EXACT integer count
    * (ties on the pair strings); the float PMI is a reported value, never
    * the sort key, rounded 4dp to absorb ln's cross-engine 1-ulp wobble.
    */
  def pmiFromState(state: DataFrame, topK: Int, minCount: Long,
                   cache: Boolean = true): DataFrame = {
    require(topK >= 1)
    // Referenced three times (pair branch, unigram join sides, totals) —
    // persisting the O(vocab) state avoids recomputing its lineage per
    // reference. Pass cache=false when the state is already a stored
    // table (a parquet read costs less than a leaked session cache entry
    // per monitoring call — see StreamOps.pmiTopK).
    val st =
      if (cache)
        state.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      else state
    val cp = st.filter(col("kind") === "p")
      .select(col("w1"), col("w2"), col("c").as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val uni = st.filter(col("kind") === "u")
      .select(col("w1").as("w"), col("c").as("cw"))
    // 1-row totals, broadcast: both corpus sizes are state sums.
    val totals = broadcast(st.agg(
      sum(when(col("kind") === "u", col("c"))).as("n_tok"),
      sum(when(col("kind") === "p", col("c"))).as("n_p")))
    cp.join(uni.select(col("w").as("w1"), col("cw").as("cw1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cw2")), "w2")
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("c_ab").cast("double") * col("n_tok") * col("n_tok") /
          (col("n_p").cast("double") * col("cw1") * col("cw2"))), 4).as("pmi"))
      .orderBy(col("c_ab").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Blocked Jaro-Winkler record linkage over a string column: every pair
    * of DISTINCT values scoring ≥ `minScoreBp` in exact basis points
    * (`functions/JaroWinklerBp` — integer rational arithmetic end-to-end,
    * no float thresholds to disagree across engines), under the standard
    * record-linkage blocking: same first character (the assumption the
    * Winkler prefix boost itself encodes) and length within ±2. Blocking
    * here is the field's standard recall/cost trade (Fellegi-Sunter
    * practice), NOT a lossless pigeonhole like the simhash bands — a pair
    * differing in its first character is never considered; the oracle
    * replays the same blocking, so parity is complete over the declared
    * candidate set.
    *
    * Scale shape: distinct values → one keyed self-equi-join on the block
    * key with length residual — pair work is Σ per-block², governed by
    * the value distribution, never |rows|²; the score is one codegen'd
    * static call per candidate.
    */
  def jaroLinkagePairs(df: DataFrame, strCol: String,
                       minScoreBp: Long): DataFrame = {
    require(minScoreBp >= 0 && minScoreBp <= 10000,
      s"minScoreBp must be in [0, 10000], got $minScoreBp")
    val v = df.select(col(strCol).cast("string").as("w"))
      .filter(col("w").isNotNull && length(col("w")) > 0).distinct()
      .select(col("w"), substring(col("w"), 1, 1).as("blk"),
        length(col("w")).as("len"))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") &&
          abs(col("a.len") - col("b.len")) <= 2 &&
          col("a.w") < col("b.w"))
      .select(col("a.w").as("name_a"), col("b.w").as("name_b"),
        graft.functions.JaroWinklerBp.column(col("a.w"), col("b.w"))
          .as("score_bp"))
      .filter(col("score_bp") >= minScoreBp)
  }
}
