package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators the engine exposes beyond raw DataFrame calls.
  *
  * The reference (`/root/reference/etl/pipeline.py`) has no joins, windows or
  * set ops (SURVEY.md §2.4-2.6) — relationship traversal is pre-materialized by
  * denormalization. A relational store with "the same query capabilities"
  * still needs the full surface, so these are first-class here. Everything is
  * declarative DataFrame API: Catalyst picks broadcast-hash vs sort-merge,
  * pushes predicates, prunes columns; AQE re-plans skew at runtime.
  */
object Relational {

  /** Top-k rows per group, deterministic under ties via `tieBreak`.
    * Declarative `row_number` window → Spark plans a partial top-k
    * (`WindowGroupLimit` pushes the limit before the full sort at scale).
    * Reference analogue: `range_index` positional ordering
    * (`etl/pipeline.py:201-205`) generalized.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Keyed upsert: rows of `updates` replace same-key rows of `base`
    * (reference `INSERT OR REPLACE`, `etl/pipeline.py:286-296`, SURVEY K3).
    * Anti-join + union — the scalable MERGE building block on immutable
    * storage: one shuffle on the key, no driver-side state. Both inputs must
    * share a schema (enforced by `unionByName`).
    */
  def upsertByKey(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    base.join(updates, keys, "left_anti").unionByName(updates)

  /** Keep the first row per key under `orderCols` — deterministic dedup
    * (contrast `dropDuplicates`, which keeps an arbitrary row). Used for both
    * batch dedup and the batch shape of streaming `dropDuplicates`.
    */
  def firstPerKey(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame =
    topKPerGroup(df, keys.map(col), orderCols, 1).drop("rn")

  /** Per-group z-score outlier flags with ZERO floating-point operations —
    * the |x − μ| > (k10/10)·σ test cross-multiplied into pure integer
    * arithmetic on exact cent values:
    *
    *   |x − μ| > k·σ  ⟺  100·(n·x − S)² > k10²·(n·Q − S²)
    *
    * where S = Σx, Q = Σx² over the group (DecimalType(38,0) sums — Q for
    * cent values up to ~6e7 over ~10⁵-row groups peaks ~1e24, far inside
    * 38 digits; the oracle's HUGEINT is 128-bit). Float σ would make the
    * flag engine-dependent at the boundary; integers make it bit-exact —
    * the same trick as `Exact.ratioBp`. Plan: one keyed partial+final
    * aggregate for (n, S, Q), the O(|groups|) stats frame explicitly
    * BROADCAST back onto the data (without the hint, tiny-test-scale size
    * estimates can pick the fact side to broadcast — backwards at 100 TB;
    * callers with millions of groups should aggregate coarser first),
    * then a map-side flag — two passes over the data, no windows.
    */
  def outlierFlags(df: DataFrame, groups: Seq[String], valueCents: Column,
                   k10: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val withC = df.withColumn("_c", valueCents.cast(dec))
    val stats = withC.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).cast(dec).as("_n"),
        sum(col("_c")).as("_s"),
        sum(col("_c") * col("_c")).as("_q"))
    val dev = col("_n") * col("_c") - col("_s")               // n·x − S
    val varN2 = col("_n") * col("_q") - col("_s") * col("_s") // n²·σ²
    withC.join(broadcast(stats), groups)
      .withColumn("is_outlier",
        dev * dev * lit(100).cast(dec) > varN2 * lit(k10.toLong * k10).cast(dec))
      .drop("_c", "_n", "_s", "_q")
  }

  /** Market-basket co-occurrence: support counts for every unordered item
    * pair appearing in the same basket — the frequent-pairs half of
    * association mining (and the edge list of an item co-occurrence graph).
    * Output: `(item_a < item_b, support)`.
    *
    * Scale shape: one shuffle to baskets, where `collect_set` dedups
    * repeat lines into a sorted item array; `ArrayPairs` expands each
    * array map-side (x pairs with everything after it — canonical
    * `item_a < item_b` with no self-join), then a keyed count with
    * map-side partials. With basket sizes bounded by B that emits
    * ≤ C(B,2) rows per basket — linear in baskets, never quadratic in the
    * catalog. A pathological mega-basket would square inside its key; cap
    * or split such baskets upstream (the same discipline as the dedup
    * band-bucket caps).
    *
    * The basket shuffle is an explicit `repartition` to the session's
    * shuffle parallelism, which the grouping reuses. The stage after it
    * (set build, pair expansion, partial pair count) is the whole query's
    * CPU, but its input is a few MB, so AQE would coalesce a plain
    * grouping shuffle to ONE task and leave every other core idle
    * (sf0.1 `basket_clustering_coeff`: one 2.9 s task on 4 cores).
    */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val b = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .repartition(parts, col("_bk"))
      .groupBy(col("_bk"))
      .agg(sort_array(collect_set(col("_it"))).as("_items"))
    b.select(explode(graft.functions.ArrayPairs(col("_items"))).as("_p"))
      .groupBy(col("_p.a").as("item_a"), col("_p.b").as("item_b"))
      .agg(count(lit(1)).as("support"))
  }

  /** Association rules from basket co-occurrence: every directed rule
    * a→b with support ≥ `minSupport` and confidence ≥ `minConfBp`,
    * scored by confidence conf(a→b) = support(a,b)/freq(a) and lift
    * lift(a→b) = conf / (freq(b)/N) — the Agrawal-Srikant market-basket
    * readout. Both emitted as exact integer basis points
    * (10⁴ = confidence 1.0 / lift 1.0): `conf_bp = 10⁴·s div f_a`,
    * `lift_bp = 10⁴·s·N div (f_a·f_b)` — decimal-widened, no overflow,
    * no float, so engines agree bit-for-bit.
    *
    * Shape: `basketPairs` + one distinct-membership count (both one
    * basket/item-keyed shuffle), two item-keyed freq joins; the rule set
    * is ≤ 2·pairs rows. Thresholds prune BEFORE the joins.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Long = 1L, minConfBp: Long = 0L): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(minConfBp >= 0 && minConfBp <= 10000,
      s"minConfBp must be in [0, 10000], got $minConfBp")
    // members feeds freq AND the basket total; freq joins twice; the
    // pair table symmetrizes (two references) — materialize each once or
    // the distinct/self-join lineages replay per reference (the
    // itemRecommendations lesson, measured at sf1).
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val members = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .distinct().persist(mem)
    val freq = members.groupBy(col("_it")).agg(count(lit(1)).as("freq"))
      .persist(mem)
    val n = members.select(col("_bk")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val pairs = basketPairs(df, basketCol, itemCol)
      .filter(col("support") >= minSupport).persist(mem)
    val sym = pairs
      .select(col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("support"))
      .unionByName(pairs
        .select(col("item_b").as("antecedent"), col("item_a").as("consequent"),
          col("support")))
    sym
      .join(freq.select(col("_it").as("antecedent"), col("freq").as("f_a")),
        Seq("antecedent"))
      .join(freq.select(col("_it").as("consequent"), col("freq").as("f_c")),
        Seq("consequent"))
      .crossJoin(broadcast(n))
      .withColumn("conf_bp", expr("10000 * support div f_a"))
      .withColumn("lift_bp", expr(
        "CAST(CAST(10000 AS DECIMAL(38,0)) * support * n_baskets " +
          "div (CAST(f_a AS DECIMAL(38,0)) * f_c) AS BIGINT)"))
      .filter(col("conf_bp") >= minConfBp)
      .select(col("antecedent"), col("consequent"), col("support"),
        col("conf_bp"), col("lift_bp"))
  }

  /** Item-item collaborative-filtering recommendations from basket
    * co-occurrence: for every item, the top-k other items by COSINE
    * similarity over basket membership — cos(i,j) = support(i,j) /
    * sqrt(freq_i · freq_j), the classic item-based CF estimator (Sarwar
    * et al., WWW '01). Ranking needs no float: cos is monotone in cos²,
    * and cos²·10⁸ = support²·10⁸ div (freq_i·freq_j) is exact integer
    * arithmetic (decimal-widened — no overflow at any support), so
    * engines rank identically; quantization ties resolve by neighbor id.
    *
    * Shape: `basketPairs` (one basket-keyed shuffle, map-side pair
    * generation), two item-keyed freq joins, then `TopKAgg` — the
    * grouped top-k is a k-bounded PARTIAL AGGREGATION, shuffle
    * O(items·k), never a per-item window sort of the full edge list.
    * `minSupport` prunes the noise floor before the joins.
    */
  def itemRecommendations(df: DataFrame, basketCol: String, itemCol: String,
                          k: Int = 3, minSupport: Long = 1L): DataFrame = {
    // The scorer references the pair table TWICE (symmetrize) and the
    // freq table twice (both join sides): without a materialization the
    // whole basket self-join lineage replays per reference — measured
    // 25.8 s → ~rebuild-once at sf1. MEMORY_ONLY like the dedup shingle
    // caches (LRU-evictable, worst case recompute); the stored-index
    // path (`FromParts` on StoredIndexes frames) is already warm.
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    itemRecommendationsFromParts(
      basketPairs(df, basketCol, itemCol).persist(mem),
      itemBasketFreq(df, basketCol, itemCol).persist(mem), k, minSupport)
  }

  /** The `(item, baskets-containing-it)` counts both the recommendation
    * and rule scorers divide by — the second stored-index half next to
    * the pair/edge table (`writeBasketEdges`): item-sized, maintained by
    * summing per-batch partials exactly like the edges.
    */
  def itemBasketFreq(df: DataFrame, basketCol: String, itemCol: String): DataFrame =
    df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .distinct()
      .groupBy(col("_it")).agg(count(lit(1)).as("freq"))

  /** `itemRecommendations` from ALREADY-BUILT parts — the steady-state
    * entry point for a pipeline that maintains the pair table and item
    * frequencies incrementally (`StoredIndexes.basketEdges` /
    * `itemFreq`): the timed cost is two keyed joins + the k-bounded
    * top-k aggregation, never the basket self-join rebuild.
    */
  def itemRecommendationsFromParts(pairs: DataFrame, freq: DataFrame,
                                   k: Int = 3, minSupport: Long = 1L): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val p = pairs.filter(col("support") >= minSupport)
    val sym = p
      .select(col("item_a").as("item"), col("item_b").as("rec"), col("support"))
      .unionByName(p
        .select(col("item_b").as("item"), col("item_a").as("rec"), col("support")))
    sym
      .join(freq.select(col("_it").as("item"), col("freq").as("f_i")), Seq("item"))
      .join(freq.select(col("_it").as("rec"), col("freq").as("f_r")), Seq("rec"))
      .withColumn("c2e8", expr(
        "CAST(CAST(support AS DECIMAL(38,0)) * support * 100000000 " +
          "div (CAST(f_i AS DECIMAL(38,0)) * f_r) AS BIGINT)"))
      .groupBy(col("item"))
      .agg(graft.functions.TopKAgg.topKMax(col("c2e8"), col("rec"), k).as("t"))
      .select(col("item"), posexplode(col("t.entries")))
      .select(col("item"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("rec"), col("col.v").as("cos2_e8"))
  }

  /** Co-purchase edge index lifecycle — the incremental-maintenance story
    * for the basket/graph family (`StoredIndexes.basketEdges` is the
    * session-cached consumer). `write*` bootstraps the table from the full
    * fact history; `appendTo*` folds ONE ingest batch in at delta cost
    * (the batch's own pair counts land as additional rows — delta-sized
    * IO, no rewrite of the accumulated table); `read*` is the single
    * consolidation point (one edge-sized keyed sum over the per-batch
    * partials — the mergeable-partial-aggregate pattern of `IncrAgg`, and
    * exactly what a warm probe caches); `compact*` optionally rewrites the
    * partials into one row per pair when many appends have accumulated.
    *
    * Contract: a BASKET MUST NOT STRADDLE BATCHES — pairs are enumerated
    * within a batch, so a basket split across two appends would lose its
    * cross-batch pairs. Baskets here are orders (the reference's unit of
    * atomic ingest), so the contract is the natural one: append whole
    * orders. Under it, append-then-read ≡ `basketPairs` over the union of
    * all batches, which the spec pins exactly.
    */
  def writeBasketEdges(df: DataFrame, dir: String, basketCol: String,
                       itemCol: String): Unit = {
    basketPairs(df, basketCol, itemCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    resetBatchLog(df.sparkSession, dir)
  }

  /** Fold one batch of whole baskets into the stored edge table. */
  def appendToBasketEdges(batch: DataFrame, dir: String, basketCol: String,
                          itemCol: String): Unit = {
    basketPairs(batch, basketCol, itemCol)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    addBatchMarker(batch.sparkSession, dir)
  }

  // Batch log: one empty marker file per write/append under `dir/_batches`
  // (the `_` prefix keeps Spark's file index from listing it as data).
  // Lets the read path PROVE single-batch state and skip the consolidating
  // shuffle — a bootstrapped-or-compacted table is already one row per
  // pair, and paying an edge-sized groupBy per probe anyway is pure waste
  // (measured: 5x the probe cost at 12M stored rows).
  //
  // All marker IO goes through the Hadoop FileSystem resolved from `dir`
  // itself, NOT java.nio — the parquet data is written via Spark/Hadoop
  // FS, so for a non-local `dir` (hdfs://, s3a://) a java.nio marker
  // would land on the driver's local disk and a fresh process would see
  // batchCount==1, skipping the consolidating groupBy over genuinely
  // multi-batch data.
  private def batchLogDir(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir.stripSuffix("/"), "_batches")
  private def markerFs(spark: SparkSession,
                       p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def addBatchMarker(spark: SparkSession, dir: String): Unit = {
    val d = batchLogDir(dir)
    val fs = markerFs(spark, d)
    fs.mkdirs(d)
    fs.create(new org.apache.hadoop.fs.Path(d,
      java.util.UUID.randomUUID().toString), false).close()
  }
  private def resetBatchLog(spark: SparkSession, dir: String): Unit = {
    val d = batchLogDir(dir)
    val fs = markerFs(spark, d)
    if (fs.exists(d)) { fs.delete(d, true); () }
    addBatchMarker(spark, dir)
  }
  private def batchCount(spark: SparkSession, dir: String): Int = {
    val d = batchLogDir(dir)
    val fs = markerFs(spark, d)
    if (!fs.exists(d)) Int.MaxValue // unknown: assume many
    else fs.listStatus(d).length
  }

  /** The consolidated edge view `(item_a, item_b, support)` — one keyed
    * sum over however many per-batch partial rows the appends left. When
    * the batch log proves a single batch (fresh bootstrap, or just
    * compacted), the table is already one row per pair and the view is a
    * plain scan — the warm-probe steady state costs a parquet read, not
    * an edge-sized shuffle. A dir with no batch log (external writer)
    * conservatively takes the consolidating path.
    */
  def readBasketEdges(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(dir)
    if (batchCount(spark, dir) <= 1) raw.select(col("item_a"), col("item_b"),
      col("support"))
    else raw.groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("support")).as("support"))
  }

  /** Per-group exact OLS trend line ŷ = slope·x + intercept over integer
    * (x, y) samples — the "is this segment's spend rising?" primitive.
    * ONE pass, one keyed shuffle (partial+final aggregation of the five
    * moment sums n, Σx, Σy, Σx², Σxy), output O(|groups|).
    *
    * Determinism across engines: every sum is exact Decimal(38,0)
    * (DuckDB HUGEINT) — integer accumulation is reduction-order-free,
    * unlike double sums — and each coefficient is formed as an exact
    * integer numerator/denominator with ONE final double division:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²),
    * intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²), rounded to 6dp.
    * A group whose x values are all equal has denominator 0 → NULL
    * slope/intercept (no float Inf/NaN cross-engine trap).
    */
  private val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** One keyed pass of the six exact Decimal(38,0) (x, y) moment sums —
    * shared by `groupTrend` and `groupCorrelation`. Integer accumulation
    * is reduction-order-free; doubles enter only in the callers' single
    * final division. */
  private[ops] def momentSums(df: DataFrame, groups: Seq[String], x: Column,
                              y: Column): DataFrame =
    df.select(groups.map(col) ++
        Seq(x.cast(Dec38).as("_x"), y.cast(Dec38).as("_y")): _*)
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).cast(Dec38).as("_n"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_y") * col("_y")).as("_syy"))

  def groupTrend(df: DataFrame, groups: Seq[String], x: Column,
                 y: Column): DataFrame = {
    val m = momentSums(df, groups, x, y)
    val den = m("_n") * m("_sxx") - m("_sx") * m("_sx")
    val sNum = m("_n") * m("_sxy") - m("_sx") * m("_sy")
    val iNum = m("_sy") * m("_sxx") - m("_sx") * m("_sxy")
    def ratio(num: Column) = when(den === lit(0).cast(Dec38), lit(null))
      .otherwise(round(num.cast("double") / den.cast("double"), 6))
    m.select(groups.map(col) ++ Seq(
      col("_n").cast("long").as("n"),
      ratio(sNum).as("slope"), ratio(iNum).as("intercept")): _*)
  }

  /** Per-group Pearson correlation over integer (x, y) samples, on the
    * same exact-moment machinery as `groupTrend`:
    * r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²)).
    * Numerator and both variance terms are exact integers; the ONLY float
    * steps are two exact decimal→double conversions, one double multiply,
    * one IEEE-correctly-rounded sqrt, and one division — each bit-
    * deterministic, so the oracle replays the identical value. The
    * multiply happens in DOUBLE (not decimal) because the variance-term
    * product can exceed 38 digits. A group with zero variance on either
    * axis → NULL (undefined, no Inf/NaN trap).
    */
  def groupCorrelation(df: DataFrame, groups: Seq[String], x: Column,
                       y: Column): DataFrame = {
    val m = momentSums(df, groups, x, y)
    val num = m("_n") * m("_sxy") - m("_sx") * m("_sy")
    val dx = m("_n") * m("_sxx") - m("_sx") * m("_sx")
    val dy = m("_n") * m("_syy") - m("_sy") * m("_sy")
    val zero = lit(0).cast(Dec38)
    m.select(groups.map(col) ++ Seq(
      col("_n").cast("long").as("n"),
      when(dx === zero || dy === zero, lit(null))
        .otherwise(round(num.cast("double") /
          sqrt(dx.cast("double") * dy.cast("double")), 6)).as("r")): _*)
  }

  /** Per-group ROBUST outlier flags — |x − median| > (k10/10)·MAD, the
    * median-absolute-deviation rule that, unlike `outlierFlags`' z-score,
    * is not itself dragged by the outliers it hunts (one extreme value
    * inflates μ and σ enough to mask a second one; the median and MAD
    * barely move). Like `outlierFlags`, ZERO floating-point operations:
    * the median and the MAD are EXACT nearest-rank statistics over cent
    * integers (`nearestRankPercentilesBy`, the scale-safe two-level
    * cumulative shape — no data-sized windows), deviations are exact
    * longs, and the flag cross-multiplies to 10·|x−med| > k10·MAD — the
    * boundary is bit-identical in any engine. Two percentile passes + two
    * BROADCAST joins of the O(|groups|) stats frames back onto the data.
    */
  def outlierFlagsMad(df: DataFrame, groups: Seq[String], valueCents: Column,
                      k10: Int): DataFrame = {
    val withC = df.withColumn("_c", valueCents.cast("long"))
    val med = nearestRankPercentilesBy(withC, groups, col("_c"), Seq(0.5))
      .select(groups.map(col) :+ col("value").as("_med"): _*)
    val withDev = withC.join(broadcast(med), groups)
      .withColumn("_dev", abs(col("_c") - col("_med")))
    val mad = nearestRankPercentilesBy(withDev, groups, col("_dev"), Seq(0.5))
      .select(groups.map(col) :+ col("value").as("_mad"): _*)
    withDev.join(broadcast(mad), groups)
      .withColumn("is_outlier", col("_dev") * 10 > col("_mad") * k10)
      .drop("_c", "_med", "_dev", "_mad")
  }

  /** Change-data capture by snapshot diff: given two snapshots of a keyed
    * table, emit each key's transition — `insert` (new only), `delete` (old
    * only), `update` (both, any compared column differs, null-safely) —
    * and DROP unchanged keys. Output: keys…, old_<c>/new_<c> per compared
    * column, change.
    *
    * The reference re-extracts and fully rewrites every table per run
    * (`etl/pipeline.py:246-262`), so "what changed since yesterday" is
    * unanswerable there; at 100 TB the diff IS the deliverable (downstream
    * consumers want the delta, not the snapshot). Plan shape: ONE keyed
    * full-outer shuffle join; the unchanged-row filter sits directly on it,
    * so nothing unchanged survives to downstream operators. Presence is
    * detected via constant marker columns, not key nullness — a null
    * compared value must not masquerade as absence.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
                   compare: Seq[String]): DataFrame = {
    val oldP = oldSnap.select(keys.map(col) ++
      compare.map(c => col(c).as(s"old_$c")) :+ lit(true).as("_in_old"): _*)
    val newP = newSnap.select(keys.map(col) ++
      compare.map(c => col(c).as(s"new_$c")) :+ lit(true).as("_in_new"): _*)
    val changed = compare.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    oldP.join(newP, keys, "full_outer")
      .withColumn("change",
        when(col("_in_old").isNull, "insert")
          .when(col("_in_new").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change").isNotNull)
      .drop("_in_old", "_in_new")
  }

  /** Bucket rows of `fact` by a range (theta) join against a tiny `buckets`
    * relation `(name, lo, hi)` — plans as BroadcastNestedLoopJoin, which is
    * exactly right when the build side is a handful of rows (SURVEY J5).
    */
  def rangeBucketJoin(fact: DataFrame, buckets: DataFrame, value: Column): DataFrame =
    fact.join(broadcast(buckets), value >= buckets("lo") && value < buckets("hi"))

  /** Nearest-rank percentiles of a numeric column: the value holding 1-based
    * rank `floor(q·(n−1))+1` in sort order, per quantile. Pure integer rank
    * selection — no interpolation, so no engine-specific float formula can
    * diverge (Spark's `percentile` and DuckDB's `quantile_cont` interpolate
    * with arithmetic that is not guaranteed bit-equal cross-engine).
    *
    * Scale shape — two-level cumulative counts, no global window and no
    * extra count job:
    *   1. groupBy shuffle onto DISTINCT VALUES → (v, c);
    *   2. bucket id `pid` = a PURE FUNCTION of v against range boundaries
    *      computed ONCE on the driver (approxQuantile over the cached
    *      distinct values, embedded as literals), then cumulative-sum
    *      WITHIN each bucket (a window partitioned by pid — every task
    *      sums only its own slice, no global window);
    *   3. per-bucket totals (one tiny row per bucket, ≤ shuffle-partition
    *      count — bounded by config, never by data) collected once on the
    *      driver and folded into literal prefix-offset arrays (r16; the
    *      r15 triangular broadcast self-join made the cached frame a
    *      racing multi-consumer — see `cumFromFreqMulti`);
    *   4. global rank = within-bucket cumsum + literal bucket offset; the
    *      row total n falls out of the same tiny aggregate, so the ranks
    *      join needs no separate `df.count()` job.
    * Exactness: counts are integers and pid is literal-derived, so every
    * branch — even one recomputed after cache eviction — assigns the
    * identical bucket to a value (the earlier shape keyed offsets off
    * `spark_partition_id()` after a range repartition, which could in
    * principle re-sample ranges differently on recompute). pid is monotone
    * non-decreasing in v (double cast is order-preserving), so
    * (bucket offset + within-bucket rank) IS the global rank; boundary
    * PLACEMENT only balances work, never results. The distinct-value frame
    * is persisted MEMORY_ONLY (really LRU-evicted; disk-backed blocks
    * would outlive the lazy result) — the boundary job materializes it and
    * the cumsum/offsets/total branches reference it three more times.
    * Non-numeric/non-timestamp value types (where a double cast would not
    * be order-preserving — e.g. strings sort lexicographically) and all-null
    * inputs degrade to a single bucket (correct, not balanced).
    */
  /** Per distinct value: `(v, c, hi)` where `c` is the value's row count
    * and `hi` the EXACT global cumulative count (# rows with value ≤ v) —
    * the building block under `nearestRankPercentiles` and
    * `equiDepthHistogram`. Computed with the range-partitioned two-level
    * shape: approxQuantile bucket bounds over the distinct-value frame →
    * per-bucket cumulative windows → broadcast per-bucket offsets. NO
    * global window anywhere; the approx bounds affect only bucket
    * BALANCE, never the exact counts.
    */
  def globalValueCumCounts(df: DataFrame, value: Column): DataFrame =
    cumFromFreq(
      df.select(value.as("v")).groupBy("v").agg(count(lit(1)).as("c")),
      df.select(value.as("v")).schema.head.dataType)

  /** `globalValueCumCounts` that ALSO carries the grand total as a column
    * `n` on every row — `(v, c, hi, n)`. The total falls out of the same
    * tiny per-bucket aggregate the offsets come from (one extra broadcast
    * of ONE row), so a consumer that needs ranks against n (percentiles,
    * equi-depth buckets, rank normalization) no longer re-aggregates the
    * cumulative frame — which, pre-r15, re-ran the whole upstream subtree
    * per reference (or raced a MEMORY_ONLY cache materialization between
    * parallel AQE stages, measured SLOWER than the recompute).
    */
  def globalValueCumCountsWithTotal(df: DataFrame, value: Column): DataFrame =
    cumFromFreqMulti(
      df.select(value.as("v")).groupBy("v").agg(count(lit(1)).as("c")),
      df.select(value.as("v")).schema.head.dataType, Seq("c"))
      .select(col("v"), col("c"), col("cum_c").as("hi"), col("tot_c").as("n"))

  /** Multi-weight cumulative sums over an ALREADY per-key-unique frame
    * `(v, w1, …, wk)` — one row per key, caller's contract (a full-outer
    * join on a distinct key, or a groupBy output). Skips the redundant
    * keyed regroup a `globalKeyedCumSum` round-trip would pay, runs ONE
    * two-level range-partitioned pass, and returns every weight's running
    * sum `cum_wi` (≤ v, v-ordered) AND grand total `tot_wi` as columns.
    * This is the one-pass backbone for KS / Mann-Whitney style statistics:
    * both empirical CDFs and both sample sizes in a single linear shape,
    * no join-back, no totals broadcast subtree.
    */
  def globalCumSumsPreAgg(freq: DataFrame, weights: Seq[String]): DataFrame =
    cumFromFreqMulti(freq,
      freq.select(col("v")).schema.head.dataType, weights)

  /** Weighted sibling of `globalValueCumCounts`: per distinct key,
    * `(v, c, hi)` where `c` is the key's total WEIGHT and `hi` the exact
    * global running weight over keys ≤ v — same range-partitioned
    * two-level shape (no global window), summing a weight instead of
    * counting rows. The running-offset backbone of sequence packing
    * (`Curate.packSequences`), where the weight is a token count.
    */
  def globalKeyedCumSum(df: DataFrame, key: Column, weight: Column): DataFrame =
    cumFromFreq(
      df.select(key.as("v"), weight.cast("long").as("w"))
        .groupBy("v").agg(sum(col("w")).as("c")),
      df.select(key.as("v")).schema.head.dataType)

  private def cumFromFreq(freq0: DataFrame,
                          vType: org.apache.spark.sql.types.DataType): DataFrame =
    cumFromFreqMulti(freq0, vType, Seq("c"), withTotals = false)
      .select(col("v"), col("c"), col("cum_c").as("hi"))

  /** The two-level range-partitioned cumulative-sum core (doc above), for
    * ANY number of weight columns at once: input `(v, w1, …, wk)` — one
    * row per v — output `(v, w1…wk, cum_w1…cum_wk, tot_w1…tot_wk)` where
    * `cum_wi` = Σ wi over keys ≤ v and `tot_wi` the grand total.
    *
    * Offsets and totals are LITERALS since r16: the per-bucket totals
    * aggregate (≤ #buckets rows, #buckets ≤ the shuffle-partition config
    * — bounded by config, never by data, the same class as the `bounds`
    * collect above it) is collected once on the driver and folded into
    * per-weight prefix-offset arrays + grand totals. The r15 shape kept
    * totals distributed — a triangular broadcast self-join for offsets
    * plus a second 1-row broadcast for grand totals — which made the
    * cached freq frame a FOUR-way parallel AQE consumer (window map,
    * offs stream side, offs broadcast side, grand broadcast): JobProbe
    * r16 measured the four stage jobs racing the cache materialization at
    * 2.6 s each on a frame whose sequential read costs 0.1 s (the r15
    * "racing cache" lesson, now in the cumsum core itself). Sequential
    * driver steps — bounds job, totals job, ONE window consumer — leave
    * nothing to race, and recompute determinism strengthens: offsets are
    * frozen literals, not re-derivable broadcast state.
    */
  private def cumFromFreqMulti(freq0: DataFrame,
                               vType: org.apache.spark.sql.types.DataType,
                               weights: Seq[String],
                               withTotals: Boolean = true): DataFrame = {
    val spark = freq0.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val freq = freq0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // The double cast used for bucketing must be MONOTONE in v's own sort
    // order, or (bucket offset + within-bucket rank) is not the global rank.
    // That holds for numeric and timestamp types ONLY — a numeric-looking
    // STRING column casts cleanly but sorts lexicographically ("10" < "9"),
    // which would silently mis-bucket. Everything else degrades to a single
    // bucket: still exact, just not balanced.
    val monotoneCast = vType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
      vType == org.apache.spark.sql.types.TimestampType
    val bounds: Seq[Double] =
      if (parts <= 1 || !monotoneCast) Seq.empty
      else try {
        val probs = (1 until parts).map(_.toDouble / parts).toArray
        freq.select(col("v").cast("double").as("vd"))
          .stat.approxQuantile("vd", probs, 0.001)
          .toSeq.filterNot(_.isNaN).distinct.sorted
      } catch { case scala.util.control.NonFatal(e) =>
        // still exact, but every row lands in one window partition
        System.err.println("[relational] WARNING: approxQuantile bucket " +
          s"bounds failed ($e); the cumulative sums run as one bucket")
        Seq.empty
      }
    // One cast, evaluated once, referenced by every boundary comparison —
    // not one cast per boundary inside the fold.
    val pidExpr = bounds
      .foldLeft(lit(0))((acc, b) => acc + when(col("vd") > lit(b), 1).otherwise(0))
      .as("pid")
    val bucketed = freq
      .withColumn("vd", col("v").cast("double"))
      .select(col("v") +: weights.map(col) :+ pidExpr: _*)
    val win = Window.partitionBy(col("pid")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = bucketed.select(
      col("v") +: col("pid") +: weights.map(col) ++:
        weights.map(w => sum(col(w)).over(win).as(s"cum_$w")): _*)
    // Per-bucket totals, ≤ #buckets rows (config-bounded), collected once
    // — this SEQUENTIAL job also reads the freq cache the bounds job just
    // materialized, so the final action's window stage is the cache's
    // only remaining consumer (nothing left to race).
    val nb = bounds.size + 1
    val totRows = bucketed.groupBy(col("pid"))
      .agg(sum(col(weights.head)).as(s"tc_${weights.head}"),
        weights.tail.map(w => sum(col(w)).as(s"tc_$w")): _*)
      .collect()
    val perPid = Array.fill(nb, weights.size)(0L)
    totRows.foreach { r =>
      val p = r.getInt(0)
      weights.indices.foreach { i =>
        perPid(p)(i) = if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)
      }
    }
    // exclusive prefix offsets per weight + grand totals, as literals
    val offArr = Array.fill(weights.size)(new Array[Long](nb))
    val grand = new Array[Long](weights.size)
    weights.indices.foreach { i =>
      var acc = 0L
      var p = 0
      while (p < nb) { offArr(i)(p) = acc; acc += perPid(p)(i); p += 1 }
      grand(i) = acc
    }
    def offCol(i: Int): Column =
      element_at(typedLit(offArr(i).toSeq), col("pid") + 1)
    if (!withTotals)
      inner.select(col("v") +: weights.map(col) ++:
        weights.zipWithIndex.map { case (w, i) =>
          (col(s"cum_$w") + offCol(i)).as(s"cum_$w") }: _*)
    else
      // Grand totals ride as literals on every row — the "no extra count
      // job" rule extended to every consumer that needs n (percentile
      // ranks, equi-depth bucket bounds, CDF denominators). Opt-in:
      // callers that don't need n (plain globalKeyedCumSum — e.g.
      // sequence packing) skip the extra columns entirely.
      inner.select(col("v") +: weights.map(col) ++:
        weights.zipWithIndex.map { case (w, i) =>
          (col(s"cum_$w") + offCol(i)).as(s"cum_$w") } ++:
        weights.zipWithIndex.map { case (w, i) =>
          lit(grand(i)).as(s"tot_$w") }: _*)
  }

  /** Percentile-rank normalization in basis points — the rank-based
    * feature transform (uniformize a skewed column before training):
    * every row gets `floor(10000 · #{rows with value < v} / n)`, an
    * integer in [0, 9999], ties sharing one value. Exact and
    * tie-order-free by construction (built on the distinct-value
    * cumulative counts, NOT a row window): `hi − c` of
    * `globalValueCumCounts` IS the strictly-below count.
    *
    * Scale shape: the (value → bp) map is O(distinct values) and joins
    * back on the value key — a real keyed shuffle join, deliberately NOT
    * broadcast (a continuous column's distinct count is data-sized).
    * Rows with NULL value survive with NULL bp (left join semantics).
    */
  def rankNormalizeBp(df: DataFrame, value: Column,
                      out: String = "rank_bp"): DataFrame = {
    // NULLs are excluded from the rank space (they'd otherwise form a
    // cumulative-count group and shift every bp); they rejoin as NULL bp.
    // n rides the cumulative frame (globalValueCumCountsWithTotal) — ONE
    // consumer, no totals branch re-running the cumulative subtree (r15).
    val map = globalValueCumCountsWithTotal(df.where(value.isNotNull), value)
      .select(col("v").as("_v"),
        expr("((hi - c) * 10000) div n").as(out))
    df.join(map, value === col("_v"), "left").drop("_v")
  }

  /** `rankNormalizeBp` within strata — normalize a feature against its own
    * group's distribution (per-language quality scores, per-domain
    * lengths), the form training-mix curation actually wants. Same
    * exactness/tie story as the global variant; the cumulative window
    * partitions by the group (never global), the (group, value → bp) map
    * is O(distinct per group) and joins back on the (group, value) key.
    */
  def rankNormalizeBpBy(df: DataFrame, groupCols: Seq[String], value: Column,
                        out: String = "rank_bp"): DataFrame = {
    val g = groupCols.map(col)
    val byGroup = Window.partitionBy(g: _*)
    val mapDf = percentileState(df.where(value.isNotNull), groupCols, value)
      .withColumn("hi", sum(col("c")).over(byGroup.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum(col("c")).over(byGroup))
      .select(groupCols.map(c => col(c).as(s"_g_$c")) ++
        Seq(col("v").as("_v"),
          expr("((hi - c) * 10000) div _n").as(out)): _*)
    val cond = groupCols.map(c => col(c) === col(s"_g_$c"))
      .reduce(_ && _) && value === col("_v")
    df.join(mapDf, cond, "left")
      .drop(groupCols.map(c => s"_g_$c") :+ "_v": _*)
  }

  def nearestRankPercentiles(df: DataFrame, value: Column,
                             quantiles: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // n rides the cumulative frame itself (globalValueCumCountsWithTotal),
    // so the frame has exactly ONE consumer — pre-r15 the separate
    // `cum.agg(n)` branch re-ran the whole cumulative subtree a second
    // time (the rank arithmetic is unchanged: floor(q·(n−1))+1 against
    // the [hi−c, hi] bracket, nearestRankPercentilesFromCounts' shape).
    val cum = globalValueCumCountsWithTotal(df, value)
    cum.crossJoin(broadcast(quantiles.toDF("quantile")))
      .withColumn("rk", floor(col("quantile") * (col("n") - 1)) + 1L)
      .filter(col("hi") >= col("rk") && (col("hi") - col("c")) < col("rk"))
      .select(col("quantile"), col("v").as("value"))
      .orderBy(col("quantile"))
  }

  /** Exact equi-depth (equal-frequency) histogram: bucket of the row with
    * global rank r (1-based, value-ordered) is `(r−1)·k div n`, and each
    * bucket reports its row count and value range. Built WITHOUT a global
    * window or per-row rank: each distinct value's rank interval
    * `[hi−c+1, hi]` (from `globalValueCumCounts`) is intersected with
    * each straddled bucket's rank interval — O(distinct values × buckets
    * straddled), all integer arithmetic, so counts are exact and
    * independent of how ties are ordered (equal values straddling a
    * boundary contribute the same value to both buckets' min/max).
    */
  def equiDepthHistogram(df: DataFrame, value: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // n rides the cumulative frame (globalValueCumCountsWithTotal) — ONE
    // consumer, no totals branch re-running the cumulative subtree (r15).
    val cum = globalValueCumCountsWithTotal(df, value)
    cum
      .withColumn("_lo", col("hi") - col("c"))
      // first/last bucket this value's rank interval touches
      .select(col("v"), col("_lo"), col("hi"), col("n"),
        explode(sequence(expr(s"(_lo * $k) div n"),
          expr(s"((hi - 1) * $k) div n"))).as("bucket"))
      // bucket b owns ranks [ceil(b·n/k)+1, ceil((b+1)·n/k)]
      .withColumn("_rlo", expr(s"(bucket * n + ${k - 1}) div $k + 1"))
      .withColumn("_rhi", expr(s"((bucket + 1) * n + ${k - 1}) div $k"))
      .withColumn("_cnt", least(col("hi"), col("_rhi")) -
        greatest(col("_lo") + 1, col("_rlo")) + 1)
      .groupBy(col("bucket"))
      .agg(sum(col("_cnt")).as("n_rows"), min(col("v")).as("lo_value"),
        max(col("v")).as("hi_value"))
      .orderBy(col("bucket"))
  }

  /** Interpolated (PERCENTILE_CONT / type-7) percentiles from the same
    * scale-safe two-level cumulative counts as the nearest-rank family:
    * position h = q·(n−1) (0-based), result = v⌊h⌋ + (h−⌊h⌋)·(v⌈h⌉−v⌊h⌋).
    * Both bracketing ranks resolve against the distinct-value cumulative
    * frame via rank-interval joins (broadcast: the rank list is
    * O(quantiles)); NO global sort or row window anywhere. The single
    * double multiply-add happens once per quantile at the very end —
    * rounded 6dp, which absorbs cross-engine ulp on the interpolation.
    */
  def interpolatedPercentiles(df: DataFrame, value: Column,
                              quantiles: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULLs are excluded from the quantile space (PERCENTILE_CONT /
    // quantile_cont semantics — same rule as rankNormalizeBp): a NULL
    // would otherwise sort first in the cumulative frame and shift every
    // bracketing rank.
    // Referenced by BOTH bracketing joins (and the total) — persist the
    // O(distinct) cumulative frame or the bucketing pass runs twice.
    // MEMORY_ONLY with no unpersist, like the dedup shingle caches:
    // blocks LRU-evict for real (worst case recompute).
    val cum = globalValueCumCounts(df.where(value.isNotNull), value)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val ranks = quantiles.toDF("quantile")
      .crossJoin(broadcast(cum.agg(sum(col("c")).as("n"))))
      .select(col("quantile"),
        (floor(col("quantile") * (col("n") - 1)) + 1L).as("r1"),
        least(floor(col("quantile") * (col("n") - 1)) + 2L, col("n")).as("r2"),
        (col("quantile") * (col("n") - 1) -
          floor(col("quantile") * (col("n") - 1))).as("frac"))
    val lo = cum.join(broadcast(ranks),
        col("hi") >= col("r1") && (col("hi") - col("c")) < col("r1"))
      .select(col("quantile"), col("frac"), col("v").as("v1"), col("r2"))
    val hi = cum.join(broadcast(ranks.select(col("quantile").as("q2"), col("r2"))),
        col("hi") >= col("r2") && (col("hi") - col("c")) < col("r2"))
      .select(col("q2"), col("v").as("v2"))
    lo.join(broadcast(hi), col("quantile") === col("q2"))
      .select(col("quantile"),
        round(col("v1").cast("double") +
          (col("v2") - col("v1")).cast("double") * col("frac"), 6).as("value"))
      .orderBy(col("quantile"))
  }

  /** Per-group `interpolatedPercentiles`: same type-7 definition with the
    * cumulative count partitioned by `groupCols` over the mergeable
    * `percentileState` frame — windows run over O(distinct per group)
    * rows, the rank list broadcasts, and the single double multiply-add
    * per (group, quantile) rounds 6dp.
    */
  def interpolatedPercentilesBy(df: DataFrame, groupCols: Seq[String],
                                value: Column,
                                quantiles: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = groupCols.map(col)
    val byGroup = Window.partitionBy(g: _*)
    // NULL VALUES excluded from the quantile space (quantile_cont
    // semantics); NULL GROUP KEYS are a group like any other — the
    // stitching joins below use null-safe equality so that stratum
    // survives, matching grouped quantile_cont / GROUP BY. Same
    // LRU-evicting MEMORY_ONLY cache rationale as the global variant.
    val cum = percentileState(df.where(value.isNotNull), groupCols, value)
      .withColumn("hi", sum(col("c")).over(byGroup.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(byGroup))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val qdf = broadcast(quantiles.toDF("quantile"))
    val ranks = cum.select(g :+ col("n"): _*).distinct().crossJoin(qdf)
      .select(g ++ Seq(col("quantile"),
        (floor(col("quantile") * (col("n") - 1)) + 1L).as("r1"),
        least(floor(col("quantile") * (col("n") - 1)) + 2L, col("n")).as("r2"),
        (col("quantile") * (col("n") - 1) -
          floor(col("quantile") * (col("n") - 1))).as("frac")): _*)
    val gJoin = groupCols.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _)
    val lo = cum.as("l").join(ranks.as("r"),
        gJoin && col("l.hi") >= col("r.r1") &&
          (col("l.hi") - col("l.c")) < col("r.r1"))
      .select(groupCols.map(c => col(s"l.$c")) ++
        Seq(col("r.quantile"), col("r.frac"), col("l.v").as("v1"),
          col("r.r2")): _*)
    val hi2 = cum.as("l").join(ranks.as("r"),
        gJoin && col("l.hi") >= col("r.r2") &&
          (col("l.hi") - col("l.c")) < col("r.r2"))
      .select(groupCols.map(c => col(s"l.$c").as(s"_g_$c")) ++
        Seq(col("r.quantile").as("_q2"), col("l.v").as("v2")): _*)
    val backJoin = groupCols.map(c => col(c) <=> col(s"_g_$c"))
      .reduce(_ && _) && col("quantile") === col("_q2")
    lo.join(hi2, backJoin)
      .select(g ++ Seq(col("quantile"),
        round(col("v1").cast("double") +
          (col("v2") - col("v1")).cast("double") * col("frac"), 6)
          .as("value")): _*)
      .orderBy(g :+ col("quantile"): _*)
  }

  /** Per-group WEIGHTED percentiles, exact: the smallest value whose
    * cumulative weight reaches p·W (weighted nearest-rank, lower) — the
    * estimator behind "median price weighted by units sold" readouts
    * where each row counts `weight` times. Entirely integer: quantiles
    * arrive in basis points and the threshold is `ceil(p_bp·W / 10⁴)` =
    * `(p_bp·W + 9999) div 10⁴`, so engines agree bit-for-bit (caller
    * contract: p_bp·W must fit a long — W < 9.2e14 at p_bp ≤ 10⁴).
    *
    * Shape: weights collapse to O(distinct (group, value)) state first
    * (`sum` per pair — the `percentileState` discipline), the cumulative
    * sum runs over that state, and the crossing row — the UNIQUE row with
    * `cum ≥ thr && cum − wc < thr` — is a filter, not a per-group min:
    * one groupBy + one group-keyed window, quantile list broadcast,
    * never a sort of raw rows. Zero weights can never be the crossing
    * row (`cum − wc = cum`); negative weights raise.
    */
  def weightedPercentilesBy(df: DataFrame, groupCols: Seq[String],
                            value: Column, weight: Column,
                            pBps: Seq[Long]): DataFrame = {
    require(pBps.nonEmpty && pBps.forall(p => p >= 1 && p <= 10000),
      s"quantile basis points must be in [1, 10000], got $pBps")
    val spark = df.sparkSession
    import spark.implicits._
    val g = groupCols.map(col)
    val w = when(weight < 0,
      raise_error(lit("weightedPercentilesBy: negative weight")))
      .otherwise(weight)
    val byGroup = Window.partitionBy(g: _*)
    val state = df.groupBy(g :+ value.as("v"): _*)
      .agg(sum(w).as("wc"))
      .withColumn("cum", sum(col("wc")).over(byGroup.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("W", sum(col("wc")).over(byGroup))
    state.crossJoin(broadcast(pBps.toDF("p_bp")))
      // integer `div`, not `/`: Column./ on longs is DOUBLE division,
      // which loses exactness past 2^53
      .withColumn("thr", expr("(p_bp * W + 9999) div 10000"))
      .filter(col("cum") >= col("thr") && col("cum") - col("wc") < col("thr"))
      .select(g ++ Seq(col("p_bp"), col("v").as("value")): _*)
      .orderBy(g :+ col("p_bp"): _*)
  }

  /** Per-group nearest-rank percentiles: `nearestRankPercentiles` with the
    * cumulative count partitioned by `groupCols` and each group's own row
    * count from a partition-wide window — still one groupBy shuffle onto
    * distinct (group, value) pairs plus a broadcast of the quantile list.
    */
  def nearestRankPercentilesBy(df: DataFrame, groupCols: Seq[String],
                               value: Column,
                               quantiles: Seq[Double]): DataFrame =
    nearestRankPercentilesFromCounts(
      percentileState(df, groupCols, value), groupCols, quantiles)

  /** The mergeable frequency state behind `nearestRankPercentilesBy`:
    * exact per-(group, value) counts. Partials built from independent
    * ingest batches merge by summing counts (`mergePercentileState`) into
    * a state identical to one built from the union — the incremental-view
    * pattern (same as `IncrAgg`): the state is O(distinct values per
    * group), and an exact-percentile refresh reads the state, never the
    * raw history.
    */
  def percentileState(df: DataFrame, groupCols: Seq[String],
                      value: Column): DataFrame = {
    val g = groupCols.map(col)
    df.select(g :+ value.as("v"): _*)
      .groupBy(g :+ col("v"): _*).agg(count(lit(1)).as("c"))
  }

  /** Merge unioned `percentileState` partials: one keyed sum. */
  def mergePercentileState(partials: DataFrame,
                           groupCols: Seq[String]): DataFrame =
    partials.groupBy(groupCols.map(col) :+ col("v"): _*)
      .agg(sum(col("c")).as("c"))

  /** Exact nearest-rank percentiles from a `(groups…, v, c)` frequency
    * state — the read side of the incremental pair above. Same scale-safe
    * two-level cumulative shape as ever: windows partition by group over
    * the O(distinct-values) state, never the data.
    */
  def nearestRankPercentilesFromCounts(freq: DataFrame,
                                       groupCols: Seq[String],
                                       quantiles: Seq[Double]): DataFrame = {
    val spark = freq.sparkSession
    val g = groupCols.map(col)
    val byGroup = Window.partitionBy(g: _*)
    val cum = freq
      .withColumn("hi", sum(col("c")).over(byGroup.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(byGroup))
    import spark.implicits._
    val qs = quantiles.toDF("quantile")
    cum.join(broadcast(qs), lit(true))
      .withColumn("rk", floor(col("quantile") * (col("n") - 1)) + 1)
      .filter(col("hi") >= col("rk") && (col("hi") - col("c")) < col("rk"))
      .select(g ++ Seq(col("quantile"), col("v").as("value")): _*)
      .orderBy(g :+ col("quantile"): _*)
  }

  /** AS-OF join — for each left row, the single most recent right row with
    * `rightTs <= leftTs` on the same key (the time-series enrichment join
    * Spark has no native operator for).
    *
    * Implemented with the UNION + running-last-value technique rather than a
    * range join: tag both sides, sort within key by (ts, side, tiebreak),
    * carry right-side values forward with `last(..., ignoreNulls)` over an
    * unbounded-preceding frame, keep left rows. ONE shuffle on the key and
    * O(n) total work — a theta join `l.ts >= r.ts` would explode to
    * O(|l|·|r|) pairs per key before picking the max. Right rows sort before
    * left rows at equal ts, so an exactly-simultaneous right row IS matched.
    *
    * Output: all left columns plus `rightVals` (null when no right row
    * precedes the left row).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, rightVals: Seq[String],
               rightTie: Seq[String] = Nil): DataFrame =
    asofJoinImpl(left, right, keys, leftTs, rightTs, rightVals, rightTie,
      forward = false)

  /** FORWARD as-of: each left row enriched with the EARLIEST right row at
    * or after its timestamp (pandas `merge_asof(direction='forward')`) —
    * the "time to next event" primitive (next purchase after a click,
    * next deploy after an alert). Same single-keyed-shuffle union +
    * running-carry construction as the backward `asofJoin`, with the scan
    * order reversed; ties on (key, ts) pick the SMALLEST tie value
    * (backward picks the greatest — each direction picks the row nearest
    * the boundary from its own side).
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String,
                      rightVals: Seq[String],
                      rightTie: Seq[String] = Nil): DataFrame =
    asofJoinImpl(left, right, keys, leftTs, rightTs, rightVals, rightTie,
      forward = true)

  private def asofJoinImpl(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightVals: Seq[String],
      rightTie: Seq[String], forward: Boolean): DataFrame = {
    val keyCols = keys.map(col)
    val leftCols = left.columns.filterNot(c => keys.contains(c) || c == leftTs).toSeq
    val rightCarry = (rightVals ++ rightTie.filterNot(rightVals.contains)).distinct
    val reserved = Seq("_ts", "_side")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"inputs must not already have ${reserved.mkString("/")} columns")
    require(leftCols.intersect(rightCarry).isEmpty,
      s"left columns ${leftCols.intersect(rightCarry).mkString(", ")} collide " +
        "with right value/tie columns — rename one side first")
    val l = left.select(
      keyCols ++ Seq(col(leftTs).as("_ts"), lit(1).as("_side")) ++
        leftCols.map(col) ++
        rightCarry.map(v => lit(null).cast(right.schema(v).dataType).as(v)): _*)
    val r = right.select(
      keyCols ++ Seq(col(rightTs).as("_ts"), lit(0).as("_side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCarry.map(col): _*)
    // rightTie makes the pick deterministic when several right rows share
    // (key, ts): the row sorted LAST before the left row wins the running
    // carry — greatest tie backward, smallest tie forward (tie order
    // reversed with the scan). NULL ties sort first so they always lose
    // to a concrete tie value.
    val ord =
      if (forward)
        col("_ts").desc +: col("_side").asc +:
          rightTie.map(col(_).desc_nulls_first)
      else
        col("_ts").asc +: col("_side").asc +:
          rightTie.map(col(_).asc_nulls_first)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightVals.foldLeft(l.unionByName(r)) { (df, v) =>
      df.withColumn(v, last(col(v), ignoreNulls = true).over(w))
    }
    carried.filter(col("_side") === 1)
      .select(keyCols ++ Seq(col("_ts").as(leftTs)) ++
        leftCols.map(col) ++ rightVals.map(col): _*)
  }

  /** NEAREST as-of (pandas `merge_asof(direction='nearest')` shape): each
    * left row enriched with whichever same-key right row is closest in
    * time, looking BOTH ways; exact ties — including a simultaneous right
    * row, gap 0 — go to the backward side. Emits `asof_dir`
    * ('backward'/'forward'/null) and `asof_gap` (whole seconds, from
    * second-truncated epochs — both engines truncate identically) next to
    * the chosen values, so every pick is auditable: each direction
    * carries ONE struct of (_rts, values…), so the returned values —
    * including a genuine NULL in a right value column — and the gap
    * always describe the SAME nearest right row, exactly pandas
    * `merge_asof(direction='nearest')`. (Per-column ignoreNulls carries
    * would instead skip a NULL value back to a farther row while the gap
    * still described the nearest one.)
    *
    * Scale shape: ONE keyed shuffle serves both directions — the same
    * tagged-union frame as `asofJoin`, with a backward running-carry
    * frame (unbounded preceding → current) and a forward one (next row →
    * unbounded following) over the SAME sort order. Within equal (key,
    * ts): backward's `last` picks the greatest tie, forward's `first`
    * picks the smallest — each direction takes the row nearest the
    * boundary from its own side, exactly like the one-directional joins.
    *
    * `toleranceSec` (pandas `merge_asof(tolerance=...)`): when set, a
    * right row farther than the bound — per direction, before the
    * nearest pick — is no candidate; a left row with no in-bound
    * candidate gets NULL values/dir/gap, same as no match at all.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String,
                      rightVals: Seq[String],
                      rightTie: Seq[String] = Nil,
                      toleranceSec: Option[Long] = None): DataFrame = {
    require(toleranceSec.forall(_ >= 0),
      s"toleranceSec must be >= 0, got ${toleranceSec.get} " +
        "(a negative bound silently matches nothing)")
    val keyCols = keys.map(col)
    val leftCols = left.columns.filterNot(c => keys.contains(c) || c == leftTs).toSeq
    val rightCarry = (rightVals ++ rightTie.filterNot(rightVals.contains)).distinct
    val reserved = Seq("_ts", "_side", "_rts", "_b", "_f")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"inputs must not already have ${reserved.mkString("/")} columns")
    require(leftCols.intersect(rightCarry).isEmpty,
      s"left columns ${leftCols.intersect(rightCarry).mkString(", ")} collide " +
        "with right value/tie columns — rename one side first")
    // gap arithmetic in whole-second epochs for timestamp columns, raw
    // values for numeric time axes — both deterministic on both engines
    def epochOf(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case org.apache.spark.sql.types.TimestampType => unix_timestamp(c)
        case _ => c.cast("long")
      }
    val l = left.select(
      keyCols ++ Seq(col(leftTs).as("_ts"), lit(1).as("_side")) ++
        leftCols.map(col) ++
        rightCarry.map(v => lit(null).cast(right.schema(v).dataType).as(v)) :+
        lit(null).cast("long").as("_rts"): _*)
    val r = right.select(
      keyCols ++ Seq(col(rightTs).as("_ts"), lit(0).as("_side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCarry.map(col) :+
        epochOf(col(rightTs), right.schema(rightTs).dataType).as("_rts"): _*)
    val ord = col("_ts").asc +: col("_side").asc +:
      rightTie.map(col(_).asc_nulls_first)
    val wb = Window.partitionBy(keyCols: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keyCols: _*).orderBy(ord: _*)
      .rowsBetween(1, Window.unboundedFollowing)
    // ONE struct per direction: (_rts, values…) ride together, so a pick
    // is atomic — NULL right values are returned as-is from the nearest
    // row, never skipped to a farther one. Right rows without a usable
    // timestamp (NULL _rts) are never candidates, matching the previous
    // per-column carry.
    val pick = when(col("_side") === 0 && col("_rts").isNotNull,
      struct(col("_rts") +: rightVals.map(col): _*))
    val withBoth = l.unionByName(r)
      .withColumn("_b", last(pick, ignoreNulls = true).over(wb))
      .withColumn("_f", first(pick, ignoreNulls = true).over(wf))
    val bRts = col("_b").getField("_rts")
    val fRts = col("_f").getField("_rts")
    val lts = epochOf(col("_ts"), left.schema(leftTs).dataType)
    val bGap = lts - bRts
    val fGap = fRts - lts
    // pandas merge_asof `tolerance`: a candidate farther than the bound is
    // no candidate at all — evaluated per DIRECTION before the nearest
    // pick, so a within-bound forward row wins over a closer-side
    // out-of-bound backward row. (isNotNull first: false && null = false,
    // so a missing direction is cleanly "not ok", never three-valued.)
    def inTol(g: Column): Column =
      toleranceSec.map(t => g <= lit(t)).getOrElse(lit(true))
    val bOk = col("_b").isNotNull && inTol(bGap)
    val fOk = col("_f").isNotNull && inTol(fGap)
    val noMatch = !bOk && !fOk
    val useBack = !fOk || (bOk && bGap <= fGap)
    withBoth.filter(col("_side") === 1)
      .select(keyCols ++ Seq(col("_ts").as(leftTs)) ++ leftCols.map(col) ++
        rightVals.map(v =>
          when(noMatch, lit(null).cast(right.schema(v).dataType))
            .when(useBack, col("_b").getField(v))
            .otherwise(col("_f").getField(v)).as(v)) ++
        Seq(
          when(noMatch, lit(null).cast("string"))
            .when(useBack, lit("backward")).otherwise(lit("forward"))
            .as("asof_dir"),
          when(noMatch, lit(null).cast("long"))
            .when(useBack, bGap).otherwise(fGap).cast("long")
            .as("asof_gap")): _*)
  }

  /** Skew-resistant equi-join: salt the (skewed) left side into `salts`
    * sub-keys and replicate the right side across all salts, so one hot key
    * spreads over `salts` reducers instead of melting one. The salt is a
    * deterministic content hash, never `rand()` — task retries must land
    * rows on the same salt or results change under failure.
    *
    * Result is EXACTLY the plain inner equi-join (the right side is
    * replicated to every salt, so no pair is lost or duplicated) — use when
    * AQE's runtime skew splitting isn't available (e.g. the skewed join
    * feeds a co-partitioned downstream op) or key skew is known up front.
    */
  def saltedEquiJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
                     salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    require(!skewed.columns.contains("_salt") && !other.columns.contains("_salt"),
      "inputs must not already have a _salt column")
    val left = skewed.withColumn("_salt",
      pmod(xxhash64(skewed.columns.map(col).toIndexedSeq: _*), lit(salts)))
    val right = other.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    left.join(right, keys :+ "_salt").drop("_salt")
  }

  /** Point-in-interval range join where BOTH sides are data-sized — the case
    * `rangeBucketJoin`'s broadcast-BNLJ cannot serve (a nested-loop against a
    * big interval table is O(|points|·|intervals|) and melts at scale).
    *
    * Plan shape: each interval `[lo, hi)` is exploded to the fixed-width bins
    * it overlaps, each point maps to the ONE bin containing it, and the join
    * becomes a plain equi-join on the bin id plus a residual `lo <= p < hi`
    * filter — a shuffle keyed on bins, never a cartesian. Each matching
    * (point, interval) pair is emitted exactly once: the point lives in
    * exactly one bin, and an interval contributes each of its bins once.
    * This is the standard binned interval-join decomposition used by
    * genomics/temporal engines; cost is |intervals| · (len/binWidth + 1)
    * explode replication, so pick `binWidth` near the typical interval
    * length (replication ≈ 2×).
    *
    * Inputs are integer-typed (fixed-point cents-style) so bin math and the
    * residual comparison are exact — no float rounding can disagree with an
    * oracle engine. `floorDiv` via non-negative `pmod` keeps negative
    * coordinates on the correct bin (Long `/` truncates toward zero).
    */
  def binnedRangeJoin(points: DataFrame, intervals: DataFrame,
                      point: Column, lo: Column, hi: Column,
                      binWidth: Long): DataFrame = {
    require(binWidth >= 1, "binWidth must be >= 1")
    require(!points.columns.contains("_bin") && !intervals.columns.contains("_bin"),
      "inputs must not already have a _bin column")
    def floorDiv(c: Column): Column =
      ((c - pmod(c, lit(binWidth))) / lit(binWidth)).cast("long")
    val p = points.withColumn("_bin", floorDiv(point.cast("long")))
    // half-open [lo, hi): the last overlapped bin is the one holding hi-1
    val iv = intervals.withColumn("_bin",
      explode(sequence(floorDiv(lo.cast("long")), floorDiv(hi.cast("long") - 1))))
    p.join(iv, "_bin").filter(point >= lo && point < hi).drop("_bin")
  }

  /** Interval-overlap join — the two-sided sibling of `binnedRangeJoin`:
    * emit every (a, b) pair whose half-open intervals `[aLo, aHi)` and
    * `[bLo, bHi)` overlap, with BOTH sides data-sized. Same decomposition
    * (explode each interval to its bins, equi-join on the bin id, residual
    * `aLo < bHi AND bLo < aHi`), plus the classic canonical-bin dedup: a
    * pair of overlapping intervals co-occurs in every bin their overlap
    * spans, so keep only the FIRST such bin — the one holding
    * `max(aLo, bLo)`, which both explode ranges are guaranteed to cover.
    * No `distinct` shuffle needed; each qualifying pair survives exactly
    * once by construction.
    *
    * Inputs must have disjoint column names (the join would otherwise
    * produce ambiguous refs); coordinates integer-typed as in
    * `binnedRangeJoin`.
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
                          aLo: Column, aHi: Column, bLo: Column, bHi: Column,
                          binWidth: Long): DataFrame = {
    require(binWidth >= 1, "binWidth must be >= 1")
    require(!a.columns.contains("_bin") && !b.columns.contains("_bin"),
      "inputs must not already have a _bin column")
    require(a.columns.intersect(b.columns).isEmpty,
      s"ambiguous columns ${a.columns.intersect(b.columns).mkString(", ")} — " +
        "rename one side first")
    def floorDiv(c: Column): Column =
      ((c - pmod(c, lit(binWidth))) / lit(binWidth)).cast("long")
    def toBins(df: DataFrame, lo: Column, hi: Column): DataFrame =
      df.withColumn("_bin",
        explode(sequence(floorDiv(lo.cast("long")), floorDiv(hi.cast("long") - 1))))
    toBins(a, aLo, aHi).join(toBins(b, bLo, bHi), "_bin")
      .filter(aLo < bHi && bLo < aHi)
      .filter(col("_bin") === floorDiv(greatest(aLo.cast("long"), bLo.cast("long"))))
      .drop("_bin")
  }

  /** Semi-join reduction via an explicit Bloom filter — the classic
    * distributed-join optimization (Bloom 1970; "bloomjoin", Mackert &
    * Lohman SIGMOD'86): build a small bit array over the dim side's join
    * keys, then drop fact rows that cannot match BEFORE the join's
    * shuffle. At 100 TB the exchange is the bottleneck; a selective dim
    * side means most fact rows shuffle only to be discarded by the join —
    * this filter discards them map-side, next to the scan, for the cost of
    * `hashes` codegen'd hash calls per row. False positives survive the
    * filter and die in the join, so the RESULT is exactly the inner join
    * (the oracle runs the plain join — the hash match proves losslessness).
    *
    * Spark's own runtime bloom (`InjectRuntimeFilter`) only fires under
    * cost heuristics and creates a plan-internal subquery; this explicit
    * version is deterministic, works for any dim-side DataFrame, and the
    * materialized bits could be persisted and reused across queries on a
    * slowly-changing dim.
    *
    * Mechanics: `hashes` positions per key via seeded `xxhash64`, OR-folded
    * into `bits/64` longs by a `bit_or` aggregate (shuffle = at most
    * `bits/64` rows), collected (driver transfer = `bits/8` bytes — 8 KiB
    * at the default; this is a config-bounded collect like the centroid
    * broadcasts, never data-sized) and re-emitted as one array literal, so
    * the probe — `element_at` + shift + mask per hash — is pure
    * whole-stage-codegen arithmetic against a constant: no UDF, no
    * broadcast variable, no driver round trip at probe time.
    *
    * Sizing: fpp ≈ (1 − e^(−hashes·n/bits))^hashes — at the defaults
    * (64 Ki bits, 3 hashes) a 1 500-key dim side gives ~3e-4; size `bits`
    * ≈ 10× expected distinct keys for ~1% at 3 hashes. An UNDERSIZED
    * filter is still correct — it just prunes less.
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, key: String,
                      bits: Int = 1 << 16, hashes: Int = 3): DataFrame =
    fact.filter(bloomMightContain(dim, key, bits, hashes)).join(dim, key)

  /** The probe predicate of `bloomPrunedJoin`, exposed on its own: TRUE
    * when `key` might be in `dim`'s key set, FALSE only when it provably
    * is not. Building it runs the dim-side aggregate + bounded collect
    * immediately; the returned Column is pure constant-probe arithmetic.
    * Usable directly to pre-prune a scan whose join runs in a LATER query
    * (persist the pruned frame, reuse the filter across queries).
    */
  def bloomMightContain(dim: DataFrame, key: String,
                        bits: Int = 1 << 16, hashes: Int = 3): Column = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64, got $bits")
    require(hashes >= 1 && hashes <= 8, s"hashes must be in [1,8], got $hashes")
    val words = bits / 64
    def pos(k: Column, seed: Int): Column = pmod(xxhash64(lit(seed), k), lit(bits))
    val setBits = dim.select(
        explode(array((0 until hashes).map(s => pos(col(key), s)): _*)).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          pmod(col("p"), lit(64)).cast("int")).as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("word"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bloom = Array.tabulate(words)(w => setBits.getOrElse(w, 0L))
    val bloomLit = array(bloom.map(lit(_)): _*)
    (0 until hashes).map { s =>
      val p = pos(col(key), s)
      (element_at(bloomLit, (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(64)).cast("int"))) =!= 0L)
    }.reduce(_ && _)
  }

  /** Histogram-sketch join-cardinality estimate — the pre-flight a 100 TB
    * planner runs BEFORE committing to a join strategy. Each side is
    * counted into `buckets` engine-portable md5 hash buckets in ONE
    * map-side partial-count pass (shuffle O(buckets), never O(keys));
    * the bucket-wise product sum Σ c_L(b)·c_R(b) is a provable UPPER
    * bound on the true join size |L ⋈ R| (collapsing keys inside a
    * bucket only adds cross terms), tightening to the exact size as
    * buckets → distinct keys. The max bucket product exposes
    * hash-partition skew: its share of the estimate is the fraction of
    * join work the hottest reducer would carry under a plain shuffle.
    *
    * Emits ONE row: side row counts, the estimate, the TRUE join size
    * (the verification twin — per-key counts joined; production callers
    * at scale would skip it and pay only the O(buckets) passes), the
    * estimate's overshoot in basis points, the skew share in basis
    * points, and the strategy the numbers imply: `broadcast` when a side
    * fits the row budget, `salted_shuffle` (→ `saltedEquiJoin`) when one
    * bucket would carry ≥ `skewShareBpLimit` of the join, else plain
    * `shuffle`. All arithmetic is exact integers — counts widen to
    * Decimal(38,0) before multiplying, ratios use integral `div` — so an
    * external engine replays every output bit-for-bit; no float anywhere.
    */
  def joinCardinalityEstimate(left: DataFrame, leftKey: Column,
                              right: DataFrame, rightKey: Column,
                              buckets: Int = 65536,
                              broadcastRowLimit: Long = 10000L,
                              skewShareBpLimit: Long = 2000L): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(broadcastRowLimit >= 0 && skewShareBpLimit >= 0,
      "broadcastRowLimit and skewShareBpLimit must be >= 0")
    val dec = "decimal(38,0)"
    def bucket(k: Column): Column =
      pmod(conv(substring(md5(k.cast("string").cast("binary")), 1, 7), 16, 10)
        .cast("long"), lit(buckets.toLong))
    def hist(df: DataFrame, k: Column, cnt: String): DataFrame =
      df.select(bucket(k).as("b")).groupBy(col("b"))
        .agg(count(lit(1)).as(cnt))
    val prod = coalesce(col("ca"), lit(0L)).cast(dec) *
      coalesce(col("cb"), lit(0L)).cast(dec)
    val summary = hist(left, leftKey, "ca")
      .join(hist(right, rightKey, "cb"), Seq("b"), "full_outer")
      .agg(sum(coalesce(col("ca"), lit(0L))).as("lr"),
        sum(coalesce(col("cb"), lit(0L))).as("rr"),
        coalesce(sum(prod), lit(0L).cast(dec)).as("est"),
        coalesce(max(prod), lit(0L).cast(dec)).as("mx"))
    // verification twin: the true size from per-key counts (exact even
    // under bucket collisions; the only part that shuffles O(keys))
    val exact = left.select(leftKey.as("k")).groupBy(col("k"))
      .agg(count(lit(1)).as("xa"))
      .join(right.select(rightKey.as("k")).groupBy(col("k"))
        .agg(count(lit(1)).as("xb")), Seq("k"))
      .agg(coalesce(sum(col("xa").cast(dec) * col("xb").cast(dec)),
        lit(0L).cast(dec)).as("ex"))
    val skewBp = expr("mx * 10000 div est") // integral div: BIGINT, exact
    summary.crossJoin(exact).select(
      col("lr").cast("long").as("left_rows"),
      col("rr").cast("long").as("right_rows"),
      lit(buckets.toLong).as("n_buckets"),
      col("est").cast("long").as("est_pairs"),
      col("ex").cast("long").as("exact_pairs"),
      when(col("ex") === 0, lit(null).cast("long"))
        .otherwise(expr("(est - ex) * 10000 div ex")).as("err_bp"),
      when(col("est") === 0, lit(null).cast("long"))
        .otherwise(skewBp).as("skew_share_bp"),
      when(col("lr") <= broadcastRowLimit || col("rr") <= broadcastRowLimit,
          "broadcast")
        .when(col("est") > 0 && skewBp >= skewShareBpLimit, "salted_shuffle")
        .otherwise("shuffle").as("strategy"))
  }

  /** Inner equi-join whose physical strategy is CHOSEN BY the
    * `joinCardinalityEstimate` histogram verdict — the wiring that turns
    * the pre-flight estimator from a report into a planner. Semantics are
    * EXACTLY `left.join(right, keys)` under every routing (broadcast and
    * salting are strategy-only rewrites); only the plan shape changes:
    *
    *  - `broadcast`  — a side's row count is ≤ `broadcastRowLimit` → that
    *    side gets an explicit `broadcast()` hint (the smaller one when
    *    both qualify). Catalyst's own size-based threshold is a byte
    *    estimate that post-filter cardinality routinely fools in both
    *    directions; a measured row count doesn't.
    *  - `salted_shuffle` — the hottest hash bucket would carry ≥
    *    `skewShareBpLimit` bp of the join work → `saltedEquiJoin`, salting
    *    whichever side owns the larger max-bucket share (salting the
    *    non-skewed side would just replicate the hot key's partner rows
    *    without spreading the hot rows themselves).
    *  - `shuffle` — neither trigger → plain join (SMJ/AQE as Catalyst
    *    prefers).
    *
    * The decision pass is ONE map-side partial-count histogram per side
    * (shuffle O(buckets), driver receives ONE summary row — the bounded
    * pre-flight collect pattern, never data-sized) — cheap relative to
    * any join big enough to need routing. At 100 TB the same call works
    * unchanged; callers who can't afford a full scan per side feed
    * `left.sample(...)` through `joinCardinalityEstimate` instead and
    * route by hand. The exact-twin verification column of the estimator
    * is deliberately NOT computed here — that per-key O(keys) shuffle is
    * the part a production pre-flight skips.
    *
    * Output column order matches `left.join(right, keys)` exactly under
    * every routing (the flipped salted case re-selects into plain-join
    * order), so downstream code and the oracle cannot tell routings
    * apart. `autoJoinWithStrategy` additionally returns the routing
    * taken, which the plan contracts pin per planted input.
    */
  def autoJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               buckets: Int = 65536,
               broadcastRowLimit: Long = 10000L,
               skewShareBpLimit: Long = 2000L,
               salts: Int = 8): DataFrame =
    autoJoinWithStrategy(left, right, keys, buckets, broadcastRowLimit,
      skewShareBpLimit, salts)._1

  /** The md5-histogram summary both auto-strategy entry points route on:
    * per-side row counts, the Σ c_L(b)·c_R(b) output upper bound, the
    * hottest bucket's product, and each side's max bucket count — ONE
    * O(buckets) pass per side, ONE summary row collected.
    */
  private final case class HistStats(lr: Long, rr: Long, est: BigInt,
                                     mx: BigInt, mba: Long, mbb: Long)

  private def histStats(left: DataFrame, right: DataFrame,
                        keys: Seq[String], buckets: Int): HistStats = {
    // every auto-strategy entry point routes through here, so the check
    // covers autoJoinWithStrategy and autoJoin3WithOrder alike
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def keyCol(df: DataFrame): Column =
      if (keys.size == 1) df(keys.head)
      else struct(keys.map(df(_)): _*)
    val dec = "decimal(38,0)"
    def bucket(k: Column): Column =
      pmod(conv(substring(md5(k.cast("string").cast("binary")), 1, 7), 16, 10)
        .cast("long"), lit(buckets.toLong))
    def hist(df: DataFrame, cnt: String): DataFrame =
      df.select(bucket(keyCol(df)).as("b")).groupBy(col("b"))
        .agg(count(lit(1)).as(cnt))
    val prod = coalesce(col("ca"), lit(0L)).cast(dec) *
      coalesce(col("cb"), lit(0L)).cast(dec)
    val row = hist(left, "ca")
      .join(hist(right, "cb"), Seq("b"), "full_outer")
      .agg(sum(coalesce(col("ca"), lit(0L))).as("lr"),
        sum(coalesce(col("cb"), lit(0L))).as("rr"),
        coalesce(sum(prod), lit(0L).cast(dec)).as("est"),
        coalesce(max(prod), lit(0L).cast(dec)).as("mx"),
        max(coalesce(col("ca"), lit(0L))).as("mba"),
        max(coalesce(col("cb"), lit(0L))).as("mbb"))
      .select(col("lr").cast("long"), col("rr").cast("long"),
        col("est").cast(dec), col("mx").cast(dec),
        col("mba").cast("long"), col("mbb").cast("long"))
      .collect()(0)
    HistStats(row.getLong(0), row.getLong(1),
      BigInt(row.getDecimal(2).toBigInteger),
      BigInt(row.getDecimal(3).toBigInteger),
      row.getLong(4), row.getLong(5))
  }

  def autoJoinWithStrategy(left: DataFrame, right: DataFrame,
                           keys: Seq[String],
                           buckets: Int = 65536,
                           broadcastRowLimit: Long = 10000L,
                           skewShareBpLimit: Long = 2000L,
                           salts: Int = 8): (DataFrame, String) =
    routeWithStats(left, right, keys,
      histStats(left, right, keys, buckets),
      broadcastRowLimit, skewShareBpLimit, salts)

  /** Routing decision against ALREADY-measured histogram stats — split
    * out (r16) so `autoJoin3WithOrder` reuses the stats its order
    * decision just collected instead of re-running the chosen pair's
    * two-sided histogram pass (3 estimation collects → 2; guide §2.4,
    * don't compute things twice).
    */
  private def routeWithStats(left: DataFrame, right: DataFrame,
                             keys: Seq[String], hs: HistStats,
                             broadcastRowLimit: Long,
                             skewShareBpLimit: Long,
                             salts: Int): (DataFrame, String) = {
    require(keys.nonEmpty, "autoJoin needs at least one key")
    require(salts >= 1, "salts must be >= 1")
    require((left.columns.toSet -- keys).intersect(
        right.columns.toSet -- keys).isEmpty,
      "autoJoin needs disjoint non-key column names (the salted routing " +
        "re-selects by name to restore plain-join column order)")
    val HistStats(lr, rr, est, mx, mba, mbb) = hs
    if (lr <= broadcastRowLimit || rr <= broadcastRowLimit) {
      val joined =
        if (rr <= lr) left.join(broadcast(right), keys)
        else broadcast(left).join(right, keys)
      (joined, "broadcast")
    } else if (est > 0 && mx * 10000 / est >= skewShareBpLimit) {
      // salt the side whose hottest bucket is proportionally hotter
      // (exact cross-multiplication — shares mba/lr vs mbb/rr)
      val leftHotter = BigInt(mba) * rr >= BigInt(mbb) * lr
      val joined =
        if (leftHotter) saltedEquiJoin(left, right, keys, salts)
        else saltedEquiJoin(right, left, keys, salts)
          .select(keys.map(col) ++
            left.columns.filterNot(keys.contains).map(col) ++
            right.columns.filterNot(keys.contains).map(col): _*)
      (joined, "salted_shuffle")
    } else (left.join(right, keys), "shuffle")
  }

  /** 3-table chain join `a ⋈ b ⋈ c` whose JOIN ORDER is chosen by the
    * same md5-histogram pass that routes `autoJoin` — the second planner
    * decision (after per-join strategy) a 100 TB query cannot leave to
    * syntax: inner joins commute, and materializing the smaller
    * intermediate first can cut the big shuffle by orders of magnitude.
    * Catalyst only reorders joins under CBO with collected stats; this
    * measures instead.
    *
    * Decision rule: estimate |a⋈b| and |b⋈c| from base-table histograms
    * (Σ c_L(b)·c_R(b) — a provable upper bound, never an undercount),
    * join the smaller-estimate pair first, routed by
    * `autoJoinWithStrategy` (broadcast / salted / shuffle on the measured
    * histograms); the OUTER join is left to plain Catalyst + AQE, which
    * at that point has exact runtime statistics for the materialized
    * intermediate — static histograms where only base tables exist,
    * adaptive planning where an intermediate does. Ties prefer ab-first
    * (deterministic).
    *
    * Result is column-for-column `a.join(b, keysAB).join(c, keysBC)`
    * under both orders (re-selected into plain chain order), so the
    * ordering is invisible to values — which is exactly what the oracle
    * pins. `WithOrder` additionally returns `"bc_first:<strategy>"` /
    * `"ab_first:<strategy>"` for the plan contracts.
    */
  def autoJoin3(a: DataFrame, b: DataFrame, c: DataFrame,
                keysAB: Seq[String], keysBC: Seq[String],
                buckets: Int = 65536,
                broadcastRowLimit: Long = 10000L,
                skewShareBpLimit: Long = 2000L,
                salts: Int = 8): DataFrame =
    autoJoin3WithOrder(a, b, c, keysAB, keysBC, buckets, broadcastRowLimit,
      skewShareBpLimit, salts)._1

  def autoJoin3WithOrder(a: DataFrame, b: DataFrame, c: DataFrame,
                         keysAB: Seq[String], keysBC: Seq[String],
                         buckets: Int = 65536,
                         broadcastRowLimit: Long = 10000L,
                         skewShareBpLimit: Long = 2000L,
                         salts: Int = 8): (DataFrame, String) = {
    require(keysAB.nonEmpty && keysBC.nonEmpty,
      "autoJoin3 needs keys for both join steps")
    require(keysBC.forall(b.columns.contains),
      "keysBC must be columns of b (chain shape a–b–c)")
    // the plain chain's column order, derived from schemas alone
    val plainCols = a.join(b, keysAB).join(c, keysBC).columns.toSeq
    // The order decision's two histogram passes are ALSO the routing
    // stats for whichever pair wins — reuse them instead of re-running
    // the chosen pair's two-sided pass inside autoJoinWithStrategy
    // (r16: 3 estimation collects → 2, same decisions from the same
    // numbers; guide §2.4).
    val statsAB = histStats(a, b, keysAB, buckets)
    val statsBC = histStats(b, c, keysBC, buckets)
    if (statsBC.est < statsAB.est) {
      val (bc, s1) = routeWithStats(b, c, keysBC, statsBC,
        broadcastRowLimit, skewShareBpLimit, salts)
      (a.join(bc, keysAB).select(plainCols.map(col): _*), s"bc_first:$s1")
    } else {
      val (ab, s1) = routeWithStats(a, b, keysAB, statsAB,
        broadcastRowLimit, skewShareBpLimit, salts)
      (ab.join(c, keysBC).select(plainCols.map(col): _*), s"ab_first:$s1")
    }
  }

  /** 2-D Pareto frontier (skyline): the rows not dominated in (`x`, `y`)
    * within their group, both dims MINIMIZED (negate a column to
    * maximize). Dominance is the standard skyline rule — `s` dominates
    * `r` iff `s.x <= r.x && s.y <= r.y` with at least one strict — so
    * exact (x, y) duplicates dominate neither and ALL stay on the
    * frontier (Börzsönyi et al., ICDE '01).
    *
    * The textbook formulation is a quadratic NOT EXISTS self-join (the
    * oracle's form). This is instead ONE window pass: under dominance
    * split by the x-comparison,
    *   - a dominator with `x' <  x` exists  iff  min(y | x' < x)  <= y
    *   - a dominator with `x' == x` exists  iff  min(y | x' == x) <  y
    * and both mins are frames of the SAME (group, ORDER BY x) window —
    * `RANGE (unbounded, -1]` and `RANGE [current, current]` (peers = the
    * x-ties) — so the whole skyline is one group-keyed shuffle + sort,
    * shuffle O(n), zero joins (the spec pins the join-free plan). Dims
    * must be integral (the RANGE -1 bound; exact-cents discipline) and
    * non-null (`raise_error` otherwise, never a silent drop).
    */
  def paretoFrontier2D(df: DataFrame, x: String, y: String,
                       groupCols: Seq[String] = Nil): DataFrame = {
    val grp = groupCols.map(col)
    val xc = when(col(x).isNull || col(y).isNull,
      raise_error(lit(s"paretoFrontier2D: null $x/$y"))).otherwise(col(x))
    val w = Window.partitionBy(grp: _*).orderBy(xc.asc)
    val minYprevX = min(col(y)).over(
      w.rangeBetween(Window.unboundedPreceding, -1))
    val minYsameX = min(col(y)).over(
      w.rangeBetween(Window.currentRow, Window.currentRow))
    df.withColumn("_mp", minYprevX).withColumn("_ms", minYsameX)
      .filter((col("_mp").isNull || col("_mp") > col(y)) &&
        col("_ms") >= col(y))
      .drop("_mp", "_ms")
  }
}
