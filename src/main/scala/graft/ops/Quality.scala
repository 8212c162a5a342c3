package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality constraint profiling — declarative "expectations" over
  * DataFrames (the deequ / dbt-test idea), evaluated without ever leaving
  * the engine.
  *
  * Reference analogue: the only validation the reference performs is a
  * row-count log line after each load (`etl/pipeline.py:281-284`). At
  * 100 TB, quality gates are what stand between a bad upstream drop and a
  * poisoned downstream corpus, and they must cost one pass, not one pass
  * per rule.
  *
  * Every helper returns the same shape — `(check, n_failed, n_rows)` — so
  * reports compose by union. Scale shapes: `rowChecks` evaluates ALL its
  * predicates in ONE aggregate scan (map-side partial sums — cost is one
  * table read no matter how many rules); `uniqueness` is one keyed
  * aggregate; `orphans` is one anti-join against the (distinct) parent
  * keys. None of them collect anything to the driver.
  */
object Quality {

  /** Per-row predicate checks, all in one scan. `checks` maps a check name
    * to its FAILURE predicate (true = row violates the rule).
    */
  def rowChecks(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "rowChecks needs at least one check")
    val names = checks.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate check names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    require(!names.contains("n_rows"),
      "'n_rows' is reserved for the row count column")
    val aggs = checks.map { case (n, bad) =>
      sum(when(bad, 1L).otherwise(0L)).as(n)
    }
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(explode(array(checks.map { case (n, _) =>
        struct(lit(n).as("check"), col(n).as("n_failed"), col("n_rows"))
      }: _*)).as("c"))
      .select(col("c.check"), col("c.n_failed"), col("c.n_rows"))
  }

  /** Key-uniqueness audit: `n_failed` = rows beyond the first per key.
    * NULL key components count toward duplicates conservatively only if a
    * whole key repeats; `count_distinct` here is over the key tuple.
    */
  def uniqueness(df: DataFrame, name: String, keys: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(keys.head, keys.tail: _*)).as("n_failed"))
      .select(lit(name).as("check"), col("n_failed"), col("n_rows"))

  /** Referential integrity: child rows whose key has no parent row. */
  def orphans(child: DataFrame, parent: DataFrame, name: String,
              childKeys: Seq[String], parentKeys: Seq[String]): DataFrame = {
    val par = parent.select(parentKeys.map(col): _*).distinct()
      .toDF(childKeys: _*)
    val bad = child.select(childKeys.map(col): _*)
      .join(par, childKeys, "left_anti")
      .agg(count(lit(1)).as("n_failed"))
    child.agg(count(lit(1)).as("n_rows"))
      .crossJoin(bad) // 1 row × 1 row
      .select(lit(name).as("check"), col("n_failed"), col("n_rows"))
  }

  /** Population-Stability-Index drift report between a reference and a
    * current batch over a deterministic integer bucketing of one feature —
    * the standard "did my ingest distribution move" monitor (each term is
    * `(p_cur − p_ref)·ln(p_cur/p_ref) ≥ 0`; their sum above ~0.2 is the
    * usual alarm line). Laplace-smoothed shares
    * `p = (n + 1) / (N + nBuckets)` keep empty buckets finite on both
    * sides. Cost: one keyed sum over both sides' raw rows down to
    * ≤ `nBuckets` rows, then one single-partition pass over those rows
    * that carries both totals — nothing data-sized shuffles.
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, bucket: Column,
               nBuckets: Int): DataFrame =
    // weight-1 raw rows, not a pre-groupBy: psiDriftFromCounts' one keyed
    // sum counts both sides at once (the ksDrift stance)
    psiDriftFromCounts(ref.select(bucket.cast("long").as("bucket"), lit(1L).as("n")),
      cur, bucket, nBuckets)

  /** Two-sample Kolmogorov-Smirnov drift: D = sup_v |F_ref(v) − F_cur(v)|,
    * EXACT in integer arithmetic — the bucket-free sibling of `psiDrift`
    * (PSI needs a bucketing choice; KS reads the raw empirical CDFs).
    * One row: (n_ref, n_cur, ks_bp, at_value) with `ks_bp =
    * 10⁴·max|a·n₂ − b·n₁| div (n₁·n₂)` (a, b = counts ≤ v) and
    * `at_value` the smallest v attaining the max — the WHERE of the
    * drift, not just the how-much.
    *
    * Scale shape: a(v)·n₂ − b(v)·n₁ (a, b = running counts ≤ v), so the
    * whole statistic is per-value counts (one keyed shuffle) + ONE
    * `globalCumSumsPreAgg` pass (range-partitioned two-level cumsum — no
    * global window — carrying BOTH running counts and both totals) + a
    * TakeOrdered(1). Caller contract: n₁·n₂ < 2⁶³ (the running products);
    * an empty side yields a null ks_bp rather than a divide-by-zero.
    */
  def ksDrift(ref: DataFrame, cur: DataFrame, value: Column): DataFrame =
    // weight-1 raw rows, NOT a pre-groupBy: ksDriftFromCounts' single
    // keyed sum aggregates both sides at once (sum of 1s ≡ count), so the
    // ref side's separate exchange disappears (r16, guide §2.4)
    ksDriftFromCounts(
      ref.select(value.as("v"), lit(1L).as("c")), cur, value)

  /** `ksDrift` against a PRE-AGGREGATED reference `(v, c)` frequency table
    * — the steady-state drift monitor (the `psiDriftFromCounts` stance,
    * and the same state shape as `percentileState`): persist the
    * reference's per-value counts once, score every incoming batch
    * against them without re-reading reference data; count tables from
    * separate reference batches merge by SUMMING (plain keyed counts), so
    * an accumulating reference is one keyed sum away and merge ≡ rebuild
    * exactly — which the incremental oracle pins.
    *
    * `refCounts` may carry duplicate rows per v (e.g. an un-summed union
    * of batch states): the keyed sum below merges them — merge-by-summing
    * is the operator's own first step, not a caller precondition.
    */
  def ksDriftFromCounts(refCounts: DataFrame, cur: DataFrame,
                        value: Column): DataFrame = {
    // One row per v via UNION + one keyed sum — NOT a full-outer join
    // (r16). The r15 shape joined the two per-side groupBys on v, which
    // (a) never MATCHES null keys, so a ref-null and a cur-null row both
    // survived as two v=NULL rows and the cumsum emitted a spurious
    // partial-CDF point (ADVICE r15), and (b) cost a second exchange +
    // two SMJ sorts (the null-safe <=> key variant measured ×2 WORSE —
    // its derived join keys defeat exchange reuse under the groupBys).
    // The union shape is one exchange total: the current batch's RAW rows
    // partial-aggregate map-side (guide §2.3) into the same keyed sum
    // that merges the reference counts, groupBy treats NULL as an
    // ordinary key (one row, sorting first = "count ≤ v" with NULL as
    // the smallest value), and duplicate-v reference rows merge for free.
    val u = refCounts
      .select(col("v"), col("c").cast("long").as("c1"), lit(0L).as("c2"))
      .unionByName(cur.select(value.as("v"), lit(0L).as("c1"),
        lit(1L).as("c2")))
      .groupBy("v").agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
    // ONE linear pass (r15): both running counts (cum_c1 = a(v), cum_c2 =
    // b(v)) and both sample sizes ride the same two-level cumsum, and the
    // CDF gap is formed AFTER it by linearity — a(v)·n₂ − b(v)·n₁ =
    // Σ_{≤v} (c1·n₂ − c2·n₁) — so the per-value frame has exactly one
    // consumer. The pre-r15 shape (weights = c1·n₂ − c2·n₁ built under a
    // totals broadcast, plus a second totals broadcast at the readout)
    // re-ran the full-outer join INCLUDING both groupBy scans once per
    // consumer: 26 lineitem scans / 100 Exchanges in quality_drift_ks's
    // single plan, and a MEMORY_ONLY cache of the shared frame raced its
    // own materialization between parallel AQE stages (measured slower).
    // Overflow contract unchanged: cum_c1 ≤ n₁, cum_c2 ≤ n₂, so the
    // products stay within the documented n₁·n₂ < 2⁶³ bound.
    graft.ops.Relational.globalCumSumsPreAgg(u, Seq("c1", "c2"))
      .select(col("v"), col("tot_c1").as("n1"), col("tot_c2").as("n2"),
        abs(col("cum_c1") * col("tot_c2") - col("cum_c2") * col("tot_c1"))
          .as("ad"))
      .orderBy(col("ad").desc, col("v")).limit(1)
      .select(col("n1").as("n_ref"), col("n2").as("n_cur"),
        expr("CAST(CAST(10000 AS DECIMAL(38,0)) * ad div " +
          "nullif(CAST(n1 AS DECIMAL(38,0)) * n2, 0) AS BIGINT)").as("ks_bp"),
        col("v").as("at_value"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns — "did the label mix shift with the source" in one number,
    * the contingency-table readout next to the distributional monitors
    * (`psiDrift` buckets one feature; `ksDrift` reads one CDF; this
    * crosses two columns). EXACT integer arithmetic: each cell
    * contributes `(o·N − r·c)²·10⁶ div (N·r·c)` — the χ² term times 10⁶,
    * floored PER CELL (documented convention; both engines replay the
    * identical floor) — summed over the FULL observed-category cross
    * product, absent combinations included at o = 0 (they contribute
    * r·c·10⁶ div N², omitting them understates χ²). Output one row:
    * (chi2_e6, dof, n).
    *
    * Shape: ONE keyed count to contingency cells, then everything runs
    * on the cell table — distinct-category cross join and three window
    * sums over ≤ |A|·|B| rows (category cardinalities, config-sized by
    * assumption; this is a CATEGORICAL test — don't feed it continuous
    * columns). Decimal-widened; caller contract: n ≲ 10⁸ rows for the
    * exact path ((o·N − r·c)²·10⁶ ≤ n⁴·10⁶ must fit DECIMAL(38,0)) —
    * a larger corpus should be sampled first, which a χ² this large
    * saturates anyway.
    */
  def chiSquareE6(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val o = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // The B category list folds to ONE row (ungrouped collect_set) before
    // the cross join, so the nested-loop build side is structurally
    // bounded — the plan-contract shape for "config-sized by assumption",
    // vs a distinct() build that only LOOKS small until someone feeds a
    // continuous column.
    val bList = o.select(col("b")).distinct()
      .agg(sort_array(collect_set(col("b"))).as("bs"))
    val cells = o.select(col("a")).distinct()
      .crossJoin(broadcast(bList))
      .select(col("a"), explode(col("bs")).as("b"))
      .join(o, Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"), coalesce(col("o"), lit(0L)).as("o"))
    import org.apache.spark.sql.expressions.Window
    cells
      .withColumn("r", sum(col("o")).over(Window.partitionBy("a")))
      .withColumn("c", sum(col("o")).over(Window.partitionBy("b")))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .withColumn("term_e6", expr(
        "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) " +
          "* (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) " +
          "* 1000000 div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"))
      .agg(sum(col("term_e6")).as("chi2_e6"),
        ((countDistinct(col("a")) - 1) * (countDistinct(col("b")) - 1))
          .as("dof"),
        (sum(col("o"))).as("n"))
  }

  /** Mann-Whitney U / ROC-AUC, exact: U = #{(p, n) pairs: n < p} + ½·ties
    * — the nonparametric two-sample location test AND (normalized) the
    * AUC of `value` as a ranking score for pos-vs-neg, one statistic
    * (Mann-Whitney '47 / the AUC≡U identity). Returned in HALF-UNITS
    * (`u2 = 2·U`, an exact integer — the ½-tie credit never floats) next
    * to `auc_bp = 10⁴·u2 div (2·n_pos·n_neg)`.
    *
    * Never enumerates pairs: per-value counts (one keyed shuffle), the
    * running negative count below each value from ONE
    * `globalCumSumsPreAgg` pass (range-partitioned, no global window), then
    * U2 = Σ_v cPos(v)·(2·cumNeg(<v) + cNeg(v)) — O(distinct values)
    * after the counts, same machinery as `ksDrift`. Caller contract:
    * n_pos·n_neg < 2⁶² (the u2 long); empty side → null auc_bp.
    */
  def rankSumU2(pos: DataFrame, neg: DataFrame, value: Column): DataFrame = {
    // One row per v via UNION + one keyed sum (r16) — same rewrite as
    // ksDriftFromCounts: both sides' raw rows partial-aggregate map-side
    // into ONE exchange (the r15 full-outer join cost a second exchange +
    // two SMJ sorts and never matched null keys, leaving pos-null and
    // neg-null as two v=NULL rows with an ordering-dependent u2; groupBy
    // treats NULL as one ordinary key). The positive-side counts still
    // ride the SAME two-level cumsum pass as the negative CDF (r15) —
    // the per-value frame has exactly one consumer.
    val u = pos.select(value.as("v"), lit(1L).as("ca"), lit(0L).as("cb"))
      .unionByName(neg.select(value.as("v"), lit(0L).as("ca"),
        lit(1L).as("cb")))
      .groupBy("v").agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    graft.ops.Relational.globalCumSumsPreAgg(u, Seq("ca", "cb"))
      .select(col("ca"), col("cb"), (col("cum_cb") - col("cb")).as("below"))
      .agg(sum(col("ca")).as("n_pos"), sum(col("cb")).as("n_neg"),
        coalesce(sum(col("ca") * (col("below") * 2 + col("cb"))), lit(0L))
          .as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("CAST(CAST(10000 AS DECIMAL(38,0)) * u2 div " +
          "nullif(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg, 0) AS BIGINT)")
          .as("auc_bp"))
  }

  /** The `(bucket, n)` histogram both PSI paths consume — the stored-state
    * shape: a drift monitor persists the reference histogram once (it is
    * ≤ nBuckets rows after aggregation) and scores every incoming batch
    * against it without re-reading reference data. Histograms from
    * separate batches merge by summing counts (they are plain keyed
    * counts), so an accumulating reference is one keyed sum away.
    */
  def histogram(df: DataFrame, bucket: Column): DataFrame =
    df.select(bucket.cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** `psiDrift` against a PRE-AGGREGATED reference histogram `(bucket, n)`
    * — the steady-state entry point (see `histogram`). An EMPTY reference
    * stays finite under the Laplace smoothing: every current bucket scores
    * against the uniform prior. `refCounts` may repeat a bucket (an
    * un-summed union of batch histograms, or `psiDrift`'s weight-1 rows):
    * the keyed sum below merges them.
    */
  def psiDriftFromCounts(refCounts: DataFrame, cur: DataFrame,
                         bucket: Column, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    // UNION + one keyed sum, not a full-outer join (r16) — the same
    // rewrite and the same two bugs as ksDriftFromCounts: a plain join
    // on Seq("bucket") never matches NULL bucket keys (a null-bucket
    // ref and a null-bucket cur row would BOTH survive and each collect
    // its own Laplace term), and the current batch's raw rows now
    // partial-aggregate map-side into the same single exchange that
    // merges the reference counts (one exchange, no SMJ sorts).
    val joined = refCounts
      .select(col("bucket"), col("n").cast("long").as("ref_n"),
        lit(0L).as("cur_n"))
      .unionByName(cur.select(bucket.cast("long").as("bucket"),
        lit(0L).as("ref_n"), lit(1L).as("cur_n")))
      .groupBy(col("bucket"))
      .agg(sum(col("ref_n")).as("ref_n"), sum(col("cur_n")).as("cur_n"))
    // ≤ nBuckets rows, gathered into ONE row beside both totals: the
    // totals need no second aggregate over `joined`, whose plan a
    // broadcast totals branch would repeat, exchanges included
    val gathered = joined.agg(
      collect_list(struct(col("bucket"), col("ref_n"), col("cur_n"))).as("rows"),
      sum(col("ref_n")).as("_rt"), sum(col("cur_n")).as("_ct"))
    val refP = (col("r.ref_n") + 1).cast("double") / (col("_rt") + nBuckets)
    val curP = (col("r.cur_n") + 1).cast("double") / (col("_ct") + nBuckets)
    gathered.select(explode(col("rows")).as("r"), col("_rt"), col("_ct"))
      .select(col("r.bucket").as("bucket"), col("r.ref_n").as("ref_n"),
        col("r.cur_n").as("cur_n"),
        round((curP - refP) * log(curP / refP), 6).as("psi_term"))
  }

  /** Join-key skew diagnostic: the `k` heaviest keys with exact counts and
    * corpus share in basis points — the numbers that size salting width /
    * AQE skew thresholds BEFORE a big join melts an executor. One keyed
    * count (cached: it is O(distinct keys), and both the top-k and the
    * total read it), a pushed top-k (TakeOrderedAndProject — no global
    * sort materializes), and a one-row broadcast total.
    */
  def skewReport(df: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val g = keys.map(col)
    val counts = df.groupBy(g: _*).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val total = counts.agg(sum(col("cnt")).as("_total"))
    counts.orderBy(col("cnt").desc +: g: _*).limit(k)
      .crossJoin(broadcast(total))
      .select(g ++ Seq(col("cnt"),
        graft.ops.Exact.ratioBp(col("cnt"), col("_total")).as("share_bp")): _*)
  }
}
