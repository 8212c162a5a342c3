package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan contracts: the scale-critical physical-plan properties each flagship
  * query must keep. A correctness oracle cannot see these — a query can go
  * quadratic or single-task and still return the right rows at sf0.01 —
  * so they are pinned here against the INITIAL physical plan (cheap: no
  * execution needed; the properties checked only disappear at runtime,
  * never appear).
  */
class PlanContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan

  /** `pf` over the plan AND every cached plan it scans, which plain
    * collect() does not descend into. */
  private def deepCollect[A](p: SparkPlan)(pf: PartialFunction[SparkPlan, A]): Seq[A] = {
    // cached plans arrive wrapped in AdaptiveSparkPlanExec, whose child
    // is a field, not a tree edge — unwrap before traversing
    val unwrapped = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }
    val here = unwrapped.collect(pf)
    val cached = unwrapped.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        deepCollect(s.relation.cachedPlan)(pf)
    }.flatten
    here ++ cached
  }
  private def q(name: String): SparkPlan = {
    // Canonical plan: drop cache entries registered by previously-planned
    // queries, or the CacheManager substitutes their InMemoryRelations into
    // this plan (shared test session) and the shape under test disappears.
    spark.catalog.clearCache()
    plan(SparkEntry.queries(name)(spark, dir))
  }

  test("entry: dimension joins broadcast, scan prunes columns") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size >= 3,
      "regional revenue must broadcast its dimension tables")
    val liScans = p.collect {
      case s: FileSourceScanExec if s.relation.location.inputFiles
        .exists(_.contains("lineitem")) => s
    }
    assert(liScans.nonEmpty)
    // projection pruning must reach the reader: the fact scan reads a
    // handful of columns, never the full 16-column lineitem schema
    assert(liScans.forall(_.schema.fields.length <= 6),
      s"lineitem ReadSchema too wide: ${liScans.map(_.schema.simpleString)}")
  }

  test("bucketed co-located join: zero exchange below the fact-fact join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // At spec scale the planner would broadcast the tiny side (fine at
    // runtime, AQE's call) — disable auto-broadcast so the plan under test
    // is the one a warehouse-scale fact-fact join gets, where bucketing is
    // the claim: a sort-merge join with NO shuffle under either side.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = q("join_bucketed_colocated")
      val joins = p.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty,
        "expected a sort-merge join over the bucketed sides")
      joins.foreach { j =>
        val shuffles = j.collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty,
          "bucketed join input shuffled — bucket layout not being used")
      }
    } finally spark.conf.set(key, prev)
  }

  test("banded similarity queries contain NO nested-loop join") {
    Seq("dedup_embedding_cosine", "sim_ann_lsh", "dedup_minhash",
      "dedup_ngram_jaccard", "curate_decontaminate").foreach { name =>
      val bnl = q(name).collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnl.isEmpty, s"$name plans a BroadcastNestedLoopJoin")
    }
  }

  test("large-large range join decomposes to an equi-join, never a BNLJ") {
    // join_range_binned exists because BOTH sides are data-sized: the bin
    // decomposition must plan as a hash/sort-merge equi-join on the bin id
    // (broadcast-HASH is fine at tiny SF — still an equi-join), with the
    // residual range predicate as a post-join filter, never a nested loop.
    // the correlated scalar subquery belongs here too: Catalyst must
    // DECORRELATE it into aggregate + equi-join, never a per-row rescan
    Seq("join_range_binned", "join_interval_overlap",
      "subquery_correlated_scalar").foreach { name =>
      val bnl = q(name).collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnl.isEmpty, s"$name plans a BroadcastNestedLoopJoin")
    }
  }

  /** A nested-loop join is tolerable ONLY when its broadcast/build side has
    * cardinality bounded by CONFIG or LITERALS, never by the data: a build
    * side that grows with the corpus makes the join O(n·m) with both factors
    * scaling — the shape that melts at 100 TB no matter how fast it is at
    * sf0.01. Bounded means the build subtree bottoms out in a limit
    * (TakeOrderedAndProject / Global/LocalLimit), a literal LocalTableScan,
    * an ungrouped aggregate (one row), or an aggregate grouped only by the
    * partition-bucket id `pid` (≤ spark.sql.shuffle.partitions rows) —
    * propagated through cardinality-preserving unary nodes.
    */
  private def buildBounded(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case _: TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    case _: org.apache.spark.sql.execution.LocalLimitExec => true
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      if a.groupingExpressions.isEmpty => true
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      if a.groupingExpressions.flatMap(_.references).forall(_.name == "pid") => true
    case j: BroadcastNestedLoopJoinExec => buildBounded(j.left) && buildBounded(j.right)
    // Row-MULTIPLYING unary nodes must not inherit boundedness blindly:
    // explode's fan-out is data-dependent (unbounded); Expand multiplies by
    // a plan-time-constant projection count (bounded iff its child is).
    case _: org.apache.spark.sql.execution.GenerateExec => false
    case e: org.apache.spark.sql.execution.ExpandExec => buildBounded(e.child)
    case u if u.children.length == 1 => buildBounded(u.children.head)
    case _ => false
  }

  test("every nested-loop join in the WHOLE catalog has a config-bounded build side") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      q(name).collect { case j: BroadcastNestedLoopJoinExec => j }.flatMap { j =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        if (buildBounded(build)) None
        else Some(s"$name: BNLJ build side grows with data (${build.nodeName})")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no unpartitioned window over data-sized input anywhere in the catalog") {
    // agg_percentiles previously planned Window.orderBy(v) with no
    // partitionBy — one task sorting every distinct value. Global windows
    // are banned outright: every WindowExec must carry a partition spec.
    Seq("agg_percentiles", "agg_percentiles_by", "window_rank_rownum",
      "sort_topk_limit", "dedup_ngram_jaccard", "pipeline_corpus_clean",
      "curate_pack_budget", "curate_lang_cap", "curate_stratified_n",
      "scd2_history", "scd2_merge_incremental", "event_transitions",
      "curate_winsorize", "dedup_keep_best", "curate_shard_assign",
      "sim_knn_graph", "text_topp_vocab",
      "agg_percentiles_incremental").foreach { name =>
      val global = q(name).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"$name plans an unpartitioned window")
    }
  }

  test("funnel pushes every step's type filter into the parquet scan") {
    // each step reads events with its own event_type equality — if those
    // don't reach the reader, a 100 TB funnel scans the full stream per
    // step instead of one type's row groups
    val scans = q("funnel_steps").collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.metadata.get("PushedFilters").exists(_.contains("EqualTo(event_type")),
        s"funnel scan without a pushed event_type filter: ${s.metadata.get("PushedFilters")}")
    }
  }

  test("CDC snapshot diff is exactly one join and no windows") {
    val p = q("cdc_snapshot_diff")
    val joins = p.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.size == 1, s"cdc_snapshot_diff plans ${joins.size} joins, wanted 1")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "cdc_snapshot_diff plans a window")
  }

  test("group-stats joins broadcast the STATS side, never the data side") {
    // outlierFlags/winsorize join O(|groups|) statistics back onto the
    // data; tiny-test-scale size estimates once picked the fact scan to
    // broadcast — backwards at 100 TB. The explicit hints must keep the
    // aggregate subtree on the build side.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    Seq("agg_outlier_exact", "curate_winsorize").foreach { name =>
      val joins = q(name).collect { case j: BroadcastHashJoinExec => j }
      assert(joins.nonEmpty, s"$name plans no broadcast join")
      joins.foreach { j =>
        val (build, stream) = j.buildSide match {
          case BuildLeft => (j.left, j.right)
          case BuildRight => (j.right, j.left)
        }
        assert(build.collectFirst { case a: HashAggregateExec => a }.isDefined,
          s"$name broadcasts a side with no aggregate (the data side?)")
        assert(stream.collectFirst { case a: HashAggregateExec => a }.isEmpty,
          s"$name streams the aggregated stats side")
      }
    }
  }

  test("quality report and incremental-agg merge plan no windows at all") {
    Seq("quality_checks", "agg_incremental_state", "agg_incremental_state_stored",
      "agg_rolling_distinct", "agg_outlier_exact", "quality_drift_psi",
      "quality_skew_report", "window_rate_anomaly").foreach { name =>
      assert(q(name).collect { case w: WindowExec => w }.isEmpty,
        s"$name plans a window")
    }
  }

  test("vector similarity queries read the embeddings file once, through caches") {
    // Every multi-reference of the vector lineage must resolve to ONE
    // cached materialization — the OUTER plan sees only
    // InMemoryTableScans; the one real FileScan lives inside the
    // InMemoryRelation. Without the caches the corpus is re-read per
    // reference: the 100 TB dominant cost. Reference counts differ by
    // shape: the round-13 inline banded verify carries vectors through
    // the band join (2 references — both self-join sides, no join-backs);
    // annTopK/incremental still join back (≥ 3).
    Seq("dedup_embedding_cosine" -> 2, "sim_ann_lsh" -> 3,
        "dedup_incremental_embedding" -> 3).foreach { case (name, minMem) =>
      val p = q(name)
      val fileScans = p.collect {
        case s: FileSourceScanExec if s.relation.location.inputFiles
          .exists(_.contains("embeddings")) => s
      }
      assert(fileScans.isEmpty,
        s"$name re-scans the embeddings file ${fileScans.size}x outside the cache")
      val mem = p.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(mem.size >= minMem, s"$name plans only ${mem.size} cache scans")
    }
  }

  test("top-k limits push below the sort") {
    val p = q("sort_topk_limit")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "global top-k must plan TakeOrderedAndProject, not sort-then-limit")
  }

  test("bloom-pruned join: the probe filter sits ON the fact scan, pre-join") {
    import org.apache.spark.sql.execution.FilterExec
    val p = q("join_bloom_pruned")
    // the bloom probe (seeded xxhash64 against the folded bit-array
    // literal) must be a Filter whose child IS the lineitem scan — i.e.
    // rows are discarded map-side, before any exchange or join ships them
    val probeOnScan = p.collect {
      case f: FilterExec if f.condition.toString.contains("xxhash64") &&
        f.child.collectLeaves().exists {
          case s: FileSourceScanExec =>
            s.relation.location.inputFiles.exists(_.contains("lineitem"))
          case _ => false
        } && f.collect { case j: BroadcastHashJoinExec => j }.isEmpty => f
    }
    assert(probeOnScan.nonEmpty,
      "bloom probe filter must apply directly to the fact scan, below the join")
  }

  test("ingest flagship (indexed): the corpus documents table is scanned " +
      "EXACTLY once — the batch side, with the batch filter pushed; corpus " +
      "state arrives only through the stored frames") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.RDDScanExec
    // the pipeline persists its batch-stage outputs, so the one real
    // documents scan lives inside a cached plan — walk those too
    // (cachedPlan is an AQE wrapper with NO children; unwrap via
    // inputPlan or collect() finds nothing below it)
    // each cached relation is visited ONCE (dedup by its shared
    // CachedRDDBuilder — the physical materialization identity), or a
    // relation referenced from k paths counts its inner scan k times
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case other => other
      }
      here.collect { case s: FileSourceScanExec => s } ++
        here.collect { case im: InMemoryTableScanExec => im }
          .filter(im => seen.add(im.relation.cacheBuilder))
          .flatMap(im => allScans(im.relation.cachedPlan))
    }
    // Since r16 the batch stage rides a lazy localCheckpoint (the stage-3
    // MinHash probe plans re-analyzed its whole subtree ~7× — a measured
    // ~1–1.8 s of pure driver work per run), so the one real documents
    // scan is invisible in the FINAL plan. The contract is therefore
    // proven in three parts — together they pin "corpus scanned exactly
    // once" at least as tightly as the old single-plan walk, because the
    // checkpoint guarantees the stage subtree executes once:
    // (1) the UNtruncated stage-1/2 plan scans documents EXACTLY once,
    //     with the batch-modulus filter pushed into that scan;
    spark.catalog.clearCache()
    val stage = catalog.CurateQueries.ingestBatchStage(
      spark, dir, catalog.StoredIndexes.DocMod, stored = true)
    val stageScans = allScans(stage.queryExecution.sparkPlan)
      .filter(_.relation.location.inputFiles.exists(_.contains("documents")))
    assert(stageScans.size == 1,
      s"expected exactly 1 documents scan in the batch stage, got " +
        s"${stageScans.size} — a stage-1/2 branch is re-scanning the corpus")
    assert(stageScans.head.dataFilters.mkString.contains("% 50"),
      s"batch modulus filter not pushed into the scan: " +
        s"${stageScans.head.dataFilters.mkString("; ")}")
    // (2) the final plan scans documents ZERO times — the batch side
    //     arrives only through the checkpoint, corpus state only through
    //     the stored frames (an injected re-scan anywhere in stages 3-5
    //     shows up here as a FileSourceScanExec);
    val finalPlan = q("pipeline_ingest_incremental_indexed")
    seen.clear()
    val docScans = allScans(finalPlan)
      .filter(_.relation.location.inputFiles.exists(_.contains("documents")))
    assert(docScans.isEmpty,
      s"expected 0 documents scans in the final plan (batch side is " +
        s"checkpointed), got ${docScans.size} — a stage is re-scanning " +
        "the corpus")
    // (3) the truncation point is really there: the final plan reads the
    //     batch stage through at least one ExistingRDD scan, so part (1)'s
    //     subtree is what actually feeds stages 3-5.
    assert(finalPlan.collect { case r: RDDScanExec => r }.nonEmpty,
      "expected the checkpointed batch stage to appear as a Scan " +
        "ExistingRDD in the final plan")
  }

  test("round-6 additions: keyed joins only, pushed top-k, no global windows") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    // basket pairs: the self-join must key on the basket id (equi), the
    // global top-50 must plan TakeOrdered — and nothing may go cartesian.
    val bp = q("basket_pair_support")
    assert(bp.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "basket top-k must plan TakeOrderedAndProject")
    // triangles, trend, corr, rank-normalize, bigram LM: all keyed
    // shuffles — no cartesian product, no unpartitioned data-sized window.
    Seq("basket_pair_support", "sim_knn_triangles", "agg_group_trend",
      "agg_group_corr", "feature_rank_normalize",
      "feature_rank_normalize_by", "text_bigram_lm_score",
      "text_bigram_lm_incremental", "pipeline_lm_filter", "graph_pagerank",
      "basket_components", "basket_clustering_coeff", "join_asof_forward",
      "events_ab_lift", "retrieval_hybrid_rrf",
      "window_range_frame").foreach { name =>
      val p = q(name)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name plans a CartesianProduct")
      val global = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"$name plans an unpartitioned window")
    }
    // the trend/corr customer dim joins broadcast
    assert(q("agg_group_trend").collect {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      "agg_group_trend must broadcast the customer dim")
  }

  test("dsir selection: fixed-size LM broadcast, pushed top-k, no global window") {
    val p = q("curate_dsir_select")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "dsir top-k must plan TakeOrderedAndProject, not a global sort")
    // the data-sized side of every window must be absent: the only window
    // ranks the k survivors of the pushed top-k (bounded input)
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.forall(w => w.collect {
      case t: TakeOrderedAndProjectExec => t }.nonEmpty),
      "dsir rank window must run over the top-k output only")
  }

  test("banded pair joins fan out by config, not by input splits (r9 sf1 fix)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // The quadratic-OUTPUT pair enumeration must sit above a round-robin/
    // hash repartition to the session's shuffle parallelism — without it,
    // a corpus small enough to broadcast-join runs every candidate pair in
    // as few tasks as the parquet scan had splits (sf1 measured 31 of 32
    // cores idle and 272 s for a 9 s query). The contract: somewhere below
    // the banded join sits a ShuffleExchange whose partitioning is the
    // configured parallelism — the explicit repartition(parts, id), which
    // survives into the initial plan regardless of AQE's later choices.
    val parts = spark.sessionState.conf.numShufflePartitions
    // the repartition sits INSIDE the persisted pair frame's cached plan
    for (name <- Seq("sim_knn_graph", "dedup_embedding_cosine")) {
      val p = q(name)
      val exch = deepCollect(p) {
        case e: ShuffleExchangeLike
          if e.outputPartitioning.numPartitions == parts &&
            e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(exch.nonEmpty,
        s"$name must repartition the banded probe side to $parts partitions")
    }
  }

  test("basket pair builds group baskets over a fan to the shuffle parallelism") {
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // The basket stage (set build, pair expansion, partial pair count) is
    // the query's CPU over a few-MB input: a plain grouping shuffle is
    // coalesced by AQE to one task, the explicit fan keeps every core busy.
    val parts = spark.sessionState.conf.numShufflePartitions
    for (name <- Seq("basket_pair_support", "basket_clustering_coeff")) {
      val fans = deepCollect(q(name)) {
        case e: ShuffleExchangeLike if e.shuffleOrigin == REPARTITION_BY_NUM =>
          e.outputPartitioning
      }.collect {
        case h: HashPartitioning if h.numPartitions == parts &&
          h.expressions.exists {
            case a: AttributeReference => a.name == "_bk"
            case _ => false
          } => h
      }
      assert(fans.nonEmpty,
        s"$name must repartition its baskets to $parts partitions")
    }
  }

  test("round-9 additions: no global windows, no cartesians, map-side gopher") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    for (name <- Seq("curate_pack_sequences", "curate_pack_manifest",
        "curate_stratified_sample", "join_asof_nearest_tol",
        "text_quality_gopher", "text_bpe_apply_indexed",
        "basket_pair_support_indexed", "graph_lpa_communities_indexed")) {
      val p = q(name)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name plans a CartesianProduct")
      assert(p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
        s"$name plans an unpartitioned window — the two-level cumulative " +
          "machinery must be keeping packing offsets off a global window")
    }
    // gopher is a pure filter: one projection chain, no shuffle at all
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val gopher = q("text_quality_gopher")
    val preSort = gopher.collect { case e: ShuffleExchangeLike => e }
    // the catalog query adds an orderBy for the deterministic dump — at
    // most that single range-partition exchange is allowed
    assert(preSort.size <= 1,
      s"text_quality_gopher must be map-side (got ${preSort.size} exchanges)")
  }

  test("composite_shipping_priority: the routed 3-way order matches the " +
      "estimator's verdict on the real corpus, and routing ≡ plain chain") {
    import graft.ops.Relational
    import org.apache.spark.sql.functions._
    // the catalog query's exact filtered inputs (renamed to the chain's
    // shared key names)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") > lit("1998-01-01"))
      .select(col("l_orderkey").as("ok"),
        col("l_extendedprice"), col("l_discount"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        col("o_orderdate"), col("o_orderpriority"))
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("ck"))
    val (routed, order) =
      Relational.autoJoin3WithOrder(li, ord, cust, Seq("ok"), Seq("ck"))
    // independent verdict: the public estimator runs the SAME md5-histogram
    // formula autoJoin3 routes on — the chosen first pair must be the
    // smaller-estimate one (ties prefer ab_first, the documented rule)
    def est(l: org.apache.spark.sql.DataFrame, lk: String,
            r: org.apache.spark.sql.DataFrame, rk: String): Long =
      Relational.joinCardinalityEstimate(l, l(lk), r, r(rk))
        .select(col("est_pairs")).collect()(0).getLong(0)
    val estAB = est(li, "ok", ord, "ok")
    val estBC = est(ord, "ck", cust, "ck")
    val expected = if (estBC < estAB) "bc_first" else "ab_first"
    assert(order.startsWith(expected),
      s"estimator says $expected (estAB=$estAB, estBC=$estBC) but " +
        s"autoJoin3 chose $order")
    // and the routing is invisible to values AND column order
    val plain = li.join(ord, Seq("ok")).join(cust, Seq("ck"))
    assert(routed.columns.toSeq == plain.columns.toSeq)
    assert(routed.exceptAll(plain).isEmpty && plain.exceptAll(routed).isEmpty,
      "routed 3-way chain must be row-identical to the plain chain")
  }

  test("composite analytics: broadcast dims, pushed filters, partial top-k") {
    for (name <- Seq("composite_shipping_priority", "composite_returned_items")) {
      val p = q(name)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$name must broadcast its dimension side(s)")
      // the selective predicates must reach the parquet readers — a
      // composite that scans everything and filters post-join reads the
      // full fact table at 100 TB
      val pushed = p.collect { case s: FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "[]")
      }
      assert(pushed.exists(f => f.contains("l_shipdate") ||
        f.contains("l_returnflag")),
        s"$name: fact-scan predicate not pushed: $pushed")
      assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"$name: top-k must plan as TakeOrderedAndProject, not a full sort")
    }
  }

  test("round-10 additions: no cartesians/global windows; shapes hold") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (name <- Seq("events_ab_power", "events_ab_sequential",
        "events_ab_bootstrap", "events_ab_srm", "events_cusum_alerts",
        "text_feature_hashing", "vector_centroid_outliers",
        "stream_join_interval", "retrieval_mmr_rerank",
        "sim_knn_kcore", "sim_ann_recall_report",
        "graph_link_prediction", "graph_link_prediction_indexed",
        "events_sequence_match", "join_cardinality_estimate",
        "multimodal_phash_neardup", "vector_pq_codebook",
        "vector_pq_encode", "sim_pq_adc_recall", "sim_ivfpq_topk",
        "sim_pq_adc_topk_indexed", "text_jaro_linkage")) {
      val p = q(name)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$name plans a CartesianProduct")
      assert(p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
        s"$name plans an unpartitioned window")
    }
    // the stream-join batch twin is an EQUI join on user_id with the
    // interval bounds as residual — never a nested loop over events²
    assert(q("stream_join_interval").collect {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "stream_join_interval must join on the user_id equi-key")
    // centroid arrays are label-sized — their join back to the vectors
    // must broadcast, not shuffle the corpus
    assert(q("vector_centroid_outliers").collect {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      "vector_centroid_outliers must broadcast the centroid arrays")
    // feature hashing is explode + ONE keyed aggregate (+ the dump's
    // range exchange): a third shuffle means the doc-local partial
    // aggregation collapsed somewhere
    val fh = q("text_feature_hashing")
    val fhEx = fh.collect { case e: ShuffleExchangeLike => e }
    assert(fhEx.size <= 2,
      s"text_feature_hashing must be one aggregate + sort " +
        s"(got ${fhEx.size} exchanges)")
  }

  test("BFS / Bellman-Ford stored-edge twins never touch the fact table") {
    // the _indexed twins' whole claim is steady state: frontier /
    // relaxation rounds over the stored co-purchase edges ONLY — a
    // lineitem scan would mean the edge build snuck back in. (bfsHops /
    // minCostHops execute eagerly, so inspect the scans their session
    // performed via the checkpoint-backed result's origin: assert instead
    // on the INPUT frames the catalog passes them.)
    val dirL = "/root/testdata/sf0.001"
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.metadata("Location")
      }
    spark.catalog.clearCache()
    val stored = catalog.StoredIndexes.basketEdges(spark, dirL)
    assert(!scansOf(stored).exists(_.contains("lineitem")),
      "stored basketEdges must read the edge table, not lineitem")
    val rebuilt = graft.ops.Relational.basketPairs(
      graft.tables.Tables.load(spark, dirL, "lineitem"),
      "l_orderkey", "l_partkey")
    assert(scansOf(rebuilt).exists(_.contains("lineitem")),
      "the rebuild sibling's input IS the lineitem scan")
    // the recommendation twin's full plan: stored edges + stored item
    // frequencies only — no fact scan anywhere
    val recs = graft.ops.Relational.itemRecommendationsFromParts(
      stored, catalog.StoredIndexes.itemFreq(spark, dirL),
      k = 3, minSupport = 2L)
    assert(!scansOf(recs).exists(_.contains("lineitem")),
      "basket_item_recs_indexed must score stored parts, not lineitem")
  }

  test("NOT IN plans a null-aware BROADCAST hash anti join, never the " +
      "nested-loop fallback") {
    val p = q("join_anti_null_aware")
    val naaj = p.collect {
      case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j }
    assert(naaj.nonEmpty,
      "NOT IN must plan as a null-aware BroadcastHashJoin (the subquery " +
        "side is filtered to broadcast size by construction)")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "NOT IN must not fall back to BroadcastNestedLoopJoin")
    // the subquery-side filter reaches the parquet scan
    assert(p.collect { case s: FileSourceScanExec
        if s.metadata.get("PushedFilters").exists(_.contains("GreaterThan"))
      => s }.nonEmpty,
      "the NOT-IN subquery's price filter must push into the scan")
  }

  // autoJoin: each routing arm of the estimator-driven join must actually
  // trigger on its planted input AND produce its promised physical shape.
  // Auto-broadcast is disabled throughout so any BroadcastHashJoin seen is
  // OUR row-count hint, not Catalyst's byte-size heuristic.
  test("autoJoin: planted small dim routes broadcast; planted skew routes " +
      "salted; neither routes plain shuffle") {
    import graft.ops.Relational
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      // arm 1 — small dim: customer at sf0.001 is 150 rows ≤ the limit
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val (bJoin, bStrat) =
        Relational.autoJoinWithStrategy(orders, cust, Seq("custkey"))
      assert(bStrat == "broadcast")
      assert(plan(bJoin).collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "broadcast routing must plan a BroadcastHashJoin (threshold is off " +
          "— only the explicit hint can produce one)")

      // planted frames for the other two arms: both sides above the row
      // limit (10), left key 1 hot (300 of 399 rows → its bucket carries
      // >>20% of the join)
      val hotLeft = ((1 to 300).map(_ => 1) ++ (2 to 100))
        .toDF("k").withColumn("lv", col("k") * 2)
      val uniRight = (1 to 100).flatMap(k => Seq.fill(3)(k))
        .toDF("k").withColumn("rv", col("k") * 7)

      // arm 2 — skew: salted shape = xxhash64 salt + salt-replicating
      // explode(sequence) on the other side; result ≡ plain join
      val (sJoin, sStrat) = Relational.autoJoinWithStrategy(
        hotLeft, uniRight, Seq("k"), broadcastRowLimit = 10, salts = 4)
      assert(sStrat == "salted_shuffle")
      val sPlan = plan(sJoin).toString
      // over LocalRelations the xxhash64 projection and the
      // sequence(0, salts-1) literal both constant-fold, so the visible
      // salted signature is the _salt join key + the salt-replicating
      // Generate on the other side
      assert(sPlan.contains("_salt") && sPlan.contains("Generate explode"),
        s"salted routing must join on the salt sub-key:\n$sPlan")
      assert(sJoin.count() == hotLeft.join(uniRight, Seq("k")).count())

      // arm 3 — neither: uniform keys, both sides big → plain SMJ, no salt
      val uniLeft = (1 to 100).flatMap(k => Seq.fill(4)(k))
        .toDF("k").withColumn("lv", col("k") * 2)
      val (pJoin, pStrat) = Relational.autoJoinWithStrategy(
        uniLeft, uniRight, Seq("k"), broadcastRowLimit = 10)
      assert(pStrat == "shuffle")
      val pp = plan(pJoin)
      assert(pp.collect { case j: SortMergeJoinExec => j }.nonEmpty &&
        !pp.toString.contains("_salt"),
        "plain routing must be an unsalted sort-merge join")
    } finally spark.conf.set(key, prev)
  }

  test("ivm stored twin: touched-key isin pushed INTO both fact scans, " +
      "deltas broadcast, no sort-merge join") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val p = q("ivm_join_agg_stored")
    // the two full-side delta terms (L ⋈ ΔR, ΔL ⋈ R) must read their fact
    // through a pushed In(<join key>) — the row groups holding untouched
    // keys never leave the parquet reader
    val pushedIn = p.collect {
      case s: FileSourceScanExec
        if s.metadata.get("PushedFilters").exists(m =>
          m.contains("In(l_orderkey") || m.contains("In(o_orderkey")) => s
    }
    assert(pushedIn.size >= 2,
      s"expected both delta-term fact scans to carry a pushed In filter, " +
        s"got ${pushedIn.size}")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "IVM maintenance must never shuffle a fact side into a sort-merge join")
  }
}
