package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over plain edge DataFrames. PageRank here is
  * computed in exact integer (basis-point) arithmetic: floating-point
  * PageRank depends on the reduction order of double sums (nondeterministic
  * under shuffle), while scaled-integer contributions with truncating
  * division are order-independent — the DuckDB oracle replays the identical
  * recurrence and hash-matches bit-for-bit.
  *
  * Every iterative operator takes a `Stop` rule — a fixed round count, the
  * form an unrolled SQL oracle replays, or run-to-fixpoint under a cap —
  * and returns an `Iterated` (output, rounds run, converged). All of them
  * loop through `Iterate.run`, which owns materialization, the fixpoint
  * test and the release of setup caches. Integer state makes every
  * fixpoint an exact equality, not an epsilon test.
  */
object Graph {

  import org.apache.spark.storage.StorageLevel.MEMORY_ONLY

  /** Undirected closure: both directions of each distinct edge. */
  def undirect(edges: DataFrame, src: String = "src",
               dst: String = "dst"): DataFrame =
    edges.select(col(src).as("src"), col(dst).as("dst"))
      .unionByName(edges.select(col(dst).as("src"), col(src).as("dst")))
      .distinct()

  /** Connected components of an undirected edge list: every node labeled
    * with its component's MINIMUM id. Generic façade over the single
    * resolution engine behind the dedup clustering (`Dedup.components`):
    * a size-gated driver union-find fast path — edge lists are usually
    * orders of magnitude smaller than the data they came from — with
    * distributed two-star rounds (`twoStarComponents`: O(log² n) rounds,
    * never diameter-bounded) for genuinely huge graphs. Node ids must be
    * integral.
    */
  def connectedComponents(edges: DataFrame, a: String = "a",
                          b: String = "b", maxIters: Int = 12,
                          driverMaxPairs: Long = 5000000L): DataFrame = {
    val pairs = edges
      .select(col(a).cast("long").as("a"), col(b).cast("long").as("b"))
      .cache()
    val n = pairs.count()
    val out = Dedup.components(pairs, n, maxIters, driverMaxPairs)
      .select(col("doc_id").as("node"), col("cluster_rep").as("component"))
    pairs.unpersist()
    out
  }

  /** Per-node triangle counts over a simple undirected graph given as
    * CANONICAL edges (`a` < `b`, distinct, no self-loops). Output:
    * `(node, triangles)` for every node on ≥1 triangle.
    *
    * Scale shape: the classic degree-ordered orientation (node rank =
    * (degree, id), each undirected edge oriented low→high). Out-degrees
    * under that orientation are O(√m), so the wedge self-join — the only
    * superlinear step — is bounded by Σ C(outdeg, 2) = O(m^1.5) instead of
    * Σ C(deg, 2), which a hub node makes quadratic. All three steps are
    * keyed shuffles (degree groupBy, wedge join on the pivot node, closing
    * join on the (y, z) edge); nothing is collected or broadcast, so a hot
    * node salts away under AQE rather than melting a reducer. Each
    * triangle is counted exactly once at its lowest-ranked vertex, then
    * credited to all three corners map-side (explode) before a final
    * keyed count.
    */
  def trianglesPerNode(edges: DataFrame, a: String = "a",
                       b: String = "b"): DataFrame = {
    val e = edges.select(col(a).as("u"), col(b).as("v"))
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val ru = deg.select(col("u"), struct(col("d"), col("u")).as("ku"))
    val rv = deg.select(col("u").as("v"), struct(col("d"), col("u")).as("kv"))
    // Rank both endpoints of each CANONICAL edge (|m| rows, not 2|m|) and
    // flip it toward the higher (degree, id) endpoint; the kept rank key's
    // `u` field IS the destination node id. Referenced by both the
    // adjacency build and the closing probe → one materialization.
    val oriented = e.join(ru, "u").join(rv, "v")
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("dk"))
      .persist(MEMORY_ONLY)
    // Compact adjacency list per source, rank-sorted (struct sort is
    // lexicographic on (d, id) = the orientation order). Out-degrees under
    // degree orientation are O(√m), so the array — and the map-side wedge
    // expansion below (p pairs with everything after it, mirroring
    // basketPairs) — is bounded per node; no wedge self-join shuffle.
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dk"))).as("nbrs"))
    val wedges = adj.select(col("src").as("x"),
        explode(flatten(transform(col("nbrs"), (p, i) =>
          transform(slice(col("nbrs"), i + 2, size(col("nbrs"))),
            q => struct(p.getField("u").as("y"), q.getField("u").as("z"))))))
          .as("_w"))
      .select(col("x"), col("_w.y").as("y"), col("_w.z").as("z"))
    // {y,z} (both ranked above x, y before z in rank order) closes the
    // triangle iff the oriented edge y→z exists — one equi-join, and edge
    // uniqueness means no multiplicity.
    val tri = wedges.join(oriented.select(col("src").as("y"),
      col("dk").getField("u").as("z")), Seq("y", "z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** Local clustering coefficient in floor basis points:
    * `20000·triangles(v) div (deg(v)·(deg(v)−1))` — the how-clique-like-
    * is-this-neighborhood signal (2·tri / possible wedge pairs), exact
    * integer so cross-engine bit-stable. Output: every node with its
    * degree, triangle count (0 if none), and coeff_bp (0 for degree < 2).
    * One edge materialization feeds both the degree aggregate and the
    * triangle pipeline.
    */
  def clusteringCoefficientBp(edges: DataFrame, a: String = "a",
                              b: String = "b"): DataFrame = {
    val e = edges.select(col(a).as("a"), col(b).as("b")).persist(MEMORY_ONLY)
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
    deg.join(trianglesPerNode(e), Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("coeff_bp", when(col("degree") < 2, lit(0L))
        .otherwise(expr("(20000 * triangles) div (degree * (degree - 1))")))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) over
    * an undirected edge list of UNIQUE canonical pairs: every node starts
    * labeled with its own id; each round it adopts the most frequent label
    * among its neighbors, ties to the SMALLEST label — a deterministic
    * total order, so the whole trajectory replays bit-identically in an
    * unrolled SQL twin (same discipline as `pageRankBp`). Unlike
    * `connectedComponents` (one label per connected component), LPA finds
    * DENSER sub-communities inside a component. `Stop.Rounds` is the
    * deterministic semantics (synchronous LPA can oscillate on
    * bipartite-ish structures); `Stop.Converge` stops when the label state
    * repeats — a fixpoint or the classic period-2 ping-pong.
    *
    * Scale shape: the symmetric edge list is pre-shuffled and cached on
    * the per-round join key once (zero edge exchange per round); each
    * round is one keyed join + one (node, label) count + one per-node
    * argmax window, all node/edge-sized.
    */
  def labelPropagation(edges: DataFrame, stop: Stop,
                       srcCol: String, dstCol: String): Iterated = {
    require(stop.maxRounds >= 1, s"rounds must be >= 1, got ${stop.maxRounds}")
    import org.apache.spark.sql.expressions.Window
    val sym = symmetric(edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    val w = Window.partitionBy(col("b"))
      .orderBy(col("c").desc, col("lbl").asc)
    val r = Iterate.run("labelPropagation",
        sym.select(col("a").as("node")).distinct().withColumn("lbl", col("node")),
        stop, Iterate.repeats(2, "node", "lbl"), sym) { (labels, _) =>
      sym.join(labels, col("a") === col("node"))
        .groupBy(col("b"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("b").as("node"), col("lbl"))
    }
    r.copy(out = r.out.select(col("node"), col("lbl").as("community")))
  }

  /** Both directions of `e0(a, b, …)`, pre-shuffled and pre-sorted on `a` —
    * the per-round join key — and cached, so the edges never move again:
    * every round's keyed join reads the edge side with zero exchange and
    * only the node-sized state moves. Filled by the first job that reads
    * it (the loop's initial checkpoint).
    */
  private def symmetric(e0: DataFrame): DataFrame = {
    val flipped = e0.columns.map {
      case "a" => col("b").as("a")
      case "b" => col("a").as("b")
      case c => col(c)
    }
    e0.unionByName(e0.select(flipped: _*))
      .repartition(col("a")).sortWithinPartitions(col("a"))
      .persist(MEMORY_ONLY)
  }

  /** PageRank in basis points over `edges(src, dst)`: r₀(v) = `baseBp`;
    * r_{k+1}(v) = 15%·baseBp + Σ_{(u,v)∈E} (85·r_k(u)) div (100·outdeg(u)).
    * All-long arithmetic with truncating division (Spark `div` ≡ DuckDB
    * `//` on non-negatives), so results are exactly reproducible. Output:
    * `(node, rank_bp)` for every node with ≥1 out-edge; run on an
    * `undirect` closure every such node also has in-mass, so no
    * dangling-mass redistribution term is needed (a node with out-edges but
    * no in-edges would keep only the 15% base — that is the documented
    * semantics, not a bug).
    *
    * `Stop.Converge` stops when the rank state REPEATS — an exact integer
    * fixpoint (period 1) or the period-2 oscillation truncating division
    * produces on some graphs (amplitude ~1 bp: floor-div alternately
    * over/under-shoots; a float engine would call both states "within
    * epsilon"). A pre-converged graph costs exactly one confirming round,
    * and the result ≡ `Stop.Rounds(rounds)` bit-for-bit.
    *
    * Scale shape: each round is one (edges ⋈ ranks) join keyed on src plus
    * one groupBy keyed on dst, the standard Pregel decomposition with
    * map-side partial aggregation on the contribution sum; the edge side is
    * built once by `degreeEdges`.
    */
  def pageRankBp(edges: DataFrame, stop: Stop,
                 baseBp: Long = 10000L): Iterated = {
    val (deg, withDeg) = degreeEdges(edges)
    Iterate.run("pageRankBp",
        deg.select(col("src").as("node"), lit(baseBp).as("rank_bp")),
        stop, Iterate.repeats(2, "node", "rank_bp"), deg, withDeg) { (ranks, _) =>
      inflow(withDeg, ranks).select(col("node"),
        (lit(baseBp * 15L / 100L) + col("_in")).as("rank_bp"))
    }
  }

  /** Rank setup shared by `pageRankBp` and `personalizedPageRankBp`: out
    * degrees (node-sized, cached) and the degree-annotated edges,
    * pre-shuffled and pre-sorted on src — the per-round join key — and
    * cached, so every round's sort-merge join reads the edge side with
    * zero exchange and zero sort. One eager pass fills both from a
    * temporary edge cache (the edge-build lineage may be expensive), which
    * is then dropped so only one edge-sized cache is held.
    */
  private def degreeEdges(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst")).persist(MEMORY_ONLY)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persist(MEMORY_ONLY)
    val withDeg = e.join(deg, "src")
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(MEMORY_ONLY)
    withDeg.count()
    e.unpersist()
    (deg, withDeg)
  }

  /** One round's walk mass `(node, _in)`: every ranked node sends
    * (85·rank) div (100·outdeg) along each out-edge, summed per target.
    */
  private def inflow(withDeg: DataFrame, ranks: DataFrame): DataFrame =
    withDeg.join(ranks, col("src") === col("node"))
      .select(col("dst"), expr("(85 * rank_bp) div (100 * outdeg)").as("_c"))
      .groupBy(col("dst")).agg(sum(col("_c")).as("_in"))
      .select(col("dst").as("node"), col("_in"))

  /** Jaccard link prediction over CANONICAL undirected edges (`a` < `b`,
    * distinct): every NON-adjacent pair sharing ≥1 neighbor scored by
    * |N(x)∩N(y)| / |N(x)∪N(y)| in floor basis points — the classic
    * common-neighbors recommender ("customers who bought these also
    * bought…", Liben-Nowell & Kleinberg 2003). Output: `(a, b, common,
    * score_bp)` for candidate pairs only.
    *
    * Scale shape: one wedge self-join keyed on the SHARED neighbor (the
    * trianglesPerNode join shape — candidate pairs are wedge-generated,
    * never all-pairs), one keyed count, an anti-join against the edge
    * set, two node-sized degree joins. Σdeg² bounds the wedge fan-out —
    * cap hub degrees upstream exactly as `basketPairs` caps baskets. The
    * edge input is localCheckpointed once: it feeds the symmetric view
    * twice plus the anti-join, and an expensive build lineage (the
    * basket self-join) must not replay per reference.
    */
  def linkPredictionJaccard(edges: DataFrame, a: String = "a",
                            b: String = "b"): DataFrame = {
    val e = edges.select(col(a).cast("long").as("_a"),
      col(b).cast("long").as("_b")).localCheckpoint()
    val sym = e.select(col("_a").as("w"), col("_b").as("n"))
      .unionByName(e.select(col("_b").as("w"), col("_a").as("n")))
    val deg = sym.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val wedges = sym.select(col("w"), col("n").as("x"))
      .join(sym.select(col("w"), col("n").as("y")), Seq("w"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
    wedges
      .join(e.select(col("_a").as("x"), col("_b").as("y")),
        Seq("x", "y"), "left_anti")
      .join(deg.select(col("n").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("n").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x").as(a), col("y").as(b), col("common"),
        expr("(common * 10000) div (dx + dy - common)").as("score_bp"))
  }

  /** Multi-source BFS hop distances over CANONICAL undirected edges
    * (`a` < `b`, distinct): every node within `stop.maxRounds` hops of a
    * SEED — the nodes whose undirected degree is ≥ `minSeedDegree` —
    * labeled with its exact hop distance to the NEAREST seed (0 for seeds
    * themselves). "How far is every item from a hub" is the
    * catalog-proximity feature recommender and coverage audits derive from
    * a co-occurrence graph; a fixed hop count keeps the trajectory finite
    * and lets a recursive-CTE oracle replay it exactly (min-dist is
    * reduction-order-independent). `Stop.Converge` stops once a round
    * reaches no new node.
    *
    * Scale shape: the symmetric adjacency is pre-shuffled and cached on
    * the frontier join key once (zero edge exchange per round); the state
    * is the visited set, and each round expands only its last frontier
    * (the rows at distance round−1): one keyed join + one distinct + one
    * anti-join against the visited set, all frontier/node-sized.
    */
  def bfsHops(edges: DataFrame, minSeedDegree: Int, stop: Stop,
              a: String = "a", b: String = "b"): Iterated = {
    require(minSeedDegree >= 1,
      s"minSeedDegree must be >= 1, got $minSeedDegree")
    val sym = symmetric(edges.select(col(a).cast("long").as("a"),
      col(b).cast("long").as("b")))
    Iterate.run("bfsHops", hubs(sym, minSeedDegree, "dist"), stop,
        Iterate.countStable, sym) { (visited, h) =>
      visited.unionByName(sym
        .join(visited.filter(col("dist") === h - 1).select(col("node")),
          col("a") === col("node"))
        .select(col("b").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("dist")))
    }
  }

  /** Every node of undirected degree ≥ `minSeedDegree`, with 0 in `value`. */
  private def hubs(sym: DataFrame, minSeedDegree: Int,
                   value: String): DataFrame =
    sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= minSeedDegree)
      .select(col("node"), lit(0L).as(value))

  /** Bellman-Ford relaxation over CANONICAL WEIGHTED undirected edges
    * (`a` < `b`, distinct, integer `weightCol` ≥ 0): cheapest total cost
    * from every node to its nearest degree-≥`minSeedDegree` hub, reachable
    * within `stop.maxRounds` relaxations. The weighted sibling of `bfsHops`
    * — hop count asks "how far", this asks "how expensive" under an edge
    * cost like `10000 div support` (strong co-purchase links are cheap to
    * traverse). All-long arithmetic and min() reductions, so the per-round
    * trajectory is reduction-order-FREE and an unrolled-CTE oracle replays
    * it exactly. `Stop.Converge` stops when no cost changes.
    *
    * Scale shape: the weighted symmetric adjacency is pre-shuffled and
    * cached on the relaxation join key once; each round is one keyed join
    * (reached ⋈ edges) + one min-aggregate over (previous ∪ candidates) —
    * node-sized exchanges only, edges never move after the build.
    */
  def minCostHops(edges: DataFrame, weightCol: String, minSeedDegree: Int,
                  stop: Stop, a: String = "a", b: String = "b"): Iterated = {
    require(minSeedDegree >= 1,
      s"minSeedDegree must be >= 1, got $minSeedDegree")
    val sym = symmetric(edges.select(col(a).cast("long").as("a"),
      col(b).cast("long").as("b"), col(weightCol).cast("long").as("w")))
    Iterate.run("minCostHops", hubs(sym, minSeedDegree, "cost"), stop,
        Iterate.repeats(1, "node", "cost"), sym) { (reached, _) =>
      reached.unionByName(sym.join(reached, col("a") === col("node"))
          .select(col("b").as("node"), (col("cost") + col("w")).as("cost")))
        .groupBy(col("node")).agg(min(col("cost")).as("cost"))
    }
  }

  /** k-core peeling over CANONICAL undirected edges (`a` < `b`, distinct):
    * each round drops every node whose degree in the CURRENT residual graph
    * is < `k`, plus all its edges. Output: `(node, degree)` for nodes still
    * present, with their residual degree — the standard density filter
    * (Seidman 1983); on a similarity graph the 2-core is the cycle-bound
    * clusters with pendant chains pruned (tight-cluster extraction, the
    * SemDeDup-style cohesion signal).
    *
    * `Stop.Rounds` lets an oracle replay the exact trajectory as unrolled
    * CTEs; it under-peels when the count is below the peel depth.
    * `Stop.Converge` peels until a round removes no edge: the true k-core.
    *
    * Scale shape: each round is one node-keyed degree count + two
    * edge-keyed semi-joins — edge-sized keyed shuffles, nothing collected.
    * The initial checkpoint doubles as the single materialization of a
    * possibly-expensive edge-build lineage (the kNN construction, for the
    * semantic-core query).
    */
  def kCore(edges: DataFrame, k: Int, stop: Stop,
            a: String = "a", b: String = "b"): Iterated = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(stop.maxRounds >= 1, s"rounds must be >= 1, got ${stop.maxRounds}")
    val r = Iterate.run("kCore", edges.select(col(a).cast("long").as("a"),
        col(b).cast("long").as("b")), stop, Iterate.countStable) { (e, _) =>
      val keep = endpointDegrees(e).filter(col("degree") >= k)
      e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
    }
    r.copy(out = endpointDegrees(r.out))
  }

  /** `(node, degree)` over the endpoints of an `(a, b)` edge list. */
  private def endpointDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node")).unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** PERSONALIZED PageRank (random walk with restart): teleportation goes
    * only to `seeds` instead of every node — rank becomes proximity TO
    * THE SEED SET, the standard "related items for THIS user/topic"
    * readout (Haveliwala, WWW '02). Same exact basis-point recurrence and
    * stop rules as `pageRankBp` (85/100 damping, truncating `div`), with
    * the per-round teleport mass `15%·baseBp` folded in through a FULL
    * OUTER merge, so non-seed nodes hold pure walk mass and unvisited nodes
    * hold exactly none.
    *
    * Scale shape: identical to `pageRankBp`, but the rank state starts
    * SEED-SIZED and grows with the walk frontier, never past the reachable
    * set — on a 100 TB graph a localized seed keeps every round's shuffle a
    * small fraction of node-sized. `seeds` must expose a `node` column.
    */
  def personalizedPageRankBp(edges: DataFrame, seeds: DataFrame, stop: Stop,
                             baseBp: Long = 10000L): Iterated = {
    val (deg, withDeg) = degreeEdges(edges)
    // node-sized at most, usually tiny; referenced every round (teleport)
    val seed = seeds.select(col("node")).distinct().persist(MEMORY_ONLY)
    val teleport = seed.select(col("node"), lit(baseBp * 15L / 100L).as("_t"))
    Iterate.run("personalizedPageRankBp",
        seed.select(col("node"), lit(baseBp).as("rank_bp")), stop,
        Iterate.repeats(2, "node", "rank_bp"), deg, withDeg, seed) { (ranks, _) =>
      inflow(withDeg, ranks).join(teleport, Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("_in"), lit(0L)) + coalesce(col("_t"), lit(0L)))
            .as("rank_bp"))
    }
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"): every node labeled with its component's MINIMUM id —
    * value-identical to `connectedComponents`, but the round count is
    * O(log² n) in the worst case (typically ≤ 5 in practice) instead of
    * O(diameter) for plain min-label propagation. On a 100 TB graph whose
    * components can be long chains (web graphs, similarity graphs near
    * the percolation threshold), diameter-bounded propagation is the
    * scale killer this variant removes.
    *
    * Each round is two keyed passes, both edge-sized shuffles with
    * node-sized min side-tables — nothing collected, no driver union-find:
    *  - large-star: per node u, m = min(Γ(u) ∪ {u}); every STRICTLY
    *    LARGER neighbor v > u re-links to (v, m);
    *  - small-star: orient every edge toward its smaller endpoint, then
    *    per node u (now larger than all its neighbors), m = min(Γ(u));
    *    emit (v, m) for v ∈ Γ(u) ∪ {u} \ {m}.
    * Both emit strictly larger→smaller pairs, so no self-loops survive;
    * the fixpoint is a min-rooted star forest, detected by a repeated
    * state (a min-rooted star forest is invariant under BOTH transforms,
    * so a pre-converged input costs exactly one confirming round).
    * Callers that warn on non-convergence must branch on `converged`, not
    * on `rounds == maxRounds`: a fixpoint confirmed on the last allowed
    * round is a success.
    */
  def twoStarComponents(edges: DataFrame, stop: Stop = Stop.Converge(20),
                        a: String = "a", b: String = "b"): Iterated = {
    require(stop.maxRounds >= 1, s"maxRounds must be >= 1, got ${stop.maxRounds}")
    val raw = edges.select(col(a).cast("long").as("u"),
      col(b).cast("long").as("v"))
    // nodes from the UNFILTERED list: a self-loop-only node still gets a
    // (node, node) label, as in connectedComponents
    val nodes = raw.select(col("u").as("node"))
      .unionByName(raw.select(col("v").as("node")))
      .distinct().localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("_mn"), col("u")).as("_m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = or.groupBy(col("u")).agg(min(col("v")).as("_m"))
      or.join(mins, "u").filter(col("v") =!= col("_m"))
        .select(col("v").as("u"), col("_m").as("v"))
        .unionByName(mins.select(col("u"), col("_m").as("v")))
        .distinct()
    }

    val r = Iterate.run("twoStarComponents",
        raw.filter(col("u") =!= col("v")).distinct(), stop,
        Iterate.repeats(1, "u", "v")) { (e, _) => smallStar(largeStar(e)) }
    r.copy(out = nodes.join(
        r.out.select(col("u").as("node"), col("v").as("_c")), Seq("node"), "left")
      .select(col("node"), coalesce(col("_c"), col("node")).as("component")))
  }

  /** Per-edge triangle support over a CANONICAL (a < b) edge set: one
    * wedge equi-join + one closing equi-join (never a nested loop), each
    * triangle found once at a < b < c and credited to its three edges by
    * one keyed count. Shared by `kTrussEdges`' rounds and its final
    * readout.
    */
  private def triangleSupport(e: DataFrame): DataFrame = {
    val tri = e.as("p").join(e.as("q"),
        col("q.a") === col("p.a") && col("q.b") > col("p.b"))
      .join(e.as("r"),
        col("r.a") === col("p.b") && col("r.b") === col("q.b"))
      .select(col("p.a").as("x"), col("p.b").as("y"), col("q.b").as("z"))
    tri.select(col("x").as("a"), col("y").as("b"))
      .unionByName(tri.select(col("x").as("a"), col("z").as("b")))
      .unionByName(tri.select(col("y").as("a"), col("z").as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** k-truss (Cohen 2008; distributed peeling per Wang & Cheng,
    * VLDB '12): the maximal subgraph where every edge closes ≥ k−2
    * triangles WITHIN the subgraph — the cohesive-community mining step
    * a raw triangle count only approximates (an edge can sit in many
    * triangles whose OTHER edges are themselves weak; the truss condition
    * is mutual). Iterative peeling: per round, per-edge triangle support
    * over the CURRENT edge set (two keyed equi-joins + one keyed count —
    * edge-sized shuffles, wedge fan-out bounded by the canonical
    * ordering), drop edges under k−2. `Stop.Converge` stops at the
    * fixpoint (edge COUNT equality suffices — peeling only removes) or
    * when the set empties. Peeling converges in O(edges) rounds worst-case
    * but in practice a handful; extra rounds at the fixpoint are
    * identities, so a fixed-round oracle unroll ≥ the realized count
    * replays exactly.
    *
    * Returns the truss edges with their support inside the final set
    * (edges whose support fell to zero in a non-converged final set drop
    * on both engines — inner join).
    */
  def kTrussEdges(edges: DataFrame, k: Int, stop: Stop = Stop.Converge(6),
                  a: String = "a", b: String = "b"): Iterated = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(stop.maxRounds >= 1, s"maxRounds must be >= 1, got ${stop.maxRounds}")
    val minSup = (k - 2).toLong
    val r = Iterate.run("kTrussEdges", edges
        .select(least(col(a), col(b)).as("a"), greatest(col(a), col(b)).as("b"))
        .filter(col("a") < col("b")).distinct(),
        stop, Iterate.countStableOrEmpty) { (e, _) =>
      e.join(triangleSupport(e), Seq("a", "b"))
        .filter(col("support") >= minSup)
        .select(col("a"), col("b"))
    }
    r.copy(out = r.out.join(triangleSupport(r.out), Seq("a", "b"))
      .select(col("a"), col("b"), col("support")))
  }
}
