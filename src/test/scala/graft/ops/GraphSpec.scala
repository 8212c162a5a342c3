package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  import spark.implicits._
  import org.apache.spark.sql.graftbridge.ColumnBridge

  // independent reference: textbook synchronous LPA, ties to min label
  private def refLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lbl = nbrs.keys.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      lbl = nbrs.map { case (n, ns) =>
        val counts = ns.map(lbl).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  // independent reference: basis-point PageRank over directed `edges`,
  // every rank on the driver — r0 = base on every source, then
  // 15%·base + Σ (85·r(u)) div (100·outdeg(u)) over the in-edges
  private def refPageRankBp(edges: Seq[(Long, Long)], iters: Int,
                            baseBp: Long = 10000L): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    var r = outdeg.map { case (u, _) => u -> baseBp }
    (1 to iters).foreach { _ =>
      r = edges.filter(e => r.contains(e._1)).groupBy(_._2).map {
        case (v, in) => v -> (baseBp * 15 / 100 +
          in.map { case (u, _) => (85 * r(u)) / (100 * outdeg(u)) }.sum)
      }
    }
    r
  }

  test("pageRankBp matches the hand-computed recurrence on a path graph") {
    // a—b—c undirected: deg(a)=deg(c)=1, deg(b)=2, r0=10000 everywhere.
    // iter1: a,c = 1500 + (85*10000) div 200 = 5750
    //        b   = 1500 + 8500 + 8500       = 18500
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val und = Graph.undirect(edges)
    assert(und.count() == 4)
    val r1 = Graph.pageRankBp(und, Stop.Rounds(1)).out
      .as[(String, Long)].collect().toMap
    assert(r1 == Map("a" -> 5750L, "b" -> 18500L, "c" -> 5750L))
    // iter2 from r1: a,c = 1500 + (85*18500) div 200 = 1500 + 7862 = 9362
    //               b    = 1500 + 2*((85*5750) div 100) = 1500+2*4887 = 11274
    val r2 = Graph.pageRankBp(und, Stop.Rounds(2)).out
      .as[(String, Long)].collect().toMap
    assert(r2 == Map("a" -> 9362L, "b" -> 11274L, "c" -> 9362L))
    // lifecycle: the catalog's 3-round call leaves no cached frame behind
    spark.catalog.clearCache() // isolate OUR call's cache lifecycle
    val r3 = Graph.pageRankBp(und, Stop.Rounds(3))
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "pageRankBp(3 rounds) must unpersist deg/withDeg on exit")
    assert(r3.rounds == 3 && !r3.converged)
  }

  test("personalizedPageRankBp: hand recurrence, teleport only to seeds, " +
      "unreached components absent, partition-invariant") {
    // directed 1→2, 2→{1,3}; disjoint 4→5 never reached. seed = {1}.
    // r0 = {1: 10000}
    // iter1: 1(outdeg 1) sends (85·10000) div 100 = 8500 to 2;
    //        teleport 1500 to 1 → {1: 1500, 2: 8500}
    // iter2: 1 sends (85·1500) div 100 = 1275 to 2;
    //        2(outdeg 2) sends (85·8500) div 200 = 3612 to 1 and 3
    //        → {1: 1500 + 3612 = 5112, 2: 1275, 3: 3612}
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    def run(e: org.apache.spark.sql.DataFrame, it: Int) =
      Graph.personalizedPageRankBp(e, seeds, Stop.Rounds(it)).out
        .as[(Long, Long)].collect().toMap
    assert(run(edges, 0) == Map(1L -> 10000L))
    assert(run(edges, 1) == Map(1L -> 1500L, 2L -> 8500L))
    val want2 = Map(1L -> 5112L, 2L -> 1275L, 3L -> 3612L)
    assert(run(edges, 2) == want2)
    assert(run(edges.repartition(5), 2) == want2, "partitioning moved mass")
    // run until the rank state repeats: ≡ the fixed-round form at that count
    val Iterated(fix, n, ok) =
      Graph.personalizedPageRankBp(edges, seeds, Stop.Converge(100))
    assert(ok && n < 100, s"expected a repeated state, got ($n, $ok)")
    assert(fix.as[(Long, Long)].collect().toMap == run(edges, n))
    // an isolated seed (no out-edges from anyone to or from it) holds
    // exactly the teleport mass after any round
    assert(Graph.personalizedPageRankBp(edges, Seq(9L).toDF("node"), Stop.Rounds(3))
      .out.as[(Long, Long)].collect().toMap == Map(9L -> 1500L))
    // lifecycle: the catalog's 3-round calls leave zero retained caches
    // (no withDeg/seed MEMORY_ONLY frames left in the session)
    spark.catalog.clearCache() // isolate OUR call's cache lifecycle
    Graph.personalizedPageRankBp(edges, seeds, Stop.Rounds(3)).out.collect()
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "personalizedPageRankBp must retain no cached frames")
  }

  test("pageRankBp zero iterations returns the uniform base and keeps nodes") {
    val und = Graph.undirect(Seq((1L, 2L), (2L, 3L), (4L, 4L)).toDF("src", "dst"))
    val r0 = Graph.pageRankBp(und, Stop.Rounds(0)).out.as[(Long, Long)].collect().toMap
    assert(r0 == Map(1L -> 10000L, 2L -> 10000L, 3L -> 10000L, 4L -> 10000L))
  }

  test("undirect dedupes reciprocal and repeated edges") {
    val e = Seq(("x", "y"), ("y", "x"), ("x", "y")).toDF("src", "dst")
    assert(Graph.undirect(e).count() == 2)
  }

  test("connectedComponents: min-id labels, driver and distributed paths agree") {
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (7L, 7L))
      .toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 7L -> 7L)
    val driver = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(driver == want)
    // driverMaxPairs = 0 forces the distributed min-label propagation path
    val dist = Graph.connectedComponents(edges, driverMaxPairs = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == want)
  }

  test("trianglesPerNode: K4 + pendant + disjoint triangle, each counted once") {
    // K4 on 1-4 (4 triangles, every vertex on 3), pendant 5 hanging off 1
    // (on none), disjoint triangle 6-7-8 (each vertex on 1).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (6L, 7L), (6L, 8L), (7L, 8L)).toDF("a", "b")
    val got = Graph.trianglesPerNode(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      6L -> 1L, 7L -> 1L, 8L -> 1L))
  }

  test("clusteringCoefficientBp: K4 + pendant + disjoint triangle by hand") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (6L, 7L), (6L, 8L), (7L, 8L)).toDF("a", "b")
    val got = Graph.clusteringCoefficientBp(edges)
      .select(col("node"), col("degree"), col("triangles"), col("coeff_bp"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // node 1: deg 4, 3 triangles → 20000·3/12 = 5000
    assert(got(1L) == ((4L, 3L, 5000L)))
    // nodes 2-4: deg 3, 3 triangles → 20000·3/6 = 10000 (full clique locally)
    Seq(2L, 3L, 4L).foreach(n => assert(got(n) == ((3L, 3L, 10000L))))
    // pendant 5: degree 1 → coefficient 0 by convention
    assert(got(5L) == ((1L, 0L, 0L)))
    // triangle 6-8: deg 2, 1 triangle → 20000/2 = 10000
    Seq(6L, 7L, 8L).foreach(n => assert(got(n) == ((2L, 1L, 10000L))))
  }

  test("trianglesPerNode: triangle-free graphs return no rows") {
    // path + star: wedges exist everywhere, but none close.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a", "b")
    assert(Graph.trianglesPerNode(edges).count() == 0)
  }

  test("trianglesPerNode matches the definitional triple join on a seeded graph") {
    // Deterministic pseudo-random graph: nodes 0-19, edge (i,j) iff
    // md5-ish mix of (i,j) hits — here a fixed arithmetic predicate dense
    // enough (~1/3) to give a varied degree sequence with hub skew.
    val pairs = for {
      i <- 0L until 20L; j <- (i + 1) until 20L
      if (i * 7 + j * 13 + i * j) % 3 == 0
    } yield (i, j)
    val edges = pairs.toDF("a", "b")
    val got = Graph.trianglesPerNode(edges)
      .as[(Long, Long)].collect().toMap
    // definitional: x<y<z with all three canonical edges present
    val es = pairs.toSet
    val tris = for {
      (x, y) <- pairs; z <- (y + 1) until 20L
      if es.contains((y, z)) && es.contains((x, z))
    } yield (x, y, z)
    val want = tris.flatMap { case (x, y, z) => Seq(x, y, z) }
      .groupBy(identity).map { case (n, occ) => n -> occ.size.toLong }
    assert(tris.nonEmpty && got == want)
  }

  test("labelPropagation: splits bridged triangles that components merge; matches reference") {
    // two triangles joined by one bridge: ONE connected component, but LPA
    // should settle on a label per triangle
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 5L),
      (5L, 6L), (5L, 7L), (6L, 7L))
    spark.catalog.clearCache() // isolate OUR call's cache lifecycle
    val got = Graph.labelPropagation(pairs.toDF("a", "b"), Stop.Rounds(4), "a", "b")
      .out.as[(Long, Long)].collect().toMap
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "labelPropagation(4 rounds) must unpersist its edge cache on exit")
    assert(got == refLpa(pairs, 4))
    // the two triangles carry different labels; each is internally uniform
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(5L) == got(6L) && got(6L) == got(7L))
    assert(got(1L) != got(5L))
    // while connectedComponents sees a single component
    val comps = Graph.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().map(_._2).distinct
    assert(comps.length == 1)
  }

  test("deep-iteration lifecycle: iters=16 truncates lineage and drops caches") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // two triangles + a bridge + an isolated pair — enough structure that
    // 16 synchronous rounds exercise real label/rank movement
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 5L),
      (5L, 6L), (5L, 7L), (6L, 7L), (8L, 9L))
    val pairs = edgeList.toDF("a", "b")
    val und = Graph.undirect(pairs.select(col("a").as("src"),
      col("b").as("dst")))
    spark.catalog.clearCache()

    val lpaDeep = Graph.labelPropagation(pairs, Stop.Rounds(16), "a", "b").out
    // caches dropped the moment the call returns (result is materialized)
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "labelPropagation(iters=16) must unpersist its edge cache on exit")
    // bounded plan depth: the returned frame reads materialized rows — no
    // 16-round join lineage to re-optimize or recover through
    assert(lpaDeep.queryExecution.analyzed.collect {
      case j: Join => j }.isEmpty,
      "deep LPA result must be checkpoint-backed, not a 16-round join plan")
    // checkpointing is a lifecycle change, never a semantic one: the
    // 16-round trajectories equal the naive driver-side recurrences
    assert(lpaDeep.as[(Long, Long)].collect().toMap == refLpa(edgeList, 16))

    spark.catalog.clearCache()
    val prDeep = Graph.pageRankBp(und, Stop.Rounds(16)).out
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "pageRankBp(iters=16) must unpersist deg/withDeg on exit")
    assert(prDeep.queryExecution.analyzed.collect {
      case j: Join => j }.isEmpty,
      "deep PageRank result must be checkpoint-backed")
    assert(prDeep.as[(Long, Long)].collect().toMap ==
      refPageRankBp((edgeList ++ edgeList.map(_.swap)).distinct, 16))
  }

  test("linkPredictionJaccard: hand scores, edges excluded, wedge-only pairs") {
    // triangle {1,2,3} + pendant 3—4: candidate non-edges are (1,4) and
    // (2,4), each sharing only neighbor 3: common 1, deg 2 vs 1 →
    // Jaccard 1/2 → 5000 bp. (1,2)/(1,3)/(2,3) are EDGES → excluded;
    // no wedge reaches any other pair.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Graph.linkPredictionJaccard(und)
      .select(col("a"), col("b"), col("common"), col("score_bp"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 4L, 1L, 5000L), (2L, 4L, 1L, 5000L)))
    // square 1-2-3-4-1: both diagonals share BOTH their neighbors —
    // common 2 over union 2 → perfect 10000 bp
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val diag = Graph.linkPredictionJaccard(sq)
      .select(col("a"), col("b"), col("score_bp"))
      .as[(Long, Long, Long)].collect().toSet
    assert(diag == Set((1L, 3L, 10000L), (2L, 4L, 10000L)))
  }

  test("bfsHops: min-dist to nearest seed, hop cap, unreachable excluded") {
    // Star hub 1 (degree 4) + chain 1—2—6—7—8 off a spoke + disjoint
    // edge 10—11. Seeds at minSeedDegree=3: only node 1.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 6L),
      (6L, 7L), (7L, 8L), (10L, 11L)).toDF("a", "b")
    def bfs(minDeg: Int, hops: Int) =
      Graph.bfsHops(und, minDeg, Stop.Rounds(hops)).out
        .as[(Long, Long)].collect().toMap
    assert(bfs(3, 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 2L))
    // hop cap binds: 7 appears at maxHops=3, 8 at 4; 10/11 never (their
    // component has no seed)
    assert(bfs(3, 4) == bfs(3, 2) ++ Map(7L -> 3L, 8L -> 4L))
    // multi-source: every degree>=2 node is a seed; non-seeds take the
    // MIN distance over all seeds
    assert(bfs(2, 1) == Map(1L -> 0L, 2L -> 0L, 6L -> 0L, 7L -> 0L,
      3L -> 1L, 4L -> 1L, 5L -> 1L, 8L -> 1L))
    // maxHops=0 returns exactly the seed set
    assert(bfs(3, 0) == Map(1L -> 0L))
    // run to the fixpoint: hop 4 reaches 8, hop 5 reaches nothing new
    val Iterated(all, n, ok) = Graph.bfsHops(und, 3, Stop.Converge(10))
    assert(n == 5 && ok, s"expected 5 rounds, converged; got ($n, $ok)")
    assert(all.as[(Long, Long)].collect().toMap == bfs(3, 4))
    // lifecycle: edge cache dropped on exit, result reads materialized
    // frontier rounds (no per-round join lineage to re-optimize)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    spark.catalog.clearCache()
    val out = Graph.bfsHops(und, 3, Stop.Rounds(4)).out
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "bfsHops must unpersist its adjacency cache on exit")
    assert(out.queryExecution.analyzed.collect { case j: Join => j }.isEmpty,
      "bfsHops result must be checkpoint-backed, not a per-round join plan")
  }

  test("minCostHops: cheap multi-hop path beats expensive direct edge, " +
      "round truncation, seedless components absent") {
    // Hub 1 (degree 4). Node 6 is reachable directly for 100 or via the
    // cheap chain 1—2—5—6 for 10+1+1=12 — but the chain needs 3
    // relaxations. Disjoint edge 8—9 has no seed.
    val und = Seq((1L, 2L, 10L), (1L, 3L, 10L), (1L, 4L, 10L),
      (2L, 5L, 1L), (5L, 6L, 1L), (1L, 6L, 100L), (8L, 9L, 5L))
      .toDF("a", "b", "w")
    def run(rounds: Int) =
      Graph.minCostHops(und, "w", 3, Stop.Rounds(rounds)).out
        .as[(Long, Long)].collect().toMap
    assert(run(0) == Map(1L -> 0L))
    assert(run(2) == Map(1L -> 0L, 2L -> 10L, 3L -> 10L, 4L -> 10L,
      6L -> 100L, 5L -> 11L))
    // third relaxation: the chain undercuts the direct edge
    assert(run(3) == Map(1L -> 0L, 2L -> 10L, 3L -> 10L, 4L -> 10L,
      6L -> 12L, 5L -> 11L))
    assert(run(4) == run(3)) // converged
    // run to the fixpoint: round 4 changes no cost and confirms it
    val Iterated(fix, n, ok) = Graph.minCostHops(und, "w", 3, Stop.Converge(10))
    assert(n == 4 && ok, s"expected 4 rounds, converged; got ($n, $ok)")
    assert(fix.as[(Long, Long)].collect().toMap == run(3))
    // lifecycle: cache dropped, result checkpoint-backed
    import org.apache.spark.sql.catalyst.plans.logical.Join
    spark.catalog.clearCache()
    val out = Graph.minCostHops(und, "w", 3, Stop.Rounds(3)).out
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "minCostHops must unpersist its adjacency cache on exit")
    assert(out.queryExecution.analyzed.collect { case j: Join => j }.isEmpty,
      "minCostHops result must be checkpoint-backed")
  }

  test("kCore: hand-traced peel cascade, round truncation, convergence") {
    // triangle {1,2,3} + pendant chain 3—4—5 + isolated edge 6—7
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L)).toDF("a", "b")
    def core(k: Int, rounds: Int) =
      Graph.kCore(und, k, Stop.Rounds(rounds)).out
        .as[(Long, Long)].collect().toMap
    // k=2 round 1 drops 5, 6, 7 (degree 1); round 2 drops 4 (its degree
    // FELL to 1 when 5 left — the cascade); round 3 is stable
    assert(core(2, 1) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    assert(core(2, 3) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // converged: extra rounds change nothing
    assert(core(2, 4) == core(2, 3))
    // k=1 keeps every non-isolated node; k=3 empties this graph
    assert(core(1, 2).keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(core(3, 2).isEmpty)
    // lifecycle: checkpoint-only rounds leave no cached frame behind
    spark.catalog.clearCache()
    Graph.kCore(und, 2, Stop.Rounds(3)).out.collect()
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "kCore must retain no cached frames")
  }

  test("pageRankBpConverged: pre-converged graph exits in one round; " +
      "oscillating graph stops early; result ≡ fixed-round form") {
    // symmetric pair: r1 = 1500 + 8500 = 10000 = r0 → one confirming round
    val pair = Graph.undirect(Seq(("a", "b")).toDF("src", "dst"))
    val Iterated(pr, n, ok) = Graph.pageRankBp(pair, Stop.Converge(50))
    assert(n == 1 && ok)
    assert(pr.as[(String, Long)].collect().toMap ==
      Map("a" -> 10000L, "b" -> 10000L))
    // path graph: truncating division settles into a period-2 cycle
    // (never an exact fixpoint) — the signature check must still stop it
    // well before maxIters, and the result must be EXACTLY what the
    // fixed-round form computes for that many rounds
    val path = Graph.undirect(Seq(("a", "b"), ("b", "c")).toDF("src", "dst"))
    spark.catalog.clearCache() // isolate OUR call's cache lifecycle
    val Iterated(pr2, n2, _) = Graph.pageRankBp(path, Stop.Converge(200))
    assert(n2 < 100, s"oscillation not detected: ran $n2 rounds")
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "converged PR must unpersist its edge/degree caches on exit")
    assert(pr2.as[(String, Long)].collect().toMap ==
      Graph.pageRankBp(path, Stop.Rounds(n2)).out.as[(String, Long)].collect().toMap)
  }

  test("labelPropagationConverged: triangle reaches a fixpoint; a single " +
      "edge ping-pongs and is cycle-detected; result ≡ fixed-round form") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val Iterated(lp, n, _) =
      Graph.labelPropagation(tri, Stop.Converge(50), "a", "b")
    assert(n < 10)
    assert(lp.as[(Long, Long)].collect().toMap == Graph.labelPropagation(
      tri, Stop.Rounds(n), "a", "b").out.as[(Long, Long)].collect().toMap)
    // one edge: labels swap every round (synchronous-LPA ping-pong)
    val edge = Seq((1L, 2L)).toDF("a", "b")
    spark.catalog.clearCache() // isolate OUR call's cache lifecycle
    val Iterated(lp2, n2, _) =
      Graph.labelPropagation(edge, Stop.Converge(50), "a", "b")
    // round 1 swaps, round 2 swaps back to the initial state — the
    // signature matches two-rounds-ago and the cycle is caught at round 2
    assert(n2 == 2, s"period-2 swap should be caught at round 2, ran $n2")
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "converged LPA must unpersist its edge cache on exit")
    assert(lp2.as[(Long, Long)].collect().toMap == Graph.labelPropagation(
      edge, Stop.Rounds(n2), "a", "b").out.as[(Long, Long)].collect().toMap)
  }

  test("kCoreConverged: peels to the TRUE core (fixed-round under-peels), " +
      "reports the peel depth, and stops on the confirming round") {
    // chain 1-2-3-4-5 at k=2: ends peel in cascades → empty core;
    // round 1 drops (1,2),(4,5); round 2 drops (2,3),(3,4); round 3 confirms
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val Iterated(c1, r1, _) = Graph.kCore(chain, 2, Stop.Converge(10))
    assert(r1 == 3 && c1.isEmpty)
    // fixed-round form with rounds=1 under-peels the same graph
    assert(Graph.kCore(chain, 2, Stop.Rounds(1)).out.count() > 0)
    // triangle + tail at k=2: tail drops round 1, round 2 confirms
    val triTail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val Iterated(c2, r2, _) = Graph.kCore(triTail, 2, Stop.Converge(10))
    assert(r2 == 2)
    assert(c2.as[(Long, Long)].collect().toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("twoStarComponents: min-id labels ≡ connectedComponents, self-loops " +
      "kept, and a long chain resolves in far fewer rounds than its diameter") {
    // same fixture as the connectedComponents test, incl. the (7,7) loop
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (7L, 7L)).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      7L -> 7L)
    assert(Graph.twoStarComponents(edges).out
      .as[(Long, Long)].collect().toMap == want)

    // 64-node path: diameter 63 (min-label propagation needs ~63 rounds);
    // two-star pointer-doubling collapses it in O(log) rounds
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val Iterated(labels, n, _) = Graph.twoStarComponents(chain)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (1L to 64L).map(_ -> 1L).toMap)
    assert(n <= 10, s"expected O(log n) rounds on the chain, got $n")
    assert(n >= 2, s"a 64-chain cannot converge in $n round(s)")

    // ≡ the independent driver union-find on a mixed graph (chain + star
    // + 2 components) — driverMaxPairs high keeps union-find on that path
    val mixed = (Seq((5L, 9L), (9L, 2L), (2L, 17L), (40L, 41L), (40L, 42L),
      (40L, 43L), (100L, 101L)) ++ (1L until 20L).map(i => (200L + i, 201L + i)))
      .toDF("a", "b")
    val viaTwoStar = Graph.twoStarComponents(mixed).out
      .as[(Long, Long)].collect().toMap
    val viaUnionFind = Graph.connectedComponents(mixed)
      .as[(Long, Long)].collect().toMap
    assert(viaTwoStar == viaUnionFind)
    // the deep-chain part above is EXACT on the distributed engine too —
    // the shape the old min-label propagation silently under-converged on
    // (diameter 19 > its 12-round cap); two-star is never diameter-bounded
    assert(Graph.connectedComponents(mixed, driverMaxPairs = 0L)
      .as[(Long, Long)].collect().toMap == viaUnionFind)
    // lifecycle: clear residue from OTHER ops first (suite order), then
    // prove twoStar itself retains nothing (localCheckpoint-only rounds)
    spark.catalog.clearCache()
    Graph.twoStarComponents(mixed).out.collect()
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "twoStarComponents must retain no cached frames")
  }

  test("twoStarComponents: a pre-converged star forest costs exactly one " +
      "confirming round; maxRounds truncation surfaces partial state") {
    // already a min-rooted star forest: invariant under both transforms
    val stars = Seq((2L, 1L), (3L, 1L), (9L, 8L)).toDF("a", "b")
    val Iterated(labels, n, _) = Graph.twoStarComponents(stars)
    assert(n == 1, s"pre-converged star forest took $n rounds")
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
    // truncation at maxRounds=1 on a chain: loop obeys the cap
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("a", "b")
    assert(Graph.twoStarComponents(chain, Stop.Converge(1)).rounds == 1)
  }

  test("twoStarComponentsWithStatus: converged distinguishes a fixpoint " +
      "confirmed ON the final allowed round from a genuine cap cut") {
    // pre-converged star forest with maxRounds=1: the single allowed round
    // IS the confirming round — converged must be true (rounds==maxRounds
    // alone would falsely read as a cap cut, the old warning's bug)
    val stars = Seq((2L, 1L), (3L, 1L), (9L, 8L)).toDF("a", "b")
    val Iterated(labels, r, ok) =
      Graph.twoStarComponents(stars, Stop.Converge(1))
    assert(r == 1 && ok, s"expected confirmed-on-last-round, got ($r, $ok)")
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
    // genuinely cut short: a 16-chain cannot confirm in one round
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("a", "b")
    val Iterated(_, r1, ok1) = Graph.twoStarComponents(chain, Stop.Converge(1))
    assert(r1 == 1 && !ok1, s"expected cap cut, got ($r1, $ok1)")
    // and with room to run, the same chain converges with ok=true
    val Iterated(_, r2, ok2) = Graph.twoStarComponents(chain)
    assert(ok2 && r2 >= 2, s"expected confirmed fixpoint, got ($r2, $ok2)")
  }

  private def trussSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSet

  test("kTrussEdges: 4-clique survives k=4, lone triangle peels; the " +
      "bowtie's shared edge dies in the CASCADE round") {
    // 4-clique on 1..4; lone triangle 10-11-12; pendant 20-21;
    // bowtie: triangles 30-31-32 and 31-32-33 sharing edge (31,32)
    val clique = for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j)
    val tri = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val bowtie = Seq((30L, 31L), (30L, 32L), (31L, 32L), (31L, 33L), (32L, 33L))
    val edges = (clique ++ tri ++ Seq((20L, 21L)) ++ bowtie).toDF("a", "b")
    // k=4: every 4-clique edge closes exactly 2 triangles and survives;
    // the triangle's and bowtie's outer edges close 1 and die round 1;
    // the bowtie's shared edge (31,32) closed 2 ROUND-1 triangles but
    // loses both partners — the cascade must kill it in round 2
    spark.catalog.clearCache() // isolate OUR call's cache lifecycle
    val k4 = trussSet(Graph.kTrussEdges(edges, 4).out)
    assert(ColumnBridge.sqlCacheIsEmpty(spark),
      "kTrussEdges must retain no cached frames")
    assert(k4.map(e => (e._1, e._2)) == clique.toSet)
    assert(k4.forall(_._3 == 2L))
    // k=3: both triangles and the bowtie survive; the pendant never does
    val k3 = trussSet(Graph.kTrussEdges(edges, 3).out)
    assert(k3.map(e => (e._1, e._2)) ==
      (clique ++ tri ++ bowtie).toSet)
    assert(!k3.exists(e => e._1 == 20L))
    // clique edges in the k3 truss still report their in-set support (2)
    assert(k3.filter(e => e._1 <= 4L).forall(_._3 == 2L))
  }

  test("kTrussEdges: maxRounds truncation reports in-set support of the " +
      "TRUNCATED set; symmetric/dup input canonicalized") {
    val bowtie = Seq((30L, 31L), (30L, 32L), (31L, 32L), (31L, 33L),
      (32L, 33L), (31L, 30L), (30L, 31L)) // reversed + dup rows
    val edges = bowtie.toDF("a", "b")
    // one round at k=4 leaves only the shared edge; its in-set support
    // is 0 → the final readout drops it (documented inner-join contract)
    assert(trussSet(Graph.kTrussEdges(edges, 4, Stop.Converge(1)).out).isEmpty)
    // canonicalization: reversed/duplicate rows don't inflate support
    val k3 = trussSet(Graph.kTrussEdges(edges, 3).out)
    assert(k3.size == 5 && k3.filter(e => (e._1, e._2) == (31L, 32L))
      .head._3 == 2L)
  }

  test("kTrussEdgesWithStatus: truncated vs converged peels are " +
      "OBSERVABLE, not inferred from support values") {
    // the bowtie at k=4 needs 3 rounds to confirm the empty fixpoint:
    // round 1 kills the outer edges, round 2 the cascaded shared edge,
    // round 3 confirms (0 == 0 short-circuits via m == 0 in round 2)
    val bowtie = Seq((30L, 31L), (30L, 32L), (31L, 32L), (31L, 33L),
      (32L, 33L)).toDF("a", "b")
    val Iterated(_, r1, ok1) = Graph.kTrussEdges(bowtie, 4, Stop.Converge(1))
    assert(r1 == 1 && !ok1, s"expected cap cut, got ($r1, $ok1)")
    val Iterated(out, r2, ok2) = Graph.kTrussEdges(bowtie, 4)
    assert(ok2 && r2 >= 2, s"expected confirmed fixpoint, got ($r2, $ok2)")
    assert(trussSet(out).isEmpty)
    // an input with no canonical edge (self-loops only) is already the
    // empty fixpoint: zero rounds, converged
    val Iterated(none, r0, ok0) =
      Graph.kTrussEdges(Seq((7L, 7L)).toDF("a", "b"), 3)
    assert(r0 == 0 && ok0 && trussSet(none).isEmpty, s"got ($r0, $ok0)")
    // a stable truss confirms on the round that removes nothing — a
    // fixpoint confirmed exactly on the last allowed round is converged
    val clique = (for { i <- 1L to 4L; j <- (i + 1) to 4L }
      yield (i, j)).toDF("a", "b")
    val Iterated(k4, rc, okc) = Graph.kTrussEdges(clique, 4, Stop.Converge(1))
    assert(rc == 1 && okc, s"expected confirmed-on-last-round, got ($rc, $okc)")
    assert(trussSet(k4).size == 6 && trussSet(k4).forall(_._3 == 2L))
  }
}
