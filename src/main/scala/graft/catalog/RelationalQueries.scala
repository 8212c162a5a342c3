package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Exact, Quality, Relational, Sketch, Stop}
import graft.tables.Tables.load

/** The relational query surface: scans, filters, projections, the full join
  * family, aggregation (incl. rollup/cube/grouping sets), windows, sorts and
  * set ops — SURVEY §2.2, §2.4-2.6. Names follow SURVEY §2's operator keys.
  *
  * Scale notes inline per query; the common ones: joins against `region` /
  * `nation` / a VALUES bucket table are explicitly `broadcast()` (no shuffle
  * of the fact side), aggregates are partial+final by construction, and
  * filters/projections sit directly on the scan so Catalyst pushes them into
  * the Parquet reader. All money aggregation uses `graft.ops.Exact` cent
  * arithmetic — order-independent and bit-identical to the DuckDB oracle.
  */
object RelationalQueries extends Catalog {

  // Oracle-SQL textual twins of graft.ops.Exact (kept here, next to use).
  private val C = "CAST(round(%s * 100) AS BIGINT)" // cents(x)
  private def cents(x: String) = C.format(x)
  private val RevUnits = s"(${cents("l_extendedprice")} * (100 - ${cents("l_discount")}))"

  /** Shared by agg_percentiles_by AND agg_percentiles_incremental — the
    * merged-frequency-state refresh is checked against the SAME
    * full-recompute nearest-rank SQL (see Relational.percentileState).
    */
  private val PctByOracle =
    s"""WITH f AS (
       |  SELECT o_orderpriority, ${cents("o_totalprice")} AS v, count(*) AS c
       |  FROM orders GROUP BY 1, 2),
       |cum AS (
       |  SELECT o_orderpriority, v, c,
       |    sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS hi,
       |    sum(c) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM f)
       |SELECT o_orderpriority, q::DOUBLE AS quantile, v::DOUBLE / 100.0 AS price
       |FROM cum, (SELECT unnest([0.5, 0.9]) AS q) qs
       |WHERE hi >= floor(q * (n - 1))::BIGINT + 1
       |  AND hi - c < floor(q * (n - 1))::BIGINT + 1
       |ORDER BY o_orderpriority, quantile""".stripMargin

  /** Shared by scd2_history AND scd2_merge_incremental — the merge is
    * checked against the SAME full-recompute closure (see ops/History).
    */
  private val ScdOracleSql =
    """WITH e AS (SELECT o_custkey, o_orderdate AS ts, o_orderkey AS tb,
      |                  o_orderpriority AS attr_val FROM orders),
      |m AS (SELECT *, (row_number() OVER w = 1 OR
      |                 lag(attr_val) OVER w IS DISTINCT FROM attr_val) AS chg
      |      FROM e WINDOW w AS (PARTITION BY o_custkey ORDER BY ts, tb)),
      |r AS (SELECT o_custkey, attr_val, ts AS valid_from, tb FROM m WHERE chg),
      |f AS (SELECT o_custkey, attr_val, valid_from,
      |             lead(valid_from) OVER (PARTITION BY o_custkey
      |               ORDER BY valid_from, tb) AS valid_to
      |      FROM r)
      |SELECT o_custkey, attr_val,
      |       epoch(date_trunc('second', valid_from))::BIGINT AS vf,
      |       epoch(date_trunc('second', valid_to))::BIGINT AS vt,
      |       valid_to IS NULL AS is_current
      |FROM f
      |ORDER BY o_custkey, vf, vt NULLS FIRST, attr_val""".stripMargin

  /** Basket/graph oracle twins — each shared VERBATIM by a
    * rebuild-from-lineitem query and its stored-edge `_indexed` twin
    * (`StoredIndexes.basketEdges`): the stored co-purchase edge table
    * must reproduce the from-scratch graph results exactly.
    */
  // Shared by graph_link_prediction and its stored-index twin: the
  // definitional wedge count / edge anti-join / degree Jaccard over the
  // support>=2 co-purchase graph.
  private val LinkPredictionOracle =
    """WITH bk AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |  FROM lineitem),
      |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS s
      |  FROM bk x JOIN bk y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2),
      |e AS (SELECT a, b FROM pr WHERE s >= 2),
      |sym AS (SELECT a AS w, b AS n FROM e
      |  UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT n, count(*) AS d FROM sym GROUP BY n),
      |wg AS (SELECT s1.n AS x, s2.n AS y, count(*) AS common
      |  FROM sym s1 JOIN sym s2 ON s1.w = s2.w AND s1.n < s2.n
      |  GROUP BY 1, 2),
      |nw AS (SELECT wg.* FROM wg WHERE NOT EXISTS (
      |  SELECT 1 FROM e WHERE e.a = wg.x AND e.b = wg.y))
      |SELECT x AS item_a, y AS item_b, common,
      |  (common * 10000) // (dx.d + dy.d - common) AS score_bp
      |FROM nw JOIN deg dx ON dx.n = nw.x JOIN deg dy ON dy.n = nw.y
      |ORDER BY score_bp DESC, item_a, item_b LIMIT 50""".stripMargin

  private val BasketPairOracle =
    """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |           FROM lineitem),
      |pr AS (SELECT x.p AS part_a, y.p AS part_b, count(*) AS support
      |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
      |       GROUP BY 1, 2)
      |SELECT part_a, part_b, support FROM pr
      |ORDER BY support DESC, part_a, part_b LIMIT 50""".stripMargin

  // Shared by sort_pareto_frontier AND its incremental fold — the
  // textbook quadratic NOT EXISTS, maximally independent of both.
  private val ParetoOracle =
    s"""WITH t AS (SELECT p_brand, p_partkey,
       |    ${cents("p_retailprice")} AS price_c, p_size::BIGINT AS size
       |  FROM part)
       |SELECT p_brand, p_partkey, price_c::DOUBLE / 100.0 AS price, size
       |FROM t r
       |WHERE NOT EXISTS (SELECT 1 FROM t s
       |  WHERE s.p_brand = r.p_brand AND s.price_c <= r.price_c
       |    AND s.size >= r.size
       |    AND (s.price_c < r.price_c OR s.size > r.size))
       |ORDER BY p_brand, price, size, p_partkey""".stripMargin

  // Shared by quality_drift_ks AND its incremental twin — the merged
  // reference state must hash-match the full recompute.
  private val KsOracle =
    s"""WITH r0 AS (SELECT ${cents("l_extendedprice")} AS v
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |c0 AS (SELECT ${cents("l_extendedprice")} AS v
       |  FROM lineitem WHERE l_returnflag = 'N'),
       |a AS (SELECT v, count(*) AS c1 FROM r0 GROUP BY 1),
       |b AS (SELECT v, count(*) AS c2 FROM c0 GROUP BY 1),
       |u AS (SELECT coalesce(a.v, b.v) AS v, coalesce(c1, 0) AS c1,
       |    coalesce(c2, 0) AS c2
       |  FROM a FULL JOIN b ON a.v = b.v),
       |t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM u),
       |w AS (SELECT v, sum(c1 * t.n2 - c2 * t.n1) OVER (ORDER BY v)
       |    AS d FROM u, t),
       |m AS (SELECT v, abs(d) AS ad FROM w ORDER BY ad DESC, v LIMIT 1)
       |SELECT t.n1::BIGINT AS n_ref, t.n2::BIGINT AS n_cur,
       |  (10000::HUGEINT * m.ad // (t.n1::HUGEINT * t.n2))::BIGINT
       |    AS ks_bp,
       |  m.v AS at_value
       |FROM m, t""".stripMargin

  // Shared by basket_item_recs AND its stored-index twin — steady state
  // must hash-match the rebuild exactly.
  private val ItemRecsOracle =
    """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |           FROM lineitem),
      |f AS (SELECT p, count(*) AS freq FROM b GROUP BY 1),
      |pr AS (SELECT x.p AS a, y.p AS b2, count(*) AS s
      |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sym AS (SELECT a AS item, b2 AS rec, s FROM pr
      |        UNION ALL SELECT b2, a, s FROM pr),
      |sc AS (SELECT item, rec,
      |    (s::HUGEINT * s * 100000000) //
      |      (fi.freq::HUGEINT * fr.freq) AS c2e8
      |  FROM sym JOIN f fi ON fi.p = sym.item
      |    JOIN f fr ON fr.p = sym.rec),
      |r AS (SELECT item, rec, c2e8, row_number() OVER
      |    (PARTITION BY item ORDER BY c2e8 DESC, rec) AS rk
      |  FROM sc)
      |SELECT item AS part_item, rk::BIGINT AS rank, rec AS rec_part,
      |  c2e8::BIGINT AS cos2_e8
      |FROM r WHERE rk <= 3 ORDER BY part_item, rank""".stripMargin

  private val BasketComponentsOracle =
    """WITH RECURSIVE b AS (SELECT DISTINCT l_orderkey AS o,
      |    l_partkey AS p FROM lineitem),
      |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS s
      |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
      |       GROUP BY 1, 2),
      |e0 AS (SELECT a, b FROM pr WHERE s >= 2),
      |edges AS (
      |  SELECT a, b FROM e0 UNION SELECT b, a FROM e0
      |  UNION SELECT a, a FROM e0 UNION SELECT b, b FROM e0),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      |SELECT a AS node, min(b) AS component
      |FROM reach GROUP BY a ORDER BY node""".stripMargin

  private def lpaOracle(iters: Int): String = {
    val head =
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |           FROM lineitem),
        |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS s
        |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        |       GROUP BY 1, 2),
        |e AS (SELECT a, b FROM pr WHERE s >= 2),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |c$i AS (SELECT s.a, l.lbl, count(*) AS c
         |  FROM sym s JOIN l${i - 1} l ON s.b = l.node GROUP BY 1, 2),
         |l$i AS (SELECT a AS node, lbl FROM (
         |    SELECT a, lbl, row_number() OVER (PARTITION BY a
         |      ORDER BY c DESC, lbl) AS rk FROM c$i) t
         |  WHERE rk = 1)""".stripMargin
    }.mkString
    s"$head$rounds\nSELECT node, lbl AS community FROM l$iters ORDER BY node"
  }

  // Shared by graph_bfs_hops and its stored-index twin: hop distance to
  // the nearest degree>=4 hub of the support>=2 co-purchase graph, capped
  // at 3 hops — the recursive CTE's UNION dedup bounds the working set at
  // nodes×(maxHops+1) rows and min() collapses to the nearest seed.
  private val BasketBfsOracle =
    """WITH RECURSIVE b AS (SELECT DISTINCT l_orderkey AS o,
      |    l_partkey AS p FROM lineitem),
      |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS s
      |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
      |       GROUP BY 1, 2),
      |e AS (SELECT a, b FROM pr WHERE s >= 2),
      |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY 1),
      |bfs AS (
      |  SELECT node, 0 AS dist FROM deg WHERE d >= 4
      |  UNION
      |  SELECT s.b AS node, f.dist + 1 AS dist
      |  FROM bfs f JOIN sym s ON s.a = f.node WHERE f.dist < 3)
      |SELECT node, min(dist)::BIGINT AS dist
      |FROM bfs GROUP BY node ORDER BY node""".stripMargin

  // Shared by graph_hub_cost and its stored-index twin: fixed-round
  // Bellman-Ford to the nearest degree>=4 hub under edge cost
  // 10000 div support, unrolled one CTE per relaxation (the pageRankBp /
  // lpa discipline — min() is reduction-order-free, so the trajectory
  // replays bit-for-bit).
  private def basketHubCostOracle(rounds: Int): String = {
    val head =
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |           FROM lineitem),
        |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS s
        |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        |       GROUP BY 1, 2),
        |e AS (SELECT a, b, 10000 // s AS w FROM pr WHERE s >= 2),
        |sym AS (SELECT a, b, w FROM e UNION ALL SELECT b, a, w FROM e),
        |deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY 1),
        |d0 AS (SELECT node, 0::BIGINT AS cost FROM deg WHERE d >= 4)""".stripMargin
    val relax = (1 to rounds).map { i =>
      s""",
         |d$i AS (SELECT node, min(cost) AS cost FROM (
         |  SELECT node, cost FROM d${i - 1}
         |  UNION ALL
         |  SELECT s.b AS node, d${i - 1}.cost + s.w AS cost
         |  FROM d${i - 1} JOIN sym s ON s.a = d${i - 1}.node) t
         |  GROUP BY node)""".stripMargin
    }.mkString
    s"$head$relax\nSELECT node, cost::BIGINT AS cost FROM d$rounds ORDER BY node"
  }

  private val BasketClusteringOracle =
    """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |           FROM lineitem),
      |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS s
      |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
      |       GROUP BY 1, 2),
      |e AS (SELECT a, b FROM pr WHERE s >= 2),
      |deg AS (SELECT u AS node, count(*) AS degree FROM
      |  (SELECT a AS u FROM e UNION ALL SELECT b FROM e) s GROUP BY u),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM e e1 JOIN e e2 ON e2.a = e1.b
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tn AS (SELECT node, count(*) AS triangles FROM
      |  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |   UNION ALL SELECT z FROM tri) t GROUP BY node)
      |SELECT d.node, degree, coalesce(triangles, 0) AS triangles,
      |  CASE WHEN degree < 2 THEN 0
      |    ELSE (20000 * coalesce(triangles, 0))
      |         // (degree * (degree - 1)) END AS coeff_bp
      |FROM deg d LEFT JOIN tn ON d.node = tn.node
      |ORDER BY d.node""".stripMargin

  /** Flagship: revenue per region — scan → 4 joins (dims broadcast) → agg →
    * sort. The plan to check at scale: lineitem never shuffles until the
    * final groupBy on 5 region names; AQE coalesces the tiny aggregate.
    */
  def regionalRevenue(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .join(load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(Exact.revenueDollars(
          sum(Exact.revenueUnits(col("l_extendedprice"), col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))

  val all: Seq[Q] = Seq(

    Q("filter_predicate",
      (s, dir) => load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, l_quantity
             |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("project_rename",
      (s, dir) => load(s, dir, "part")
        .select(col("p_partkey").as("part_id"), upper(col("p_brand")).as("brand"),
          col("p_type").as("category"), col("p_retailprice").as("price"))
        .orderBy(col("part_id")),
      Some("""SELECT p_partkey AS part_id, upper(p_brand) AS brand,
             |p_type AS category, p_retailprice AS price
             |FROM part ORDER BY part_id""".stripMargin)),

    Q("agg_pricing_summary",
      (s, dir) => load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(Exact.asLong(col("l_quantity"))).as("sum_qty"),
          Exact.dollars(sum(Exact.cents(col("l_extendedprice")))).as("sum_base_price"),
          Exact.revenueDollars(
            sum(Exact.revenueUnits(col("l_extendedprice"), col("l_discount")))).as("sum_disc_price"),
          Exact.avgOf(sum(Exact.asLong(col("l_quantity"))), count(lit(1))).as("avg_qty"),
          Exact.avgOf(sum(Exact.cents(col("l_discount"))), count(lit(1))).as("avg_disc_pct"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
             |sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS sum_qty,
             |sum(${cents("l_extendedprice")})::DOUBLE / 100.0 AS sum_base_price,
             |sum($RevUnits)::DOUBLE / 10000.0 AS sum_disc_price,
             |sum(CAST(round(l_quantity) AS BIGINT))::DOUBLE / count(*) AS avg_qty,
             |sum(${cents("l_discount")})::DOUBLE / count(*) AS avg_disc_pct,
             |count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Composite analytics #1 — the TPC-H Q3 "shipping priority" shape:
    // a 3-way selective join (segment-filtered broadcast dim, two date
    // filters pushed to the scans), an orderkey-grouped exact-cents
    // revenue aggregate over 1180 surviving groups, top-10 by revenue.
    // The plan IS the point: Catalyst broadcasts the filtered customer
    // side, pushes every predicate into parquet, and the top-10 runs as
    // TakeOrderedAndProject on the integer units — the classic composite
    // a user of the reference's denormalized store could never express.
    Q("composite_shipping_priority",
      // Routed through the measured 3-way planner
      // (ops/Relational.autoJoin3): join ORDER and per-join strategy come
      // from md5-histogram estimates of the REAL filtered inputs, not
      // from syntax — the production-shaped use of the estimator stack.
      // The oracle is UNCHANGED: every routing is value- and
      // column-identical to the plain chain (the autoJoin contract), and
      // PlanContractSpec asserts the chosen order matches the estimator's
      // own verdict on this corpus.
      (s, dir) => {
        val li = load(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01"))
          .select(col("l_orderkey").as("ok"),
            col("l_extendedprice"), col("l_discount"))
        val ord = load(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01"))
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
            col("o_orderdate"), col("o_orderpriority"))
        val cust = load(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("ck"))
        graft.ops.Relational.autoJoin3(li, ord, cust, Seq("ok"), Seq("ck"))
          .groupBy(col("ok"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(Exact.revenueUnits(col("l_extendedprice"),
            col("l_discount"))).as("units"))
          .orderBy(col("units").desc, col("ok")).limit(10)
          .select(col("ok").as("l_orderkey"),
            unix_timestamp(col("o_orderdate")).as("order_date"),
            col("o_orderpriority"),
            Exact.revenueDollars(col("units")).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
      },
      Some(s"""SELECT l_orderkey,
             |  epoch(date_trunc('second', o_orderdate))::BIGINT AS order_date,
             |  o_orderpriority, units::DOUBLE / 10000.0 AS revenue
             |FROM (
             |  SELECT l_orderkey, o_orderdate, o_orderpriority,
             |    sum($RevUnits) AS units
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  WHERE c_mktsegment = 'BUILDING'
             |    AND o_orderdate < TIMESTAMP '1998-01-01'
             |    AND l_shipdate > TIMESTAMP '1998-01-01'
             |  GROUP BY 1, 2, 3
             |  ORDER BY units DESC, l_orderkey LIMIT 10) t
             |ORDER BY revenue DESC, l_orderkey""".stripMargin)),

    // Composite analytics #2 — the TPC-H Q10 "returned items" shape: a
    // 4-way join (two broadcast dims), a year of orders against the 'R'
    // return flag, customer-grouped revenue over 1017 groups, top-20 —
    // the standard "who returned the most value" report.
    Q("composite_returned_items",
      (s, dir) => load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(load(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01") &&
            col("o_orderdate") < lit("2000-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(Exact.revenueUnits(col("l_extendedprice"), col("l_discount")))
          .as("units"))
        .orderBy(col("units").desc, col("c_custkey")).limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          Exact.revenueDollars(col("units")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")),
      Some(s"""SELECT c_custkey, c_name, n_name,
             |  units::DOUBLE / 10000.0 AS revenue
             |FROM (
             |  SELECT c_custkey, c_name, n_name, sum($RevUnits) AS units
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  WHERE l_returnflag = 'R'
             |    AND o_orderdate >= TIMESTAMP '1999-01-01'
             |    AND o_orderdate < TIMESTAMP '2000-01-01'
             |  GROUP BY 1, 2, 3
             |  ORDER BY units DESC, c_custkey LIMIT 20) t
             |ORDER BY revenue DESC, c_custkey""".stripMargin)),

    Q("join_inner_equi",
      (s, dir) => load(s, dir, "customer")
        .join(load(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(Exact.revenueDollars(
            sum(Exact.revenueUnits(col("l_extendedprice"), col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name")),
      Some(s"""SELECT n_name,
             |sum($RevUnits)::DOUBLE / 10000.0 AS revenue,
             |count(*) AS n_items
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    Q("join_broadcast",
      (s, dir) => load(s, dir, "customer")
        .join(broadcast(load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          Exact.dollars(sum(Exact.cents(col("c_acctbal")))).as("sum_acctbal"))
        .orderBy(col("r_name")),
      Some(s"""SELECT r_name, count(*) AS n_customers,
             |sum(${cents("c_acctbal")})::DOUBLE / 100.0 AS sum_acctbal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    Q("join_left_outer",
      (s, dir) => load(s, dir, "customer")
        .join(load(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |  GROUP BY c_custkey) t
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // FULL OUTER join — both null-producing sides exercised (23 rich
    // customers without urgent orders, 1167 urgent-order customers outside
    // the rich slice at sf0.01): the reconciliation join shape (ledger vs
    // ledger) where either side may be missing. One shuffle keyed on the
    // join key; output carries the coalesced key + side flag so null
    // semantics are hash-pinned, not just counted.
    Q("join_full_outer",
      (s, dir) => {
        val cust = load(s, dir, "customer")
          .filter(col("c_acctbal") > 9000)
          .select(col("c_custkey"))
        val urgent = load(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
        cust.join(urgent, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_custkey").isNotNull.as("in_rich"),
            coalesce(col("n_urgent"), lit(0L)).as("n_urgent"))
          .orderBy(col("custkey"))
      },
      Some("""WITH c AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
             |o AS (SELECT o_custkey, count(*) AS n_urgent FROM orders
             |      WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
             |SELECT coalesce(c_custkey, o_custkey) AS custkey,
             |  (c_custkey IS NOT NULL) AS in_rich,
             |  coalesce(n_urgent, 0)::BIGINT AS n_urgent
             |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
             |ORDER BY custkey""".stripMargin)),

    // Bucketed CO-LOCATED fact-fact join — the layout answer to "this join
    // is too big to broadcast and too hot to shuffle every run": orders
    // and lineitem stored bucketed on the join key (StoredIndexes
    // .bucketedSales, built once per session like the dedup indexes), so
    // the sort-merge join reads both sides pre-partitioned and pre-sorted
    // with ZERO exchange below it (PlanContractSpec pins that shape); the
    // only shuffle is the priority rollup's own. At warehouse scale this
    // is the difference between one layout write at ingest and a full
    // 2-sided shuffle per query.
    Q("join_bucketed_colocated",
      (s, dir) => {
        val (ords, li) = StoredIndexes.bucketedSales(s, dir)
        ords.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(graft.ops.Exact.cents(col("l_extendedprice"))).as("sum_cents"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n_items,
             |  sum(${cents("l_extendedprice")})::BIGINT AS sum_cents
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // AS-OF join (no native Spark operator): each click enriched with the
    // user's most recent purchase value at or before the click. Implemented
    // as UNION + running last_value (one shuffle on the key, O(n) work —
    // see Relational.asofJoin); the oracle mirrors the same construction,
    // so the match covers ties and no-prior-purchase nulls too.
    Q("join_asof",
      (s, dir) => {
        val ev = load(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"),
            col("event_id").as("p_event_id"))
        Relational.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
            Seq("value"), rightTie = Seq("p_event_id"))
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_epoch"),
            col("value").as("last_purchase"))
          .orderBy(col("event_id"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS event_id,
             |    value, event_id AS tie
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, ts, 1 AS side, event_id,
             |    NULL::DOUBLE AS value, NULL::BIGINT AS tie
             |  FROM events WHERE event_type = 'click'),
             |w AS (
             |  SELECT *, last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id
             |          ORDER BY ts, side, tie ASC NULLS FIRST
             |          ROWS UNBOUNDED PRECEDING) AS last_purchase
             |  FROM u)
             |SELECT event_id, user_id,
             |  epoch(date_trunc('second', ts))::BIGINT AS ts_epoch, last_purchase
             |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin)),

    // FORWARD as-of (Relational.asofJoinForward): each click enriched with
    // the user's NEXT purchase at or after it — time-to-conversion. Same
    // union + running-carry shape as join_asof with the scan reversed;
    // ties pick the smallest event id (nearest from the future side).
    Q("join_asof_forward",
      (s, dir) => {
        val ev = load(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"),
            col("event_id").as("p_event_id"))
        Relational.asofJoinForward(clicks, purchases, Seq("user_id"),
            "ts", "ts", Seq("value"), rightTie = Seq("p_event_id"))
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_epoch"),
            col("value").as("next_purchase"))
          .orderBy(col("event_id"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS event_id,
             |    value, event_id AS tie
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, ts, 1 AS side, event_id,
             |    NULL::DOUBLE AS value, NULL::BIGINT AS tie
             |  FROM events WHERE event_type = 'click'),
             |w AS (
             |  SELECT *, last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, side ASC, tie DESC NULLS FIRST
             |          ROWS UNBOUNDED PRECEDING) AS next_purchase
             |  FROM u)
             |SELECT event_id, user_id,
             |  epoch(date_trunc('second', ts))::BIGINT AS ts_epoch, next_purchase
             |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin)),

    // NEAREST as-of (Relational.asofJoinNearest): each click enriched with
    // the CLOSEST purchase either way; gap ties (incl. simultaneous) go
    // backward. ONE keyed shuffle serves both directions — the tagged
    // union with a backward running-carry and a forward one over the same
    // sort order, each carrying a single (rts, value) STRUCT so the pick
    // is atomic (a NULL right value comes from the nearest row, never a
    // farther one); the oracle replays that exact construction with
    // DuckDB's IGNORE NULLS window pair over the same struct plus the
    // same gap-compare CASE.
    Q("join_asof_nearest",
      (s, dir) => {
        val ev = load(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"),
            col("event_id").as("p_event_id"))
        Relational.asofJoinNearest(clicks, purchases, Seq("user_id"),
            "ts", "ts", Seq("value"), rightTie = Seq("p_event_id"))
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_epoch"),
            col("value").as("near_purchase"),
            col("asof_dir"), col("asof_gap"))
          .orderBy(col("event_id"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS event_id,
             |    value, event_id AS tie,
             |    epoch(date_trunc('second', ts))::BIGINT AS rts
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, ts, 1 AS side, event_id,
             |    NULL::DOUBLE AS value, NULL::BIGINT AS tie, NULL::BIGINT AS rts
             |  FROM events WHERE event_type = 'click'),
             |w AS (
             |  SELECT *,
             |    last_value(CASE WHEN side = 0 AND rts IS NOT NULL
             |      THEN {'rts': rts, 'v': value} END IGNORE NULLS)
             |      OVER pb AS b,
             |    first_value(CASE WHEN side = 0 AND rts IS NOT NULL
             |      THEN {'rts': rts, 'v': value} END IGNORE NULLS)
             |      OVER pf AS f,
             |    epoch(date_trunc('second', ts))::BIGINT AS lts
             |  FROM u
             |  WINDOW pb AS (PARTITION BY user_id
             |      ORDER BY ts, side, tie ASC NULLS FIRST
             |      ROWS UNBOUNDED PRECEDING),
             |    pf AS (PARTITION BY user_id
             |      ORDER BY ts, side, tie ASC NULLS FIRST
             |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
             |p AS (SELECT *,
             |    (f.rts IS NULL OR (b.rts IS NOT NULL AND lts - b.rts <= f.rts - lts))
             |      AS use_back
             |  FROM w WHERE side = 1)
             |SELECT event_id, user_id, lts AS ts_epoch,
             |  CASE WHEN use_back THEN b.v ELSE f.v END AS near_purchase,
             |  CASE WHEN b.rts IS NULL AND f.rts IS NULL THEN NULL
             |       WHEN use_back THEN 'backward' ELSE 'forward' END AS asof_dir,
             |  CASE WHEN b.rts IS NULL AND f.rts IS NULL THEN NULL
             |       WHEN use_back THEN lts - b.rts ELSE f.rts - lts END AS asof_gap
             |FROM p ORDER BY event_id""".stripMargin)),

    // NEAREST as-of with a TOLERANCE bound (pandas merge_asof
    // tolerance=1 day): a purchase farther than 86400 s — judged per
    // direction BEFORE the nearest pick — is no candidate at all; a
    // click with no in-bound purchase gets NULL value/dir/gap. Same
    // single-shuffle struct-carry machinery; the oracle adds the same
    // per-direction gap bound to the candidate predicates.
    Q("join_asof_nearest_tol",
      (s, dir) => {
        val ev = load(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"),
            col("event_id").as("p_event_id"))
        Relational.asofJoinNearest(clicks, purchases, Seq("user_id"),
            "ts", "ts", Seq("value"), rightTie = Seq("p_event_id"),
            toleranceSec = Some(86400L))
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_epoch"),
            col("value").as("near_purchase"),
            col("asof_dir"), col("asof_gap"))
          .orderBy(col("event_id"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, ts, 0 AS side, NULL::BIGINT AS event_id,
             |    value, event_id AS tie,
             |    epoch(date_trunc('second', ts))::BIGINT AS rts
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, ts, 1 AS side, event_id,
             |    NULL::DOUBLE AS value, NULL::BIGINT AS tie, NULL::BIGINT AS rts
             |  FROM events WHERE event_type = 'click'),
             |w AS (
             |  SELECT *,
             |    last_value(CASE WHEN side = 0 AND rts IS NOT NULL
             |      THEN {'rts': rts, 'v': value} END IGNORE NULLS)
             |      OVER pb AS b,
             |    first_value(CASE WHEN side = 0 AND rts IS NOT NULL
             |      THEN {'rts': rts, 'v': value} END IGNORE NULLS)
             |      OVER pf AS f,
             |    epoch(date_trunc('second', ts))::BIGINT AS lts
             |  FROM u
             |  WINDOW pb AS (PARTITION BY user_id
             |      ORDER BY ts, side, tie ASC NULLS FIRST
             |      ROWS UNBOUNDED PRECEDING),
             |    pf AS (PARTITION BY user_id
             |      ORDER BY ts, side, tie ASC NULLS FIRST
             |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
             |p AS (SELECT *,
             |    (b.rts IS NOT NULL AND lts - b.rts <= 86400) AS bok,
             |    (f.rts IS NOT NULL AND f.rts - lts <= 86400) AS fok
             |  FROM w WHERE side = 1),
             |q AS (SELECT *,
             |    (NOT fok OR (bok AND lts - b.rts <= f.rts - lts)) AS use_back
             |  FROM p)
             |SELECT event_id, user_id, lts AS ts_epoch,
             |  CASE WHEN NOT bok AND NOT fok THEN NULL
             |       WHEN use_back THEN b.v ELSE f.v END AS near_purchase,
             |  CASE WHEN NOT bok AND NOT fok THEN NULL
             |       WHEN use_back THEN 'backward' ELSE 'forward' END AS asof_dir,
             |  CASE WHEN NOT bok AND NOT fok THEN NULL
             |       WHEN use_back THEN lts - b.rts ELSE f.rts - lts END AS asof_gap
             |FROM q ORDER BY event_id""".stripMargin)),

    Q("join_semi",
      (s, dir) => load(s, dir, "customer")
        .join(load(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    Q("join_anti",
      (s, dir) => load(s, dir, "customer")
        .join(load(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    // NULL-AWARE anti join: `NOT IN (subquery)` is NOT the anti join
    // above — one NULL in the subquery empties the result under
    // three-valued logic, so Catalyst plans it as a null-aware anti join
    // (the o_custkey column is nullable; the planner must carry the NULL
    // check even though this corpus has none). Kept in SQL form because
    // the DataFrame API has no NOT IN; the build side is the filtered
    // custkey set — broadcast-sized, so the NAAJ stays a broadcast hash
    // join, never the nested-loop fallback a non-broadcastable build
    // would force at 100 TB (filter the subquery side first, always).
    Q("join_anti_null_aware",
      (s, dir) => {
        load(s, dir, "customer").createOrReplaceTempView("naaj_customer")
        load(s, dir, "orders").createOrReplaceTempView("naaj_orders")
        s.sql("""SELECT c_custkey, c_mktsegment FROM naaj_customer
                 WHERE c_custkey NOT IN (SELECT o_custkey FROM naaj_orders
                                         WHERE o_totalprice > 300000)
                 ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
             |                        WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    Q("join_theta_range",
      (s, dir) => {
        import s.implicits._
        val buckets = Seq(("small", 0.0, 10.0), ("mid", 10.0, 25.0), ("large", 25.0, 60.0))
          .toDF("bucket", "lo", "hi")
        Relational.rangeBucketJoin(load(s, dir, "lineitem"), buckets, col("l_quantity"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_items"),
            Exact.revenueDollars(
              sum(Exact.revenueUnits(col("l_extendedprice"), col("l_discount")))).as("revenue"))
          .orderBy(col("bucket"))
      },
      Some(s"""SELECT bucket, count(*) AS n_items,
             |sum($RevUnits)::DOUBLE / 10000.0 AS revenue
             |FROM lineitem JOIN (VALUES ('small', 0, 10), ('mid', 10, 25), ('large', 25, 60))
             |  b(bucket, lo, hi) ON l_quantity >= lo AND l_quantity < hi
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Bloom-filter semi-join reduction: the dim side is a SELECTIVE slice
    // of orders (high-value only), so most lineitem rows would shuffle
    // into the join only to be discarded — bloomPrunedJoin drops them
    // map-side, next to the scan, via a constant-folded bit-array probe
    // (see ops/Relational.scala for the math). Bloom false positives die
    // in the join itself, so the oracle is the PLAIN inner join — the
    // hash match proves the filter is lossless.
    Q("join_bloom_pruned",
      (s, dir) => {
        val fact = load(s, dir, "lineitem")
        val dim = load(s, dir, "orders")
          .filter(col("o_totalprice") > 300000.0)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        Relational.bloomPrunedJoin(fact, dim, "l_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(Exact.asLong(col("l_quantity"))).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 300000
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Large-large range join: BOTH sides data-sized (orders × customer-derived
    // price bands), so the broadcast-BNLJ of join_theta_range is off the
    // table. binnedRangeJoin decomposes to explode-to-bins + equi-join on the
    // bin id + residual filter — keyed shuffles only; the oracle is the naive
    // range-predicate join, so the hash match proves the decomposition emits
    // each qualifying pair exactly once. All coordinates integer cents →
    // bit-exact cross-engine. binWidth 100000 = the interval width, so each
    // interval explodes to ≤ 2 bins.
    Q("join_range_binned",
      (s, dir) => {
        val pts = load(s, dir, "orders")
          .select(col("o_orderkey"), Exact.cents(col("o_totalprice")).as("p"))
        val iv = load(s, dir, "customer")
          .select(col("c_mktsegment"),
            (Exact.cents(col("c_acctbal")) * 20).as("lo"))
          .withColumn("hi", col("lo") + 100000L)
        Relational.binnedRangeJoin(pts, iv, col("p"), col("lo"), col("hi"),
            binWidth = 100000L)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("o_orderkey")).as("n_orders"),
            Exact.dollars(sum(col("p"))).as("sum_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_pairs,
             |count(DISTINCT o_orderkey) AS n_orders,
             |sum(p)::DOUBLE / 100.0 AS sum_price
             |FROM (SELECT o_orderkey, ${cents("o_totalprice")} AS p FROM orders) o
             |JOIN (SELECT c_mktsegment, ${cents("c_acctbal")} * 20 AS lo,
             |      ${cents("c_acctbal")} * 20 + 100000 AS hi FROM customer) c
             |ON o.p >= c.lo AND o.p < c.hi
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Two-sided sibling: interval-OVERLAP join (customer acctbal bands x
    // supplier acctbal bands), canonical-bin dedup instead of a distinct
    // shuffle. Oracle = the naive overlap-predicate join, so the hash match
    // proves exactly-once pair emission.
    Q("join_interval_overlap",
      (s, dir) => {
        val c = load(s, dir, "customer")
          .select(col("c_nationkey"), Exact.cents(col("c_acctbal")).as("clo"))
          .withColumn("chi", col("clo") + 20000L)
        val sp = load(s, dir, "supplier")
          .select(col("s_nationkey"), Exact.cents(col("s_acctbal")).as("slo"))
          .withColumn("shi", col("slo") + 20000L)
        Relational.intervalOverlapJoin(c, sp, col("clo"), col("chi"),
            col("slo"), col("shi"), binWidth = 20000L)
          .groupBy(col("c_nationkey"), col("s_nationkey"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(abs(col("clo") - col("slo"))).as("sum_gap"))
          .orderBy(col("c_nationkey"), col("s_nationkey"))
      },
      Some(s"""SELECT c_nationkey, s_nationkey, count(*) AS n_pairs,
             |sum(abs(clo - slo))::BIGINT AS sum_gap
             |FROM (SELECT c_nationkey, ${cents("c_acctbal")} AS clo,
             |      ${cents("c_acctbal")} + 20000 AS chi FROM customer) c
             |JOIN (SELECT s_nationkey, ${cents("s_acctbal")} AS slo,
             |      ${cents("s_acctbal")} + 20000 AS shi FROM supplier) s
             |ON c.clo < s.shi AND s.slo < c.chi
             |GROUP BY c_nationkey, s_nationkey
             |ORDER BY c_nationkey, s_nationkey""".stripMargin)),

    // Correlated scalar subquery — Catalyst DECORRELATES it into an
    // aggregate + equi-join (RewriteCorrelatedScalarSubquery), so the
    // declarative SQL form plans as keyed shuffles, never a per-row
    // re-execution. Timestamp EQUALITY (exact value), no float compare.
    Q("subquery_correlated_scalar",
      (s, dir) => {
        load(s, dir, "lineitem").createOrReplaceTempView("li_corr")
        s.sql("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
                 unix_timestamp(l_shipdate) AS ship_epoch
                 FROM li_corr o
                 WHERE l_shipdate = (SELECT max(i.l_shipdate) FROM li_corr i
                                     WHERE i.l_orderkey = o.l_orderkey)
                 ORDER BY l_orderkey, l_linenumber""")
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
             |epoch(date_trunc('second', l_shipdate))::BIGINT AS ship_epoch
             |FROM lineitem o
             |WHERE l_shipdate = (SELECT max(i.l_shipdate) FROM lineitem i
             |                    WHERE i.l_orderkey = o.l_orderkey)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Skew-resistant salted join, proven IDENTICAL to the plain inner join:
    // the oracle is the unsalted join, so the hash match is the proof that
    // salting (deterministic content-hash salt on the skewed side, right
    // side replicated across all salts) neither loses nor duplicates rows.
    Q("join_salted_skew",
      (s, dir) => {
        val li = load(s, dir, "lineitem")
        val supp = load(s, dir, "supplier")
          .withColumnRenamed("s_suppkey", "l_suppkey")
        Relational.saltedEquiJoin(li, supp, Seq("l_suppkey"), salts = 8)
          .groupBy(col("s_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).as("n_items"),
            Exact.revenueDollars(
              sum(Exact.revenueUnits(col("l_extendedprice"), col("l_discount")))).as("revenue"))
          .orderBy(col("nationkey"))
      },
      Some(s"""SELECT s_nationkey::BIGINT AS nationkey, count(*) AS n_items,
             |sum($RevUnits)::DOUBLE / 10000.0 AS revenue
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_nationkey ORDER BY nationkey""".stripMargin)),

    // Join-size pre-flight (Relational.joinCardinalityEstimate): the
    // orders ⋈ lineitem cardinality predicted from two O(buckets)
    // histogram passes BEFORE running the join — est is a provable upper
    // bound (err_bp = its overshoot from 65536-bucket collisions, ~23%
    // at sf0.01, all load-bearing), skew_share_bp the hottest reducer's
    // share, and the strategy verdict what a planner would pick. Exact
    // integer arithmetic throughout (Decimal(38,0) products, integral
    // div) — the oracle replays every bit including the md5 buckets.
    Q("join_cardinality_estimate",
      (s, dir) => Relational.joinCardinalityEstimate(
        load(s, dir, "orders"), col("o_orderkey"),
        load(s, dir, "lineitem"), col("l_orderkey")),
      Some("""WITH lb AS (SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 7))::BIGINT
             |    % 65536 AS b, count(*) AS ca FROM orders GROUP BY 1),
             |rb AS (SELECT ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 7))::BIGINT
             |    % 65536 AS b, count(*) AS cb FROM lineitem GROUP BY 1),
             |h AS (SELECT coalesce(ca, 0)::HUGEINT AS ca,
             |             coalesce(cb, 0)::HUGEINT AS cb
             |      FROM lb FULL OUTER JOIN rb USING (b)),
             |s AS (SELECT sum(ca) AS lr, sum(cb) AS rr,
             |             sum(ca * cb) AS est, max(ca * cb) AS mx FROM h),
             |x AS (SELECT sum(xa::HUGEINT * xb::HUGEINT) AS ex FROM
             |    (SELECT o_orderkey AS k, count(*) AS xa FROM orders GROUP BY 1) a
             |    JOIN (SELECT l_orderkey AS k, count(*) AS xb FROM lineitem
             |          GROUP BY 1) b USING (k))
             |SELECT lr::BIGINT AS left_rows, rr::BIGINT AS right_rows,
             |  65536::BIGINT AS n_buckets, est::BIGINT AS est_pairs,
             |  ex::BIGINT AS exact_pairs,
             |  CASE WHEN ex = 0 THEN NULL
             |       ELSE ((est - ex) * 10000 // ex)::BIGINT END AS err_bp,
             |  CASE WHEN est = 0 THEN NULL
             |       ELSE (mx * 10000 // est)::BIGINT END AS skew_share_bp,
             |  CASE WHEN lr <= 10000 OR rr <= 10000 THEN 'broadcast'
             |       WHEN est > 0 AND mx * 10000 // est >= 2000
             |         THEN 'salted_shuffle'
             |       ELSE 'shuffle' END AS strategy
             |FROM s, x""".stripMargin)),

    // Estimator-driven join routing (Relational.autoJoin): the strategy is
    // CHOSEN by the histogram verdict at runtime — customer's 1.5k rows at
    // sf0.01 route this through the broadcast arm; at sf1 (150k rows,
    // uniform keys) the same call routes to plain shuffle — and the result
    // is the plain inner join under EVERY routing, which is exactly what
    // the oracle checks (plan contracts pin the per-arm physical shapes).
    Q("join_auto_strategy",
      (s, dir) => Relational.autoJoin(
          load(s, dir, "orders").select(col("o_custkey").as("custkey"),
            col("o_totalprice"), col("o_orderstatus")),
          load(s, dir, "customer").select(col("c_custkey").as("custkey"),
            col("c_mktsegment")),
          Seq("custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.dollars(sum(Exact.cents(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("c_mktsegment")),
      Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
             |sum(${cents("o_totalprice")})::DOUBLE / 100.0 AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // 3-way chain with the JOIN ORDER chosen by measured histograms
    // (Relational.autoJoin3): est |lineitem⋈orders| ≈ |L| dwarfs
    // est |orders⋈customer| ≈ |O|, so the advisor joins orders⋈customer
    // first (routed broadcast by the same histograms — customer is
    // measured-small) and leaves the outer join to AQE's runtime stats.
    // Values are order-invariant (inner joins commute) — the oracle pins
    // exactly that, while the WithOrder spec pins the decision itself.
    Q("join_auto_order",
      (s, dir) => Relational.autoJoin3(
          load(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
            Exact.cents(col("l_extendedprice")).as("price_c")),
          load(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
            col("o_custkey").as("custkey")),
          load(s, dir, "customer").select(col("c_custkey").as("custkey"),
            col("c_mktsegment")),
          Seq("orderkey"), Seq("custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_items"),
          Exact.dollars(sum(col("price_c"))).as("revenue"))
        .orderBy(col("c_mktsegment")),
      Some(s"""SELECT c_mktsegment, count(*) AS n_items,
             |sum(${cents("l_extendedprice")})::DOUBLE / 100.0 AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("agg_count_rows",
      (s, dir) => Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier")
        .map(t => load(s, dir, t).agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n")))
        .reduce(_ unionByName _).orderBy(col("tbl")),
      Some("""SELECT 'customer' AS tbl, count(*) AS n FROM customer
             |UNION ALL SELECT 'lineitem', count(*) FROM lineitem
             |UNION ALL SELECT 'nation', count(*) FROM nation
             |UNION ALL SELECT 'orders', count(*) FROM orders
             |UNION ALL SELECT 'part', count(*) FROM part
             |UNION ALL SELECT 'region', count(*) FROM region
             |UNION ALL SELECT 'supplier', count(*) FROM supplier
             |ORDER BY tbl""".stripMargin)),

    Q("agg_count_distinct",
      (s, dir) => load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"), count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
             |count(*) AS n_orders
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // §2.9 typed-Aggregator surface: exact distinct users per event type
    // via MERGEABLE sparse bitmaps (functions/BitmapAgg.BitmapOrAgg — the
    // Druid/ClickHouse groupBitmap pattern, registered through
    // functions.udaf). The OR is order-independent, so partial aggregation
    // composes across partitions bit-identically to count(DISTINCT); the
    // popcount stays DECLARATIVE (bit_count folded over map_values — no
    // UDF in the read path). At 100 TB the point is the per-segment
    // bitmap is maintainable state: unions fold in new days without
    // re-touching history, unlike a re-run count(DISTINCT).
    Q("agg_bitmap_distinct",
      (s, dir) => load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(graft.functions.BitmapAgg.bitmapOr(col("user_id")).as("bm"))
        .select(col("event_type"),
          aggregate(map_values(col("bm").getField("words")), lit(0L),
            (acc, w) => acc + bit_count(w).cast("long")).as("n_users"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Second-level bitmap algebra: AND-fold the per-type bitmaps → users
    // active in EVERY event type (audience overlap), computed on
    // sketch-sized state only — the fact table is touched once, by the
    // first-level OR. Oracle replays it definitionally (HAVING over
    // distinct types per user).
    Q("agg_bitmap_intersect",
      (s, dir) => load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(graft.functions.BitmapAgg.bitmapOr(col("user_id")).as("bm"))
        .agg(graft.functions.BitmapAgg.bitmapAnd(col("bm").getField("words")).as("common"))
        .select(
          aggregate(map_values(col("common").getField("words")), lit(0L),
            (acc, w) => acc + bit_count(w).cast("long")).as("n_common")),
      Some("""SELECT count(*)::BIGINT AS n_common FROM (
             |  SELECT user_id FROM events GROUP BY user_id
             |  HAVING count(DISTINCT event_type) =
             |    (SELECT count(DISTINCT event_type) FROM events)) t""".stripMargin)),

    // KMV (k-minimum-values) distinct sketch (functions/KmvAgg, Beyer et
    // al. 2007) — the BOUNDED-state sibling of the bitmap: k=64 longs per
    // group whatever the cardinality, min-k merge commutative/idempotent.
    // Unlike HLL, the whole sketch is DETERMINISTIC (md5-prefix hashing
    // declared in the plan), so the oracle replays every slot and the
    // estimate itself — (k−1)·2⁶⁰ div h₍ₖ₎, exact integers — hash-matches
    // bit-for-bit, not merely within tolerance. n < k degrades to the
    // exact count by construction.
    Q("agg_kmv_distinct",
      (s, dir) => {
        val k = 64
        val M = graft.functions.KmvAgg.HashDomain
        load(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_custkey"),
            conv(substring(md5(col("o_custkey").cast("string")), 1, 15),
              16, 10).cast("long").as("h"))
          .groupBy(col("o_orderstatus"))
          .agg(graft.functions.KmvAgg.kmvMin(col("h"), k).as("sk"),
            countDistinct(col("o_custkey")).as("n_exact"))
          .select(col("o_orderstatus"),
            size(col("sk.hashes")).cast("long").as("n_sketch"),
            when(size(col("sk.hashes")) < k,
                size(col("sk.hashes")).cast("long"))
              .otherwise(expr(s"CAST(${k - 1} AS DECIMAL(38,0)) * " +
                s"CAST($M AS DECIMAL(38,0)) div element_at(sk.hashes, $k)"))
              .as("est"),
            col("n_exact"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH h AS (
             |  SELECT DISTINCT o_orderstatus,
             |    ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
             |  FROM orders),
             |r AS (SELECT o_orderstatus, h,
             |        row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rk
             |      FROM h),
             |sk AS (SELECT o_orderstatus,
             |         count(*) FILTER (WHERE rk <= 64) AS n_sketch,
             |         max(h) FILTER (WHERE rk <= 64) AS theta
             |       FROM r GROUP BY o_orderstatus),
             |ex AS (SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact
             |       FROM orders GROUP BY o_orderstatus)
             |SELECT sk.o_orderstatus, n_sketch::BIGINT AS n_sketch,
             |  (CASE WHEN n_sketch < 64 THEN n_sketch::HUGEINT
             |        ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // theta
             |   END)::BIGINT AS est,
             |  n_exact::BIGINT AS n_exact
             |FROM sk JOIN ex USING (o_orderstatus)
             |ORDER BY o_orderstatus""".stripMargin)),

    // KMV sketch ALGEBRA, fully declarative after aggregation: union = k
    // smallest of array_union (array built-ins, no UDF), θ = the union's
    // k-th slot, Jaccard ≈ |{h ∈ U : h ∈ A ∧ h ∈ B}| / |U| and |A∩B| ≈
    // common·est_union div |U| — the theta-sketch set-operation trade
    // (audience overlap from two 512-byte sketches instead of a fact
    // re-scan). Exact counts sit in the same row, so the driver hash
    // compare pins estimate AND truth; URGENT vs LOW customer cohorts
    // overlap at J ≈ 0.75 — both the common and the rejected slots are
    // load-bearing.
    Q("agg_kmv_jaccard",
      (s, dir) => {
        val k = 64
        val M = graft.functions.KmvAgg.HashDomain
        val o = load(s, dir, "orders")
        def sketch(pri: String, name: String) =
          o.filter(col("o_orderpriority") === pri)
            .select(conv(substring(md5(col("o_custkey").cast("string")),
              1, 15), 16, 10).cast("long").as("h"))
            .agg(graft.functions.KmvAgg.kmvMin(col("h"), k).as("s"))
            .select(col("s.hashes").as(name))
        val ex = o.filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .groupBy(col("o_custkey"))
          .agg(max(when(col("o_orderpriority") === "1-URGENT", 1)
              .otherwise(0)).as("ia"),
            max(when(col("o_orderpriority") === "5-LOW", 1)
              .otherwise(0)).as("ib"))
          .agg(sum(col("ia") * col("ib")).cast("long").as("exact_inter"),
            count(lit(1)).as("exact_union"))
        sketch("1-URGENT", "a").crossJoin(sketch("5-LOW", "b"))
          .crossJoin(ex)
          .withColumn("u", slice(array_sort(array_union(col("a"), col("b"))),
            1, k))
          .select(
            size(col("a")).cast("long").as("n_sk_a"),
            size(col("b")).cast("long").as("n_sk_b"),
            size(col("u")).cast("long").as("n_sk_union"),
            expr("size(filter(u, x -> array_contains(a, x) AND " +
              "array_contains(b, x)))").cast("long").as("common"),
            when(size(col("u")) < k, size(col("u")).cast("long"))
              .otherwise(expr(s"CAST(${k - 1} AS DECIMAL(38,0)) * " +
                s"CAST($M AS DECIMAL(38,0)) div element_at(u, $k)"))
              .as("est_union"),
            col("exact_inter"), col("exact_union"))
          .select(col("n_sk_a"), col("n_sk_b"), col("n_sk_union"),
            col("common"),
            expr("10000 * common div n_sk_union").as("jaccard_bp"),
            expr("common * est_union div n_sk_union").as("inter_est"),
            col("est_union"), col("exact_inter"), col("exact_union"),
            expr("10000 * exact_inter div exact_union")
              .as("exact_jaccard_bp"))
      },
      Some("""WITH ha AS (SELECT DISTINCT
             |    ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
             |  FROM orders WHERE o_orderpriority = '1-URGENT'),
             |ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
             |          AS rk FROM ha) WHERE rk <= 64),
             |hb AS (SELECT DISTINCT
             |    ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
             |  FROM orders WHERE o_orderpriority = '5-LOW'),
             |skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
             |          AS rk FROM hb) WHERE rk <= 64),
             |u AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
             |        FROM (SELECT h FROM ska UNION SELECT h FROM skb))
             |      WHERE rk <= 64),
             |m AS (SELECT
             |    (SELECT count(*) FROM ska) AS n_sk_a,
             |    (SELECT count(*) FROM skb) AS n_sk_b,
             |    (SELECT count(*) FROM u) AS n_sk_union,
             |    (SELECT max(h) FROM u) AS theta,
             |    (SELECT count(*) FROM u WHERE h IN (SELECT h FROM ska)
             |       AND h IN (SELECT h FROM skb)) AS common),
             |ex AS (SELECT count(*) FILTER (WHERE ia = 1 AND ib = 1)
             |         AS exact_inter, count(*) AS exact_union FROM (
             |       SELECT o_custkey,
             |         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
             |           ELSE 0 END) AS ia,
             |         max(CASE WHEN o_orderpriority = '5-LOW' THEN 1
             |           ELSE 0 END) AS ib
             |       FROM orders
             |       WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
             |       GROUP BY o_custkey))
             |SELECT n_sk_a::BIGINT AS n_sk_a, n_sk_b::BIGINT AS n_sk_b,
             |  n_sk_union::BIGINT AS n_sk_union, common::BIGINT AS common,
             |  (10000 * common // n_sk_union)::BIGINT AS jaccard_bp,
             |  (common::HUGEINT *
             |     (CASE WHEN n_sk_union < 64 THEN n_sk_union::HUGEINT
             |       ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // theta
             |      END) // n_sk_union)::BIGINT AS inter_est,
             |  (CASE WHEN n_sk_union < 64 THEN n_sk_union::HUGEINT
             |     ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // theta
             |   END)::BIGINT AS est_union,
             |  exact_inter::BIGINT AS exact_inter,
             |  exact_union::BIGINT AS exact_union,
             |  (10000 * exact_inter // exact_union)::BIGINT AS exact_jaccard_bp
             |FROM m, ex""".stripMargin)),

    // Grouped top-k WITHOUT a window (functions/TopKAgg): the typed
    // Aggregator keeps ≤ k entries per group per partition MAP-SIDE and
    // merges k-bounded sorted runs — shuffle O(groups·k) — where the
    // row_number() window form must sort every group's FULL row set (one
    // fat shuffle partition per hot group, the 100 TB failure mode). The
    // (v DESC, id ASC) total order makes boundary ties deterministic; the
    // oracle IS the window form, so the hash match proves the aggregation
    // path selects identical rows. TopKSpec pins the no-Window plan.
    Q("agg_topk_group",
      (s, dir) => load(s, dir, "orders")
        .select(col("o_orderstatus"),
          Exact.cents(col("o_totalprice")).as("c"), col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.TopKAgg.topKMax(col("c"), col("o_orderkey"), 3)
          .as("t"))
        .select(col("o_orderstatus"), posexplode(col("t.entries")))
        .select(col("o_orderstatus"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("o_orderkey"), Exact.dollars(col("col.v")).as("price"))
        .orderBy(col("o_orderstatus"), col("rank")),
      Some(s"""SELECT o_orderstatus, rank, o_orderkey, price FROM (
             |  SELECT o_orderstatus, o_orderkey,
             |    (${cents("o_totalprice")})::DOUBLE / 100.0 AS price,
             |    row_number() OVER (PARTITION BY o_orderstatus
             |      ORDER BY ${cents("o_totalprice")} DESC, o_orderkey) AS rank
             |  FROM orders) t
             |WHERE rank <= 3 ORDER BY o_orderstatus, rank""".stripMargin)),

    // KMV state MAINTENANCE: 3 disjoint ingest batches each build a
    // per-(group, batch) sketch; merging the stored sketches — min-k of
    // the union, array built-ins only — yields EXACTLY the full-corpus
    // sketch: min-k is associative/commutative/idempotent, so per-batch
    // partials compose losslessly. The oracle computes the FULL-corpus
    // sketch; the hash match (slots, θ, estimator) proves merge ≡
    // rebuild bit-for-bit — the property that lets 100 TB distinct state
    // fold in new days at delta cost (cf. agg_incremental_state, whose
    // HLL leg can only promise tolerance).
    Q("agg_kmv_incremental",
      (s, dir) => {
        val k = 64
        val M = graft.functions.KmvAgg.HashDomain
        load(s, dir, "orders")
          .select(col("o_orderstatus"),
            pmod(col("o_orderkey"), lit(3)).as("b"),
            conv(substring(md5(col("o_custkey").cast("string")), 1, 15),
              16, 10).cast("long").as("h"))
          .groupBy(col("o_orderstatus"), col("b"))
          .agg(graft.functions.KmvAgg.kmvMin(col("h"), k).as("sk"))
          .groupBy(col("o_orderstatus"))
          .agg(slice(array_sort(array_distinct(
            flatten(collect_list(col("sk.hashes"))))), 1, k).as("m"))
          .select(col("o_orderstatus"),
            size(col("m")).cast("long").as("n_sketch"),
            element_at(col("m"), size(col("m"))).as("theta"),
            when(size(col("m")) < k, size(col("m")).cast("long"))
              .otherwise(expr(s"CAST(${k - 1} AS DECIMAL(38,0)) * " +
                s"CAST($M AS DECIMAL(38,0)) div element_at(m, $k)"))
              .as("est"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH h AS (
             |  SELECT DISTINCT o_orderstatus,
             |    ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
             |  FROM orders),
             |r AS (SELECT o_orderstatus, h,
             |        row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rk
             |      FROM h)
             |SELECT o_orderstatus,
             |  (count(*) FILTER (WHERE rk <= 64))::BIGINT AS n_sketch,
             |  max(h) FILTER (WHERE rk <= 64) AS theta,
             |  (CASE WHEN (count(*) FILTER (WHERE rk <= 64)) < 64
             |     THEN (count(*) FILTER (WHERE rk <= 64))::HUGEINT
             |     ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) //
             |       (max(h) FILTER (WHERE rk <= 64)) END)::BIGINT AS est
             |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Exact WEIGHTED percentiles (Relational.weightedPercentilesBy):
    // price quartiles per return flag where each lineitem counts
    // l_quantity times — the "median price weighted by units sold"
    // readout. Integer end-to-end: threshold = ceil(p_bp·W/10⁴) via div,
    // crossing row selected by filter (cum ≥ thr ∧ cum − wc < thr), so
    // the oracle replays the identical arithmetic. Shape: one groupBy
    // onto distinct (flag, price) state + one group-keyed window — raw
    // rows are never sorted.
    Q("agg_weighted_percentiles",
      (s, dir) => Relational.weightedPercentilesBy(
          load(s, dir, "lineitem"), Seq("l_returnflag"),
          Exact.cents(col("l_extendedprice")),
          col("l_quantity").cast("long"), Seq(2500L, 5000L, 7500L))
        .select(col("l_returnflag"), col("p_bp"),
          Exact.dollars(col("value")).as("value")),
      Some(s"""WITH st AS (SELECT l_returnflag,
             |    ${cents("l_extendedprice")} AS v,
             |    sum(l_quantity::BIGINT) AS wc
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (SELECT l_returnflag, v, wc,
             |    sum(wc) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
             |    sum(wc) OVER (PARTITION BY l_returnflag) AS w
             |  FROM st),
             |p AS (SELECT unnest([2500, 5000, 7500]) AS p_bp)
             |SELECT l_returnflag, p_bp::BIGINT AS p_bp,
             |  v::DOUBLE / 100.0 AS value
             |FROM c, p
             |WHERE cum >= (p_bp * w + 9999) // 10000
             |  AND cum - wc < (p_bp * w + 9999) // 10000
             |ORDER BY l_returnflag, p_bp""".stripMargin)),

    // 2-D Pareto frontier / skyline (Relational.paretoFrontier2D):
    // cheapest-and-largest parts per brand — rows no same-brand part
    // dominates (≤ price, ≥ size, one strict). The engine does it in ONE
    // group-keyed window pass (two RANGE frames of the same window:
    // min-y over x' < x and over x' == x), shuffle O(n) and join-free
    // (spec pins the plan); the oracle is the textbook quadratic
    // NOT EXISTS self-join — maximally independent of the implementation.
    Q("sort_pareto_frontier",
      (s, dir) => Relational.paretoFrontier2D(
          load(s, dir, "part").select(col("p_brand"), col("p_partkey"),
            Exact.cents(col("p_retailprice")).as("price_c"),
            col("p_size").cast("long").as("size"),
            (-col("p_size")).cast("long").as("neg_size")),
          "price_c", "neg_size", Seq("p_brand"))
        .select(col("p_brand"), col("p_partkey"),
          Exact.dollars(col("price_c")).as("price"), col("size"))
        .orderBy(col("p_brand"), col("price"), col("size"), col("p_partkey")),
      Some(ParetoOracle)),

    // INCREMENTAL frontier maintenance: the skyline is an online-
    // maintainable view — frontier(frontier(A) ∪ B) = frontier(A ∪ B)
    // (a dominator of any discarded row survives into frontier(A) by
    // transitivity, and still dominates it in the union). Three ingest
    // batches fold through the stored frontier; the oracle is the FULL
    // NOT EXISTS recompute VERBATIM, so the hash match proves fold ≡
    // rebuild — a 100 TB frontier updates at batch cost against
    // frontier-sized state.
    Q("sort_pareto_incremental",
      (s, dir) => {
        val p = load(s, dir, "part").select(col("p_brand"), col("p_partkey"),
          Exact.cents(col("p_retailprice")).as("price_c"),
          col("p_size").cast("long").as("size"),
          (-col("p_size")).cast("long").as("neg_size"))
        val batches = (0 to 2).map(i => p.filter(col("p_partkey") % 3 === i))
        batches.tail.foldLeft(
            Relational.paretoFrontier2D(batches.head, "price_c", "neg_size",
              Seq("p_brand"))) { (state, batch) =>
            Relational.paretoFrontier2D(state.unionByName(batch),
              "price_c", "neg_size", Seq("p_brand"))
          }
          .select(col("p_brand"), col("p_partkey"),
            Exact.dollars(col("price_c")).as("price"), col("size"))
          .orderBy(col("p_brand"), col("price"), col("size"), col("p_partkey"))
      },
      Some(ParetoOracle)),

    // HLL sketch values differ across engines by design, so the raw
    // estimate is not oracle-replayable. Verifiable form: emit the exact
    // count NEXT TO a tolerance verdict on the estimate (|approx − exact| ≤
    // 3×rsd×exact, rsd = 0.05 default — same bound ApproxDistinctSpec pins),
    // and let the oracle assert the verdict is TRUE. The hash compare then
    // FAILS the round if any group's sketch drifts out of tolerance —
    // a real correctness gate, not a rows-only count.
    Q("agg_approx_distinct",
      (s, dir) => load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          approx_count_distinct(col("o_custkey")).as("approx"))
        .select(col("o_orderstatus"), col("n_customers"),
          (abs(col("approx") - col("n_customers")) <=
            lit(3 * 0.05) * col("n_customers")).as("approx_ok"))
        .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
             |TRUE AS approx_ok
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Incremental aggregate maintenance (ops/IncrAgg): orders arrive as 3
    // disjoint batches; each batch contributes only mergeable PARTIALS
    // (count/sum/min/max + an HLL distinct sketch), and the final answer is
    // derived from the merged state alone — the oracle is the full
    // single-pass recompute, so the hash match proves the merge algebra is
    // lossless for the algebraic aggregates, and the HLL estimate carries a
    // tolerance verdict (same pattern as agg_approx_distinct). At 100 TB
    // this is the difference between re-scanning the corpus per run and
    // shuffling a state table of groups × batches rows.
    Q("agg_incremental_state",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val state = (0 until 3).map { b =>
          graft.ops.IncrAgg.partialState(
            o.filter(pmod(col("o_orderkey"), lit(3)) === b),
            Seq("o_orderstatus"), Exact.cents(col("o_totalprice")),
            col("o_custkey"))
        }.reduce(_ unionByName _)
        val merged = graft.ops.IncrAgg.mergeState(state, Seq("o_orderstatus"))
        val exact = o.groupBy(col("o_orderstatus"))
          .agg(countDistinct(col("o_custkey")).as("n_cust"))
        merged.join(exact, Seq("o_orderstatus"))
          .select(col("o_orderstatus"), col("cnt"),
            Exact.dollars(col("sum_v")).as("sum_price"),
            Exact.dollars(col("min_v")).as("min_price"),
            Exact.dollars(col("max_v")).as("max_price"),
            col("n_cust"),
            (abs(col("approx_distinct") - col("n_cust")) <=
              lit(3 * 0.016) * col("n_cust")).as("approx_ok"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, count(*) AS cnt,
             |sum(p)::DOUBLE / 100.0 AS sum_price,
             |min(p)::DOUBLE / 100.0 AS min_price,
             |max(p)::DOUBLE / 100.0 AS max_price,
             |count(DISTINCT o_custkey) AS n_cust, TRUE AS approx_ok
             |FROM (SELECT o_orderstatus, o_custkey, ${cents("o_totalprice")} AS p
             |      FROM orders) t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Steady-state twin: the 16-batch partial state is PREWARMED
    // (StoredIndexes.aggState), so the timed region is mergeState over
    // groups × batches partial rows — no orders scan at all. The oracle is
    // still the full recompute, so the hash match ALSO proves the stored
    // state is faithful end-to-end. (The HLL verdict lives on the rebuild
    // sibling, whose Spark side can afford the exact countDistinct.)
    Q("agg_incremental_state_stored",
      (s, dir) => graft.ops.IncrAgg
        .mergeState(StoredIndexes.aggState(s, dir), Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("cnt"),
          Exact.dollars(col("sum_v")).as("sum_price"),
          Exact.dollars(col("min_v")).as("min_price"),
          Exact.dollars(col("max_v")).as("max_price"))
        .orderBy(col("o_orderstatus")),
      Some(s"""SELECT o_orderstatus, count(*) AS cnt,
             |sum(p)::DOUBLE / 100.0 AS sum_price,
             |min(p)::DOUBLE / 100.0 AS min_price,
             |max(p)::DOUBLE / 100.0 AS max_price
             |FROM (SELECT o_orderstatus, ${cents("o_totalprice")} AS p
             |      FROM orders) t
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Per-group z-score outliers with ZERO float ops
    // (Relational.outlierFlags): |x − μ| > 1.5σ cross-multiplied to
    // 100·(n·x − S)² > 15²·(n·Q − S²) over exact cent integers
    // (Decimal(38) sums ↔ the oracle's 128-bit HUGEINT) — the flag is
    // bit-exact in both engines, no tolerance, no boundary flakiness.
    // ~13% of a uniform distribution sits beyond 1.5σ, so the counts are
    // load-bearing.
    Q("agg_outlier_exact",
      (s, dir) => Relational.outlierFlags(load(s, dir, "orders"),
          Seq("o_orderstatus"), Exact.cents(col("o_totalprice")), k10 = 15)
        .groupBy(col("o_orderstatus"))
        .agg(sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderstatus")),
      Some(s"""WITH p AS (SELECT o_orderstatus, ${cents("o_totalprice")} AS c
             |           FROM orders),
             |g AS (SELECT o_orderstatus, count(*)::HUGEINT AS n,
             |             sum(c)::HUGEINT AS s, sum(c * c)::HUGEINT AS q
             |      FROM p GROUP BY 1)
             |SELECT p.o_orderstatus,
             |  sum(CASE WHEN 100 * (g.n * p.c - g.s) * (g.n * p.c - g.s) >
             |                225 * (g.n * g.q - g.s * g.s)
             |           THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
             |  count(*) AS n_rows
             |FROM p JOIN g USING (o_orderstatus)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Robust (median/MAD) outliers, also ZERO float ops
    // (Relational.outlierFlagsMad): median and MAD are exact nearest-rank
    // cent statistics (two-level cumulative shape, no data-sized windows),
    // the flag is the integer cross-multiplication 10·|x−med| > 20·MAD.
    // Unlike the z-score above, one extreme value cannot drag the
    // boundary and mask a second outlier.
    Q("agg_outlier_mad",
      (s, dir) => Relational.outlierFlagsMad(load(s, dir, "orders"),
          Seq("o_orderstatus"), Exact.cents(col("o_totalprice")), k10 = 20)
        .groupBy(col("o_orderstatus"))
        .agg(sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderstatus")),
      Some(s"""WITH p AS (SELECT o_orderstatus, ${cents("o_totalprice")} AS c
             |           FROM orders),
             |f AS (SELECT o_orderstatus, c AS v, count(*) AS cnt
             |      FROM p GROUP BY 1, 2),
             |cum AS (SELECT o_orderstatus, v, cnt,
             |    sum(cnt) OVER (PARTITION BY o_orderstatus ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS hi,
             |    sum(cnt) OVER (PARTITION BY o_orderstatus) AS n
             |  FROM f),
             |med AS (SELECT o_orderstatus, v AS m FROM cum
             |  WHERE hi >= floor(0.5 * (n - 1))::BIGINT + 1
             |    AND hi - cnt < floor(0.5 * (n - 1))::BIGINT + 1),
             |d AS (SELECT p.o_orderstatus, abs(p.c - med.m) AS dev
             |      FROM p JOIN med USING (o_orderstatus)),
             |f2 AS (SELECT o_orderstatus, dev AS v, count(*) AS cnt
             |       FROM d GROUP BY 1, 2),
             |cum2 AS (SELECT o_orderstatus, v, cnt,
             |    sum(cnt) OVER (PARTITION BY o_orderstatus ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS hi,
             |    sum(cnt) OVER (PARTITION BY o_orderstatus) AS n
             |  FROM f2),
             |mad AS (SELECT o_orderstatus, v AS md FROM cum2
             |  WHERE hi >= floor(0.5 * (n - 1))::BIGINT + 1
             |    AND hi - cnt < floor(0.5 * (n - 1))::BIGINT + 1)
             |SELECT d.o_orderstatus,
             |  sum(CASE WHEN d.dev * 10 > mad.md * 20 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_outliers,
             |  count(*) AS n_rows
             |FROM d JOIN mad USING (o_orderstatus)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Market-basket frequent pairs (Relational.basketPairs): parts bought
    // together in the same order, support-counted and global-top-50 ranked.
    // Distinct (order, part) → self-join keyed on the order id → canonical
    // a<b pair count; basket sizes are bounded (≤7 lines/order) so the
    // expansion is linear in orders. The final top-k is a pushed
    // TakeOrdered, not a global sort; (support DESC, a, b) is a total
    // order so the LIMIT boundary is engine-independent.
    // STEADY STATE: the same top-3 recommendations from the STORED
    // co-purchase index (edge table + item-frequency table, both
    // session-cached and incrementally maintainable) — the timed cost is
    // two keyed joins + the k-bounded TopKAgg, never the distinct +
    // self-join rebuild. Same oracle as the rebuild sibling.
    Q("basket_item_recs_indexed",
      (s, dir) => graft.ops.Relational.itemRecommendationsFromParts(
          StoredIndexes.basketEdges(s, dir), StoredIndexes.itemFreq(s, dir),
          k = 3, minSupport = 2L)
        .select(col("item").as("part_item"), col("rank"),
          col("rec").as("rec_part"), col("cos2_e8"))
        .orderBy(col("part_item"), col("rank")),
      Some(ItemRecsOracle)),

    // Association rules (Relational.associationRules): directed a→b
    // rules over co-purchase baskets, confidence and lift in EXACT
    // integer basis points (conf = 10⁴·s div f_a, lift = 10⁴·s·N div
    // (f_a·f_b), decimal-widened) — the Agrawal-Srikant readout with no
    // float anywhere, so the ranking is engine-exact. Top 50 by lift.
    Q("basket_rules",
      (s, dir) => graft.ops.Relational.associationRules(
          load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minSupport = 2L)
        .select(col("antecedent"), col("consequent"), col("support"),
          col("conf_bp"), col("lift_bp"))
        .orderBy(col("lift_bp").desc, col("antecedent"), col("consequent"))
        .limit(50),
      Some("""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |           FROM lineitem),
             |f AS (SELECT p, count(*) AS freq FROM b GROUP BY 1),
             |n AS (SELECT count(DISTINCT o) AS nb FROM b),
             |pr AS (SELECT x.p AS a, y.p AS b2, count(*) AS s
             |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |sym AS (SELECT a AS ant, b2 AS con, s FROM pr
             |        UNION ALL SELECT b2, a, s FROM pr),
             |r AS (SELECT ant, con, s AS support,
             |    (10000 * s) // fa.freq AS conf_bp,
             |    (10000::HUGEINT * s * n.nb) //
             |      (fa.freq::HUGEINT * fc.freq) AS lift_bp
             |  FROM sym JOIN f fa ON fa.p = ant
             |    JOIN f fc ON fc.p = con, n)
             |SELECT ant AS antecedent, con AS consequent, support,
             |  conf_bp::BIGINT AS conf_bp, lift_bp::BIGINT AS lift_bp
             |FROM r ORDER BY lift_bp DESC, antecedent, consequent
             |LIMIT 50""".stripMargin)),

    // Item-item CF recommendations (Relational.itemRecommendations):
    // top-3 co-purchase neighbors per part by cosine over basket
    // membership — ranked on exact integer cos²·10⁸ = support²·10⁸ div
    // (freq_a·freq_b) (cos is monotone in cos², so no float ever enters
    // the ordering; quantization ties break by neighbor id). The grouped
    // top-3 runs through TopKAgg (k-bounded partial aggregation, no
    // per-item window sort); the oracle ranks the same scores with the
    // window form — the hash match proves both the scoring arithmetic
    // and the top-k selection.
    Q("basket_item_recs",
      (s, dir) => graft.ops.Relational.itemRecommendations(
          load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          k = 3, minSupport = 2L)
        .select(col("item").as("part_item"), col("rank"),
          col("rec").as("rec_part"), col("cos2_e8"))
        .orderBy(col("part_item"), col("rank")),
      Some(ItemRecsOracle)),

    Q("basket_pair_support",
      (s, dir) => graft.ops.Relational.basketPairs(
          load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
          col("support"))
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(50),
      Some(BasketPairOracle)),

    // STEADY STATE: the same top-50 against the STORED co-purchase edge
    // table (StoredIndexes.basketEdges, prewarmed by Bench) — timed cost
    // is the pushed TakeOrdered over the warm edge frame, not the
    // distinct + self-join rebuild. Same oracle.
    Q("basket_pair_support_indexed",
      (s, dir) => StoredIndexes.basketEdges(s, dir)
        .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
          col("support"))
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(50),
      Some(BasketPairOracle)),

    // INCREMENTAL MAINTENANCE, driver-checked end to end: bootstrap the
    // stored edge table from the corpus orders (l_orderkey % 20 != 0),
    // fold the batch orders in via appendToBasketEdges (delta-sized — the
    // steady-state maintenance write), then answer the same top-50 from
    // the consolidating read. Baskets ARE orders, so the % 20 split can't
    // straddle one (the append contract); corpus ∪ batch = full lineitem,
    // so the SAME full-rebuild oracle must hash-match — proving
    // append-then-read ≡ rebuild at the driver gate, not just in specs.
    // Fresh temp dir per call (shutdown-cleaned via StoredIndexes'
    // registry): append is stateful, and a bench re-run folding the same
    // batch twice would silently double its support.
    Q("basket_pair_support_incremental",
      (s, dir) => {
        val d = StoredIndexes.newScratchDir("graft-basket-incr-")
        val li = load(s, dir, "lineitem")
        graft.ops.Relational.writeBasketEdges(
          li.filter(col("l_orderkey") % 20 =!= 0), d,
          "l_orderkey", "l_partkey")
        graft.ops.Relational.appendToBasketEdges(
          li.filter(col("l_orderkey") % 20 === 0), d,
          "l_orderkey", "l_partkey")
        graft.ops.Relational.readBasketEdges(s, d)
          .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
            col("support"))
          .orderBy(col("support").desc, col("part_a"), col("part_b"))
          .limit(50)
      },
      Some(BasketPairOracle)),

    // Connected components of the co-purchase graph (Graph
    // .connectedComponents over basketPairs support ≥ 2): min-id labels
    // from the same size-gated union-find / min-label-propagation engine
    // as the dedup clusters; the oracle recomputes the labels by
    // recursive transitive closure, so the hash match proves the
    // resolution exact, not approximate.
    Q("basket_components",
      (s, dir) => graft.ops.Graph.connectedComponents(
          graft.ops.Relational.basketPairs(
              load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
            .filter(col("support") >= 2),
          "item_a", "item_b")
        .orderBy(col("node")),
      Some(BasketComponentsOracle)),

    // STEADY STATE: components over the STORED edge table — timed cost is
    // the union-find / min-label engine alone. Same oracle.
    Q("basket_components_indexed",
      (s, dir) => graft.ops.Graph.connectedComponents(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2),
          "item_a", "item_b")
        .orderBy(col("node")),
      Some(BasketComponentsOracle)),

    // Same labels via the two-star algorithm (Kiveris et al. 2014):
    // alternating large-star/small-star rounds converge in O(log² n)
    // rounds instead of O(diameter) — the form that survives long-chain
    // components at 100 TB, where min-label propagation's round count is
    // the scale killer. Value-identical to basket_components (the min-id
    // labeling is the algorithm's fixpoint), so the SAME oracle proves
    // the exotic round structure resolves exactly. Stored edges: timed
    // cost is the two-star machinery alone.
    Q("basket_components_twostar",
      (s, dir) => graft.ops.Graph.twoStarComponents(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2),
          a = "item_a", b = "item_b").out
        .orderBy(col("node")),
      Some(BasketComponentsOracle)),

    // Jaccard link prediction on the co-purchase graph (Graph
    // .linkPredictionJaccard, Liben-Nowell & Kleinberg 2003): top-50
    // non-adjacent part pairs by shared-neighbor Jaccard — the
    // "customers also bought" recommendation primitive. Wedge-generated
    // candidates (never all-pairs), floor-bp scores, oracle replays the
    // definitional wedge count / anti-join / degree arithmetic.
    Q("graph_link_prediction",
      (s, dir) => graft.ops.Graph.linkPredictionJaccard(
          graft.ops.Relational.basketPairs(
              load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
            .filter(col("support") >= 2)
            .select(col("item_a"), col("item_b")),
          "item_a", "item_b")
        .orderBy(col("score_bp").desc, col("item_a"), col("item_b"))
        .limit(50),
      Some(LinkPredictionOracle)),

    // STEADY STATE: link prediction over the STORED edge table — timed
    // cost is the wedge/anti-join/degree machinery alone (sf1: the
    // rebuild sibling is ~26 s, all but ~1 s of it the basket edge
    // build). Same oracle.
    Q("graph_link_prediction_indexed",
      (s, dir) => graft.ops.Graph.linkPredictionJaccard(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2)
            .select(col("item_a"), col("item_b")),
          "item_a", "item_b")
        .orderBy(col("score_bp").desc, col("item_a"), col("item_b"))
        .limit(50),
      Some(LinkPredictionOracle)),

    // Label-propagation communities of the co-purchase graph (Graph
    // .labelPropagation, Raghavan et al. 2007): K synchronous rounds of
    // adopt-the-most-frequent-neighbor-label, ties to the smallest — a
    // deterministic trajectory the oracle replays as unrolled per-round
    // CTEs (count → argmax window), exactly like graph_pagerank's
    // unrolled iterations. Finds denser sub-communities WITHIN the
    // connected components basket_components labels.
    Q("graph_lpa_communities",
      (s, dir) => graft.ops.Graph.labelPropagation(
          graft.ops.Relational.basketPairs(
              load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
            .filter(col("support") >= 2),
          Stop.Rounds(4), "item_a", "item_b").out
        .orderBy(col("node")),
      Some(lpaOracle(4))),

    // STEADY STATE: LPA over the STORED edge table — timed cost is the 4
    // synchronous label rounds alone (keyed join + count + per-node
    // argmax window per round). Same oracle.
    Q("graph_lpa_communities_indexed",
      (s, dir) => graft.ops.Graph.labelPropagation(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2),
          Stop.Rounds(4), "item_a", "item_b").out
        .orderBy(col("node")),
      Some(lpaOracle(4))),

    // Local clustering coefficient of the co-purchase graph (Graph
    // .clusteringCoefficientBp = degree aggregate + degree-oriented
    // triangle counts, floor-bp ratio). Oracle replays degrees, the
    // definitional triple-join triangles, and the integer ratio.
    Q("basket_clustering_coeff",
      (s, dir) => graft.ops.Graph.clusteringCoefficientBp(
          graft.ops.Relational.basketPairs(
              load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
            .filter(col("support") >= 2),
          "item_a", "item_b")
        .orderBy(col("node")),
      Some(BasketClusteringOracle)),

    // STEADY STATE: clustering coefficient over the STORED edge table —
    // timed cost is degrees + degree-oriented wedge join alone. Same
    // oracle.
    Q("basket_clustering_coeff_indexed",
      (s, dir) => graft.ops.Graph.clusteringCoefficientBp(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2),
          "item_a", "item_b")
        .orderBy(col("node")),
      Some(BasketClusteringOracle)),

    // Multi-source BFS over the co-purchase graph (Graph.bfsHops):
    // hop distance from every part to its NEAREST hub (degree >= 4),
    // capped at 3 hops — the hub-proximity feature. One cached symmetric
    // adjacency, then per round a frontier-keyed join + distinct +
    // anti-join (frontier/node-sized, never edge-rescans); the
    // recursive-CTE oracle replays min-dist exactly.
    Q("graph_bfs_hops",
      (s, dir) => graft.ops.Graph.bfsHops(
          graft.ops.Relational.basketPairs(
              load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
            .filter(col("support") >= 2),
          minSeedDegree = 4, Stop.Rounds(3), "item_a", "item_b").out
        .orderBy(col("node")),
      Some(BasketBfsOracle)),

    // STEADY STATE: BFS over the STORED edge table — timed cost is the
    // frontier rounds alone. Same oracle.
    Q("graph_bfs_hops_indexed",
      (s, dir) => graft.ops.Graph.bfsHops(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2),
          minSeedDegree = 4, Stop.Rounds(3), "item_a", "item_b").out
        .orderBy(col("node")),
      Some(BasketBfsOracle)),

    // Weighted sibling of graph_bfs_hops (Graph.minCostHops): 3-round
    // Bellman-Ford to the nearest hub under edge cost 10000 div support —
    // strong co-purchase links are cheap, so a chain of strong links can
    // undercut one weak direct edge (the spec's distinguishing case).
    // Min-reductions are order-free; the unrolled oracle replays every
    // relaxation exactly.
    Q("graph_hub_cost",
      (s, dir) => graft.ops.Graph.minCostHops(
          graft.ops.Relational.basketPairs(
              load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
            .filter(col("support") >= 2)
            .withColumn("w", expr("10000 div support")),
          "w", minSeedDegree = 4, Stop.Rounds(3), "item_a", "item_b").out
        .orderBy(col("node")),
      Some(basketHubCostOracle(3))),

    // STEADY STATE: Bellman-Ford over the STORED edge table — the
    // relaxation rounds alone. Same oracle.
    Q("graph_hub_cost_indexed",
      (s, dir) => graft.ops.Graph.minCostHops(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2)
            .withColumn("w", expr("10000 div support")),
          "w", minSeedDegree = 4, Stop.Rounds(3), "item_a", "item_b").out
        .orderBy(col("node")),
      Some(basketHubCostOracle(3))),

    // Per-segment exact OLS spend trend (Relational.groupTrend): ONE keyed
    // aggregation of five Decimal(38,0) moment sums (DuckDB HUGEINT — n·Σxy
    // overflows BIGINT at this scale, which is the point of the decimal
    // path), then slope/intercept as exact integer numerator ÷ denominator
    // with a single double division each. x = days since 1995-01-01,
    // y = order cents; the customer dim joins broadcast.
    Q("agg_group_trend",
      (s, dir) => {
        val j = load(s, dir, "orders").join(
          broadcast(load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        graft.ops.Relational.groupTrend(j, Seq("c_mktsegment"),
            datediff(to_date(col("o_orderdate")),
              to_date(lit("1995-01-01"))),
            graft.ops.Exact.cents(col("o_totalprice")))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""WITH p AS (SELECT c_mktsegment,
             |    date_diff('day', DATE '1995-01-01',
             |              o_orderdate::DATE)::HUGEINT AS x,
             |    ${cents("o_totalprice")}::HUGEINT AS y
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |m AS (SELECT c_mktsegment, count(*)::HUGEINT AS n,
             |    sum(x) AS sx, sum(y) AS sy,
             |    sum(x * x) AS sxx, sum(x * y) AS sxy
             |  FROM p GROUP BY 1)
             |SELECT c_mktsegment, n::BIGINT AS n,
             |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |    ELSE round((n * sxy - sx * sy)::DOUBLE
             |             / (n * sxx - sx * sx)::DOUBLE, 6) END AS slope,
             |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |    ELSE round((sy * sxx - sx * sxy)::DOUBLE
             |             / (n * sxx - sx * sx)::DOUBLE, 6) END AS intercept
             |FROM m ORDER BY c_mktsegment""".stripMargin)),

    // Per-group Pearson correlation (Relational.groupCorrelation): six
    // exact Decimal(38,0)/HUGEINT moment sums in one keyed pass; the only
    // float steps (two decimal→double conversions, one multiply, one IEEE
    // sqrt, one division) are bit-deterministic and replayed identically
    // by the oracle. quantity × price cents per return flag.
    Q("agg_group_corr",
      (s, dir) => graft.ops.Relational.groupCorrelation(
          load(s, dir, "lineitem"), Seq("l_returnflag"),
          round(col("l_quantity")).cast("long"),
          graft.ops.Exact.cents(col("l_extendedprice")))
        .orderBy(col("l_returnflag")),
      Some(s"""WITH p AS (SELECT l_returnflag,
             |    CAST(round(l_quantity) AS BIGINT)::HUGEINT AS x,
             |    ${cents("l_extendedprice")}::HUGEINT AS y
             |  FROM lineitem),
             |m AS (SELECT l_returnflag, count(*)::HUGEINT AS n,
             |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             |    sum(x * y) AS sxy, sum(y * y) AS syy
             |  FROM p GROUP BY 1)
             |SELECT l_returnflag, n::BIGINT AS n,
             |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
             |    THEN NULL
             |    ELSE round((n * sxy - sx * sy)::DOUBLE
             |      / sqrt((n * sxx - sx * sx)::DOUBLE
             |           * (n * syy - sy * sy)::DOUBLE), 6) END AS r
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Percentile-rank feature normalization (Relational.rankNormalizeBp):
    // every order's price → strictly-below-count basis points, exact and
    // tie-order-free via the distinct-value cumulative counts (NO row
    // window); the (value → bp) map joins back on the value key — a real
    // keyed shuffle, deliberately not broadcast.
    Q("feature_rank_normalize",
      (s, dir) => graft.ops.Relational.rankNormalizeBp(
          load(s, dir, "orders").select(col("o_orderkey"),
            graft.ops.Exact.cents(col("o_totalprice")).as("price_cents")),
          col("price_cents"))
        .select(col("o_orderkey"), col("rank_bp"))
        .orderBy(col("o_orderkey")),
      Some(s"""WITH p AS (SELECT o_orderkey,
             |    ${cents("o_totalprice")} AS v FROM orders),
             |f AS (SELECT v, count(*) AS c FROM p GROUP BY v),
             |cum AS (SELECT v, c,
             |    sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi
             |  FROM f),
             |n AS (SELECT count(*)::BIGINT AS n FROM p)
             |SELECT o_orderkey,
             |  (((hi - c) * 10000) // n)::BIGINT AS rank_bp
             |FROM p JOIN cum USING (v), n
             |ORDER BY o_orderkey""".stripMargin)),

    // Grouped variant of feature_rank_normalize: each order's price ranked
    // against ITS STATUS GROUP's distribution (Relational.rankNormalizeBpBy
    // — group-partitioned cumulative window, (group, value)-keyed map-back
    // join, never a global window).
    Q("feature_rank_normalize_by",
      (s, dir) => graft.ops.Relational.rankNormalizeBpBy(
          load(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderstatus"),
            graft.ops.Exact.cents(col("o_totalprice")).as("price_cents")),
          Seq("o_orderstatus"), col("price_cents"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("rank_bp"))
        .orderBy(col("o_orderkey")),
      Some(s"""WITH p AS (SELECT o_orderkey, o_orderstatus,
             |    ${cents("o_totalprice")} AS v FROM orders),
             |f AS (SELECT o_orderstatus, v, count(*) AS c FROM p
             |      GROUP BY o_orderstatus, v),
             |cum AS (SELECT o_orderstatus, v, c,
             |    sum(c) OVER (PARTITION BY o_orderstatus ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS hi,
             |    sum(c) OVER (PARTITION BY o_orderstatus) AS n
             |  FROM f)
             |SELECT o_orderkey, p.o_orderstatus,
             |  (((hi - c) * 10000) // n)::BIGINT AS rank_bp
             |FROM p JOIN cum ON p.o_orderstatus = cum.o_orderstatus
             |  AND p.v = cum.v
             |ORDER BY o_orderkey""".stripMargin)),

    // Data-quality constraint report (ops/Quality): null/range rules run
    // in ONE aggregate scan per table regardless of rule count, key
    // uniqueness is one keyed aggregate, referential integrity one
    // anti-join. Two rules fail thousands of rows on this data (price cap,
    // quantity band), so the counts — not just the zeros — are
    // hash-checked.
    Q("quality_checks",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val li = load(s, dir, "lineitem")
        val cust = load(s, dir, "customer")
        Quality.rowChecks(o, Seq(
            "orders_custkey_null" -> col("o_custkey").isNull,
            "orders_price_over_400k" -> (col("o_totalprice") > 400000.0)))
          .unionByName(Quality.rowChecks(li, Seq(
            "lineitem_quantity_out_of_band" ->
              (col("l_quantity") <= 0.0 || col("l_quantity") > 45.0))))
          .unionByName(Quality.uniqueness(o, "orders_orderkey_unique",
            Seq("o_orderkey")))
          .unionByName(Quality.orphans(li, o, "lineitem_orphan_orderkey",
            Seq("l_orderkey"), Seq("o_orderkey")))
          .unionByName(Quality.orphans(o, cust, "orders_orphan_custkey",
            Seq("o_custkey"), Seq("c_custkey")))
          .orderBy(col("check"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'orders_custkey_null' AS "check",
             |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_failed,
             |    count(*) AS n_rows FROM orders
             |  UNION ALL SELECT 'orders_price_over_400k',
             |    sum(CASE WHEN o_totalprice > 400000.0 THEN 1 ELSE 0 END)::BIGINT,
             |    count(*) FROM orders
             |  UNION ALL SELECT 'lineitem_quantity_out_of_band',
             |    sum(CASE WHEN l_quantity <= 0.0 OR l_quantity > 45.0 THEN 1 ELSE 0 END)::BIGINT,
             |    count(*) FROM lineitem
             |  UNION ALL SELECT 'orders_orderkey_unique',
             |    (count(*) - count(DISTINCT o_orderkey))::BIGINT, count(*) FROM orders
             |  UNION ALL SELECT 'lineitem_orphan_orderkey',
             |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
             |       SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
             |    (SELECT count(*) FROM lineitem)
             |  UNION ALL SELECT 'orders_orphan_custkey',
             |    (SELECT count(*) FROM orders o WHERE NOT EXISTS (
             |       SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT,
             |    (SELECT count(*) FROM orders)
             |) t ORDER BY "check"""".stripMargin)),

    // Join-key skew diagnostic (Quality.skewReport): the 25 heaviest
    // customer keys in orders with exact counts and corpus share — the
    // pre-join sizing report for salting/AQE thresholds. Counts once
    // (cached O(keys) frame feeds both top-k and total), top-k is a
    // pushed TakeOrderedAndProject under (cnt desc, key) total order.
    Q("quality_skew_report",
      (s, dir) => Quality.skewReport(load(s, dir, "orders"),
        Seq("o_custkey"), k = 25),
      Some("""WITH c AS (SELECT o_custkey, count(*) AS cnt
             |      FROM orders GROUP BY 1),
             |t AS (SELECT sum(cnt) AS tot FROM c)
             |SELECT o_custkey, cnt,
             |  CAST(floor(cnt::DOUBLE * 10000 / tot) AS BIGINT) AS share_bp
             |FROM c, t ORDER BY cnt DESC, o_custkey LIMIT 25""".stripMargin)),

    // Distribution-drift monitor (ops/Quality.psiDrift): per-bucket PSI
    // terms between a reference slice and a "current batch" slice of the
    // documents corpus, bucketed by token-count decile band. Every term is
    // (p_cur − p_ref)·ln(p_cur/p_ref) ≥ 0 under Laplace smoothing; the
    // division/ln order is identical on both engines, so 6dp-rounded terms
    // hash-match exactly. Two tiny keyed aggregates + one bucket join —
    // the per-ingest drift check a 100 TB pipeline runs on every batch.
    // Two-sample KS drift (Quality.ksDrift): D = sup|F_R − F_N| between
    // returned and delivered lineitem price distributions, exact — the
    // CDF gap at v is a running sum of signed per-value weights
    // c_R·n_N − c_N·n_R, so the whole statistic is keyed counts + ONE
    // range-partitioned cumsum (globalKeyedCumSum, no global window) +
    // TakeOrdered(1). at_value = smallest price attaining the max.
    Q("quality_drift_ks",
      (s, dir) => {
        val li = load(s, dir, "lineitem")
        Quality.ksDrift(
          li.filter(col("l_returnflag") === "R"),
          li.filter(col("l_returnflag") === "N"),
          Exact.cents(col("l_extendedprice")))
      },
      Some(KsOracle)),

    // INCREMENTAL MAINTENANCE of the KS reference: the 'R' reference
    // arrives as TWO disjoint ingest batches, each reduced to per-value
    // counts; the stored states merge by SUMMING (plain keyed counts —
    // the percentileState discipline) and ksDriftFromCounts scores the
    // current batch against the merged state. The oracle is
    // quality_drift_ks's full-recompute SQL VERBATIM, so the hash match
    // proves merge ≡ rebuild — a drift monitor folds new reference days
    // in at delta cost, never re-reading history.
    Q("quality_drift_ks_incremental",
      (s, dir) => {
        val li = load(s, dir, "lineitem")
        val ref = li.filter(col("l_returnflag") === "R")
        val parts = (0 to 1).map(i =>
          ref.filter(col("l_orderkey") % 2 === i)
            .select(Exact.cents(col("l_extendedprice")).as("v"))
            .groupBy("v").agg(count(lit(1)).as("c")))
        val merged = parts.reduce(_ unionByName _)
          .groupBy("v").agg(sum(col("c")).as("c"))
        Quality.ksDriftFromCounts(merged,
          li.filter(col("l_returnflag") === "N"),
          Exact.cents(col("l_extendedprice")))
      },
      Some(KsOracle)),

    // Mann-Whitney U / ROC-AUC (Quality.rankSumU2): does price RANK
    // returned lineitems above delivered ones — U in exact half-units
    // (2·U, the ½-tie credit never floats) and the AUC≡U identity in
    // basis points. Never enumerates pairs: per-value counts + ONE
    // range-partitioned cumsum (the ksDrift machinery), U2 =
    // Σ cPos·(2·cumNeg< + cNeg) over distinct values.
    Q("quality_rank_auc",
      (s, dir) => {
        val li = load(s, dir, "lineitem")
        Quality.rankSumU2(
          li.filter(col("l_returnflag") === "R"),
          li.filter(col("l_returnflag") === "N"),
          Exact.cents(col("l_extendedprice")))
      },
      Some(s"""WITH a AS (SELECT ${cents("l_extendedprice")} AS v,
             |    count(*) AS ca FROM lineitem WHERE l_returnflag = 'R'
             |  GROUP BY 1),
             |b AS (SELECT ${cents("l_extendedprice")} AS v, count(*) AS cb
             |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1),
             |u AS (SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca,
             |    coalesce(cb, 0) AS cb
             |  FROM a FULL JOIN b ON a.v = b.v),
             |c AS (SELECT v, ca, cb,
             |    sum(cb) OVER (ORDER BY v) - cb AS below FROM u)
             |SELECT sum(ca)::BIGINT AS n_pos, sum(cb)::BIGINT AS n_neg,
             |  sum(ca * (below * 2 + cb))::BIGINT AS u2,
             |  (10000::HUGEINT * sum(ca * (below * 2 + cb)) //
             |    (2::HUGEINT * sum(ca) * sum(cb)))::BIGINT AS auc_bp
             |FROM c""".stripMargin)),

    // Chi-square independence (Quality.chiSquareE6): is order status
    // independent of order priority — the contingency-table monitor next
    // to PSI (one bucketed feature) and KS (one CDF). Exact per-cell
    // floor of the χ² term ×10⁶ over the FULL category cross product
    // (absent cells contribute at o = 0), everything after one keyed
    // count runs on the |A|·|B| cell table.
    Q("quality_chi_square",
      (s, dir) => Quality.chiSquareE6(load(s, dir, "orders"),
        col("o_orderstatus"), col("o_orderpriority")),
      Some("""WITH o AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
             |    count(*) AS o FROM orders GROUP BY 1, 2),
             |cells AS (SELECT av.a, bv.b, coalesce(o.o, 0) AS o
             |  FROM (SELECT DISTINCT a FROM o) av
             |  CROSS JOIN (SELECT DISTINCT b FROM o) bv
             |  LEFT JOIN o ON o.a = av.a AND o.b = bv.b),
             |t AS (SELECT a, b, o,
             |    sum(o) OVER (PARTITION BY a) AS r,
             |    sum(o) OVER (PARTITION BY b) AS c,
             |    sum(o) OVER () AS n
             |  FROM cells)
             |SELECT sum(((o::HUGEINT * n - r::HUGEINT * c)
             |    * (o::HUGEINT * n - r::HUGEINT * c) * 1000000)
             |    // (n::HUGEINT * r * c))::BIGINT AS chi2_e6,
             |  ((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1))::BIGINT
             |    AS dof,
             |  sum(o)::BIGINT AS n
             |FROM t""".stripMargin)),

    Q("quality_drift_psi",
      (s, dir) => {
        val docs = load(s, dir, "documents")
        Quality.psiDrift(
            docs.filter(col("doc_id") % 3 =!= 0),
            docs.filter(col("doc_id") % 3 === 0),
            least(floor(size(split(col("text"), " ")) / 10), lit(9L)),
            nBuckets = 10)
          .orderBy(col("bucket"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |        least(len(string_split(text, ' ')) // 10, 9) AS bucket
             |      FROM documents),
             |r AS (SELECT bucket, count(*) AS ref_n FROM d
             |      WHERE doc_id % 3 <> 0 GROUP BY bucket),
             |c AS (SELECT bucket, count(*) AS cur_n FROM d
             |      WHERE doc_id % 3 = 0 GROUP BY bucket),
             |j AS (SELECT coalesce(r.bucket, c.bucket) AS bucket,
             |        coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
             |      FROM r FULL OUTER JOIN c ON r.bucket = c.bucket),
             |tot AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM j)
             |SELECT bucket, ref_n::BIGINT AS ref_n, cur_n::BIGINT AS cur_n,
             |  round(((cur_n + 1)::DOUBLE / (ct + 10)
             |       - (ref_n + 1)::DOUBLE / (rt + 10))
             |    * ln(((cur_n + 1)::DOUBLE / (ct + 10))
             |       / ((ref_n + 1)::DOUBLE / (rt + 10))), 6) AS psi_term
             |FROM j, tot ORDER BY bucket""".stripMargin)),

    // Same verifiable-approximation pattern as agg_approx_distinct, for the
    // OTHER workhorse sketch: grouped approx_percentile (KLL-style rank
    // sketch) next to the exact nearest-rank value, with a tolerance verdict
    // the oracle asserts TRUE. accuracy=2000 bounds rank error at n/2000
    // (~150 ranks on the ~300k-row sf0.1 groups) — on these smooth price
    // distributions that moves the value by far less than the 2% relative
    // tolerance, and the KLL update cost is ~5x lighter than the
    // accuracy=10000 setting round 7 shipped (the bench's one carried
    // soft spot); the hash compare still fails the round if the sketch
    // ever drifts past tolerance.
    Q("agg_approx_percentile",
      (s, dir) => {
        val quantiles = Seq(0.5, 0.9)
        // ONE projected scan feeds both branches: the exact nearest-rank
        // side and the KLL sketch side otherwise each re-scan lineitem and
        // re-derive cents. MEMORY_ONLY persist of the 2-column projection
        // (same rationale + eviction story as the dedup shingle caches).
        val proj = load(s, dir, "lineitem")
          .select(col("l_returnflag"),
            Exact.cents(col("l_extendedprice")).as("cents"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        val exact = Relational.nearestRankPercentilesBy(proj,
            Seq("l_returnflag"), col("cents"), quantiles)
          .select(col("l_returnflag"), col("quantile"),
            col("value").as("exact_cents"))
        val approx = proj.groupBy(col("l_returnflag"))
          .agg(percentile_approx(col("cents"),
            array(quantiles.map(lit): _*), lit(2000)).as("ap"))
          .select(col("l_returnflag"),
            posexplode(col("ap")).as(Seq("pos", "approx_cents")))
          .withColumn("quantile",
            element_at(array(quantiles.map(lit): _*), col("pos") + 1))
        exact.join(approx, Seq("l_returnflag", "quantile"))
          .select(col("l_returnflag"), col("quantile"),
            Exact.dollars(col("exact_cents")).as("exact_price"),
            (abs(col("approx_cents") - col("exact_cents")) <=
              lit(0.02) * abs(col("exact_cents"))).as("approx_ok"))
          .orderBy(col("l_returnflag"), col("quantile"))
      },
      Some(s"""WITH f AS (
             |  SELECT l_returnflag, ${cents("l_extendedprice")} AS v, count(*) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |cum AS (
             |  SELECT l_returnflag, v, c,
             |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS hi,
             |    sum(c) OVER (PARTITION BY l_returnflag) AS n
             |  FROM f)
             |SELECT l_returnflag, q::DOUBLE AS quantile, v::DOUBLE / 100.0 AS exact_price,
             |  TRUE AS approx_ok
             |FROM cum, (SELECT unnest([0.5, 0.9]) AS q) qs
             |WHERE hi >= floor(q * (n - 1))::BIGINT + 1
             |  AND hi - c < floor(q * (n - 1))::BIGINT + 1
             |ORDER BY l_returnflag, quantile""".stripMargin)),

    // Third workhorse sketch after HLL (agg_approx_distinct) and KLL
    // (agg_approx_percentile): count-min heavy hitters. The sketch side is
    // one pass / fixed memory / partial+final merge — NO shuffle keyed on
    // the distinct items — and the oracle-checkable verdict asserts the CMS
    // contract (never undercounts; overcount <= eps*N) per top-k key, so a
    // drifting sketch fails the round's hash compare.
    Q("agg_heavy_hitters_cms",
      (s, dir) => Sketch.heavyHittersCms(
          load(s, dir, "events"), col("user_id"), k = 10,
          eps = 0.001, confidence = 0.99, seed = 42)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("exact_n").desc, col("user_id")),
      Some("""SELECT user_id, count(*) AS exact_n, TRUE AS cms_ok
             |FROM events GROUP BY user_id
             |ORDER BY exact_n DESC, user_id LIMIT 10""".stripMargin)),

    // CMS at STEADY STATE: one fixed-size sketch per ingest batch
    // (event_id % 4), merged cell-wise — exact addition of same-geometry
    // counters, so the merged sketch is bit-identical to the one-pass
    // sketch and the SAME oracle proves it (Sketch
    // .heavyHittersCmsIncremental). Raw history is never re-scanned by
    // the sketch side at steady state.
    Q("agg_heavy_hitters_incremental",
      (s, dir) => Sketch.heavyHittersCmsIncremental(
          load(s, dir, "events"), pmod(col("event_id"), lit(4)),
          col("user_id"), k = 10, eps = 0.001, confidence = 0.99, seed = 42)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("exact_n").desc, col("user_id")),
      Some("""SELECT user_id, count(*) AS exact_n, TRUE AS cms_ok
             |FROM events GROUP BY user_id
             |ORDER BY exact_n DESC, user_id LIMIT 10""".stripMargin)),

    Q("agg_rollup",
      (s, dir) => load(s, dir, "customer")
        .join(broadcast(load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          Exact.dollars(sum(Exact.cents(col("c_acctbal")))).as("sum_acctbal"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name")),
      Some(s"""SELECT r_name, n_name, count(*) AS n_customers,
             |sum(${cents("c_acctbal")})::DOUBLE / 100.0 AS sum_acctbal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)),

    Q("agg_cube",
      (s, dir) => load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.dollars(sum(Exact.cents(col("o_totalprice")))).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             |sum(${cents("o_totalprice")})::DOUBLE / 100.0 AS sum_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Q("agg_grouping_sets",
      (s, dir) => {
        load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
                |FROM orders
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Q("agg_collect_list",
      (s, dir) => load(s, dir, "nation")
        .join(broadcast(load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("r_name")),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // collect_set twin: per-customer distinct order priorities (sorted for
    // determinism — set iteration order is engine-local).
    Q("agg_collect_set",
      (s, dir) => load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"))
        .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey,
             |array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
             |  AS priorities
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Nearest-rank percentiles over exact cents — integer rank selection,
    // no interpolation formula to diverge cross-engine (Relational.
    // nearestRankPercentiles; cumulative window runs over the bounded
    // distinct-value domain, not row count).
    Q("agg_percentiles",
      (s, dir) => Relational.nearestRankPercentiles(
          load(s, dir, "orders"), Exact.cents(col("o_totalprice")),
          Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("quantile"), Exact.dollars(col("value")).as("price")),
      Some(s"""WITH f AS (
             |  SELECT ${cents("o_totalprice")} AS v, count(*) AS c
             |  FROM orders GROUP BY 1),
             |cum AS (
             |  SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi
             |  FROM f),
             |r AS (
             |  SELECT q, floor(q * (n - 1))::BIGINT + 1 AS rk
             |  FROM (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q) qs,
             |       (SELECT count(*) AS n FROM orders) nn)
             |SELECT q::DOUBLE AS quantile, v::DOUBLE / 100.0 AS price
             |FROM r JOIN cum ON cum.hi >= r.rk AND cum.hi - cum.c < r.rk
             |ORDER BY quantile""".stripMargin)),

    // Exact mode (most frequent value) per group, ties to the smallest
    // value — spelled out as count + rank on BOTH engines rather than a
    // native mode() whose tie-breaking is engine-defined. The window runs
    // over the distinct-value frequency frame (O(distinct) per group),
    // never the raw rows.
    Q("agg_mode_exact",
      (s, dir) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("cnt").desc, col("qty"))
        load(s, dir, "lineitem")
          .select(col("l_returnflag"),
            Exact.cents(col("l_quantity")).as("qty"))
          .groupBy(col("l_returnflag"), col("qty"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("qty").as("mode_qty_cents"),
            col("cnt"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH f AS (
             |  SELECT l_returnflag, ${cents("l_quantity")} AS qty,
             |         count(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
             |        ORDER BY cnt DESC, qty) AS rn FROM f)
             |SELECT l_returnflag, qty AS mode_qty_cents, cnt
             |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)),

    // Interpolated (PERCENTILE_CONT) percentiles — the other standard
    // quantile definition next to agg_percentiles' nearest-rank: position
    // h = q·(n−1), linear mix of the two bracketing values. Same two-level
    // cumulative-count machinery (no global sort/window); the one double
    // multiply-add per quantile rounds to 6dp, absorbing cross-engine ulp.
    // Oracle: DuckDB's native quantile_cont — an INDEPENDENT
    // implementation of the same type-7 definition, so the match checks
    // the formula itself, not a replay.
    Q("agg_percentile_cont",
      (s, dir) => Relational.interpolatedPercentiles(
          load(s, dir, "orders"), Exact.cents(col("o_totalprice")),
          Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("quantile"), round(col("value") / 100.0, 6).as("price")),
      Some(s"""WITH t AS (SELECT ${cents("o_totalprice")} AS c FROM orders)
             |SELECT quantile, round(value / 100.0, 6) AS price FROM (
             |  SELECT 0.25::DOUBLE AS quantile,
             |    round(quantile_cont(c, 0.25), 6) AS value FROM t
             |  UNION ALL SELECT 0.5::DOUBLE,
             |    round(quantile_cont(c, 0.5), 6) FROM t
             |  UNION ALL SELECT 0.75::DOUBLE,
             |    round(quantile_cont(c, 0.75), 6) FROM t
             |  UNION ALL SELECT 0.95::DOUBLE,
             |    round(quantile_cont(c, 0.95), 6) FROM t) u
             |ORDER BY quantile""".stripMargin)),

    // Grouped PERCENTILE_CONT: the type-7 interpolation per order
    // priority, windows over O(distinct per group) rows. Oracle: DuckDB's
    // native grouped quantile_cont — independent implementation, so the
    // match validates the definition per group.
    Q("agg_percentile_cont_by",
      (s, dir) => Relational.interpolatedPercentilesBy(
          load(s, dir, "orders"), Seq("o_orderpriority"),
          Exact.cents(col("o_totalprice")), Seq(0.5, 0.9))
        .select(col("o_orderpriority"), col("quantile"),
          round(col("value") / 100.0, 6).as("price")),
      Some(s"""WITH t AS (SELECT o_orderpriority,
             |    ${cents("o_totalprice")} AS c FROM orders)
             |SELECT o_orderpriority, quantile,
             |  round(value / 100.0, 6) AS price FROM (
             |  SELECT o_orderpriority, 0.5::DOUBLE AS quantile,
             |    round(quantile_cont(c, 0.5), 6) AS value
             |  FROM t GROUP BY o_orderpriority
             |  UNION ALL
             |  SELECT o_orderpriority, 0.9::DOUBLE,
             |    round(quantile_cont(c, 0.9), 6)
             |  FROM t GROUP BY o_orderpriority) u
             |ORDER BY o_orderpriority, quantile""".stripMargin)),

    // Grouped percentiles: same integer rank selection, partitioned per
    // order priority.
    Q("agg_percentiles_by",
      (s, dir) => Relational.nearestRankPercentilesBy(
          load(s, dir, "orders"), Seq("o_orderpriority"),
          Exact.cents(col("o_totalprice")), Seq(0.5, 0.9))
        .select(col("o_orderpriority"), col("quantile"),
          Exact.dollars(col("value")).as("price")),
      Some(PctByOracle)),

    // Incremental exact percentiles: the SAME grouped medians/p90s, but
    // refreshed from THREE ingest batches' merged frequency states
    // (Relational.percentileState / mergePercentileState) instead of the
    // raw table — the incremental-view pattern for order statistics. The
    // oracle is agg_percentiles_by's full-recompute SQL VERBATIM, so the
    // hash match proves partial-state merge ≡ scanning everything.
    Q("agg_percentiles_incremental",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val parts = (0 to 2).map(i => Relational.percentileState(
          o.filter(col("o_orderkey") % 3 === i), Seq("o_orderpriority"),
          Exact.cents(col("o_totalprice"))))
        Relational.nearestRankPercentilesFromCounts(
            Relational.mergePercentileState(parts.reduce(_ unionByName _),
              Seq("o_orderpriority")),
            Seq("o_orderpriority"), Seq(0.5, 0.9))
          .select(col("o_orderpriority"), col("quantile"),
            Exact.dollars(col("value")).as("price"))
      },
      Some(PctByOracle)),

    // Value histogram: fixed-width buckets over exact cents ($5000/bucket).
    Q("agg_histogram",
      (s, dir) => load(s, dir, "lineitem")
        .select(floor(Exact.cents(col("l_extendedprice")) / lit(500000.0))
          .cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")),
      Some(s"""SELECT floor(${cents("l_extendedprice")} / 500000.0)::BIGINT AS bucket,
             |count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)),

    Q("sort_topk_limit",
      (s, dir) => load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("window_rank_rownum",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        load(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_orderstatus"), col("rn"), col("rnk"), col("drnk"),
            col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderstatus"), col("rn"))
      },
      Some("""SELECT o_orderstatus, rn, rnk, drnk, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderstatus, o_orderkey, o_totalprice,
             |    row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)) t
             |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin)),

    // W1b: the distribution window functions — ntile quartiles,
    // percent_rank, cume_dist — per status over the exact-cents price
    // order. The o_orderkey tiebreak makes the sort a TOTAL order (no
    // peer groups), so all three are engine-deterministic; the 6dp round
    // on the two ratios is belt-and-braces (they're exact small-int
    // divisions in double anyway). Every row hash-checked, not a sample.
    Q("window_ntile_dist",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(Exact.cents(col("o_totalprice")), col("o_orderkey"))
        load(s, dir, "orders")
          .withColumn("tile", ntile(4).over(w).cast("long"))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .select(col("o_orderkey"), col("o_orderstatus"), col("tile"),
            col("pr"), col("cd"))
          .orderBy(col("o_orderkey"))
      },
      Some(s"""SELECT o_orderkey, o_orderstatus,
             |  ntile(4) OVER w AS tile,
             |  round(percent_rank() OVER w, 6) AS pr,
             |  round(cume_dist() OVER w, 6) AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus
             |  ORDER BY ${cents("o_totalprice")}, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // W1c: the value window functions — first/last/nth over an explicit
    // frame. The (date, orderkey) sort is a total order, and last_value
    // uses the FULL partition frame (the default current-row frame makes
    // last_value ≡ the row itself — the classic footgun, pinned here the
    // correct way on both engines).
    Q("window_value_fns",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val full = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        load(s, dir, "orders")
          .withColumn("first_key", first(col("o_orderkey")).over(w))
          .withColumn("last_key", last(col("o_orderkey")).over(full))
          .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(w))
          .select(col("o_custkey"), col("o_orderkey"),
            col("first_key"), col("last_key"), col("second_key"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  first_value(o_orderkey) OVER w AS first_key,
             |  last_value(o_orderkey) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |    AS last_key,
             |  nth_value(o_orderkey, 2) OVER w AS second_key
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Q("window_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        load(s, dir, "orders")
          .withColumn("cents", Exact.cents(col("o_totalprice")))
          .withColumn("prev_price", Exact.dollars(lag(col("cents"), 1).over(w)))
          .withColumn("next_price", Exact.dollars(lead(col("cents"), 1).over(w)))
          .withColumn("delta", Exact.dollars(col("cents") - lag(col("cents"), 1).over(w)))
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("prev_price"), col("next_price"), col("delta"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some(s"""SELECT o_custkey, o_orderkey, o_totalprice,
             |  (lag(cents, 1) OVER w)::DOUBLE / 100.0 AS prev_price,
             |  (lead(cents, 1) OVER w)::DOUBLE / 100.0 AS next_price,
             |  (cents - lag(cents, 1) OVER w)::DOUBLE / 100.0 AS delta
             |FROM (SELECT *, ${cents("o_totalprice")} AS cents FROM orders) t
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Q("window_frame_agg",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        load(s, dir, "orders")
          .withColumn("running_total",
            Exact.dollars(sum(Exact.cents(col("o_totalprice"))).over(w)))
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
            col("running_total"))
          .orderBy(col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
      },
      Some(s"""SELECT o_orderstatus, o_orderkey, o_totalprice,
             |  (sum(${cents("o_totalprice")}) OVER (PARTITION BY o_orderstatus
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE / 100.0
             |    AS running_total
             |FROM orders ORDER BY o_orderstatus, o_orderdate, o_orderkey""".stripMargin)),

    // W3b: RANGE frame — the TIME-interval rolling window (30-day spend
    // per customer), the semantic ROWS frames can't express: the frame is
    // bounded by the ORDER-BY VALUE (epoch day distance ≤ 29), not a row
    // count, and same-day peer rows all see the same sum, so tie order is
    // immaterial by construction. Cents sums keep it cross-engine exact;
    // partitioned by customer — never a global window.
    Q("window_range_frame",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("day")).rangeBetween(-29, 0)
        load(s, dir, "orders")
          .withColumn("day", datediff(to_date(col("o_orderdate")),
            to_date(lit("1995-01-01"))).cast("long"))
          .withColumn("spend_30d",
            sum(graft.ops.Exact.cents(col("o_totalprice"))).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("day"),
            col("spend_30d"))
          .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
      },
      Some(s"""WITH p AS (SELECT o_custkey, o_orderkey,
             |    date_diff('day', DATE '1995-01-01',
             |              o_orderdate::DATE)::BIGINT AS day,
             |    ${cents("o_totalprice")} AS c
             |  FROM orders)
             |SELECT o_custkey, o_orderkey, day,
             |  (sum(c) OVER (PARTITION BY o_custkey ORDER BY day
             |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))::BIGINT
             |    AS spend_30d
             |FROM p ORDER BY o_custkey, day, o_orderkey""".stripMargin)),

    // SCD type-2 dimension history (ops/History): per customer, collapse
    // the order-priority change log into versioned rows with validity
    // intervals. All shuffles keyed on o_custkey — one window marks run
    // starts (a run's first event IS its version row; no groupBy), one
    // chains valid_to. (o_orderdate, o_orderkey) is the per-key total
    // order; same-date ties exist in the data, so the tiebreak is
    // load-bearing on both sides.
    Q("scd2_history",
      (s, dir) => {
        val h = graft.ops.History.scd2FromEvents(load(s, dir, "orders"),
          Seq("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderpriority"))
        h.select(col("o_custkey"), col("attr_val"),
            unix_timestamp(col("valid_from")).as("vf"),
            unix_timestamp(col("valid_to")).as("vt"),
            col("is_current"))
          .orderBy(col("o_custkey"), col("vf"),
            col("vt").asc_nulls_first, col("attr_val"))
      },
      Some(ScdOracleSql)),

    // Incremental SCD2 merge, proven against the full-recompute closure:
    // history is built from pre-cutoff orders, the post-cutoff orders
    // arrive as a batch, and scd2Merge's output hash-matches the one-shot
    // history over ALL orders (the SAME oracle SQL as scd2_history). The
    // merge reprocesses only batch keys — closed rows pass through, the
    // current row collapses to a seed so an unchanged attr extends its run
    // — O(batch + touched history), never O(dimension).
    Q("scd2_merge_incremental",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val cutoff = "2000-06-01"
        val hist = graft.ops.History.scd2FromEvents(
          o.filter(col("o_orderdate") < lit(cutoff)),
          Seq("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderpriority"))
        val merged = graft.ops.History.scd2Merge(hist,
          o.filter(col("o_orderdate") >= lit(cutoff)),
          Seq("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderpriority"))
        merged.select(col("o_custkey"), col("attr_val"),
            unix_timestamp(col("valid_from")).as("vf"),
            unix_timestamp(col("valid_to")).as("vt"),
            col("is_current"))
          .orderBy(col("o_custkey"), col("vf"),
            col("vt").asc_nulls_first, col("attr_val"))
      },
      Some(ScdOracleSql)),

    Q("set_union_all",
      (s, dir) => {
        val o = load(s, dir, "orders")
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), lit("urgent").as("src"))
          .unionByName(o.filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), lit("fstatus").as("src")))
          .orderBy(col("src"), col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
             |UNION ALL
             |SELECT o_orderkey, 'fstatus' AS src FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY src, o_orderkey""".stripMargin)),

    Q("set_intersect_except",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        val fstat = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        urgent.intersect(fstat).select(lit("both").as("op"), col("o_custkey"))
          .unionByName(urgent.except(fstat).select(lit("only_urgent").as("op"), col("o_custkey")))
          .orderBy(col("op"), col("o_custkey"))
      },
      Some("""SELECT 'both' AS op, o_custkey FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') a
             |UNION ALL
             |SELECT 'only_urgent' AS op, o_custkey FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') b
             |ORDER BY op, o_custkey""".stripMargin)),

    Q("dedup_distinct",
      (s, dir) => load(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .dropDuplicates()
        .orderBy(col("o_orderstatus"), col("o_orderpriority")),
      Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    Q("sink_upsert_keyed",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val base = o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_totalprice"), lit("base").as("src"))
        val updates = o.filter(col("o_orderkey") % 6 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
            lit("update").as("src"))
        Relational.upsertByKey(base, updates, Seq("o_orderkey"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_totalprice, 'base' AS src FROM orders WHERE o_orderkey % 3 = 0),
             |updates AS (
             |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice, 'update' AS src
             |  FROM orders WHERE o_orderkey % 6 = 0)
             |SELECT * FROM (
             |  SELECT b.* FROM base b WHERE NOT EXISTS (
             |    SELECT 1 FROM updates u WHERE u.o_orderkey = b.o_orderkey)
             |  UNION ALL SELECT * FROM updates) t
             |ORDER BY o_orderkey""".stripMargin)),

    // Change-data capture by snapshot diff (Relational.snapshotDiff): two
    // synthetic snapshots of orders — keys leave (% 2 side only), arrive
    // (% 3 side only), change (% 18 gets a price bump) or stay identical
    // (dropped). ONE keyed full-outer shuffle; unchanged rows die on the
    // join's own filter. The oracle replays insert/update/delete
    // classification with IS DISTINCT FROM — per-row, not just counts.
    Q("cdc_snapshot_diff",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val oldSnap = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("v"))
        val newSnap = o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") +
            when(col("o_orderkey") % 18 === 0, 1000.0).otherwise(0.0)).as("v"))
        Relational.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"), Seq("v"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT * FROM (
             |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             |         o.v AS old_v, n.v AS new_v,
             |         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
             |              WHEN n.o_orderkey IS NULL THEN 'delete'
             |              WHEN o.v IS DISTINCT FROM n.v THEN 'update' END AS change
             |  FROM (SELECT o_orderkey, o_totalprice AS v FROM orders
             |        WHERE o_orderkey % 2 = 0) o
             |  FULL JOIN (SELECT o_orderkey, o_totalprice +
             |               CASE WHEN o_orderkey % 18 = 0 THEN 1000.0 ELSE 0.0 END AS v
             |             FROM orders WHERE o_orderkey % 3 = 0) n
             |  ON o.o_orderkey = n.o_orderkey) t
             |WHERE change IS NOT NULL
             |ORDER BY o_orderkey""".stripMargin)),

    Q("sink_lineage_cols",
      (s, dir) => load(s, dir, "region")
        .withColumn("_etl_run_id", lit("run_00000001"))
        .withColumn("_etl_loaded_at", lit("2026-01-01T00:00:00+00:00"))
        .orderBy(col("r_regionkey")),
      Some("""SELECT r_regionkey, r_name, 'run_00000001' AS _etl_run_id,
             |'2026-01-01T00:00:00+00:00' AS _etl_loaded_at
             |FROM region ORDER BY r_regionkey""".stripMargin)),

    // Unpivot/melt — pivot's inverse (Dataset.unpivot, Spark's native
    // operator: a generate, zero shuffle). Wide part metrics → long
    // (p_partkey, metric, value) rows; both value columns normalized to
    // DOUBLE on both sides.
    Q("unpivot_part_metrics",
      (s, dir) => load(s, dir, "part")
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size").cast("double").as("p_size"),
            col("p_retailprice")),
          "metric", "value")
        .orderBy(col("p_partkey"), col("metric")),
      Some("""SELECT p_partkey, 'p_size' AS metric, p_size::DOUBLE AS value
             |FROM part
             |UNION ALL
             |SELECT p_partkey, 'p_retailprice' AS metric,
             |       p_retailprice AS value FROM part
             |ORDER BY p_partkey, metric""".stripMargin)),

    // Point-in-time (as-of) lookup into a versioned SCD2 dimension:
    // lineitems look up the customer's order-priority version governing
    // their SHIP date (ship dates trail order dates, so lookups land in
    // the middle of version chains, not just the current row). The Spark
    // side is the union+window trick — one custkey-keyed shuffle, NO
    // range join (ops/History.pointInTimeJoin); the oracle runs the
    // half-open interval-join definition it must equal.
    Q("join_scd2_pointintime",
      (s, dir) => {
        val o = load(s, dir, "orders")
        val hist = graft.ops.History.scd2FromEvents(o, Seq("o_custkey"),
          col("o_orderdate"), col("o_orderkey"), col("o_orderpriority"))
        val facts = load(s, dir, "lineitem")
          .join(o.select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_shipdate"))
        graft.ops.History.pointInTimeJoin(facts, hist, Seq("o_custkey"),
            col("l_shipdate"), outCol = "priority_at_ship")
          .select(col("l_orderkey"), col("l_linenumber"),
            unix_timestamp(col("l_shipdate")).as("ship_ts"),
            col("priority_at_ship"))
          // (l_orderkey, l_linenumber) is NOT unique in this data — sort
          // on every column (nulls first on both sides) for a total order
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_ts"),
            col("priority_at_ship").asc_nulls_first)
      },
      Some("""WITH e AS (SELECT o_custkey, o_orderdate AS ts, o_orderkey AS tb,
             |                  o_orderpriority AS attr_val FROM orders),
             |m AS (SELECT *, (row_number() OVER w = 1 OR
             |                 lag(attr_val) OVER w IS DISTINCT FROM attr_val) AS chg
             |      FROM e WINDOW w AS (PARTITION BY o_custkey ORDER BY ts, tb)),
             |r AS (SELECT o_custkey, attr_val, ts AS valid_from, tb FROM m WHERE chg),
             |f AS (SELECT o_custkey, attr_val, valid_from,
             |             lead(valid_from) OVER (PARTITION BY o_custkey
             |               ORDER BY valid_from, tb) AS valid_to
             |      FROM r),
             |fact AS (SELECT o.o_custkey, l.l_orderkey,
             |                l.l_linenumber::BIGINT AS l_linenumber, l.l_shipdate
             |         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
             |SELECT fact.l_orderkey, fact.l_linenumber,
             |       epoch(date_trunc('second', fact.l_shipdate))::BIGINT AS ship_ts,
             |       f.attr_val AS priority_at_ship
             |FROM fact LEFT JOIN f ON fact.o_custkey = f.o_custkey
             |  AND f.valid_from <= fact.l_shipdate
             |  AND (f.valid_to IS NULL OR fact.l_shipdate < f.valid_to)
             |ORDER BY l_orderkey, l_linenumber, ship_ts,
             |         priority_at_ship NULLS FIRST""".stripMargin)),

    // Fixed-iteration PageRank (3 rounds) over the undirected
    // supplier↔customer trade graph, in exact basis-point integer
    // arithmetic so the recurrence is order-independent and the oracle
    // replays it bit-for-bit (ops/Graph.pageRankBp — per-iteration keyed
    // join + keyed aggregate, the Pregel shape).
    Q("graph_pagerank",
      (s, dir) => {
        // Node ids are packed longs for the whole iterative phase —
        // supplier k ↦ 2k, customer k ↦ 2k+1 — and decoded to the
        // oracle's 's<k>'/'c<k>' strings only on the node-sized output:
        // every shuffle (undirect's distinct, the degree aggregate, and
        // 3 × join+groupBy) moves 8-byte keys instead of strings. The
        // mapping is bijective, so degrees and ranks are identical.
        val edges = load(s, dir, "lineitem")
          .join(load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("src"),
            (col("o_custkey") * 2 + 1).as("dst"))
        // no .distinct() here: undirect's union+distinct dedups anyway —
        // a pre-distinct would just add a full extra shuffle round.
        graft.ops.Graph.pageRankBp(graft.ops.Graph.undirect(edges),
            Stop.Rounds(3)).out
          .select(
            when(col("node") % 2 === 0,
                concat(lit("s"), expr("node div 2").cast("string")))
              .otherwise(
                concat(lit("c"), expr("(node - 1) div 2").cast("string")))
              .as("node"),
            col("rank_bp"))
          .orderBy(col("node"))
      },
      Some {
        def step(prev: String) =
          s"""SELECT u.dst AS node,
             |  1500 + sum((85 * r.rank_bp) // (100 * d.outdeg)) AS rank_bp
             |FROM und u JOIN deg d ON u.src = d.src
             |           JOIN $prev r ON u.src = r.node
             |GROUP BY u.dst""".stripMargin
        s"""WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS src,
           |                            'c' || o_custkey AS dst
           |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
           |r0 AS (SELECT src AS node, 10000::BIGINT AS rank_bp FROM deg),
           |r1 AS (${step("r0")}),
           |r2 AS (${step("r1")}),
           |r3 AS (${step("r2")})
           |SELECT node, rank_bp::BIGINT AS rank_bp FROM r3
           |ORDER BY node""".stripMargin
      }),

    // PERSONALIZED PageRank (ops/Graph.personalizedPageRankBp): random
    // walk with restart over the same trade graph, teleporting ONLY to
    // nation-0 suppliers — rank = proximity to that seed cohort. Same
    // exact bp recurrence as graph_pagerank; the rank state starts
    // seed-sized and grows with the walk frontier (never past the
    // reachable set), so each round's shuffle is frontier-sized. The
    // oracle unrolls 3 rounds with the same FULL OUTER teleport merge.
    Q("graph_ppr",
      (s, dir) => {
        val edges = load(s, dir, "lineitem")
          .join(load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).as("src"),
            (col("o_custkey") * 2 + 1).as("dst"))
        val seeds = load(s, dir, "supplier")
          .filter(col("s_nationkey") === 0)
          .select((col("s_suppkey") * 2).as("node"))
        graft.ops.Graph.personalizedPageRankBp(
            graft.ops.Graph.undirect(edges), seeds, Stop.Rounds(3)).out
          .select(
            when(col("node") % 2 === 0,
                concat(lit("s"), expr("node div 2").cast("string")))
              .otherwise(
                concat(lit("c"), expr("(node - 1) div 2").cast("string")))
              .as("node"),
            col("rank_bp"))
          .orderBy(col("node"))
      },
      Some {
        def step(prev: String) =
          s"""SELECT coalesce(i.node, t.node) AS node,
             |  coalesce(i._in, 0) + coalesce(t._t, 0) AS rank_bp
             |FROM (SELECT u.dst AS node,
             |        sum((85 * r.rank_bp) // (100 * d.outdeg)) AS _in
             |      FROM und u JOIN deg d ON u.src = d.src
             |                 JOIN $prev r ON u.src = r.node
             |      GROUP BY u.dst) i
             |FULL JOIN (SELECT node, 1500 AS _t FROM seed) t
             |  ON i.node = t.node""".stripMargin
        s"""WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS src,
           |                            'c' || o_custkey AS dst
           |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
           |seed AS (SELECT DISTINCT 's' || s_suppkey AS node
           |         FROM supplier WHERE s_nationkey = 0),
           |r0 AS (SELECT node, 10000::BIGINT AS rank_bp FROM seed),
           |r1 AS (${step("r0")}),
           |r2 AS (${step("r1")}),
           |r3 AS (${step("r2")})
           |SELECT node, rank_bp::BIGINT AS rank_bp FROM r3
           |ORDER BY node""".stripMargin
      }),

    // STEADY STATE: personalized PageRank over the STORED co-purchase
    // graph — "items related to Brand#11's catalog" — teleporting to that
    // brand's parts. Timed cost is 3 frontier-sized rounds over the warm
    // edge frame (the stored-edge twin discipline: no lineitem scan, no
    // pair rebuild); the oracle unrolls the identical recurrence from the
    // pair definition.
    Q("graph_ppr_indexed",
      (s, dir) => {
        val edges = graft.ops.Graph.undirect(
          StoredIndexes.basketEdges(s, dir).filter(col("support") >= 2)
            .select(col("item_a").as("src"), col("item_b").as("dst")))
        val seeds = load(s, dir, "part")
          .filter(col("p_brand") === "Brand#11")
          .select(col("p_partkey").as("node"))
        graft.ops.Graph.personalizedPageRankBp(edges, seeds,
            Stop.Rounds(3)).out
          .orderBy(col("node"))
      },
      Some {
        def step(prev: String) =
          s"""SELECT coalesce(i.node, t.node) AS node,
             |  coalesce(i._in, 0) + coalesce(t._t, 0) AS rank_bp
             |FROM (SELECT u.dst AS node,
             |        sum((85 * r.rank_bp) // (100 * d.outdeg)) AS _in
             |      FROM und u JOIN deg d ON u.src = d.src
             |                 JOIN $prev r ON u.src = r.node
             |      GROUP BY u.dst) i
             |FULL JOIN (SELECT node, 1500 AS _t FROM seed) t
             |  ON i.node = t.node""".stripMargin
        s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |           FROM lineitem),
           |pr AS (SELECT x.p AS a, y.p AS b2, count(*) AS s
           |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
           |       GROUP BY 1, 2 HAVING count(*) >= 2),
           |und AS (SELECT a AS src, b2 AS dst FROM pr
           |        UNION SELECT b2, a FROM pr),
           |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
           |seed AS (SELECT p_partkey AS node FROM part
           |         WHERE p_brand = 'Brand#11'),
           |r0 AS (SELECT node, 10000::BIGINT AS rank_bp FROM seed),
           |r1 AS (${step("r0")}),
           |r2 AS (${step("r1")}),
           |r3 AS (${step("r2")})
           |SELECT node, rank_bp::BIGINT AS rank_bp FROM r3
           |ORDER BY node""".stripMargin
      }),

    // Convergence-terminated PageRank (ops/Graph.pageRankBp, Stop.Converge):
    // the stop rule is "state repeated" (exact integer fixpoint, or the
    // period-2 cycle truncating division produces), detected by an
    // order-independent xxhash64 state signature — ONE node-sized agg per
    // round, no join. Runs on the nation-level trade graph (≤ 50 nodes,
    // dense — rounds are node-sized jobs) so the round count stays small
    // at every SF. The oracle replays the SAME stop rule without knowing
    // the round count: it unrolls all maxIters=24 states statically, then
    // picks the first round i (1-based) whose per-node ranks equal round
    // i-1's or i-2's — the exact-equality form of the hash-signature test
    // (equal states always agree; the hash differs only on a ~2⁻⁶⁴
    // collision). The undirected closure guarantees a constant node set
    // from r0 on (every node keeps in- and out-edges), so state equality
    // reduces to an equi-join on node.
    Q("graph_pagerank_converged",
      (s, dir) => {
        val edges = load(s, dir, "lineitem")
          .join(load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(load(s, dir, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(load(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .select((col("s_nationkey") * 2).as("src"),
            (col("c_nationkey") * 2 + 1).as("dst"))
        val pr = graft.ops.Graph.pageRankBp(
          graft.ops.Graph.undirect(edges), Stop.Converge(24))
        pr.out.select(
            when(col("node") % 2 === 0,
                concat(lit("sn"), expr("node div 2").cast("string")))
              .otherwise(
                concat(lit("cn"), expr("(node - 1) div 2").cast("string")))
              .as("node"),
            col("rank_bp"), lit(pr.rounds.toLong).as("rounds_run"))
          .orderBy(col("node"))
      },
      Some {
        val maxIters = 24
        def step(prev: String) =
          s"""SELECT u.dst AS node,
             |  1500 + sum((85 * r.rank_bp) // (100 * d.outdeg)) AS rank_bp
             |FROM und u JOIN deg d ON u.src = d.src
             |           JOIN $prev r ON u.src = r.node
             |GROUP BY u.dst""".stripMargin
        // AS MATERIALIZED: DuckDB inlines plain CTEs, so a 24-deep chain
        // whose every level is ALSO referenced by `allr` re-expands the
        // whole prefix at each use — O(rounds²) parquet scans (observed:
        // fd exhaustion). Materializing pins each round to one evaluation.
        val rounds = (1 to maxIters)
          .map(i => s"r$i AS MATERIALIZED (${step(s"r${i - 1}")})")
          .mkString(",\n")
        val tagged = (0 to maxIters)
          .map(i => s"SELECT $i AS i, node, rank_bp::HUGEINT AS rank_bp FROM r$i")
          .mkString("\nUNION ALL\n")
        s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT 'sn' || s_nationkey AS src,
           |                            'cn' || c_nationkey AS dst
           |            FROM lineitem
           |            JOIN orders ON l_orderkey = o_orderkey
           |            JOIN supplier ON l_suppkey = s_suppkey
           |            JOIN customer ON o_custkey = c_custkey),
           |und AS MATERIALIZED (SELECT src, dst FROM e0
           |                     UNION SELECT dst, src FROM e0),
           |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg
           |                     FROM und GROUP BY src),
           |r0 AS MATERIALIZED (SELECT src AS node,
           |                           10000::BIGINT AS rank_bp FROM deg),
           |$rounds,
           |allr AS MATERIALIZED ($tagged),
           |diffs AS (SELECT a.i,
           |            max(CASE WHEN a.rank_bp <> b1.rank_bp
           |                     THEN 1 ELSE 0 END) AS d1,
           |            max(CASE WHEN b2.rank_bp IS NULL
           |                       OR a.rank_bp <> b2.rank_bp
           |                     THEN 1 ELSE 0 END) AS d2
           |          FROM allr a
           |          JOIN allr b1 ON b1.i = a.i - 1 AND b1.node = a.node
           |          LEFT JOIN allr b2 ON b2.i = a.i - 2 AND b2.node = a.node
           |          WHERE a.i >= 1
           |          GROUP BY a.i),
           |stop AS (SELECT coalesce(min(i), $maxIters) AS rr FROM diffs
           |         WHERE d1 = 0 OR d2 = 0)
           |SELECT a.node, a.rank_bp::BIGINT AS rank_bp,
           |       s.rr::BIGINT AS rounds_run
           |FROM allr a, stop s WHERE a.i = s.rr
           |ORDER BY node""".stripMargin
      }),

    // Exact equi-depth histogram over order prices — the equal-FREQUENCY
    // sibling of agg_histogram's equal-width buckets. Spark computes it
    // WITHOUT a global window or per-row rank: distinct-value cumulative
    // counts (the percentile machinery) intersected with bucket rank
    // intervals, all integer (ops/Relational.equiDepthHistogram). The
    // oracle uses the definitional global row_number formula — tie order
    // provably cannot change bucket counts or value ranges.
    Q("agg_histogram_equidepth",
      (s, dir) => graft.ops.Relational.equiDepthHistogram(
        load(s, dir, "orders"), col("o_totalprice"), 8),
      Some("""WITH n AS (SELECT count(*)::BIGINT AS n FROM orders),
             |rk AS (SELECT o_totalprice AS v,
             |         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r
             |       FROM orders),
             |b AS (SELECT v, ((r - 1) * 8) // n.n AS bucket FROM rk, n)
             |SELECT bucket, count(*)::BIGINT AS n_rows,
             |       min(v) AS lo_value, max(v) AS hi_value
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // k-truss cohesive-subgraph mining (Graph.kTrussEdges — Cohen 2008):
    // iterative support peeling over the co-purchase graph PLUS a planted
    // 6-clique (ids 10⁷+1..6, disjoint from every partkey). The contrast
    // is the point and both arms are load-bearing: the organic
    // support≥2 graph is mostly peeled away (edges in triangles whose
    // other edges are weak die with them — the mutuality a raw triangle
    // count misses), while the clique's 15 edges survive at support 4.
    // The oracle statically unrolls the peeling rounds (fixed-round ≥
    // realized is exact — peeling is idempotent at the fixpoint) and
    // replays the final in-set support.
    Q("graph_ktruss",
      (s, dir) => {
        import s.implicits._
        val organic = graft.ops.Relational.basketPairs(
            load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
          .filter(col("support") >= 2)
          .select(col("item_a").as("a"), col("item_b").as("b"))
        val clique = (for { i <- 1 to 6; j <- (i + 1) to 6 }
          yield (10000000L + i, 10000000L + j)).toDF("a", "b")
        graft.ops.Graph.kTrussEdges(organic.unionByName(clique), k = 3).out
          .select(col("a").as("item_a"), col("b").as("item_b"),
            col("support"))
          .orderBy(col("item_a"), col("item_b"))
      },
      Some(ktrussOracle(6))),

    // STEADY STATE: the same truss over the STORED co-purchase edge table
    // (+ the planted clique) — timed cost is the support-peel machinery
    // alone, not the basket-edge rebuild that dominates the sibling at
    // sf1 (26.1 s rebuild class). Same oracle: stored edges ≡ rebuilt
    // edges, so the truss must resolve identically.
    Q("graph_ktruss_indexed",
      (s, dir) => {
        import s.implicits._
        val organic = StoredIndexes.basketEdges(s, dir)
          .filter(col("support") >= 2)
          .select(col("item_a").as("a"), col("item_b").as("b"))
        val clique = (for { i <- 1 to 6; j <- (i + 1) to 6 }
          yield (10000000L + i, 10000000L + j)).toDF("a", "b")
        graft.ops.Graph.kTrussEdges(organic.unionByName(clique), k = 3).out
          .select(col("a").as("item_a"), col("b").as("item_b"),
            col("support"))
          .orderBy(col("item_a"), col("item_b"))
      },
      Some(ktrussOracle(6))),

    // JOIN-view incremental maintenance (ops/Ivm — Griffin & Libkin '95 /
    // DBToaster bilinear delta rule): the revenue-by-(status, segment)
    // view over lineitem ⋈ orders ⋈ customer is MAINTAINED under a batch
    // of signed updates touching BOTH fact tables — price bumps on 2% of
    // lineitems (orderkey%50, line 1) and status flips on 1.4% of orders
    // (orderkey%70, status → lower-case = a GROUP MOVE), overlapping at
    // orderkey%350 so the ΔL⋈ΔR cross term is load-bearing. Spark computes
    // old-view partials + Δ(L⋈R) = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR (deltas broadcast,
    // full-side scans pruned by a pushed isin of the touched keys) and
    // merges view-sized partials; the oracle is the FULL RECOMPUTE over
    // the post-update tables — the hash match proves the delta algebra
    // telescopes exactly (retractions, group moves, the doubly-updated
    // rows). At 100 TB this is "read 0.01% of the fact footprint per run",
    // not "re-join the warehouse".
    Q("ivm_join_agg",
      (s, dir) => {
        val (l, dL, oc, dOc) = ivmInputs(s, dir)
        val keys = Seq("o_orderstatus", "c_mktsegment")
        val rev = Exact.revenueUnits(col("l_extendedprice"), col("l_discount"))
        val oldView = graft.ops.Ivm.viewPartial(
          l.join(oc, col("l_orderkey") === col("o_orderkey")), keys, rev)
        ivmReadout(graft.ops.Ivm.mergeView(oldView,
          graft.ops.Ivm.viewPartial(
            graft.ops.Ivm.deltaJoin2(l, dL, oc, dOc,
              "l_orderkey", "o_orderkey"),
            keys, rev, col("sign")),
          keys))
      },
      Some(IvmOracle)),

    // Steady-state twin: the base view partials are PREWARMED
    // (StoredIndexes.ivmView), so the timed region is delta construction +
    // the three delta joins + one view-sized merge — the big join+agg
    // never re-runs. Same full-recompute oracle, so the hash match ALSO
    // proves the stored view is faithful end-to-end.
    Q("ivm_join_agg_stored",
      (s, dir) => {
        val (l, dL, oc, dOc) = ivmInputs(s, dir)
        val keys = Seq("o_orderstatus", "c_mktsegment")
        val rev = Exact.revenueUnits(col("l_extendedprice"), col("l_discount"))
        ivmReadout(graft.ops.Ivm.mergeView(StoredIndexes.ivmView(s, dir),
          graft.ops.Ivm.viewPartial(
            graft.ops.Ivm.deltaJoin2(l, dL, oc, dOc,
              "l_orderkey", "o_orderkey"),
            keys, rev, col("sign")),
          keys))
      },
      Some(IvmOracle)),
  )

  /** Shared inputs of the IVM pair: projected base tables plus the signed
    * delta batches (an update = a −1 retraction of the old row and a +1
    * insertion of the new one). The orders side is pre-enriched with its
    * customer segment (dim broadcast) so the maintained view's key columns
    * all live on the join's right side.
    */
  private def ivmInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val l = load(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
    val oc = load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("c_mktsegment"))
    val updL = l.filter(col("l_orderkey") % 50 === 0 &&
      col("l_linenumber") === 1)
    val dL = updL.withColumn("sign", lit(-1L)).unionByName(
      updL.withColumn("l_extendedprice", col("l_extendedprice") + 5.0)
        .withColumn("sign", lit(1L)))
    val updO = oc.filter(col("o_orderkey") % 70 === 0)
    val dOc = updO.withColumn("sign", lit(-1L)).unionByName(
      updO.withColumn("o_orderstatus", lower(col("o_orderstatus")))
        .withColumn("sign", lit(1L)))
    (l, dL, oc, dOc)
  }

  private def ivmReadout(view: DataFrame): DataFrame =
    view.select(col("o_orderstatus"), col("c_mktsegment"), col("n_rows"),
        (col("sum_v").cast("double") / 10000.0).as("revenue"))
      .orderBy(col("o_orderstatus"), col("c_mktsegment"))

  /** graph_ktruss oracle: co-purchase edges (support ≥ 2) ∪ the planted
    * 6-clique, then `rounds` statically-unrolled peel rounds at k = 3
    * (support ≥ 1) — the pageRank codegen-the-oracle discipline — and
    * the final in-set support readout. Extra rounds past the fixpoint
    * are identities, so any unroll ≥ the realized round count is exact.
    */
  private def ktrussOracle(rounds: Int): String = {
    def peel(i: Int) =
      s"""t$i AS MATERIALIZED (SELECT p.a AS x, p.b AS y, q.b AS z
         |  FROM e$i p JOIN e$i q ON q.a = p.a AND q.b > p.b
         |  JOIN e$i r ON r.a = p.b AND r.b = q.b),
         |s$i AS (SELECT a, b, count(*) AS c FROM (
         |    SELECT x AS a, y AS b FROM t$i
         |    UNION ALL SELECT x AS a, z AS b FROM t$i
         |    UNION ALL SELECT y AS a, z AS b FROM t$i) u$i
         |  GROUP BY 1, 2)""".stripMargin
    def step(i: Int) =
      s"""${peel(i)},
         |e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
         |  JOIN s$i s ON s.a = e.a AND s.b = e.b WHERE s.c >= 1)""".stripMargin
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |           FROM lineitem),
       |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS s
       |       FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
       |       GROUP BY 1, 2),
       |e0 AS MATERIALIZED (
       |  SELECT a, b FROM pr WHERE s >= 2
       |  UNION ALL
       |  SELECT 10000000 + ci.i AS a, 10000000 + cj.j AS b
       |  FROM unnest(range(1, 7)) ci(i), unnest(range(1, 7)) cj(j)
       |  WHERE ci.i < cj.j),
       |${(0 until rounds).map(step).mkString(",\n")},
       |${peel(rounds)}
       |SELECT e.a AS item_a, e.b AS item_b, s.c::BIGINT AS support
       |FROM e$rounds e JOIN s$rounds s ON s.a = e.a AND s.b = e.b
       |ORDER BY 1, 2""".stripMargin
  }

  /** The IVM oracle: full recompute over the POST-UPDATE tables. (`def`,
    * not `val` — referenced from `all`'s initializer above its own
    * definition site.)
    */
  private def IvmOracle =
    s"""WITH lw AS (SELECT l_orderkey,
       |    CASE WHEN l_orderkey % 50 = 0 AND l_linenumber = 1
       |         THEN l_extendedprice + 5.0 ELSE l_extendedprice
       |    END AS l_extendedprice,
       |    l_discount FROM lineitem),
       |ow AS (SELECT o_orderkey, o_custkey,
       |    CASE WHEN o_orderkey % 70 = 0 THEN lower(o_orderstatus)
       |         ELSE o_orderstatus END AS o_orderstatus FROM orders)
       |SELECT o_orderstatus, c_mktsegment, count(*)::BIGINT AS n_rows,
       |  sum($RevUnits)::DOUBLE / 10000.0 AS revenue
       |FROM lw JOIN ow ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
