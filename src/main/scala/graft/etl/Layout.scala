package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional storage layout: Z-order (Morton) clustering so that
  * conjunctive range predicates over SEVERAL columns prune files/row-groups,
  * not just the single sort column.
  *
  * Why this matters at 100 TB: parquet readers skip a row group when the
  * pushed predicate cannot match its footer min/max. A table sorted by one
  * column prunes on that column only — every other predicate reads
  * everything. Interleaving the bits of k normalized coordinates gives a
  * 1-D sort key whose contiguous ranges are (approximately) k-D boxes, so
  * a `WHERE x BETWEEN … AND y BETWEEN …` touches ~(selectivity)^k of the
  * files instead of (selectivity)^1. Same idea as the public OPTIMIZE
  * ZORDER of lakehouse engines; here it is just an expression a query
  * range-partitions and sorts by — no new writer machinery.
  *
  * The z-value is a PURE deterministic function of the row (clamp → bit
  * interleave via shift/and/or), built from codegen'd Spark functions — no
  * UDF — so it is cheap, whole-stage-compiled, and reproducible by any
  * other engine for verification.
  */
object Layout {

  /** Clamp a (possibly negative / oversized) integer coordinate into the
    * `bits`-bit non-negative range [0, 2^bits-1] — out-of-range values
    * saturate at the edges, which keeps them in z-order at the boundary
    * rather than wrapping to the far corner.
    */
  def clampBits(c: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    least(greatest(c.cast("long"), lit(0L)), lit((1L << bits) - 1))
  }

  /** Interleave the low `bits` bits of each coordinate column into one
    * Long Morton code: bit i of coordinate j lands at position
    * i*N + j. Coordinates must already be in [0, 2^bits-1] (see
    * `clampBits`). N*bits must fit a signed Long.
    *
    * Expression shape: 2·N·bits shift/and/or nodes, all codegen'd — for the
    * common 2×16-bit case that is 64 integer ops per row, fused into
    * whole-stage codegen with the surrounding projection.
    */
  def zValue(coords: Seq[Column], bits: Int): Column = {
    require(coords.nonEmpty, "need at least one coordinate")
    require(bits >= 1 && coords.size * bits <= 63,
      s"${coords.size} coords x $bits bits must fit a signed Long")
    val n = coords.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- coords.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Textual DuckDB/ANSI twin of `zValue` for oracle SQL — generated by the
    * same loop so the two can never drift. `coordsSql` are integer-typed SQL
    * expressions already clamped to [0, 2^bits-1].
    */
  def zValueSql(coordsSql: Seq[String], bits: Int): String = {
    val n = coordsSql.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- coordsSql.zipWithIndex
    } yield s"((($c >> $i) & 1) << ${i * n + j})"
    terms.mkString("(", " + ", ")") // disjoint bit positions: + == OR
  }

  /** 2-D Hilbert index of two coordinates already clamped to
    * [0, 2^bits-1]: the space-filling curve with STRICTLY better locality
    * than the Morton code above — consecutive h-values are always
    * grid-adjacent cells (|Δx|+|Δy| = 1, pinned by spec as a bijection +
    * adjacency walk), where a Morton curve takes long diagonal jumps at
    * quadrant boundaries. Sorted and range-partitioned by h, contiguous
    * h-ranges are tighter 2-D boxes → tighter parquet footer min/max per
    * file under conjunctive range predicates.
    *
    * The classic MSB-first fold (Warren, Hacker's Delight §16; the
    * public-domain xy2d formulation): per level `s = 2^k`, the quadrant
    * pair (rx, ry) contributes `s²·((3·rx) XOR ry)` cells, then the
    * subspace is rotated/reflected (ry=0: reflect when rx=1, then swap x/y)
    * so the child quadrant's traversal orients correctly. Each level is a
    * handful of CASE/shift nodes over the PREVIOUS level's (x, y, d) —
    * expressed as one projection per level, each referenced multiple times
    * downstream, so the optimizer keeps them materialized and codegen
    * fuses the whole 16-level pipeline into the surrounding stage.
    */
  def hilbertLevel(bits: Int, level: Int,
                   x: Column, y: Column, d: Column): (Column, Column, Column) = {
    val n = 1L << bits
    val s = 1L << level
    val rx = shiftright(x, level).bitwiseAND(lit(1L))
    val ry = shiftright(y, level).bitwiseAND(lit(1L))
    // (3·rx) XOR ry on the {0,1} domain, in portable pure arithmetic
    // (DuckDB's ^ is POWER, Spark SQL has no xor() — the textual twin
    // must parse in both): rx=0 → ry; rx=1 → 3−ry.
    val d2 = d + lit(s * s) * (lit(3L) * rx + ry * (lit(1L) - lit(2L) * rx))
    val x2 = when(ry === 0L,
      when(rx === 1L, lit(n - 1L) - y).otherwise(y)).otherwise(x)
    val y2 = when(ry === 0L,
      when(rx === 1L, lit(n - 1L) - x).otherwise(x)).otherwise(y)
    (x2, y2, d2)
  }

  /** Textual DuckDB/ANSI twin of `hilbertLevel` — generated from the same
    * arithmetic so the two can never drift. Returns the (x, y, d) SELECT
    * expressions of one level over column names `x`, `y`, `d`.
    */
  def hilbertLevelSql(bits: Int, level: Int): (String, String, String) = {
    val n = 1L << bits
    val s = 1L << level
    val rx = s"((x >> $level) & 1)"
    val ry = s"((y >> $level) & 1)"
    (s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${n - 1} - y ELSE y END) ELSE x END",
     s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${n - 1} - x ELSE x END) ELSE y END",
     s"d + ${s * s} * (3 * $rx + $ry * (1 - 2 * $rx))")
  }

  /** Hilbert h-value of a 2-column DataFrame projection: appends `outCol`
    * computed by folding `hilbertLevel` MSB-first over one projection per
    * level (multi-referenced → never inlined back into a 2^levels tree).
    * Coordinates must already be clamped (see `clampBits`).
    */
  def withHValue(df: DataFrame, xCol: Column, yCol: Column, bits: Int,
                 outCol: String = "hval"): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    var cur = df.withColumn("_hx", xCol.cast("long"))
      .withColumn("_hy", yCol.cast("long"))
      .withColumn("_hd", lit(0L))
    for (level <- (bits - 1) to 0 by -1) {
      val (x2, y2, d2) = hilbertLevel(bits, level,
        col("_hx"), col("_hy"), col("_hd"))
      cur = cur.withColumns(Map("_hx" -> x2, "_hy" -> y2, "_hd" -> d2))
    }
    cur.withColumn(outCol, col("_hd")).drop("_hx", "_hy", "_hd")
  }

  /** DuckDB oracle twin of `withHValue`: chained one-CTE-per-level SQL
    * computing `hval` for (`xSql`, `ySql`) alongside passthrough columns.
    */
  def hValueSqlCtes(xSql: String, ySql: String, bits: Int,
                    passthrough: Seq[String], from: String): String = {
    val base = s"h0 AS (SELECT ${passthrough.mkString(", ")}, " +
      s"($xSql)::BIGINT AS x, ($ySql)::BIGINT AS y, 0::BIGINT AS d FROM $from)"
    val levels = ((bits - 1) to 0 by -1).zipWithIndex.map {
      case (level, i) =>
        val (xs, ys, ds) = hilbertLevelSql(bits, level)
        s"h${i + 1} AS (SELECT ${passthrough.mkString(", ")}, " +
          s"$xs AS x, $ys AS y, $ds AS d FROM h$i)"
    }
    (base +: levels).mkString(",\n")
  }
}
