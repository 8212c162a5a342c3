package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Z-order layout: the z-value expression itself, and the data-skipping
  * claim — a 2-D box predicate must touch FEWER files under the z-ordered
  * layout than under a single-column sort, judged by the same footer
  * min/max rule a parquet reader prunes with.
  */
class LayoutSpec extends SparkSpec {

  import spark.implicits._

  test("zValue interleaves bits (known values) and matches a reference impl") {
    // reference Morton interleave on the driver
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L),
      (255L, 0L), (0L, 255L), (170L, 85L), (65535L, 65535L))
    val out = rows.toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 16).as("z"))
      .as[Long].collect().toSeq
    assert(out == rows.map { case (x, y) => morton(x, y, 16) })
    // spot-pin the classics: (1,0)->1, (0,1)->2, (1,1)->3, (2,3)->14
    assert(out(1) == 1L && out(2) == 2L && out(3) == 3L && out(4) == 14L)
  }

  test("clampBits saturates instead of wrapping") {
    val out = Seq(-5L, 0L, 255L, 256L, 1L << 40).toDF("v")
      .select(Layout.clampBits(col("v"), 8).as("c")).as[Long].collect().toSeq
    assert(out == Seq(0L, 0L, 255L, 255L, 255L))
  }

  test("zValueSql is the exact textual twin of zValue") {
    val df = Seq((3L, 200L), (77L, 13L), (65535L, 1L)).toDF("x", "y")
    df.createOrReplaceTempView("zv_twin")
    val viaExpr = df.select(Layout.zValue(Seq(col("x"), col("y")), 16).as("z"))
      .as[Long].collect().toSeq
    val viaSql = spark.sql(
      s"SELECT ${Layout.zValueSql(Seq("x", "y"), 16)} AS z FROM zv_twin")
      .as[Long].collect().toSeq
    assert(viaExpr == viaSql)
  }

  test("withHValue is a true Hilbert curve: bijection + unit-step adjacency") {
    // all 256 cells of the 16x16 grid (bits=4): h must be a permutation of
    // 0..255 AND consecutive h-values must be GRID-ADJACENT cells
    // (|dx|+|dy| = 1) — the defining property no Morton curve has, and one
    // only a correct Hilbert fold passes.
    val bits = 4
    val cells = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val got = Layout.withHValue(cells.toDF("x", "y"), col("x"), col("y"), bits)
      .select(col("hval"), col("x"), col("y"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L until 256L))
    got.sliding(2).foreach { case Array((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"h-consecutive cells ($x1,$y1)->($x2,$y2) are not grid-adjacent")
    }
    // the bits=1 base case, pinned by hand: U-shape 00->01->11->10
    val base = Layout.withHValue(
        Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L)).toDF("x", "y"),
        col("x"), col("y"), 1)
      .select(col("x"), col("y"), col("hval"))
      .as[(Long, Long, Long)].collect().toSet
    assert(base == Set((0L, 0L, 0L), (0L, 1L, 1L), (1L, 1L, 2L), (1L, 0L, 3L)))
  }

  test("hValueSqlCtes is the exact textual twin of withHValue") {
    val df = Seq((3L, 200L), (77L, 13L), (255L, 1L), (0L, 0L), (129L, 66L))
      .toDF("a", "b")
    df.createOrReplaceTempView("hv_twin")
    val viaExpr = Layout.withHValue(df, col("a"), col("b"), 8)
      .select(col("a"), col("hval")).as[(Long, Long)].collect().toMap
    val ctes = Layout.hValueSqlCtes("a", "b", 8, Seq("a"), "hv_twin")
    val viaSql = spark.sql(s"WITH $ctes SELECT a, d AS hval FROM h8")
      .as[(Long, Long)].collect().toMap
    assert(viaExpr == viaSql)
  }

}
