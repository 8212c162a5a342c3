package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestBridge

/** SQL-surface registration of the native expressions, the MinHash
  * signature against its exploded definition, and the pair kernel against
  * its nested-lambda form. */
class GraftFunctionsSpec extends SparkSpec {

  import spark.implicits._

  /** What `GraftExtensions` injects at session build, into the running one. */
  private def install(): Unit =
    GraftFunctions.all.foreach(TestBridge.registerFunction(spark, _))

  test("dot_product and shingle_set are callable from SQL after install") {
    install()
    Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val dot = spark.sql("SELECT dot_product(a, b) AS d FROM vecs")
      .head().getDouble(0)
    assert(dot == 32.0)
    val sh = spark.sql(
      "SELECT shingle_set(split('a b c b a', ' '), 2) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("a b", "b a", "b c", "c b"))
  }

  test("simhash_bits is callable from SQL and matches the Column API") {
    install()
    Seq(Seq("the", "quick", "brown", "fox")).toDF("toks")
      .createOrReplaceTempView("toksv")
    val viaSql = spark.sql("SELECT simhash_bits(toks) AS fp FROM toksv")
      .head().getString(0)
    val viaCol = spark.table("toksv")
      .select(SimHashBits(col("toks")).as("fp")).head().getString(0)
    assert(viaSql.length == 32 && viaSql.forall(c => c == '0' || c == '1'))
    assert(viaSql == viaCol)
  }

  test("install is idempotent and SQL agrees with the Column API") {
    install()
    install()
    val df = Seq((Array(0.5f, -1.5f), Array(2.0f, 4.0f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs2")
    val viaSql = spark.sql("SELECT dot_product(a, b) FROM vecs2").head().getDouble(0)
    val viaCol = df.select(ArrayMath.dotNative(col("a"), col("b"))).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(viaSql) ==
      java.lang.Double.doubleToLongBits(viaCol))
  }

  test("minhash_signature equals min(perm(s, hash28(t))) over the exploded " +
      "shingles, per id — non-BMP text, short texts and reused ids, with and " +
      "without codegen") {
    // the definition the oracle SQL replays: a 28-bit md5 prefix per
    // shingle, permuted per seed modulo the largest prime below 2^28
    def hash28(t: org.apache.spark.sql.Column) =
      conv(substring(md5(t.cast("binary")), 1, 7), 16, 10).cast("long")
    def perm(s: Int, h: org.apache.spark.sql.Column) =
      (lit(2L * s + 3L) * h + lit(12289L * s + 1L)) % 268435399L
    val numHashes = 16
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "\ud835\udc9c\ud835\udc9d grinning \ud83d\ude00 face \ud83d\ude00 again \u00e9t\u00e9 \u4e2d\u6587 end",
      3L -> "too short",
      4L -> "a reused id holds this first text here",
      4L -> "and this second one under the same id",
      5L -> "only short",
      5L -> "hi",
      6L -> "")
      .toDF("id", "text")
      .select(col("id"), graft.ops.Dedup.shingles(col("text"), 3).as("ts"))
    val want = docs.select(col("id"), explode(col("ts")).as("t"))
      .groupBy(col("id"))
      .agg(array((0 until numHashes).map(s => min(perm(s, hash28(col("t"))))): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // texts shorter than the shingle size give no row, so ids 3, 5 and 6
    // have no signature
    assert(want.keySet == Set(1L, 2L, 4L))
    def signed(conf: Map[String, String]): Map[Long, Seq[Long]] = {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try docs
        .select(col("id"), MinHashSignature(col("ts"), numHashes).as("sig"))
        .groupBy(col("id"))
        .agg(array((0 until numHashes).map(s => min(col("sig").getItem(s))): _*).as("sig"))
        .filter(col("sig").getItem(0).isNotNull)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    assert(signed(Map.empty) == want)
    assert(signed(Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")) == want)
    // the interpreted path directly: no shingle → NULL, NULL input → NULL
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def eval(v: Any) = MinHashSignature(
      Literal.create(v, ArrayType(StringType, containsNull = false)), numHashes).eval()
    assert(eval(Seq.empty[String]) == null && eval(null) == null)
    val one = docs.filter(col("id") === 1L).head().getSeq[String](1)
    assert(eval(one).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq == want(1L))
  }

  test("array_pairs equals the nested-lambda pair form — empty, one-element " +
      "and NULL arrays, unsorted longs, NULL elements and struct elements, " +
      "with and without codegen") {
    import org.apache.spark.sql.{Column, DataFrame, Row}
    def nested(c: Column) = flatten(transform(c, (x, i) =>
      transform(slice(c, i + 2, size(c)), y => struct(x.as("a"), y.as("b")))))
    val longs = Seq[(Int, Option[Seq[Option[Long]]])](
      1 -> Some(Seq(Some(5L), Some(3L), Some(9L), Some(3L), Some(-1L))),
      2 -> Some(Seq.empty),
      3 -> Some(Seq(Some(7L))),
      4 -> None,
      5 -> Some(Seq(None, Some(2L), None, Some(1L))))
      .toDF("id", "arr")
    // the wedge shape: rank-sorted struct(d, u) lists out of an aggregation
    // buffer, groups of different sizes so the buffer is reused between rows
    val structs = Seq((1L, 3L, 10L), (1L, 1L, 11L), (1L, 2L, 12L), (1L, 2L, 9L),
        (2L, 5L, 20L), (3L, 1L, 30L), (3L, 4L, 31L))
      .toDF("id", "d", "u")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("d"), col("u")))).as("arr"))
    def pairs(df: DataFrame, f: Column => Column,
              conf: Map[String, String]): (org.apache.spark.sql.types.DataType,
        Map[Any, Seq[Row]]) = {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val out = df.select(col("id"), f(col("arr")).as("p"))
        (out.schema("p").dataType,
          out.collect().map(r => r.get(0) -> Option(r.getSeq[Row](1)).orNull).toMap)
      } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val noCodegen = Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    for (df <- Seq(longs, structs); conf <- Seq(Map.empty[String, String], noCodegen)) {
      val want = pairs(df, nested, conf)
      assert(pairs(df, ArrayPairs(_), conf) == want)
    }
    val want = pairs(longs, nested, Map.empty)._2
    assert(want(1).size == 10 && want(2).isEmpty && want(3).isEmpty && want(4) == null)
    assert(want(5).map(r => (r.get(0), r.get(1))) == Seq((null, 2L), (null, null),
      (null, 1L), (2L, null), (2L, 1L), (null, 1L)))

    // the interpreted path directly, over an unsafe array whose buffer the
    // projection reuses: the pairs must hold copies, not views into it
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
    def eval(v: Any, t: ArrayType) = ArrayPairs(Literal.create(v, t)).eval()
    val longArr = ArrayType(LongType)
    assert(eval(null, longArr) == null)
    assert(eval(Seq.empty[Long], longArr).asInstanceOf[ArrayData].numElements() == 0)
    assert(eval(Seq(4L), longArr).asInstanceOf[ArrayData].numElements() == 0)
    val du = new StructType().add("d", LongType).add("u", LongType)
    val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](ArrayType(du)))
    def unsafe(xs: (Long, Long)*): ArrayData = proj(InternalRow(new GenericArrayData(
      xs.map { case (d, u) => new GenericInternalRow(Array[Any](d, u)) }.toArray[Any])))
      .getArray(0)
    def read(out: ArrayData) = (0 until out.numElements()).map { k =>
      val p = out.getStruct(k, 2)
      (p.getStruct(0, 2).getLong(1), p.getStruct(1, 2).getLong(1))
    }
    val out = ArrayPairsHelper.pairs(unsafe((1L, 10L), (2L, 20L), (3L, 30L)), du)
    unsafe((7L, 70L), (8L, 80L), (9L, 90L))
    assert(read(out) == Seq((10L, 20L), (10L, 30L), (20L, 30L)))
  }
}
