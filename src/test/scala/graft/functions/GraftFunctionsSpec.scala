package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestBridge

/** SQL-surface registration of the native expressions. */
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
}
