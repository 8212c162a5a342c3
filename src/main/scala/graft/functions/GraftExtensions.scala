package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration for the engine's native expressions, so
  * they are first-class SQL functions (`SELECT dot_product(a, b)`,
  * `shingle_set(tokens, 3)`) as well as Column APIs.
  *
  * Cluster use: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (public `SparkSessionExtensions.injectFunction` API).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name)

  val all: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("dot_product"),
      info("dot_product"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "dot_product takes exactly 2 arguments")
        DotProduct(exprs(0), exprs(1))
      }),
    (FunctionIdentifier("shingle_set"),
      info("shingle_set"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "shingle_set takes exactly 2 arguments")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"shingle_set size must be an integer literal, got $other")
        }
        ShingleSet(exprs(0), n)
      }),
    (FunctionIdentifier("simhash_bits"),
      info("simhash_bits"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "simhash_bits takes exactly 1 argument")
        SimHashBits(exprs(0))
      }))
}
