package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Every ordered-by-index pair of an array: `(x_i, x_j)` for all `i < j`,
  * in index order, as `array<struct<a: T, b: T>>`.
  *
  * Semantically identical to the HOF composition
  * `flatten(transform(arr, (x, i) -> transform(slice(arr, i + 2, size(arr)),
  * y -> struct(x AS a, y AS b))))` — NULL elements pair like any other,
  * an array of fewer than two elements gives an empty array, a NULL array
  * gives NULL — but built in ONE compiled pass. The interpreted form binds
  * two lambda variables and allocates a sliced array per element, which
  * made the pair expansion the hottest loop of every co-purchase and
  * wedge build. Each element is read (and copied off the input buffer)
  * once; the pairs share those copies.
  */
object ArrayPairsHelper {
  def pairs(arr: ArrayData, elementType: DataType): ArrayData = {
    val n = arr.numElements()
    val total = n.toLong * (n - 1) / 2
    if (total > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalArgumentException(
        s"array_pairs: $n elements give $total pairs, over the array size limit")
    val xs = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) xs(i) = InternalRow.copyValue(arr.get(i, elementType))
      i += 1
    }
    val out = new Array[Any](total.toInt)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](xs(i), xs(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class ArrayPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: ArrayType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"array_pairs requires an array, got $other")
    }

  private def arrayType: ArrayType = child.dataType.asInstanceOf[ArrayType]
  private def elementType: DataType = arrayType.elementType

  override def dataType: DataType = {
    val side = (name: String) => StructField(name, elementType, arrayType.containsNull)
    ArrayType(StructType(Seq(side("a"), side("b"))), containsNull = false)
  }

  override def nullSafeEval(input: Any): Any =
    ArrayPairsHelper.pairs(input.asInstanceOf[ArrayData], elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elementType", elementType,
      classOf[DataType].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayPairsHelper.pairs($c, $et)")
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayPairs =
    copy(child = newChild)

  override def prettyName: String = "array_pairs"
}

object ArrayPairs {
  def apply(arr: Column): Column =
    ColumnBridge.column(ArrayPairs(ColumnBridge.expression(arr)))
}
