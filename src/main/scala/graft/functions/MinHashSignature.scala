package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** MinHash signature of one shingle set: `numHashes` minima, one per seed.
  *
  * Semantically identical to exploding the set into rows and taking, per
  * seed s, `min(((2s+3)·h + 12289·s + 1) mod P)` over the rows, where `h`
  * is the shingle's 28-bit hash (the first 7 hex chars of `md5` of its
  * UTF-8 bytes, parsed as an integer) and P = 268435399, the largest prime
  * below 2^28. The oracle SQL replays that form verbatim. Built in ONE
  * compiled pass instead: each shingle is md5'd once (digest instance
  * reused per thread) and updates the `numHashes` running minima in a
  * tight loop, so no row per shingle is ever materialized or shuffled.
  * The arithmetic is exact in 64 bits for any `numHashes` below 2^30.
  *
  * A set with no shingle (a text shorter than the shingle size) has no
  * signature: the result is NULL, as the exploded form yields no row. A
  * NULL element is skipped, as `min` skips the NULL hash it would give.
  * Because a minimum of minima is the minimum, a per-id `min` of each
  * position over several rows equals the signature of the rows' union.
  */
object MinHashSignatureHelper {
  private val Prime = 268435399L

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def signature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val digest = md.get()
    var seen = false
    var t = 0
    while (t < n) {
      if (!shingles.isNullAt(t)) {
        digest.reset()
        val d = digest.digest(shingles.getUTF8String(t).getBytes)
        val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
          ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
        var s = 0
        while (s < numHashes) {
          val v = ((2L * s + 3L) * h + 12289L * s + 1L) % Prime
          if (v < mins(s)) mins(s) = v
          s += 1
        }
        seen = true
      }
      t += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }
}

case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1, "numHashes must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature requires array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSignatureHelper.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashSignatureHelper.signature($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  def apply(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))
}
