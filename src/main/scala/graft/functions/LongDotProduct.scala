package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Σᵢ aᵢ·bᵢ of two equal-length `array<bigint>` columns as one fused,
  * allocation-free loop — the hot inner product of quantized-vector
  * similarity stages. The HOF formulation
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)`
  * materializes an intermediate array per ROW PER PAIR inside pair
  * joins (millions of allocations at fixture scale, billions at 100
  * TB); this expression walks both arrays in place, inside whole-stage
  * codegen.
  *
  * Analysis rejects anything but `array<bigint>` with
  * `containsNull = false` on both inputs (a null element would read an
  * undefined UnsafeArrayData slot → silently wrong sum), and unequal
  * lengths FAIL LOUDLY: the caller contract is vectors of one embedding
  * dimension, so a mismatched pair is a caller bug that must surface as
  * an error, never as a plausible truncated dot product. The branch is
  * perfectly predicted in the hot loop (always equal in correct use).
  * Integer overflow is the caller's bound to prove (milli-quantized
  * unit vectors: |q| ≤ ~1000, dim 64 ⇒ |Σ| ≤ 6.4e7).
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_long_dot expects array<bigint> with non-null elements, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) throw new IllegalArgumentException(
      s"graft_long_dot: vector length mismatch ($n vs ${y.numElements()})")
    var i = 0; var s = 0L
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_long_dot: vector length mismatch (" + $n + " vs " +
         |    $b.numElements() + ")");
         |}
         |int $i = 0; long $s = 0L;
         |while ($i < $n) { $s += $a.getLong($i) * $b.getLong($i); $i++; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}
