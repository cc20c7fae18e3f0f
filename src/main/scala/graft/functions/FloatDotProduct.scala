package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Σᵢ aᵢ·bᵢ of two `array<float>` columns as one fused codegen loop —
  * the SCREEN-stage companion to [[CosineSimilarity]]. A full cosine
  * costs three accumulators per element (dot + both norms) plus two
  * sqrts and a divide per pair; when each side's norm is precomputed
  * once per ROW, the per-CANDIDATE test `cos(a,b) ≥ t` can be screened
  * as `dot(a,b) ≥ t′·‖a‖·‖b‖` with a slack `t′ < t` — one third of the
  * flops, no sqrt, no divide — and only screen survivors pay the exact
  * cosine. The slack makes the screen recall-lossless: it must admit
  * every pair the exact filter keeps, so the handful of ulps by which
  * `dot/(‖a‖·‖b‖)` and the fused-cosine evaluation can disagree are
  * covered many orders of magnitude over by thresholding at, e.g.,
  * 0.3498 for an exact filter at round(·,4) ≥ 0.35 (round 12; the
  * 100× embeddings-iid probe measured the candidate-scoring loop of
  * `llm_dedup_embedding_lsh` dominated by per-candidate cosine flops
  * on cluster-dense cells).
  *
  * Arithmetic contract matches CosineSimilarity's dot term exactly:
  * elements promoted to double before multiply, sequential
  * left-to-right accumulation over min(|a|, |b|) elements.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot_f expects array<float>, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

object FloatDotProduct {
  /** Installs the graft functions (see [[graft.Graft]]) on the session. */
  def register(spark: SparkSession): Unit = graft.Graft.install(spark)
}
