package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** |A ∩ B| of two SORTED ascending distinct `array<bigint>` columns via
  * an allocation-free merge walk — the hot inner loop of set-similarity
  * joins (near-dup verify stages score millions of pairs; Spark's
  * generic `array_intersect` builds a hash set per row per pair).
  *
  * Caller contract: both arrays sorted ascending, elements distinct
  * (produce them with `array_sort(array_distinct(...))`). Jaccard
  * follows from sizes: |A∪B| = |A|+|B|-|A∩B|.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Installs the graft functions (see [[graft.Graft]]) on the session. */
  def register(spark: SparkSession): Unit = graft.Graft.install(spark)
}

/** The SAME merge walk, value-identical to [[SortedIntersectSize]] on
  * every input, but flagged NON-deterministic — the optimization-guide
  * §4.4 pattern for expensive expressions the optimizer would
  * otherwise duplicate. Used in the confirm stage of the similarity
  * keys: a Jaccard threshold written as a post-join
  * `.withColumn("isect", walk).filter(isect·k ≥ rhs)` is pushed by
  * `PushPredicateThroughNonJoin` THROUGH the projection into the join
  * condition with the walk inlined a second time, so every surviving
  * pair pays TWO O(|A|+|B|) walks (round-18 plan audit: the executed
  * plans of llm_dedup_minhash_pairs / llm_dedup_near /
  * llm_dedup_prefix_filter all carried `sortedintersectsize` both in
  * the join condition and in the post-join Project — and on this
  * corpus ~98.7 % of blocked pairs survive the threshold, so the
  * duplicate walk nearly doubles the dominant CPU). The
  * non-deterministic flag stops the push (a Project field that is
  * non-deterministic blocks predicate pushdown), leaving exactly one
  * walk per candidate in the projection; the cheap integer length
  * prune (|A∩B| ≤ min(|A|,|B|)) stays in the join condition,
  * hand-written where the `IntersectLengthPrune` rule can no longer
  * derive it. Values are bit-identical — the flag only constrains
  * plan transformations, never evaluation — so every oracle
  * differential is unchanged.
  */
case class SortedIntersectSizeOnce(left: Expression, right: Expression)
    extends BinaryExpression {

  override lazy val deterministic: Boolean = false

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSizeOnce =
    copy(left = newLeft, right = newRight)
}
