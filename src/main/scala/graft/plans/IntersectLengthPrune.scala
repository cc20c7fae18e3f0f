package graft.plans

import graft.functions.SortedIntersectSize
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: derive the integer length-prune for merge-walk
  * similarity thresholds in join conditions.
  *
  * Every set-similarity join in this engine carries a conjunct of the
  * shape `sortedintersectsize(A, B) * k >= rhs` (the Jaccard threshold
  * rewritten to integer form — see ops/LlmPipeline near-dup notes).
  * Because `|A∩B| <= min(|A|, |B|)` always holds, the threshold
  * implies `min(size(A), size(B)) * k >= rhs`, a constant-time integer
  * comparison that rejects most candidate pairs WITHOUT running the
  * O(|A|+|B|) merge walk. This rule injects that implied conjunct in
  * front of the expensive one, so every query (and any future
  * library-user query) gets the prune without hand-writing it.
  *
  * Soundness: added conjunct is implied by the original (for k > 0),
  * so the join result is unchanged; on null arrays both conjuncts are
  * null/false and the row is dropped either way. Idempotent: the
  * prune is skipped when a semantically-equal conjunct is already
  * present (the rule runs in a fixed-point batch).
  */
object IntersectLengthPrune extends Rule[LogicalPlan] {

  private def positive(k: Literal): Boolean = k.value match {
    case i: java.lang.Integer => i > 0
    case l: java.lang.Long    => l > 0
    case s: java.lang.Short   => s > 0
    case _                    => false
  }

  private def pruneFor(sis: SortedIntersectSize, k: Literal,
                       rhs: Expression): Expression = {
    val bound = Least(Seq(Size(sis.left, legacySizeOfNull = false),
                          Size(sis.right, legacySizeOfNull = false)))
    val scaled: Expression = Multiply(Cast(bound, k.dataType), k)
    val left = if (scaled.dataType == rhs.dataType) scaled
               else Cast(scaled, rhs.dataType)
    GreaterThanOrEqual(left, rhs)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(_, _, _, Some(cond), _) =>
      val newCond = cond transformUp {
        case g @ GreaterThanOrEqual(Multiply(sis: SortedIntersectSize,
                                             k: Literal, _), rhs)
            if positive(k) =>
          val p = pruneFor(sis, k, rhs)
          if (cond.find(_.semanticEquals(p)).isDefined) g else And(p, g)
      }
      if (newCond fastEquals cond) j else j.copy(condition = Some(newCond))
  }
}
