package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom table-generating function (UDTF — the last §2.12 extension
  * mechanism): one output row per word n-gram of a string-array
  * column. `SELECT graft_ngrams(tokens, 3)` plans through the same
  * `Generate` node as `explode` (the analyzer's ExtractGenerators
  * lifts any `Generator` expression), so downstream
  * partial-aggregation and pushdown behave exactly as for builtins —
  * the generator multiplies rows task-locally, no shuffle of its own.
  */
case class NGramsGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_ngrams expects array<string>, got $other")
    }

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < n) Nil
    else {
      val toks = new Array[UTF8String](arr.numElements())
      var i = 0
      while (i < toks.length) { toks(i) = arr.getUTF8String(i); i += 1 }
      val sep = UTF8String.fromString(" ")
      (0 to toks.length - n).map { j =>
        val parts = new Array[UTF8String](2 * n - 1)
        var k = 0
        while (k < n) {
          parts(2 * k) = toks(j + k)
          if (k < n - 1) parts(2 * k + 1) = sep
          k += 1
        }
        InternalRow(UTF8String.concat(parts: _*))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): NGramsGenerator =
    copy(child = newChild)
}

object NGramsGenerator {
  /** Installs the graft functions (see [[graft.Graft]]) on the session. */
  def register(spark: SparkSession): Unit = graft.Graft.install(spark)
}
