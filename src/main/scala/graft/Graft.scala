package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

import graft.functions._
import graft.plans.{IntersectLengthPrune, TopKStrategy}

/** The one way into a graft session: the table of custom expressions
  * and plan extensions, [[install]] to put it into an existing session,
  * and [[session]] to build one. [[GraftExtensions]] injects the same
  * table at session build time for `spark.sql.extensions` users.
  */
object Graft {
  private def fn(name: String, cls: Class[_])(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Optional third argument of the sign-LSH pair: the plane offset. */
  private def offset(e: Seq[Expression]): Expression =
    if (e.length > 2) e(2) else Literal(0)

  /** SQL name, implementing class, builder. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_cosine_sim", classOf[CosineSimilarity])(e => CosineSimilarity(e(0), e(1))),
    fn("graft_cosine_once", classOf[CosineSimilarityOnce])(e => CosineSimilarityOnce(e(0), e(1))),
    fn("graft_sorted_intersect_size", classOf[SortedIntersectSize])(e =>
      SortedIntersectSize(e(0), e(1))),
    fn("graft_sorted_intersect_once", classOf[SortedIntersectSizeOnce])(e =>
      SortedIntersectSizeOnce(e(0), e(1))),
    fn("graft_sign_lsh", classOf[SignLshBucket])(e => SignLshBucket(e(0), e(1), offset(e))),
    fn("graft_sign_lsh_margins", classOf[SignLshMargins])(e =>
      SignLshMargins(e(0), e(1), offset(e))),
    fn("graft_long_dot", classOf[LongDotProduct])(e => LongDotProduct(e(0), e(1))),
    fn("graft_dot_f", classOf[FloatDotProduct])(e => FloatDotProduct(e(0), e(1))),
    fn("graft_ngrams", classOf[NGramsGenerator])(e => e(1) match {
      case Literal(n: Int, IntegerType) => NGramsGenerator(e(0), n)
      case other => throw new IllegalArgumentException(
        s"graft_ngrams(arr, n): n must be an integer literal, got $other")
    }))

  /** Derives the integer length-prune ahead of a merge-walk similarity
    * threshold in a join condition. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(IntersectLengthPrune)

  /** Plans `TopKPerGroupNode` as the two-phase bounded-heap operator. */
  val strategies: Seq[SparkStrategy] = Seq(TopKStrategy)

  /** Puts the table into `spark` (idempotent). Appends and never
    * replaces, so rules and functions a user installed stay; an
    * existing function is skipped rather than re-registered, because
    * replacing one logs a WARN on every call. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
    val x = spark.experimental
    optimizerRules.filterNot(x.extraOptimizations.contains)
      .foreach(r => x.extraOptimizations = x.extraOptimizations :+ r)
    strategies.filterNot(x.extraStrategies.contains)
      .foreach(s => x.extraStrategies = x.extraStrategies :+ s)
  }

  /** `local[cores]` with as many shuffle partitions, UTC and the UI
    * off, with the table installed. `cores` is `SPARK_GRAFT_CPUS`, or
    * the JVM's available processors. */
  def session(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    install(spark)
    spark
  }
}
