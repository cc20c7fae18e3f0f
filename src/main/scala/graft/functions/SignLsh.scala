package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Pseudo-random-hyperplane sign-LSH bucket, shared by every sign-LSH
  * key (and mirrored in their DuckDB oracles via [[duckBucketSql]]).
  *
  * Plane `p`'s normal is a hash-derived ±1 vector over ALL embedding
  * dimensions: sgn(p,i) = ±1 from bit 16 of the LCG value
  * 1103515245·(p·1000003 + i) + 12345 (glibc rand constants — a public,
  * engine-neutral bit mixer; all indices here are small positives, so
  * no negative-modulo divergence between engines). The plane stride is
  * 1 000 003 — larger than any plausible embedding width — so no two
  * (p,i) pairs collide: at the earlier stride 1009, plane p+1's sign at
  * dim i−1009 equaled plane p's at dim i, correlating adjacent
  * hyperplanes (and the OR key's "independent" tables) on production
  * widths ≥ 1009 dims (ADVICE r12; 1103515245·63·1000003 ≈ 7·10¹⁶
  * stays well inside int64 in both engines). This replaces the
  * earlier axis-aligned form (sign of coordinate p), whose buckets
  * depended on coordinate order: on real, anisotropic embeddings the
  * first few coordinates are correlated and axis cells collapse; a
  * dense ±1 projection mixes every dimension into every plane, so the
  * cell distribution tracks the data's cluster structure, not its
  * storage layout (balanced-cells property on a coordinate-skewed
  * input asserted in Round12Spec).
  *
  * Cross-engine exactness: each coordinate is quantized to
  * floor(double(x)·1e6) BEFORE the dot product, so the projection is
  * pure BIGINT arithmetic — no float-summation-order hazard in the
  * sign, and the DuckDB oracle reproduces the bucket bit-for-bit
  * (float→double widening is exact; the one double multiply is the
  * same IEEE operation in both engines).
  *
  * The plane count is the scale knob (one more plane per corpus
  * doubling keeps Σ|cell|² flat — see the adaptive keys, which derive
  * it in-plan from count(*)), which is why `np` is an SQL expression:
  * a literal for the pinned keys, a column name for the adaptive ones.
  * The embedding column must be named `embedding` in scope.
  */
object SignLsh {

  /** Spark SQL fragment computing the bucket id (plane 0 is the MSB,
    * matching the previous axis-aligned convention). */
  def bucketExpr(np: String): String =
    s"""aggregate(sequence(0, ($np) - 1), 0L, (b, p) ->
          b * 2L + (CASE WHEN
            aggregate(sequence(1, size(embedding)), 0L, (acc, i) ->
              acc + (CASE WHEN ((1103515245L * (p * 1000003 + i) + 12345L)
                                div 65536L) % 2L = 1L
                     THEN 1L ELSE -1L END)
                  * CAST(floor(CAST(element_at(embedding, i) AS DOUBLE)
                               * 1000000) AS BIGINT)) > 0L
            THEN 1L ELSE 0L END))"""

  /** The bucket as a Column; `np` is an SQL expression — a plane-count
    * literal ("5") or the name of an int column ("np").
    *
    * Routes through the codegen'd [[SignLshBucket]] expression rather
    * than the HOF fragment of [[bucketExpr]]: the HOF form interprets
    * a lambda per (plane, dim) per row (np·64 interpreted calls plus
    * two sequence materializations), which round-12 solo benches
    * measured at 1.6–3.1× the axis form's cost on the sign-LSH keys;
    * the expression compiles to one fused integer loop inside
    * whole-stage codegen. Bit-identical to [[bucketExpr]] by
    * construction (Round12Spec asserts parity on the fixture).
    *
    * Registration happens on the EXPLICIT session (ADVICE r12): every
    * query builder receives its `SparkSession`, and registering on the
    * thread-local active session instead fails analysis with an
    * unresolved function whenever the builder runs on a thread whose
    * active session is absent or different (e.g. a pooled scheduler
    * thread). */
  def bucketCol(s: SparkSession, np: String): Column = {
    register(s)
    expr(s"graft_sign_lsh(embedding, ($np))")
  }

  /** Installs the graft functions (see [[graft.Graft]]) on the session. */
  def register(spark: SparkSession): Unit = graft.Graft.install(spark)

  /** DuckDB mirror of [[SignLshMargins]] — element p+1 (1-based) is
    * plane `off + p`'s exact pre-sign BIGINT accumulator. Pure integer
    * arithmetic, so both engines produce the identical array; the
    * bucket is recoverable as bit (np−1−p) = (margin_p > 0), an
    * identity Round15Spec pins. */
  def duckMarginsSql(np: String, off: String = "0"): String =
    s"""list_transform(range(0, ($np)), p ->
          list_sum(list_transform(range(1, len(embedding) + 1),
            i -> (CASE WHEN ((CAST(1103515245 AS BIGINT)
                              * ((p + ($off)) * 1000003 + i)
                              + 12345) // 65536) % 2 = 1
                  THEN 1 ELSE -1 END)
               * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                      AS BIGINT))))"""

  /** DuckDB mirror of [[bucketExpr]] — same BIGINT arithmetic, same
    * MSB-first plane order, verified bit-identical on the fixture.
    * `off` is the global-plane-index offset of the 3-arg Spark form
    * (default "0" ≡ the 2-arg form). */
  def duckBucketSql(np: String, off: String = "0"): String =
    s"""CAST(list_sum(list_transform(range(0, ($np)), p ->
          CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
              i -> (CASE WHEN ((CAST(1103515245 AS BIGINT)
                                * ((p + ($off)) * 1000003 + i)
                                + 12345) // 65536) % 2 = 1
                    THEN 1 ELSE -1 END)
                 * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                        AS BIGINT))) > 0
          THEN CAST(1 AS BIGINT) << (($np) - 1 - p)
          ELSE 0 END)) AS BIGINT)"""
}

/** Codegen'd sign-LSH bucket over (`array<float>` embedding, `int`
  * plane count, `int` global-plane offset) — the hot-path form of
  * [[SignLsh.bucketExpr]], with the identical arithmetic contract:
  * sgn(g,i) from bit 16 of the glibc LCG at (g·1000003 + i) where
  * g = offset + p is the GLOBAL plane index, coordinates quantized to
  * floor(double(x)·1e6) BIGINTs before the dot product, plane
  * `offset` as the bucket's MSB. Offset 0 (the pre-round-15 2-arg
  * form — the registry builder fills the literal in) reproduces the
  * original expression bit-for-bit; a non-zero offset continues the
  * same hyperplane family past another projection's planes, which is
  * what lets two 63-bit-bounded projections act as one logical
  * 2·63-plane family (the OR key's two-projection widening). All work
  * is one fused integer loop per row inside whole-stage codegen — no
  * sequence allocation, no interpreted lambda per (plane, dim).
  */
case class SignLshBucket(first: Expression, second: Expression,
                         third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (first.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }) && second.dataType == IntegerType && third.dataType == IntegerType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sign_lsh expects (array<float>, int[, int]), got " +
        s"(${first.dataType.simpleString}, " +
        s"${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    val np = b.asInstanceOf[Int]
    val off = c.asInstanceOf[Int]
    val n = e.numElements()
    var bkt = 0L
    var p = 0
    while (p < np) {
      var acc = 0L
      var i = 1
      while (i <= n) {
        val sgn =
          if (((1103515245L * ((p + off) * 1000003L + i) + 12345L) / 65536L)
                % 2L == 1L)
            1L else -1L
        acc += sgn *
          math.floor(e.getFloat(i - 1).toDouble * 1000000.0).toLong
        i += 1
      }
      bkt = bkt * 2L + (if (acc > 0L) 1L else 0L)
      p += 1
    }
    bkt
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bkt = ctx.freshName("bkt")
      val sgn = ctx.freshName("sgn")
      s"""
         |int $n = $a.numElements();
         |long $bkt = 0L;
         |for (int $p = 0; $p < $b; $p++) {
         |  long $acc = 0L;
         |  for (int $i = 1; $i <= $n; $i++) {
         |    long $sgn =
         |      ((1103515245L * (($p + $c) * 1000003L + $i) + 12345L) / 65536L)
         |          % 2L == 1L
         |        ? 1L : -1L;
         |    $acc += $sgn *
         |      (long) Math.floor(((double) $a.getFloat($i - 1)) * 1000000.0);
         |  }
         |  $bkt = $bkt * 2L + ($acc > 0L ? 1L : 0L);
         |}
         |${ev.value} = $bkt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SignLshBucket =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Per-plane pre-sign accumulators of the sign-LSH projection over
  * (`array<float>` embedding, `int` plane count, `int` global-plane
  * offset) — element p (0-based) is plane `offset + p`'s exact BIGINT
  * dot product with the quantized embedding, i.e. the value whose sign
  * [[SignLshBucket]] takes for bucket bit (np − 1 − p). |margin_p| is
  * the distance-to-hyperplane proxy that ranks bucket flips in the
  * margin-directed probe set (round 15): a plane whose accumulator is
  * small is one a true near-neighbor plausibly lands on the other
  * side of. Identical arithmetic contract to [[SignLshBucket]] (glibc
  * LCG signs, floor(double·1e6) quantization), so
  * bucket = Σ_p (margin_p > 0) << (np − 1 − p) bit-for-bit —
  * Round15Spec pins the identity. Evaluated on PROBE rows only
  * (10 · T per query), never the corpus side, so the interpreted eval
  * path is fine; the codegen form is supplied anyway to keep every
  * sign-LSH fragment inside whole-stage codegen.
  */
case class SignLshMargins(first: Expression, second: Expression,
                          third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (first.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }) && second.dataType == IntegerType && third.dataType == IntegerType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sign_lsh_margins expects (array<float>, int[, int]), got " +
        s"(${first.dataType.simpleString}, " +
        s"${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    // Clamp degenerate (negative) plane counts to an empty margin
    // vector, matching SignLshBucket's graceful loop-skip on the same
    // input instead of throwing NegativeArraySizeException (ADVICE
    // r15 — np is always an in-plan derived positive, this is parity).
    val np = math.max(b.asInstanceOf[Int], 0)
    val off = c.asInstanceOf[Int]
    val n = e.numElements()
    val out = new Array[Long](np)
    var p = 0
    while (p < np) {
      var acc = 0L
      var i = 1
      while (i <= n) {
        val sgn =
          if (((1103515245L * ((p + off) * 1000003L + i) + 12345L) / 65536L)
                % 2L == 1L)
            1L else -1L
        acc += sgn *
          math.floor(e.getFloat(i - 1).toDouble * 1000000.0).toLong
        i += 1
      }
      out(p) = acc
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      val sgn = ctx.freshName("sgn")
      val bcl = ctx.freshName("bcl")
      s"""
         |int $n = $a.numElements();
         |int $bcl = java.lang.Math.max($b, 0);
         |long[] $out = new long[$bcl];
         |for (int $p = 0; $p < $bcl; $p++) {
         |  long $acc = 0L;
         |  for (int $i = 1; $i <= $n; $i++) {
         |    long $sgn =
         |      ((1103515245L * (($p + $c) * 1000003L + $i) + 12345L) / 65536L)
         |          % 2L == 1L
         |        ? 1L : -1L;
         |    $acc += $sgn *
         |      (long) Math.floor(((double) $a.getFloat($i - 1)) * 1000000.0);
         |  }
         |  $out[$p] = $acc;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SignLshMargins =
    copy(first = newFirst, second = newSecond, third = newThird)
}
