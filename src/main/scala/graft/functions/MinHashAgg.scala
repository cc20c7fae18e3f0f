package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed MinHash-signature aggregator — the UDAF extension surface
  * (public `Aggregator`, no internal APIs) and the documented scale
  * path for near-duplicate detection: at 100 TB the exact token-set
  * self-join of `llm_dedup_near` is replaced by
  * `explode(tokens) → groupBy(doc).agg(minhash) → band → bucket join`,
  * which `ops.LlmScale.llm_dedup_minhash_lsh` wires end to end in SQL
  * expressions; this class is the reusable aggregating form for typed
  * pipelines (`ds.groupByKey(...).agg(MinHashAgg.toColumn)`).
  *
  * `A`, `B` and `P` are the one MinHash coefficient table:
  * `ops.Hashing.signature` builds the same chain in SQL expressions
  * (md5-prefix base hash, affine maps mod 2^31-1), so signatures from
  * either path agree.
  */
object MinHashAgg extends Aggregator[String, Array[Long], Array[Long]] {
  val P = 2147483647L
  val A: Array[Long] = Array(100003L, 122251L, 135637L, 161423L, 173431L,
    188677L, 199831L, 224737L, 350377L, 411637L, 467237L, 524287L,
    600011L, 700001L, 800011L, 900001L)
  val B: Array[Long] = Array(7L, 977L, 1847L, 2741L, 3581L, 4421L, 5281L,
    6143L, 7001L, 7919L, 8887L, 9733L, 10657L, 11677L, 12569L, 13457L)
  val K: Int = A.length

  /** 32-bit base hash: first 8 hex chars of md5 — identical to the
    * SQL `ops.Hashing.md5Prefix("tok")`. */
  def baseHash(token: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(token.getBytes("UTF-8"))
    // first 4 bytes, big-endian, as unsigned 32-bit
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  override def zero: Array[Long] = Array.fill(K)(Long.MaxValue)

  override def reduce(sig: Array[Long], token: String): Array[Long] = {
    val h = baseHash(token)
    var i = 0
    while (i < K) {
      val v = (h * A(i) + B(i)) % P
      if (v < sig(i)) sig(i) = v
      i += 1
    }
    sig
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < K) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(sig: Array[Long]): Array[Long] = sig

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  /** Estimated Jaccard similarity of two signatures: fraction of
    * agreeing components. */
  def estimateJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < K) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / K
  }
}
