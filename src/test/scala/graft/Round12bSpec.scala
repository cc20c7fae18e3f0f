package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12b: the llm_dedup_semantic re-plan — corpus-derived centroid
  * count (k ≈ N/50) with two-level id-range routing (group width
  * m ≈ √k, m = 1 gate at k ≤ 64). Three contracts:
  * fixture-scale output is bit-identical to the single-level global
  * argmin the key always declared; the m derivation is gated and
  * grows like √k; and routing is a deterministic function of the
  * vector alone, so exact duplicates always co-locate and pair —
  * exercised on a synthetic corpus large enough to take the k > 64
  * two-level path.
  */
class Round12bSpec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("semantic dedup at fixture scale equals the global-argmax brute force") {
    // Driver-side reference: centi-quantize for routing, assign each
    // vector to its best every-50th centroid by the exact signed-cos²
    // integer score (ties → smallest id), then score all
    // within-cluster pairs with the milli-quantized integer
    // predicate. N = 500 at sf0.001 — 125k pairs, trivial on the
    // driver, and exactly the single-level SemDeDup semantics the
    // key declares at k ≤ 64 (m = 1).
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val id = r.getLong(0)
        val e = r.getSeq[Float](1)
        val qa = e.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
          .toArray
        val qb = e.map(x => math.floor(x.toDouble * 100 + 0.5).toLong)
          .toArray
        (id, qa, qb)
      }.sortBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    val n2 = vecs.map { case (_, qa, _) => dot(qa, qa) }
    val nb2 = vecs.map { case (_, _, qb) => dot(qb, qb) }
    val idx = vecs.map(_._1).zipWithIndex.toMap
    val cents = vecs.filter(_._1 % 50 == 0)
    def rkey(dt: Long, cn2: Long): Long = {
      val mag = dt * dt * 1000000L / math.max(cn2, 1L)
      if (dt >= 0) mag else -mag
    }
    val assign = vecs.map { case (id, _, qb) =>
      val best = cents.maxBy { case (cid, _, cqb) =>
        (rkey(dot(qb, cqb), nb2(idx(cid))), -(cid / 50))
      }
      id -> best._1 / 50
    }.toMap
    val want = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      if assign(vecs(i)._1) == assign(vecs(j)._1)
      num = dot(vecs(i)._2, vecs(j)._2)
      if num > 0 && num.toDouble * num >= 0.1225 * n2(i).toDouble * n2(j)
    } yield (vecs(i)._1, vecs(j)._1,
             BigDecimal(num / math.sqrt(n2(i).toDouble * n2(j)))
               .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet
    val got = q("llm_dedup_semantic").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
                 r.getAs[Double]("cos"))).toSet
    assert(got === want)
  }

  test("group-width derivation: m = 1 gate at k <= 64, ~sqrt(k) above") {
    val cases = Seq(10L -> 1L, 64L -> 1L, 65L -> 8L, 100L -> 8L,
                    4000L -> 64L, 100000L -> 256L)
    for ((k, want) <- cases) {
      val m = spark.sql(
        s"SELECT if($k <= 64, 1L, shiftleft(1L, cast(length(bin($k)) as int) div 2)) AS m")
        .head().getLong(0)
      assert(m === want, s"k=$k")
      if (k > 64) {
        // two-level routing cost ~ k/m + m stays O(sqrt(k))
        assert(k / m + m <= 3 * math.sqrt(k.toDouble).toLong + 2, s"k=$k")
      }
    }
  }

  test("exact duplicates co-locate and pair through the k > 64 two-level path") {
    // 5000 vectors = 2500 exact-duplicate pairs (vec 2i+1 copies 2i);
    // k = 100 centroids > 64 derives m = 8 (two-level routing live).
    // Routing is a deterministic function of the vector, so both
    // members of every duplicate pair land in the same cell and the
    // pair must surface with cos = 1.0 exactly.
    val dir = tempDir("sem_dup")
    spark.range(5000)
      .select(col("id").as("vec_id"),
              expr("""transform(sequence(0, 63),
                        j -> cast(sin(cast(id div 2 as double) * 64.0d
                                      + cast(j as double)) as float))""")
                .as("embedding"),
              (col("id") % 7).cast("int").as("label"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("llm_dedup_semantic")(spark, dir)
      .collect()
    val got = out.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    val dupPairs = (0L until 2500L).map(i => (2 * i, 2 * i + 1))
    val missing = dupPairs.filterNot(got.contains)
    assert(missing.isEmpty,
      s"${missing.size} duplicate pairs lost by routing, e.g. ${missing.take(3)}")
    val exact = out.filter(r =>
      dupPairs.contains((r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))))
    assert(exact.forall(_.getAs[Double]("cos") == 1.0))
  }
}
