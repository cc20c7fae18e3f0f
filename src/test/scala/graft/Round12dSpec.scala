package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12d: OR-amplified sign-LSH embedding dedup
  * (`llm_dedup_embedding_lsh_or`). The key derives all T = 4 tables'
  * buckets from ONE fused graft_sign_lsh(embedding, 4·np) value via
  * bit slicing, so the contracts to pin are (a) the slice arithmetic
  * — table t's slice must equal the bucket an explicit plane-offset
  * computation produces, and table 0 must equal the single-table
  * key's bucket; and (b) the OR-construction's containment — its
  * output is a superset of the single-table key's (more tables never
  * lose a candidate) and a subset of the exact O(N²) key's (the
  * confirm threshold is identical), with bit-identical cos_sim on the
  * shared pairs.
  */
class Round12dSpec extends AnyFunSuite {
  import TestSpark._

  test("full-bucket slice t=0 equals the single-table bucket (np=3)") {
    val bad = Tables.embeddings(spark, sf)
      .select(expr("graft_sign_lsh(embedding, 12)").as("allb"),
              expr("graft_sign_lsh(embedding, 3)").as("b0"))
      .filter(expr("shiftright(allb, 9) <> b0"))
      .count()
    assert(bad === 0L)
  }

  test("slice t equals the explicit plane-offset bucket for all 4 tables") {
    (0 until 4).foreach { t =>
      // Reference: the HOF bucket over GLOBAL plane indices
      // t*3 .. t*3+2 — the plane normal depends only on the global
      // index (p·1000003 + i), so this is what "table t" must bucket on.
      val refExpr =
        s"""aggregate(sequence(0, 2), 0L, (b, p) ->
              b * 2L + (CASE WHEN
                aggregate(sequence(1, size(embedding)), 0L, (acc, i) ->
                  acc + (CASE WHEN
                        ((1103515245L * ((p + ${t * 3}) * 1000003 + i)
                          + 12345L) div 65536L) % 2L = 1L
                       THEN 1L ELSE -1L END)
                      * CAST(floor(CAST(element_at(embedding, i) AS DOUBLE)
                                   * 1000000) AS BIGINT)) > 0L
                THEN 1L ELSE 0L END))"""
      val bad = Tables.embeddings(spark, sf)
        .select(expr("graft_sign_lsh(embedding, 12)").as("allb"),
                expr(refExpr).as("ref"))
        .filter(expr(s"(shiftright(allb, ${(3 - t) * 3}) & 7) <> ref"))
        .count()
      assert(bad === 0L, s"table $t slice mismatch")
    }
  }

  test("OR key contains the single-table key and is contained in exact") {
    // Round 15: both keys are hub-gated by default; at the fixtures the
    // gate is a no-op (no cell exceeds CAP — asserted in Round15Spec),
    // so the containment chain is checked on the kind='pair' rows.
    val or = SparkEntry.queries("llm_dedup_embedding_lsh_or")(spark, sf)
      .filter(col("kind") === "pair")
      .select("a_id", "b_id", "cos_sim")
    val single = SparkEntry.queries("llm_dedup_embedding_lsh")(spark, sf)
      .filter(col("kind") === "pair")
      .select("a_id", "b_id", "cos_sim")
    val exact = SparkEntry.queries("llm_dedup_embedding")(spark, sf)
      .select("a_id", "b_id", "cos_sim")
    // exceptAll on full rows: containment AND bit-identical cos_sim.
    assert(single.exceptAll(or).count() === 0L,
      "single-table pair missing from the OR key (table 0 ⊆ union)")
    assert(or.exceptAll(exact).count() === 0L,
      "OR key emitted a pair the exact key rejects")
    val (no, ns, ne) = (or.count(), single.count(), exact.count())
    assert(ns <= no && no <= ne)
    assert(no > 0L)
  }
}
