package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 additions: invariant checks that are independent of the
  * DuckDB oracle path — quantization bounds, dedup survivor
  * uniqueness, budget-sample feasibility, retention ratio bounds, and
  * plan-level assertions (broadcast joins where declared, no exchange
  * in row-local transforms).
  */
class Round3Spec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("llm_embed_normalize: quantized values bounded by ±127, norm positive") {
    // Output is exploded to (vec_id, norm_x1e6, pos, q) scalar rows —
    // one per vector element, position-ordered.
    val out = q("llm_embed_normalize")
    assert(out.filter(abs(col("q")) > 127).count() === 0)
    assert(out.filter(col("norm_x1e6") <= 0).count() === 0)
    // every vector explodes to exactly its dimension count of rows
    val dims = Tables.embeddings(spark, sf)
      .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"))
    val bad = out.groupBy("vec_id").count()
      .join(dims, Seq("vec_id"))
      .filter(col("count") =!= col("dim"))
    assert(bad.count() === 0)
  }

  test("llm_cross_dedup: survivors have globally distinct text") {
    val survivors = q("llm_cross_dedup")
    val texts = survivors.join(Tables.documents(spark, sf), Seq("doc_id"))
      .select(md5(col("text").cast("binary")).as("h"))
    assert(texts.count() === texts.distinct().count())
    // every source group elects its min-(source,doc_id) member
    val total = Tables.documents(spark, sf)
      .select(md5(col("text").cast("binary")).as("h")).distinct().count()
    assert(survivors.count() === total)
  }

  test("llm_token_budget_sample: selected docs fit the exclusive budget") {
    val sel = q("llm_token_budget_sample")
    assert(sel.filter(col("cum_excl") >= 20000L).count() === 0)
    assert(sel.count() > 0)
  }

  test("llm_contamination: benchmark docs excluded; hits bounded by grams") {
    val c = q("llm_contamination")
    assert(c.filter(col("doc_id") % 97 === 0).count() === 0)
    assert(c.filter(col("n_hit") > col("n_grams")).count() === 0)
  }

  test("llm_repetition_filter: distinct bigrams never exceed total") {
    assert(q("llm_repetition_filter")
      .filter(col("n_distinct") > col("n_bigrams")).count() === 0)
  }

  test("insta_retention: retained never exceeds active or previous active") {
    val r = q("insta_retention")
    assert(r.filter(col("n_retained") > col("n_active")).count() === 0)
    assert(r.filter(col("retention_x1e4") > 10000L).count() === 0)
  }

  test("llm_quality_bucket: deciles partition the corpus in order") {
    val b = q("llm_quality_bucket").orderBy("decile").collect()
    assert(b.map(_.getLong(0)).toSeq === (1L to 10L))
    val nDocs = Tables.documents(spark, sf).count()
    assert(b.map(_.getLong(1)).sum === nDocs)
    // decile score ranges are non-overlapping and ordered
    b.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getLong(3) <= hi.getLong(2),
        s"decile ${lo.getLong(0)} max_q > decile ${hi.getLong(0)} min_q")
    case _ => ()
    }
  }

  test("tpch_q3/q10 top-k: at most k rows, revenue non-increasing") {
    val r3 = q("tpch_q3_shipping").collect()
    assert(r3.length <= 10)
    r3.map(_.getDouble(1)).sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => ()
    }
    val r10 = q("tpch_q10_returns").collect()
    assert(r10.length <= 20)
  }

  test("tpch_q5_region plan broadcasts every dimension") {
    val plan = q("tpch_q5_region").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    // the only shuffles are for the final aggregation, never a
    // fact-vs-dimension exchange pair: lineitem appears under at most
    // one Exchange chain
    assert(!plan.contains("CartesianProduct"))
  }

  test("llm_repetition_filter plan has no exchange (row-local)") {
    val plan = q("llm_repetition_filter").queryExecution.executedPlan.toString
    // the only allowed exchange is the final presentation orderBy
    assert(!plan.contains("hashpartitioning"),
      "row-local transform must not hash-shuffle")
  }

  test("exists_subquery decorrelates to semi/anti joins") {
    val plan = q("exists_subquery").queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") || plan.contains("Semi"))
    assert(plan.contains("LeftAnti") || plan.contains("Anti"))
  }

  test("llm_dedup_paragraph: dup chunks bounded; fraction within [0,1e4]") {
    val p = q("llm_dedup_paragraph")
    assert(p.filter(col("n_dup_chunks") > col("n_chunks")).count() === 0)
    assert(p.filter(col("dup_frac_x1e4") > 10000L ||
                    col("dup_frac_x1e4") < 0L).count() === 0)
    // chunk partition covers every token: sum of chunks == sum of
    // ceil(tokens/10) over docs
    val expected = Tables.documents(spark, sf)
      .select(ceil(size(split(col("text"), " ")) / 10.0).cast("long").as("c"))
      .agg(sum("c")).collect()(0).getLong(0)
    val got = p.agg(sum("n_chunks")).collect()(0).getLong(0)
    assert(got === expected)
  }

  test("llm_knn_graph_lsh: at most 3 neighbors per src, no self-edges, bucket-consistent") {
    val g = q("llm_knn_graph_lsh")
    assert(g.filter(col("src_id") === col("dst_id")).count() === 0)
    assert(g.groupBy("src_id").count().filter(col("count") > 3).count() === 0)
    // every edge's endpoints share the sign-LSH bucket by construction:
    // verify on a sample by recomputing buckets
    val b = Tables.embeddings(spark, sf)
      .select(col("vec_id"), ops.LlmScale.signBucket(spark, 5).as("bkt"))
    val bad = g.join(b.withColumnRenamed("vec_id", "src_id")
                      .withColumnRenamed("bkt", "sb"), Seq("src_id"))
      .join(b.withColumnRenamed("vec_id", "dst_id")
             .withColumnRenamed("bkt", "db"), Seq("dst_id"))
      .filter(col("sb") =!= col("db"))
    assert(bad.count() === 0)
  }

  test("graft_ngrams generator equals the transform+explode formulation") {
    Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .createOrReplaceTempView("ng_test_docs")
    val viaGen = spark.sql(
      "SELECT graft_ngrams(toks, 3) AS ngram FROM ng_test_docs")
    val viaHof = spark.sql(
      """SELECT explode(transform(sequence(1, size(toks) - 2),
           i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                          element_at(toks, i + 2)))) AS ngram
         FROM ng_test_docs WHERE size(toks) >= 3""")
    assert(viaGen.count() === viaHof.count())
    assert(viaGen.exceptAll(viaHof).count() === 0)
    // it plans through a Generate node, like explode
    assert(viaGen.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("stream_enrich_join keeps unmatched users under '(none)'") {
    val seg = q("stream_enrich_join").collect()
    val total = seg.map(_.getLong(1)).sum
    assert(total === Tables.events(spark, sf).count())
  }
}
