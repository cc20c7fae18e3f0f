package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 fourth-batch invariants: semantic-dedup pairs are
  * symmetric-free within-cluster cosine matches, attribution credits
  * partition all purchases, the weighted average is bounded by the
  * group min/max, the nested roundtrip is lossless, and Gini stays
  * in [0,1).
  */
class Round6dSpec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("llm_dedup_semantic: pairs ordered, cosine >= threshold, same cluster") {
    val p = q("llm_dedup_semantic").collect()
    assert(p.nonEmpty)
    p.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      assert(r.getAs[Double]("cos") >= 0.35 - 1e-4)
    }
  }

  test("events_attribution_last_touch: credits partition all purchases") {
    val at = q("events_attribution_last_touch").collect()
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(at.map(_.getAs[Long]("n_purchases")).sum === purchases)
    // purchase can never credit itself
    assert(!at.map(_.getAs[String]("attributed")).contains("purchase"))
  }

  test("agg_weighted_avg: bounded by per-group min/max price") {
    val wa = q("agg_weighted_avg").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("weighted_avg_price")).toMap
    Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"))
      .collect().foreach { r =>
        val v = wa(r.getString(0))
        assert(v >= r.getAs[Double]("mn") - 0.01 &&
               v <= r.getAs[Double]("mx") + 0.01)
      }
  }

  test("source_json_nested: lossless — counts and cents match the base table") {
    val row = q("source_json_nested").head
    val base = Tables.orders(spark, sf)
      .agg(countDistinct("o_custkey"), count(lit(1)),
           sum(expr("cast(round(o_totalprice * 100) as bigint)"))).head
    assert(row.getAs[Long]("n_custs") === base.getLong(0))
    assert(row.getAs[Long]("n_orders") === base.getLong(1))
    assert(row.getAs[Long]("total_cents") === base.getLong(2))
  }

  test("win_topk_native_docs: plans through TopKPerGroupExec, matches window result") {
    val native = q("win_topk_native_docs")
    assert(native.queryExecution.executedPlan.toString
      .contains("TopKPerGroup"), "must plan through the custom operator")
    val expected = Tables.documents(spark, sf)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "source")
          .orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rnk") <= 3)
      .select("lang", "source", "doc_id", "n_chars", "rnk")
      .orderBy("lang", "source", "rnk")
    assert(native.collect().toSeq === expected.collect().toSeq)
  }

  test("events_gap_fill: spine is contiguous and totals reconcile") {
    val gf = q("events_gap_fill").collect()
    val days = gf.map(_.getAs[Long]("day_idx"))
    assert(days.zip(days.tail).forall { case (a, b) => b == a + 1 },
      "day spine must be contiguous")
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(gf.map(_.getAs[Long]("n_purchases")).sum === purchases)
  }

  test("events_cumulative_users: monotone, final value = total distinct users") {
    val cu = q("events_cumulative_users").collect()
    val cums = cu.map(_.getAs[Long]("cum_users"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b > a })
    val users = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(cums.last === users)
    assert(cu.map(_.getAs[Long]("n_new_users")).sum === users)
  }

  test("llm_curation_pipeline: funnel is monotone and reconciles with llm_dedup_exact") {
    val cp = q("llm_curation_pipeline").collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(cp.map(_.getAs[Long]("n_raw")).sum === nDocs)
    cp.foreach { r =>
      val (raw, dd, li, qu) = (r.getAs[Long]("n_raw"), r.getAs[Long]("n_dedup"),
        r.getAs[Long]("n_langid"), r.getAs[Long]("n_quality"))
      assert(raw >= dd && dd >= li && li >= qu && qu >= 0)
    }
    // Stage-1 survivor total = number of distinct content hashes.
    val distinctHashes = Tables.documents(spark, sf)
      .select(md5(col("text").cast("binary"))).distinct().count()
    assert(cp.map(_.getAs[Long]("n_dedup")).sum === distinctHashes)
  }

  test("graft_long_dot: codegen expression equals the HOF formulation") {
    val df = Tables.embeddings(spark, sf)
      .selectExpr(
        "transform(embedding, x -> coalesce(cast(floor(cast(x as double) * 1000 + 0.5) as bigint), 0L)) as qa")
      .selectExpr(
        "graft_long_dot(qa, qa) as fused",
        "aggregate(zip_with(qa, qa, (a, b) -> a * b), 0L, (acc, v) -> acc + v) as hof")
    assert(df.filter(col("fused") =!= col("hof")).count() === 0)
    assert(df.filter(col("fused") <= 0).count() === 0) // ‖q‖² > 0
  }

  test("llm_tokens_per_source_gini: gini in [0,1), masses reconcile") {
    val g = q("llm_tokens_per_source_gini").collect()
    g.foreach { r =>
      val v = r.getAs[Double]("gini")
      assert(v >= 0.0 && v < 1.0, s"gini $v out of range")
    }
    val total = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(g.map(_.getAs[Long]("total_tokens")).sum === total)
  }
}
