package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 batch (SURVEY §2.11ac): exact prefix-filter set-similarity
  * join, IDF-rarity scoring, time-constrained funnel.
  */
class Round10Spec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("llm_dedup_prefix_filter: histogram equals the brute-force quadratic") {
    // The prefix filter claims 100% recall by construction; this
    // audit recomputes the J-decile histogram from ALL O(N²) pairs
    // (feasible at sf0.001) and demands equality — a missed candidate
    // or a wrong prefix length shows up as a lost pair here.
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3) // same short-doc guard as the operator
      .select(col("doc_id"), array_sort(array_distinct(expr(
        """transform(
             transform(sequence(1, size(t) - 2),
               i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                              element_at(t, i + 2))),
           g -> xxhash64(g))"""))).as("th"))
      .withColumn("n", size(col("th")).cast("long"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        expr("cast(graft_sorted_intersect_size(a.th, b.th) as bigint)")
          .as("i"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .filter(col("i") * 3 >= col("na") + col("nb"))
      .groupBy(((col("i") * 10) / (col("na") + col("nb") - col("i")))
        .cast("long").as("jx10"))
      .agg(count(lit(1)).as("n_pairs"),
           sum("ai").as("sum_a"), sum("bi").as("sum_b"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
                                          r.getLong(3)))).toMap
    val got = q("llm_dedup_prefix_filter").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
                                r.getLong(3)))).toMap
    assert(got === brute)
    assert(got.nonEmpty, "fixture should contain at least one J>=0.5 pair")
  }

  test("llm_idf_rarity_score: every document scored exactly once") {
    val rows = q("llm_idf_rarity_score").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
           Tables.documents(spark, sf).count())
    // Rarity is a positive integer: every token's df <= N.
    assert(rows.forall(_.getAs[Long]("rarity") >= 1L))
  }

  test("llm_repetition_ngram: permille in range, docs conserved") {
    val rows = q("llm_repetition_ngram").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
           Tables.documents(spark, sf).count())
    assert(rows.forall { r =>
      val b = r.getAs[Long]("rep_bucket"); b >= 0L && b <= 10L
    })
  }

  test("agg_decimal_money: decimal sum equals integer-cents sum exactly") {
    // The decimal path must agree with the engine's established
    // integer-cents arithmetic: both are exact, so equality is ==,
    // not a tolerance.
    val dec = q("agg_decimal_money").collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
                BigDecimal(r.getAs[String]("sum_price"))).toMap
    val cents = Tables.orders(spark, sf)
      .groupBy("o_orderpriority")
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("c"))
      .collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
                (BigDecimal(r.getAs[Long]("c")) / 100)).toMap
    assert(dec.keySet === cents.keySet)
    for ((k, v) <- dec) assert(v === cents(k), s"priority $k")
  }

  test("llm_dedup_hub_quarantine: accounting consistent with degree hist") {
    val r = q("llm_dedup_hub_quarantine").collect()(0)
    val nDocs = Tables.documents(spark, sf).count()
    assert(r.getAs[Long]("n_hubs") + r.getAs[Long]("n_kept") === nDocs)
    // Hub count must equal the degree histogram's mass at degree>=150.
    val hubMass = q("llm_lsh_degree_hist").collect()
      .filter(_.getAs[Long]("degree") >= 150L)
      .map(_.getAs[Long]("n_docs")).sum
    assert(r.getAs[Long]("n_hubs") === hubMass)
    assert(r.getAs[Long]("n_conf_pairs") <= r.getAs[Long]("n_cand_pairs"))
  }

  test("win_running_distinct: monotone per user, final value = exact distinct") {
    val rows = q("win_running_distinct").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
                 r.getAs[Long]("n_distinct_types")))
    // Per user (ordered by event_id = insertion order within the
    // fixture), the running count never decreases and ends at the
    // user's exact distinct-type count.
    val exact = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(countDistinct("event_type").as("nd"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("nd"))
      .toMap
    rows.groupBy(_._1).foreach { case (u, es) =>
      val vals = es.sortBy(_._2).map(_._3)
      assert(vals.zip(vals.tail).forall { case (a, b) => a <= b },
        s"user $u running distinct not monotone")
      assert(vals.last === exact(u), s"user $u final count")
    }
  }

  test("agg_bit_ops: masks consistent with exact distinct slots") {
    val rows = q("agg_bit_ops").collect()
    val exact = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(collect_set(expr("cast(user_id % 32 as int)")).as("slots"))
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Seq[Int]]("slots").foldLeft(0L)((m, b) => m | (1L << b)))
      .toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("user_mask") === exact(r.getAs[String]("event_type")))
    }
  }

  test("events_funnel_window_1h: bounded by the unconstrained funnel") {
    val w = q("events_funnel_window_1h").collect()(0)
    val u = q("events_funnel_ordered").collect()(0)
    assert(w.getAs[Long]("n_signup") === u.getAs[Long]("n_signup"))
    assert(w.getAs[Long]("n_click_1h") <= u.getAs[Long]("n_click_after"))
    assert(w.getAs[Long]("n_purchase_1h") <= u.getAs[Long]("n_purchase_after"))
    assert(w.getAs[Long]("n_purchase_1h") <= w.getAs[Long]("n_click_1h"))
    assert(w.getAs[Long]("n_click_1h") <= w.getAs[Long]("n_signup"))
  }
}
