package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 invariants: the scale re-plans stay scale-shaped (no
  * corpus-sized single-partition windows), the sign-LSH plane knob
  * actually shrinks cells, and the new stream_stream_join key equals
  * its naive theta-join formulation.
  */
class Round4Spec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Every empty-partition window in the optimized plan must sit above
    * an Aggregate — i.e. it ranks REDUCED data (score histogram, bucket
    * offsets, vocab rows), never per-row corpus data. That is the
    * plan-level contract distinguishing the scale-safe forms from the
    * round-3 global windows Spark itself warned about. */
  private def assertNoCorpusGlobalWindow(df: DataFrame, key: String): Unit = {
    val plan = df.queryExecution.optimizedPlan
    val offenders = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
          w.collectFirst { case a: Aggregate => a }.isEmpty => w
    }
    assert(offenders.isEmpty,
      s"$key has a single-partition window over non-aggregated data:\n" +
        offenders.mkString("\n"))
  }

  test("llm_quality_bucket plan has no corpus-wide single-partition window") {
    assertNoCorpusGlobalWindow(q("llm_quality_bucket"), "llm_quality_bucket")
  }

  test("llm_token_budget_sample plan has no corpus-wide single-partition window") {
    assertNoCorpusGlobalWindow(q("llm_token_budget_sample"),
                               "llm_token_budget_sample")
  }

  test("quality deciles partition the corpus into balanced, ordered bins") {
    val out = q("llm_quality_bucket").collect()
    val total = Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(1)).sum === total)
    // exact ntile sizes: first N%10 deciles get one extra row
    val sizes = out.sortBy(_.getLong(0)).map(_.getLong(1))
    val s = total / 10; val big = (total % 10).toInt
    assert(sizes.take(big).forall(_ == s + 1) &&
           sizes.drop(big).forall(_ == s))
    // decile score ranges are disjoint and ordered
    val ranges = out.sortBy(_.getLong(0)).map(r => (r.getLong(2), r.getLong(3)))
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ => ()
    }
  }

  test("sign-LSH max cell size shrinks as planes are added") {
    val e = Tables.embeddings(spark, sf)
    def maxCell(n: Int): Long = e
      .withColumn("b", ops.LlmScale.signBucket(spark, n))
      .groupBy("b").count().agg(max("count")).head().getLong(0)
    val cells = (3 to 5).map(maxCell)
    assert(cells(0) > cells(1) && cells(1) > cells(2),
           s"max cell sizes for 3/4/5 planes: $cells")
    // and the 5-plane space is actually populated beyond 8 cells
    val nCells = e.withColumn("b", ops.LlmScale.signBucket(spark, 5))
      .select("b").distinct().count()
    assert(nCells > 8)
  }

  test("stream_stream_join equals the naive theta-join formulation") {
    val declared = q("stream_stream_join").collect().map(r =>
      (r.getLong(0), r.getLong(1))).sorted
    val ev = Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"),
              col("event_id").as("v_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
              col("event_id").as("c_id"))
    val naive = v.join(c,
        col("vu") === col("cu") &&
        col("cts") > col("vts") &&
        col("cts") <= col("vts") + expr("INTERVAL 5 MINUTES"))
      .select("v_id", "c_id").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sorted
    assert(declared.nonEmpty && declared.sameElements(naive))
  }

  test("llm_dedup_ngram banded candidates lose no qualifying pair") {
    // The banded form IS the declared plan; this asserts it against the
    // exact lang-blocked quadratic reference formulation on the fixture.
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("lang"),
              array_sort(transform(
                array_distinct(expr(
                  """transform(sequence(1, size(t) - 2),
                       i -> concat_ws(' ', element_at(t, i),
                                      element_at(t, i + 1),
                                      element_at(t, i + 2)))""")),
                g => xxhash64(g))).as("sh"))
      .withColumn("n", size(col("sh")))
    val quad = sh.as("a").join(sh.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id") &&
        expr("graft_sorted_intersect_size(a.sh, b.sh)") * 13 >=
          (col("a.n") + col("b.n")) * 3)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val banded = q("llm_dedup_ngram").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(banded.sameElements(quad))
  }
}
