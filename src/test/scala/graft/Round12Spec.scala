package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 batch (SURVEY §2.15): the adaptive scale knob extended to
  * the whole ANN family, the hash-derived pseudo-random hyperplanes,
  * and the multimodal fixture contract the oracle relies on.
  */
class Round12Spec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("adaptive kNN graph equals the pinned key at fixture scale (np=5)") {
    val adaptive = q("llm_knn_graph_lsh_adaptive").collect()
    assert(adaptive.forall(_.getAs[Long]("np") == 5L),
      "fixture N <= 2000 must derive np = 5")
    val pinned = q("llm_knn_graph_lsh").collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("rnk")) ->
                r.getAs[Long]("dst_id")).toMap
    val got = adaptive
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("rnk")) ->
                r.getAs[Long]("dst_id")).toMap
    assert(got === pinned)
  }

  test("IVF stride formula: k stays bounded at any corpus size") {
    // stride = max(50, N div 4096) caps the centroid count at ~4096:
    // spot-check through the same SQL the operator uses.
    val cases = Seq(500L -> 50L, 2000L -> 50L, 204800L -> 50L,
                    1000000L -> 244L, 100000000L -> 24414L)
    for ((n, want) <- cases) {
      val stride = spark.sql(s"SELECT greatest(50L, $n div 4096) AS s")
        .head().getLong(0)
      assert(stride === want, s"N=$n")
      assert(n / stride <= 4416, s"k unbounded at N=$n") // 4096 + slack
    }
    // and at fixture scale the adaptive key equals the historical
    // stride-50 semantics: stride derives to exactly 50.
    assert(Tables.embeddings(spark, sf).count() <= 204800L)
  }

  test("hash-plane buckets stay balanced on a coordinate-skewed input") {
    // Adversarial input for the old axis-aligned bucketing: force the
    // first three coordinates positive. Axis planes would pin all
    // three bucket bits to 1 (1 of 8 cells populated); the hash-derived
    // planes mix all 64 dimensions, so the partition must still spread.
    val skewed = Tables.embeddings(spark, sf)
      .withColumn("embedding", expr(
        """transform(embedding,
             (x, i) -> CASE WHEN i < 3
                       THEN cast(abs(x) + 0.1d as float)
                       ELSE x END)"""))
      .withColumn("b", ops.LlmScale.signBucket(spark, 3))
    val cells = skewed.groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = cells.values.sum
    assert(cells.size >= 6, s"only ${cells.size} of 8 cells populated")
    assert(cells.values.max < total * 6 / 10,
      s"one cell holds ${cells.values.max} of $total")
    // Axis bucketing on the SAME skewed input degenerates to a single
    // cell — the property the hash planes exist to prevent. Computed
    // from the transformed embedding (ADVICE r12: the earlier form
    // re-applied abs(x)+0.1 inside the CASE, making the expression a
    // data-independent constant): axis bucket = sign of the first
    // three transformed coordinates, all of which the skew forces
    // positive, so every row lands in cell 7.
    val axis = skewed
      .select(expr(
        """cast(CASE WHEN embedding[0] > 0 THEN 4 ELSE 0 END +
                CASE WHEN embedding[1] > 0 THEN 2 ELSE 0 END +
                CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END
                as long) as ab"""))
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(axis === Seq(7L))
  }

  test("nested plane prefix: np planes extend, never rehash, smaller np") {
    // Plane p's normal depends only on (p, i), so the top 3 bits of a
    // 5-plane bucket ARE the 3-plane bucket — adding planes refines
    // cells without moving vectors across coarse-cell boundaries (the
    // property that makes the adaptive np a pure refinement knob).
    val e = Tables.embeddings(spark, sf)
      .select(ops.LlmScale.signBucket(spark, 3).as("b3"),
              ops.LlmScale.signBucket(spark, 5).as("b5"))
    assert(e.filter(expr("b3 != (b5 div 4)")).count() === 0L)
  }

  test("stream_file_sink_roundtrip: real file sink, no driver-side result state") {
    val out = q("stream_file_sink_roundtrip")
    assert(out.count() > 0)
    // The parquet sink's metadata log is the exactly-once mechanism the
    // key exists to exercise; its presence proves the result streamed
    // through the FILE sink rather than a memory table.
    val root = ops.Sinks.sinkRoot(spark) + "/fsink_" +
      sf.replaceAll("[^A-Za-z0-9]", "_")
    assert(new java.io.File(root + "/out/_spark_metadata").exists)
    // Emitted windows all sit at or below the final watermark.
    val mx = Tables.events(spark, sf).agg(max("ts")).head().getTimestamp(0)
    val wmMs = mx.getTime - 601000L
    out.collect().foreach { r =>
      assert(r.getTimestamp(0).getTime + 3600000L <= wmMs)
    }
  }

  test("codegen'd SignLshBucket equals the HOF reference bucket bit-for-bit") {
    // bucketCol routes through the native expression; bucketExpr is
    // the HOF reference formulation both it and the DuckDB oracle
    // mirror. Any arithmetic drift (LCG, quantization, plane order)
    // breaks every sign-LSH oracle at once, so pin the parity here at
    // both a pinned and a larger plane count.
    for (np <- Seq(3, 5, 10)) {
      val drift = Tables.embeddings(spark, sf)
        .select(graft.functions.SignLsh.bucketCol(spark, np.toString).as("nat"),
                expr(graft.functions.SignLsh.bucketExpr(np.toString)).as("ref"))
        .filter(expr("nat != ref")).count()
      assert(drift === 0L, s"native/HOF bucket drift at np=$np")
    }
  }

  test("multimodal fixture contract: every doc has >= 16 ASCII chars") {
    // The llm_multimodal_features oracle hard-codes a 16-term head-hash
    // polynomial over single-byte chars (DuckDB ascii('') = 0 would
    // silently scale the hash; multi-byte UTF-8 would diverge from the
    // engine's byte fold). Pin the fixture properties it relies on.
    val bad = Tables.documents(spark, sf)
      .filter(length(col("text")) < 16 ||
              !col("text").rlike("^[\\x20-\\x7e]*$"))
      .count()
    assert(bad === 0L, s"$bad docs violate the >=16-ASCII-char contract")
  }

  test("dot screen is recall-lossless vs the exact cosine filter") {
    // The embedding-dedup joins screen candidates with
    // dot >= 0.3498*|a||b| before the exact round(cos,4) >= 0.35
    // filter. Over every pair of fixture vectors (including the
    // threshold neighborhood), no pair the exact filter keeps may
    // fail the screen — the slack must absorb all fp disagreement
    // between dot/(|a||b|) and the fused cosine evaluation.
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .withColumn("nrm", sqrt(expr("graft_dot_f(embedding, embedding)")))
    val leaked = e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id") &&
        round(expr("graft_cosine_sim(a.embedding, b.embedding)"), 4)
          >= 0.35 &&
        expr("graft_dot_f(a.embedding, b.embedding)") <
          lit(0.3498) * col("a.nrm") * col("b.nrm"))
      .count()
    assert(leaked === 0L,
      s"$leaked pairs pass the exact filter but fail the dot screen")
  }
}
