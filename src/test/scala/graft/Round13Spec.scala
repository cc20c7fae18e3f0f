package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13: the radius-with-np probe dial
  * (`llm_sim_topk_lsh_adaptive`) and the unified salted kNN-edge
  * build (`ops.KnnEdges`).
  *
  * The fixture corpora derive np = 3 → r = 2, so the dial's k=3 and
  * k=4 combination terms never execute under the oracle gate; these
  * tests evaluate the factored probe-set expression at the large-np
  * points the scale probes hit (np=13 → r=3 at the 1000× corpus,
  * np=16 → r=4) and pin the combinatorial contract: the set has
  * exactly Σ_{k≤r} C(np,k) members, all distinct, all within Hamming
  * r of the origin bucket, and covers EVERY mask at Hamming ≤ r (so a
  * true neighbor differing in ≤ r sign bits is always a candidate —
  * the recall guarantee the dial exists to hold).
  */
class Round13Spec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  private def probeSet(np: Int, bucket: Long): Seq[Long] = {
    val df = spark.range(1)
      .select(lit(bucket).as("bucket"), lit(np).as("np"))
      .withColumn("r", expr("least(4, greatest(2, np div 4))"))
      .select(explode(expr(ops.Pipelines28.radiusProbeSet)).as("pb"))
    df.collect().map(_.getLong(0)).toSeq
  }

  private def choose(n: Int, k: Int): Long =
    (1 to k).foldLeft(1L)((a, i) => a * (n - i + 1) / i)

  test("probe set at np=13 (r=3) is the full distinct Hamming<=3 ball") {
    val bucket = 0x155AL & ((1L << 13) - 1)
    val ps = probeSet(13, bucket)
    val expected = (0 to 3).map(choose(13, _)).sum
    assert(ps.size.toLong === expected) // 1+13+78+286 = 378
    assert(ps.distinct.size === ps.size, "duplicate probe bucket")
    assert(ps.forall(p => java.lang.Long.bitCount(p ^ bucket) <= 3))
    // Completeness: every Hamming<=3 mask over 13 planes is present.
    val all = (0 until (1 << 13)).map(_.toLong)
      .filter(m => java.lang.Long.bitCount(m) <= 3)
      .map(_ ^ bucket).toSet
    assert(ps.toSet === all)
  }

  test("probe set at np=16 (r=4) is the full distinct Hamming<=4 ball") {
    val bucket = 0xBEEFL & ((1L << 16) - 1)
    val ps = probeSet(16, bucket)
    val expected = (0 to 4).map(choose(16, _)).sum
    assert(ps.size.toLong === expected) // 1+16+120+560+1820 = 2517
    assert(ps.distinct.size === ps.size, "duplicate probe bucket")
    assert(ps.forall(p => java.lang.Long.bitCount(p ^ bucket) <= 4))
  }

  test("probe set at fixture np=3 (r=2) equals the round-12d Hamming<=2 form") {
    // Output-compatibility anchor: below r=3 the new terms contribute
    // nothing, so the shipped key's fixture behavior is unchanged.
    val ps = probeSet(3, 5L)
    val expected = (0 to 2).map(choose(3, _)).sum // 7 of 8 cells
    assert(ps.size.toLong === expected)
    assert(ps.toSet === (0 until 8).map(_.toLong)
      .filter(m => java.lang.Long.bitCount(m) <= 2).map(_ ^ 5L).toSet)
  }

  test("salted KnnEdges equals the unsalted self-join edge set exactly") {
    // The salt is a pure parallelism device: src keeps one salt, dst
    // replicates over all 8, so each in-cell pair meets exactly once
    // and the edge set (ids AND cos_sim AND ranks) is bit-identical
    // to the unsalted reference join.
    val salted = ops.KnnEdges.topkEdges(spark, sf)
      .select("src_id", "dst_id", "np", "cos_sim", "rnk")
    val planes = Tables.embeddings(spark, sf)
      .agg(count(lit(1)).as("n_vecs"))
      .select(greatest(lit(5),
                length(expr("bin((n_vecs - 1) div 250)")))
        .cast("int").as("np"))
    val bucketed = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(planes))
      .withColumn("bucket", graft.functions.SignLsh.bucketCol(spark, "np"))
    val pairs = bucketed
      .select(col("np"), col("bucket"), col("vec_id").as("src_id"),
              col("embedding").as("se"))
      .join(bucketed.select(col("bucket"), col("vec_id").as("dst_id"),
              col("embedding").as("de")), Seq("bucket"))
      .filter(col("src_id") =!= col("dst_id"))
      .select(col("src_id"), col("dst_id"),
              col("np").cast("long").as("np"),
              (round(expr("graft_cosine_sim(se, de)"), 4) + 0.0)
                .as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(desc("cos_sim"), asc("dst_id"))
    val unsalted = pairs
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("src_id", "dst_id", "np", "cos_sim", "rnk")
    assert(salted.exceptAll(unsalted).count() === 0L)
    assert(unsalted.exceptAll(salted).count() === 0L)
  }

  test("the three consumers share the KnnEdges edge set") {
    // llm_knn_graph_lsh (pinned surface) must be the adaptive key
    // minus its np column — the round-13 plan merge's contract.
    val pinned = SparkEntry.queries("llm_knn_graph_lsh")(spark, sf)
    val adaptive = SparkEntry.queries("llm_knn_graph_lsh_adaptive")(spark, sf)
      .select("src_id", "dst_id", "cos_sim", "rnk")
    assert(pinned.exceptAll(adaptive).count() === 0L)
    assert(adaptive.exceptAll(pinned).count() === 0L)
  }

  test("hot-cell refinement: the d>0 path matches the naive window reference") {
    // The fixtures never trip the CAP (every cell ≪ 2000), so the
    // refined-join machinery — per-cell depth, (d, bucket, salt) keys,
    // TopKPerGroup reduction — would otherwise ship untested on its
    // own code path. Synthetic corpus: 2600 near-parallel vectors
    // (cos ≈ 1 pairwise) all land in ONE sign-LSH cell of every
    // depth, forcing n_cell = 2600 > CAP → d = 1 on both pair sides.
    // Reference: the same two-level blocking computed independently
    // with an UNSALTED join and a plain row_number window — so the
    // differential exercises exactly the two mechanisms the shipped
    // plan adds (salt replication, heap-based top-k).
    val dir = tempDir("knnhot")
    // Coordinate 0 carries ~100× the mass of the other 63, so every
    // ±1 hyperplane's sign is s_{p,0} for every vector — the cluster
    // provably shares ONE cell at EVERY depth (a ±8-magnitude noise
    // sum cannot flip a ±100 term), which is exactly the irreducible
    // near-parallel regime the 1000× probe measured.
    spark.range(2600)
      .selectExpr("id as vec_id",
        """transform(sequence(0, 63),
             j -> cast(CASE WHEN j = 0 THEN 100.0
                       ELSE 1.0 + 0.0001 * ((id * 31 + j) % 7) END
                  as float))
           as embedding""")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = ops.KnnEdges.topkEdges(spark, dir)
      .select("src_id", "dst_id", "np", "cos_sim", "rnk")
    // Independent reference: same np/allb/depth derivation, unsalted
    // self-join, window top-3.
    val planes = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vecs"))
      .select(greatest(lit(5), length(expr("bin((n_vecs - 1) div 250)")))
        .cast("int").as("np"))
    val b = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(planes))
      .withColumn("allb", graft.functions.SignLsh.bucketCol(spark, "np + 12"))
      .withColumn("coarse", expr("shiftright(allb, 12)"))
    val dep = b.groupBy("coarse").agg(count(lit(1)).as("n"))
      .select(col("coarse"),
        when(col("n") > 2000,
             least(lit(12), length(expr("bin((n - 1) div 2000)"))))
          .otherwise(lit(0)).cast("int").as("d"))
    // The synthetic corpus must actually exercise the refinement.
    assert(dep.filter(col("d") > 0).count() > 0, "no cell tripped CAP")
    val eff = b.join(dep, Seq("coarse"))
      .select(col("vec_id"), col("embedding"), col("np"), col("d"),
              expr("shiftright(allb, 12 - d)").as("bucket"))
    val ref = eff.as("a").join(eff.as("b"),
        col("a.d") === col("b.d") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src_id"), col("b.vec_id").as("dst_id"),
              col("a.np").cast("long").as("np"),
              (round(expr("graft_cosine_sim(a.embedding, b.embedding)"), 4)
                 + 0.0).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(desc("cos_sim"), asc("dst_id"))
    val refTop = ref.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
    assert(got.exceptAll(refTop).count() === 0L)
    assert(refTop.exceptAll(got).count() === 0L)
  }

  test("hub gate: no-op at fixture, full quarantine on a near-parallel cluster") {
    // Fixture side: no cell reaches CAP, so the gated key is the
    // adaptive edge set (minus np, plus the 'edge' label) and emits
    // zero hub rows.
    val gated = SparkEntry.queries("llm_knn_graph_hub_gated")(spark, sf)
    assert(gated.filter(col("kind") === "hub").count() === 0L)
    val gEdges = gated.filter(col("kind") === "edge")
      .select("src_id", "dst_id", "cos_sim", "rnk")
    val adaptive = SparkEntry.queries("llm_knn_graph_lsh_adaptive")(spark, sf)
      .select("src_id", "dst_id", "cos_sim", "rnk")
    assert(gEdges.exceptAll(adaptive).count() === 0L)
    assert(adaptive.exceptAll(gEdges).count() === 0L)
    // Active side: the d>0 test's near-parallel corpus — one
    // irreducible subcell of 2600 > CAP — must quarantine EVERY
    // vector and emit no edges.
    val dir = tempDir("knnhub")
    spark.range(2600)
      .selectExpr("id as vec_id",
        """transform(sequence(0, 63),
             j -> cast(CASE WHEN j = 0 THEN 100.0
                       ELSE 1.0 + 0.0001 * ((id * 31 + j) % 7) END
                  as float))
           as embedding""")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val hot = ops.KnnEdges.gatedEdges(spark, dir)
    assert(hot.filter(col("kind") === "edge").count() === 0L)
    assert(hot.filter(col("kind") === "hub").count() === 2600L)
  }

  test("OR-amplified top-k dominates the pinned single-table key per rank") {
    // Round12dSpec proved table 0 of the fused 4·np projection IS the
    // single-table bucket (global plane indices 0..np−1), so the OR
    // key's candidate set contains the pinned key's for every probe —
    // its rank-r cos_sim must be ≥ the pinned key's rank-r cos_sim
    // (order statistics dominate on a superset).
    val pinned = SparkEntry.queries("llm_sim_topk_lsh")(spark, sf)
      .select(col("probe_id"), col("rnk"), col("cos_sim").as("p_cs"))
    val or = SparkEntry.queries("llm_sim_topk_lsh_or")(spark, sf)
      .select(col("probe_id"), col("rnk"), col("cos_sim").as("o_cs"))
    val joined = pinned.join(or, Seq("probe_id", "rnk")).collect()
    assert(joined.nonEmpty)
    joined.foreach { row =>
      assert(row.getAs[Double]("o_cs") >= row.getAs[Double]("p_cs"),
        s"rank ${row.getAs[Long]("rnk")} of probe " +
          s"${row.getAs[Long]("probe_id")}: OR candidate superset lost")
    }
  }

  test("batch IVF agrees with the declared IVF key on their shared probe") {
    // Same cells, same stride, same in-plan nprobe — only the probe
    // predicate differs (vec_id % 50 = 0 vs vec_id < 10). Probe 0 is
    // in both sets, so its top-3 must be identical.
    val ten = SparkEntry.queries("llm_sim_topk_ivf")(spark, sf)
      .filter(col("probe_id") === 0)
      .select("probe_id", "neighbor_id", "cos_sim", "rnk")
    val batch = SparkEntry.queries("llm_sim_topk_ivf_batch")(spark, sf)
      .filter(col("probe_id") === 0)
      .select("probe_id", "neighbor_id", "cos_sim", "rnk")
    assert(ten.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(ten).count() === 0L)
    // And the batch probe set is the corpus-scaling one: N/50 probes.
    val nProbes = SparkEntry.queries("llm_sim_topk_ivf_batch")(spark, sf)
      .select("probe_id").distinct().count()
    val n = Tables.embeddings(spark, sf).count()
    assert(nProbes === (n + 49) / 50)
  }
}
