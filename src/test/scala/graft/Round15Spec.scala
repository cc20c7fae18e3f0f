package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15: the VERDICT r14 conversions — the hub gate composed into
  * the embedding-dedup pair family (weak 1), and the corpus-derived
  * persisted-IVF bucket count (weak 2).
  *
  * The load-bearing properties, each pinned where the sf0.01 oracle
  * gate cannot see it:
  *  - the dedup hub gate is a NO-OP at fixture scale (no sign cell
  *    exceeds CAP, so the pair set is exactly the pre-gate set and
  *    zero hub rows are emitted) — the oracle checks this point, the
  *    spec makes the reason explicit;
  *  - the gate FIRES on a corpus with a genuine over-CAP cell: every
  *    member of the hot cell surfaces as a labeled kind='hub' row and
  *    no emitted pair touches a quarantined id (the quarantine is
  *    removal from BOTH join sides, not output suppression).
  */
class Round15Spec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  test("embedding-dedup hub gate is a no-op at fixture scale") {
    // sf0.1 is the largest fixture: N = 2000 = CAP, so no cell can
    // exceed CAP and both gated keys must emit zero hub rows.
    val big = "/root/testdata/sf0.1"
    Seq("llm_dedup_embedding_lsh", "llm_dedup_embedding_lsh_or")
      .foreach { k =>
        val out = SparkEntry.queries(k)(spark, big).cache()
        assert(out.filter(col("kind") === "hub").count() === 0L,
          s"$k emitted hub rows at the fixture no-op point")
        assert(out.filter(col("kind") === "pair").count() > 0L)
        out.unpersist()
      }
  }

  test("embedding-dedup hub gate quarantines an over-CAP cell") {
    // Synthetic corpus: 2100 IDENTICAL vectors (one sign cell of 2100
    // > CAP = 2000 in every table — identical vectors share all sign
    // bits) plus 24 scattered hash-derived vectors. The planted block
    // must come out quarantined: each member exactly one kind='hub'
    // row, and no kind='pair' row touching any hub id.
    val dir = tempDir("graft_r15_gate")
    val hot = spark.range(0, 2100).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(1, 64),
                i -> cast(1.0 / sqrt(64.0) as float))""").as("embedding"),
      lit(0).as("label"))
    val scattered = spark.range(10000, 10024).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(1, 64),
                i -> cast(pmod(xxhash64(id, i), 2001) / 1000.0 - 1.0
                          as float))""").as("embedding"),
      lit(1).as("label"))
    hot.unionAll(scattered).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq("llm_dedup_embedding_lsh", "llm_dedup_embedding_lsh_or")
      .foreach { k =>
        val out = SparkEntry.queries(k)(spark, dir).cache()
        val hubs = out.filter(col("kind") === "hub")
          .select(col("a_id").as("h")).localCheckpoint()
        val nHub = hubs.count()
        // Every planted member is hub-labeled exactly once; scattered
        // vectors may legitimately join the hot cell's bucket too.
        assert(hubs.distinct().count() === nHub, s"$k: duplicate hub rows")
        assert(nHub >= 2100L && nHub <= 2124L,
          s"$k: expected the 2100-vector planted cell quarantined, " +
            s"got $nHub hub rows")
        assert(hubs.filter(col("h") < 2100).count() === 2100L,
          s"$k: a planted hot-cell member escaped the gate")
        val pairs = out.filter(col("kind") === "pair")
        val touching = pairs.join(hubs,
            pairs("a_id") === hubs("h") || pairs("b_id") === hubs("h"))
          .count()
        assert(touching === 0L,
          s"$k: a pair row touches a quarantined id")
        out.unpersist()
      }
  }

  test("persisted IVF bucket count derives from corpus size") {
    // The write-time derivation (VERDICT r14 task 2): ~250 k vectors
    // per bucket, floored at 8 — the r14 pin was 8 at ANY size.
    assert(ops.Pipelines31.ivfNumBuckets(500L) === 8)
    assert(ops.Pipelines31.ivfNumBuckets(2000000L) === 8)
    assert(ops.Pipelines31.ivfNumBuckets(20000000L) === 80)
    assert(ops.Pipelines31.ivfNumBuckets(100000000L) === 400)
    // Run the key, then pin the persisted layout in the catalog: the
    // derived bucket count on the cell column, and the fixture-scale
    // coalesce keeping file count at <= |buckets| single files.
    val out = SparkEntry.queries("llm_sim_topk_ivf_persisted")(spark, sf)
    assert(out.count() > 0L)
    val ident = spark.sessionState.catalog.listTables("default")
      .filter(t => t.table.startsWith("graft_ivf_index_") &&
                   t.table.contains("sf0_001") &&
                   !t.table.endsWith("_cents")) // round 16: skip sidecar
      .maxBy(_.table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec
    assert(spec.exists(_.numBuckets === 8),
      s"expected 8 buckets at fixture scale, got $spec")
    assert(spec.exists(_.bucketColumnNames === Seq("cell")))
    val files = Option(new java.io.File(meta.location).listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    // Round 17: the table is written as base segment + bucket-appended
    // delta segment (the shared-lifecycle construction), each with one
    // writer task at fixture scale — so ≤ |buckets| files PER SEGMENT.
    assert(files.nonEmpty && files.size <= 16,
      s"fixture-scale layout should be <= 2·|buckets| files, " +
        s"got ${files.size}")
  }

  test("3-arg sign-LSH offset equals the slice of a larger projection") {
    // The widening's correctness hinge: graft_sign_lsh(e, n, off) must
    // equal the LOW n bits of graft_sign_lsh(e, off + n) — plane g's
    // normal depends only on its global index g, so a projection
    // started at offset `off` is exactly the tail slice of a larger
    // one. Offset 0 must reproduce the 2-arg form bit-for-bit.
    val e = Tables.embeddings(spark, sf)
    for ((n, off) <- Seq((3, 3), (5, 10), (12, 12), (7, 0), (15, 15))) {
      val bad = e.select(
          expr(s"graft_sign_lsh(embedding, $n, $off)").as("o"),
          expr(s"graft_sign_lsh(embedding, ${off + n})").as("f"))
        .filter(col("o") =!=
          expr(s"f & (shiftleft(cast(1 as bigint), $n) - 1)"))
        .count()
      assert(bad === 0L, s"offset slice mismatch at (n=$n, off=$off)")
    }
    val bad2 = e.select(
        expr("graft_sign_lsh(embedding, 9, 0)").as("o"),
        expr("graft_sign_lsh(embedding, 9)").as("f"))
      .filter(col("o") =!= col("f")).count()
    assert(bad2 === 0L, "offset 0 diverged from the 2-arg form")
  }

  test("two-projection OR buckets equal the r14 single-projection slices") {
    // The composed search key's 4 tables now come from two 2·np-bit
    // projections (A over planes [0, 2np), B over [2np, 4np)); for
    // np ≤ 15 — every point the r14 form could reach — table t's
    // bucket must be bit-identical to the old single 4·np-bit
    // projection's slice [t·np, (t+1)·np). np = 3 here (fixture).
    val np = 3
    val e = Tables.embeddings(spark, sf).select(
      expr(s"graft_sign_lsh(embedding, ${4 * np})").as("allb"),
      expr(s"graft_sign_lsh(embedding, ${2 * np})").as("allba"),
      expr(s"graft_sign_lsh(embedding, ${2 * np}, ${2 * np})").as("allbb"))
    for (t <- 0 to 3) {
      val oldSlice =
        expr(s"shiftright(allb, ${(3 - t) * np}) & ${(1 << np) - 1}")
      val newSlice = if (t < 2)
        expr(s"shiftright(allba, ${(1 - t) * np}) & ${(1 << np) - 1}")
      else
        expr(s"shiftright(allbb, ${(3 - t) * np}) & ${(1 << np) - 1}")
      assert(e.filter(oldSlice =!= newSlice).count() === 0L,
        s"table $t bucket diverged from the r14 fused-projection slice")
    }
  }

  test("sign-LSH margins carry the bucket: bit b = (margin of plane np-1-b > 0)") {
    // The margin expression exposes the SAME loop's pre-sign
    // accumulators, so the bucket must be exactly reconstructible —
    // the identity that makes margin-directed probing sound (a flip
    // mask's planes are the ones whose sign is least certain).
    val e = Tables.embeddings(spark, sf)
    for ((np, off) <- Seq((5, 0), (9, 3), (15, 30))) {
      val bad = e.select(
          expr(s"graft_sign_lsh(embedding, $np, $off)").as("bkt"),
          expr(s"""aggregate(sequence(0, $np - 1), 0L, (a, b) ->
                     a + if(element_at(
                             graft_sign_lsh_margins(embedding, $np, $off),
                             $np - b) > 0L,
                           shiftleft(1L, b), 0L))""").as("rec"))
        .filter(col("bkt") =!= col("rec")).count()
      assert(bad === 0L, s"margins lost the bucket at (np=$np, off=$off)")
    }
  }

  test("margin probe set degenerates to the exact radius ball at np <= 15") {
    // The compatibility hinge: below the margin regime the domain is
    // the full radius-r ball and the budget exceeds it, so the probed
    // bucket SET equals radiusProbeSet's — fixtures and every
    // measured point <= 8.2M vectors are bit-identical. Uses real
    // margins from fixture embeddings at np = 12, r = 2 (both
    // fragments in one projection's scope).
    val prepared = Tables.embeddings(spark, sf).limit(20)
      .withColumn("np", lit(12))
      .withColumn("r", lit(2))
      .withColumn("bucket", expr("graft_sign_lsh(embedding, np)"))
      .withColumn("margins", expr("graft_sign_lsh_margins(embedding, np)"))
      .withColumn("srt", expr(ops.Pipelines28.marginOrder))
    val bad = prepared.select(
        expr(s"""array_sort(transform(
                   slice(array_sort(${ops.Pipelines28.marginMaskSet}), 1,
                         ${ops.Pipelines28.marginBudget}),
                   s -> bucket ^ s.f))""").as("viaMargin"),
        expr(s"array_sort(${ops.Pipelines28.radiusProbeSet})").as("viaBall"))
      .filter(col("viaMargin") =!= col("viaBall")).count()
    assert(bad === 0L,
      "margin probe set diverged from the radius ball below the regime")
  }

  test("margin probe set past the pin: budget, depth, cheapest-first") {
    // np = 17, r = 3 (the 20M regime): exactly 2048 masks per
    // (probe, table), every mask flips <= r+2 = 5 planes, and the cut
    // is cheapest-first — the costliest kept mask is <= the cheapest
    // dropped one under the (cost, flip) total order.
    val prepared = Tables.embeddings(spark, sf).limit(5)
      .withColumn("np", lit(17))
      .withColumn("r", lit(3))
      .withColumn("margins", expr("graft_sign_lsh_margins(embedding, np)"))
      .withColumn("srt", expr(ops.Pipelines28.marginOrder))
      .withColumn("dom", expr(s"array_sort(${ops.Pipelines28.marginMaskSet})"))
      .withColumn("kept", expr(
        s"slice(dom, 1, ${ops.Pipelines28.marginBudget})"))
    val rows = prepared.select(
        expr("size(dom)").as("domSize"),
        expr("size(kept)").as("keptSize"),
        expr("aggregate(kept, 0, (a, s) -> greatest(a, bit_count(s.f)))")
          .as("maxDepth"),
        expr("element_at(kept, -1).c").as("maxKeptCost"),
        expr("element_at(dom, 2049).c").as("minDroppedCost"))
      .collect()
    rows.foreach { row =>
      assert(row.getAs[Int]("domSize") === 9402,
        "domain is sum of C(17,k), k<=5")
      assert(row.getAs[Int]("keptSize") === 2048)
      assert(row.getAs[Int]("maxDepth") <= 5)
      assert(row.getAs[Long]("maxKeptCost") <= row.getAs[Long]("minDroppedCost"))
    }
  }

  test("incremental IVF append answers bit-identically to the full rebuild") {
    // The maintenance contract: build on base (98%), assign the batch
    // against the index's own centroids, append only the batch rows —
    // and the merged index must answer the declared probes exactly as
    // the in-plan full-rebuild key does (at fixture scale the centroid
    // sets provably coincide: the batch holds no centroid id and both
    // strides resolve to 50).
    val app = SparkEntry.queries("llm_sim_topk_ivf_append")(spark, sf)
      .collect().map(_.toString).toSeq
    val full = SparkEntry.queries("llm_sim_topk_ivf")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(app === full,
      "append-maintained index diverged from the full rebuild")
    assert(app.nonEmpty)
  }
}
