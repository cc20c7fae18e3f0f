package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 batch — SURVEY.md §2.15: the in-plan adaptive scale knob
  * extended to the kNN-graph build (VERDICT r11 next-round task 1 —
  * the last sign-LSH pipeline whose plane count was frozen at fixture
  * scale), and the OR-amplified multi-table sign-LSH dedup (round 12d
  * — the recall knob the RecallProbe measurements showed the
  * single-table family needs at scale). SURVEY §2.0 determinism rules
  * apply: integer arithmetic until one final division, every key ends
  * in an ORDER BY.
  */
object Pipelines29 extends Module {

  def queries: Map[String, Q] = Map(
    // Approximate kNN GRAPH with the plane count derived in-plan:
    // np = max(5, bits((N−1) div 250)) from count(*) — the
    // llm_sim_topk_lsh_adaptive formula with the graph key's 5-plane
    // floor, so at the check fixtures (N ≤ 2000 → bits ≤ 3) the edge
    // set provably equals the pinned llm_knn_graph_lsh (asserted in
    // Round12Spec) while at 100× (200 k vecs) np = 10 → 1024 cells:
    // Σ|cell|² candidate volume AND the bucket join's shuffle-key
    // space both grow with the corpus instead of collapsing onto 32
    // keys (the round-11 probe killed the pinned form after 30+ min
    // at ~1 busy core; BASELINE.md embeddings probe section). Output
    // carries np so the knob itself is oracle-checked. The body is the
    // shared SALTED build (KnnEdges — round 13: the ×8 skew guard the
    // 12d probe proved necessary now covers every kNN-edge join).
    "llm_knn_graph_lsh_adaptive" -> ((s, d) =>
      KnnEdges.topkEdges(s, d)
        .select("src_id", "dst_id", "np", "cos_sim", "rnk")
        .orderBy("src_id", "rnk")),

    // Embedding near-dup with OR-AMPLIFICATION — the production recall
    // knob the single-table key documents but does not ship (round-12c
    // RecallProbe measured the single-table form's planted-twin recall
    // fall from 0.842 at 10× to 0.779 at 100× as the in-plan np grows;
    // BASELINE.md). T = 4 independent sign-LSH tables are unioned: a
    // pair is a candidate if it collides in ANY table (each table keeps
    // the Hamming≤1 multi-probe), so recall composes as 1−(1−P)ᵀ per
    // the standard LSH OR-construction while candidate cost scales ×T
    // — the exact analogue of the minhash family's 16-band structure.
    //
    // All 4·np plane signs come from ONE fused codegen loop
    // (graft_sign_lsh(embedding, 4·np)); table t's bucket is the bit
    // slice [t·np, (t+1)·np) of that value (plane 0 is the MSB), so
    // table t buckets on GLOBAL plane indices t·np .. t·np+np−1 —
    // disjoint, independent hyperplane sets, and table 0 is exactly
    // the single-table key's bucket (both proven in Round12dSpec).
    // np = least(15, max(3, bits((N−1) div 250))) in-plan: the same
    // adaptive knob as the single-table key, capped at 15 so 4·np fits
    // the 63-bit bucket budget (cap binds past ~8.2 M vectors; the
    // documented production widening is two longs, same plan shape).
    //
    // The screen + confirm are FUSED into each table's bucket join
    // (exactly the single-table key's shape), and only the CONFIRMED
    // pairs are deduplicated across tables. The tempting alternative —
    // dedup the candidate ids first, attach payload after — was built
    // and measured on the 10× recall corpus: 362.5 M raw candidates
    // (cluster-dense cells × 4 tables) forced an 84.5 s distinct
    // shuffle plus a 180 M-row payload re-join, 287 s total, where the
    // fused form pays ~4 single-table scans. Cross-table duplicate
    // candidates are re-screened instead of deduplicated — the
    // norm-bounded dot screen (graft_dot_f ≥ 0.3498·‖a‖‖b‖,
    // recall-lossless, see llm_dedup_embedding_lsh) is one fused
    // codegen loop per candidate, orders of magnitude cheaper than
    // shuffling the candidate relation; the distinct that remains runs
    // on confirmed pairs only (output-grain, ~10³× smaller). Within a
    // table a pair still matches exactly one probe bucket, so the only
    // duplication is the ≤ T cross-table one the distinct absorbs
    // (cos_sim is deterministic per pair, so distinct on the full row
    // is exact).
    //
    // HUB GATE (default since round 15 — VERDICT r14 task 1): the r14
    // 2 M-vector probe of THIS key died on disk (ENOSPC in the pair
    // join's exchange) because the planted mega-cluster's pair OUTPUT
    // is quadratic in cluster size — the pair-list regime its minhash
    // sibling had already gated. A vector whose home cell in ANY of
    // the 4 tables exceeds CAP = 2000 (a near-parallel cluster no
    // hyperplane splits — the per-subcell irreducibility argument of
    // KnnEdges.gatedEdges) is quarantined: its rows leave ALL tables
    // on BOTH join sides (so every surviving (t, bucket) cell has
    // ≤ CAP members and candidate volume is ≤ 4·(np+1)·CAP·N —
    // linear), and it is emitted once as a labeled kind='hub' row
    // (b_id −1, cos_sim 0), llm_dedup_minhash_lsh's exact contract.
    // At the check fixtures no cell exceeds CAP (|cell| ≤ N ≤ 2000):
    // pair set identical, zero hub rows — the gate's declared no-op
    // point, with the predicate itself mirrored in the oracle.
    "llm_dedup_embedding_lsh_or" -> ((s, d) => {
      val nv = Tables.embeddings(s, d)
        .agg(count(lit(1)).as("n_vecs"))
        .select(least(lit(15), greatest(lit(3),
                  length(expr("bin((n_vecs - 1) div 250)"))))
          .cast("int").as("np"))
      val tb0 = Tables.embeddings(s, d).select("vec_id", "embedding")
        .crossJoin(broadcast(nv))
        .withColumn("allb", graft.functions.SignLsh.bucketCol(s, "4 * np"))
        .withColumn("nrm", sqrt(expr("graft_dot_f(embedding, embedding)")))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("np"),
                col("allb"), explode(expr("sequence(0, 3)")).as("t"))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("np"),
                col("t"),
                expr("""shiftright(allb, (3 - t) * np)
                        & (shiftleft(cast(1 as bigint), np) - 1)""")
                  .as("bucket"))
      // Checkpointed (the gatedEdges shape): the bucketed relation
      // feeds the cell-size agg, the anti-joined kept rows (twice —
      // probe and build sides) and the hub branch.
      val tbc = tb0.localCheckpoint()
      val hubIds = tbc.groupBy("t", "bucket")
        .agg(count(lit(1)).as("n_cell"))
        .filter(col("n_cell") > KnnEdges.Cap)
        .join(tbc, Seq("t", "bucket"))
        .select("vec_id").distinct()
        .localCheckpoint() // feeds the anti-join AND the hub rows
      val tb = tbc.join(hubIds, Seq("vec_id"), "left_anti")
      val probes = tb.withColumn("pbucket",
          explode(expr(
            """concat(array(bucket),
                      transform(sequence(0, np - 1),
                                j -> bucket ^ shiftleft(1L, j)))""")))
        .withColumn("salt", pmod(xxhash64(col("vec_id")), lit(8L)))
        .select("vec_id", "embedding", "nrm", "t", "pbucket", "salt")
      // Skew guard, same as the single-table key (round 12d): the
      // planted-twin 1000× probe observed the hottest cluster cell
      // become a 1–2-core straggler; salting splits its candidate
      // work 8 ways at a linear build-side replication cost. Output
      // identical (each pair matches once, on the probe row's salt).
      val build = tb.withColumn("salt",
        explode(sequence(lit(0L), lit(7L))))
      // Round 18 (opt, guide §4.4): the exact cosine runs ONCE per
      // screen survivor as the non-pushable `graft_cosine_once`
      // projection (the r17 form carried it in the condition AND the
      // output projection — two fused walks per surviving pair); the
      // recall-lossless dot screen stays in the join. The distinct
      // still collapses multi-probe duplicates: the nd flag
      // constrains the optimizer only, values are deterministic.
      val pairs = probes.as("a").join(build.as("b"),
          col("a.t") === col("b.t") &&
          col("a.pbucket") === col("b.bucket") &&
          col("a.salt") === col("b.salt") &&
          col("a.vec_id") < col("b.vec_id") &&
          expr("graft_dot_f(a.embedding, b.embedding)") >=
            lit(0.3498) * col("a.nrm") * col("b.nrm"))
        .withColumn("cos_sim",
          round(expr("graft_cosine_once(a.embedding, b.embedding)"), 4))
        .filter(col("cos_sim") >= 0.35)
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
                col("cos_sim"))
        .distinct()
      val hubRows = hubIds
        .select(col("vec_id").as("a_id"), lit(-1L).as("b_id"),
                lit(0.0).as("cos_sim"), lit("hub").as("kind"))
      pairs.withColumn("kind", lit("pair"))
        .unionByName(hubRows)
        .orderBy("kind", "a_id", "b_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "llm_knn_graph_lsh_adaptive" ->
      s"""WITH ${graft.ops.KnnEdges.duckEdgesCtes()}
         SELECT src_id, dst_id, np, cos_sim, rnk
         FROM knn_edges
         ORDER BY src_id, rnk""",

    "llm_dedup_embedding_lsh_or" ->
      s"""WITH nv AS (
           SELECT CAST(least(15, greatest(3,
                    length(bin((count(*) - 1) // 250)))) AS INTEGER) AS np
           FROM embeddings
         ),
         base AS (
           SELECT vec_id, embedding, np,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm,
                  ${graft.functions.SignLsh.duckBucketSql("4 * np")} AS allb
           FROM embeddings CROSS JOIN nv
         ),
         tb0 AS (
           SELECT vec_id, embedding, nrm, np, t,
                  (allb >> CAST((3 - t) * np AS INTEGER))
                    & ((CAST(1 AS BIGINT) << np) - 1) AS bucket
           FROM base CROSS JOIN (SELECT unnest(range(0, 4)) AS t) tables
         ),
         cellsz AS (
           SELECT t, bucket, count(*) AS n_cell FROM tb0 GROUP BY t, bucket
         ),
         hubids AS (
           SELECT DISTINCT vec_id
           FROM tb0 JOIN cellsz USING (t, bucket)
           WHERE n_cell > ${graft.ops.KnnEdges.Cap}
         ),
         tb AS (
           SELECT * FROM tb0
           WHERE vec_id NOT IN (SELECT vec_id FROM hubids)
         ),
         probes AS (
           SELECT vec_id, embedding, nrm, t,
                  unnest(list_concat([bucket],
                    list_transform(range(0, np),
                      j -> xor(bucket, CAST(1 AS BIGINT) << j))))
                    AS pbucket
           FROM tb
         )
         SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
                round(list_aggregate(
                        list_transform(list_zip(a.embedding, b.embedding),
                          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                        'sum') / (a.nrm * b.nrm), 4) AS cos_sim,
                'pair' AS kind
         FROM probes a JOIN tb b
           ON a.t = b.t AND a.pbucket = b.bucket
              AND a.vec_id < b.vec_id
         WHERE round(list_aggregate(
                       list_transform(list_zip(a.embedding, b.embedding),
                         z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                       'sum') / (a.nrm * b.nrm), 4) >= 0.35
         UNION ALL
         SELECT vec_id AS a_id, CAST(-1 AS BIGINT) AS b_id,
                0.0 AS cos_sim, 'hub' AS kind
         FROM hubids
         ORDER BY kind, a_id, b_id"""
  )
}
