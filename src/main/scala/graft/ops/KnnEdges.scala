package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THE kNN-edge build (round 13): one implementation of the
  * "top-3-cosine neighbors within adaptive sign-LSH cells" construction
  * that four sites previously each re-derived — `llm_knn_graph_lsh`,
  * `llm_knn_graph_lsh_adaptive`, `graph_pagerank_knn`'s edge input, and
  * the recursive-CTE key's input graph (Pipelines23). The VERDICT r12
  * finding this closes: the ×8 salt replication that the round-12d
  * 1000× planted-twin probe proved necessary on bucket self-joins (a
  * cluster-dense cell collapses the join to a 1–2-core straggler) had
  * been applied to only 2 of the repo's 6 such joins; the four kNN-edge
  * builds carried the measured straggler shape. Centralizing the build
  * salts all four at once and removes the duplicate plans.
  *
  * Plan shape:
  *  - np = max(floor, bits((N−1) div 250)) derived from count(*)
  *    IN-PLAN (the adaptive-plane formula, integer-exact in both
  *    engines): one more hyperplane per corpus doubling keeps expected
  *    cell size ~250 vectors, so Σ|cell|² candidate volume AND the
  *    bucket join's shuffle-key space grow with the corpus instead of
  *    collapsing onto 2^floor keys (the round-11 probe killed the
  *    pinned form after 30+ min at ~1 busy core).
  *  - SKEW GUARD (round 12d pattern, Pipelines29/LlmScale template):
  *    the src side keeps ONE salt (xxhash64(vec_id) mod 8), the dst
  *    side replicates across all 8 — every (src, dst) pair still meets
  *    exactly once, on the src row's salt, so the OUTPUT is provably
  *    identical to the unsalted join;
  *    the hot cell's quadratic candidate work splits 8 ways at a
  *    linear (8·N payload rows) build-side replication cost.
  *  - HOT-CELL REFINEMENT (round 13): np targets the EXPECTED cell at
  *    ~250 vectors, but real embedding corpora are clustered and
  *    sign-LSH cells inherit the skew — the 1000× iid probe (2 M vecs,
  *    np = 13 → 8192 cells) measured max|cell| = 73 934 and
  *    Σ|cell|² = 5.96 × 10¹⁰ candidate pairs, 120× the uniform
  *    estimate; the salted build held 28–32 cores (parallelism solved)
  *    but the VOLUME is quadratic in the hot-cell sizes. So cells
  *    above CAP = 2000 are split by d = min(12,
  *    bits((|cell|−1) div CAP)) additional nested planes. The SignLsh
  *    prefix property (plane p's normal depends only on the global
  *    plane index — Round12Spec "nested plane prefix") means ONE fused
  *    projection of np+12 planes serves every depth: the coarse bucket
  *    is the top-np-bit prefix, a refined bucket the top np+d bits, and
  *    refinement never moves a vector across a coarse boundary. Edges
  *    join on (d, refined bucket) — d is a function of the coarse cell,
  *    so both sides of a pair derive the same d and depths cannot
  *    collide numerically. Per-cell candidate work is bounded by
  *    ~CAP²·2^d ≈ |cell|·CAP — LINEAR in the cell size with a
  *    scale-free per-task constant (CAP² = 4 M pairs per subcell),
  *    instead of |cell|². The cost is one count(*) aggregate per cell
  *    and one linear equi-join to attach d; the recall cost is the
  *    standard finer-blocking one, paid only inside pathological cells.
  *  - Exact cosine scoring inside the (refined) cell, top-3 per src via
  *    the TopKPerGroup operator (below).
  *
  * At the check fixtures (N ≤ 2000 → bits ≤ 3, every cell ≤ N ≤ CAP)
  * floor = 5 and d = 0 everywhere make the edge set provably equal to
  * the previously-pinned 5-plane build (Round12Spec asserts the fixture
  * equality), which is why the pinned `llm_knn_graph_lsh` key can share
  * this body with its adaptive twin: identical output at fixture scale,
  * adaptive + refined cells beyond it. The DuckDB oracles of all four
  * consumers splice [[duckEdgesCtes]], so the full derivation — np,
  * refinement depth, salted-join equivalence — is cross-engine-checked
  * from one fragment that cannot drift from this plan.
  */
object KnnEdges {

  /** Per-cell work cap: cells above CAP vectors are split by nested
    * planes until subcells are ~CAP — bounds per-subcell candidate
    * work at CAP² ≈ 4 M pairs, a per-TASK budget that is deliberately
    * scale-free (the corpus-tracking knob is np). */
  val Cap = 2000
  /** Max refinement depth: 2^12 = 4096-way split of one coarse cell —
    * binds only past |cell| ≈ 8.2 M, where the documented widening is
    * a larger projection (np + 12 ≤ 63 holds to np = 51 ≈ 10¹⁵ docs). */
  val DMax = 12

  /** The shared refined-cell relation: `vec_id, embedding, np, d,
    * bucket` where bucket is the np+d-bit prefix of the fused
    * projection and d the cell's refinement depth. */
  private def effCells(s: SparkSession, d: String, floor: Int): DataFrame = {
    val planes = Tables.embeddings(s, d)
      .agg(count(lit(1)).as("n_vecs"))
      .select(greatest(lit(floor),
                length(expr("bin((n_vecs - 1) div 250)")))
        .cast("int").as("np"))
    val bucketed = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(planes))
      .withColumn("allb",
        graft.functions.SignLsh.bucketCol(s, s"np + $DMax"))
      .withColumn("coarse", expr(s"shiftright(allb, $DMax)"))
    val depth = bucketed.groupBy("coarse")
      .agg(count(lit(1)).as("n_cell"))
      .select(col("coarse"),
        when(col("n_cell") > Cap,
             least(lit(DMax),
                   length(expr(s"bin((n_cell - 1) div $Cap)"))))
          .otherwise(lit(0)).cast("int").as("d"))
    bucketed.join(depth, Seq("coarse"))
      .select(col("vec_id"), col("embedding"), col("np"), col("d"),
              expr(s"shiftright(allb, $DMax - d)").as("bucket"))
  }

  /** Salted top-3 edges over a refined-cell relation (shape of
    * [[effCells]]): the ×8 skew guard + TopKPerGroup reduction. */
  private def edgesOf(s: SparkSession, eff: DataFrame): DataFrame = {
    val srcs = eff
      .withColumn("salt", pmod(xxhash64(col("vec_id")), lit(8L)))
      .select(col("np"), col("d"), col("bucket"), col("salt"),
              col("vec_id").as("src_id"), col("embedding").as("se"))
    val dsts = eff
      .withColumn("salt", explode(sequence(lit(0L), lit(7L))))
      .select(col("d"), col("bucket"), col("salt"),
              col("vec_id").as("dst_id"), col("embedding").as("de"))
    val pairs = srcs.join(dsts, Seq("d", "bucket", "salt"))
      .filter(col("src_id") =!= col("dst_id"))
      .select(col("src_id"), col("dst_id"),
              col("np").cast("long").as("np"),
              (round(expr("graft_cosine_sim(se, de)"), 4) + 0.0)
                .as("cos_sim"))
    // Top-3 via the TopKPerGroup operator, NOT a row_number window
    // (round 13): the window form exchanges and externally sorts the
    // FULL candidate relation by src_id — Σ|cell|² ≈ N·250 rows, the
    // single biggest object in the plan. Measured at the 1000× iid
    // probe (2 M vecs, ~500 M candidate rows): the window's exchange
    // + spill exceeded this box's 78 GB of shuffle disk and the run
    // had to be killed — parallelism held (28–32 cores), DISK was the
    // binding axis. TopKPerGroup's phase-1 heaps reduce each
    // (bucket, salt) partition to ≤ 3 rows per src BEFORE any
    // exchange — and a src lives in exactly ONE (bucket, salt)
    // partition, so the exchange carries ≤ 3N skinny rows (~1/80th of
    // the candidate volume) and nothing ever sorts more than a heap.
    // Exact by the operator's contract: (cos_sim desc, dst_id asc) is
    // total within a src (dst_id unique), so phase 1 never discards a
    // global survivor — a src lives in exactly ONE (d, bucket, salt)
    // partition. The post-hoc row_number window that assigns rnk runs
    // over ≤ 3 rows per src.
    val top = graft.plans.TopKPerGroup(pairs,
      groupCols = Seq("src_id"),
      orderCols = Seq(("cos_sim", true), ("dst_id", false)),
      k = 3)
    val w = Window.partitionBy("src_id")
      .orderBy(desc("cos_sim"), asc("dst_id"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  /** Salted adaptive-cell top-3 edges: `src_id, dst_id, np, cos_sim,
    * rnk` with rnk ≤ 3 (unordered — callers add their ORDER BY). */
  def topkEdges(s: SparkSession, d: String, floor: Int = 5): DataFrame = {
    // Checkpointed (round 14, ADVICE r13): the refined-cell relation
    // feeds BOTH sides of the salted self-join in edgesOf — without
    // the cut the np+12-plane projection and the depth aggregate
    // evaluate once per side. gatedEdges has carried the same cut
    // since round 13; N rows, linear.
    edgesOf(s, effCells(s, d, floor).localCheckpoint())
  }

  /** The bare edge list (`src_id, dst_id`) for graph consumers
    * (PageRank, recursive reachability). */
  def edgeList(s: SparkSession, d: String): DataFrame =
    topkEdges(s, d).select("src_id", "dst_id")

  /** HUB-GATED edge build (round 13): the production form for
    * clustered corpora. A refined subcell still above CAP is
    * irreducible by construction — d was sized to bring E[subcell] to
    * ~CAP, so residual mass is a near-parallel cluster no hyperplane
    * splits (the LSH property; measured at the 1000× probe: a
    * 54 513-vector subcell sharing all 25 sign bits, whose exact
    * in-cell top-3 alone is ~3 × 10⁹ cosines). Exactly the dedup
    * family's measured answer (`llm_dedup_hub_quarantine`): such
    * subcells are QUARANTINED — every member emitted as a labeled
    * `kind='hub'` row (dst_id −1, cos_sim 0, rnk 0) for downstream
    * dedup-style handling — and edges are built only over the kept
    * subcells, whose total candidate volume is ≤ CAP·N by the gate.
    * The gate is per-subcell, so a kept subcell's edge set is
    * IDENTICAL to the ungated build's (its candidates never included
    * hub vectors — different cells). At the check fixtures no cell
    * reaches CAP, so the output is the ungated edge set plus zero hub
    * rows. */
  def gatedEdges(s: SparkSession, d: String, floor: Int = 5): DataFrame = {
    // Checkpointed: effs feeds BOTH the kept-edge branch and the hub
    // branch — without the cut the full projection + depth derivation
    // runs twice (measured ~2.4 s vs the adaptive key's ~1.0 s at
    // fixture). N rows, linear.
    val eff = effCells(s, d, floor)
    val subSz = eff.groupBy("d", "bucket")
      .agg(count(lit(1)).as("n_sub"))
    val effs = eff.join(subSz, Seq("d", "bucket")).localCheckpoint()
    val edges = edgesOf(s, effs.filter(col("n_sub") <= Cap)
        .select("vec_id", "embedding", "np", "d", "bucket"))
      .select(col("src_id"), col("dst_id"), col("cos_sim"),
              col("rnk"), lit("edge").as("kind"))
    val hubs = effs.filter(col("n_sub") > Cap)
      .select(col("vec_id").as("src_id"), lit(-1L).as("dst_id"),
              lit(0.0).as("cos_sim"), lit(0L).as("rnk"),
              lit("hub").as("kind"))
    edges.unionAll(hubs)
  }

  /** The shared DuckDB mirror of [[topkEdges]] — a CTE chain ending in
    * `knn_edges(src_id, dst_id, np, cos_sim, rnk ≤ 3)`. Every consumer
    * oracle splices this ONE fragment, so the derivation (adaptive np,
    * hot-cell refinement depth, exact in-cell top-3) cannot drift
    * between the four declared keys or from the Spark plan. The salt is
    * deliberately absent: it is output-invariant (each pair meets
    * exactly once, on the src row's salt), which is exactly what the
    * oracle equality proves. */
  def duckEdgesCtes(floor: Int = 5): String =
    s"""nv AS (
       SELECT CAST(greatest($floor, length(bin((count(*) - 1) // 250)))
                AS INTEGER) AS np
       FROM embeddings
     ),
     knn_bucketed AS (
       SELECT vec_id, embedding, np,
              ${graft.functions.SignLsh.duckBucketSql(s"np + $DMax")}
                AS allb,
              sqrt(list_aggregate(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                AS nrm
       FROM embeddings CROSS JOIN nv
     ),
     knn_coarse AS (
       SELECT *, (allb >> $DMax) AS coarse FROM knn_bucketed
     ),
     knn_depth AS (
       SELECT coarse,
              CASE WHEN count(*) > $Cap
                   THEN least($DMax,
                              length(bin((count(*) - 1) // $Cap)))
                   ELSE 0 END AS d
       FROM knn_coarse GROUP BY coarse
     ),
     knn_eff AS (
       SELECT c.vec_id, c.embedding, c.nrm, c.np, dp.d,
              (c.allb >> ($DMax - dp.d)) AS bucket
       FROM knn_coarse c JOIN knn_depth dp USING (coarse)
     ),
     knn_pairs AS (
       SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
              CAST(a.np AS BIGINT) AS np,
              round(list_aggregate(
                      list_transform(list_zip(a.embedding, b.embedding),
                        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                      'sum') / (a.nrm * b.nrm), 4) + 0.0 AS cos_sim
       FROM knn_eff a JOIN knn_eff b
         ON a.d = b.d AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
     ),
     knn_edges AS (
       SELECT src_id, dst_id, np, cos_sim,
              row_number() OVER (PARTITION BY src_id
                                 ORDER BY cos_sim DESC, dst_id) AS rnk
       FROM knn_pairs
       QUALIFY rnk <= 3
     ),
     knn_sub AS (
       SELECT d, bucket, count(*) AS n_sub
       FROM knn_eff GROUP BY d, bucket
     ),
     knn_effs AS (
       SELECT e.*, s.n_sub
       FROM knn_eff e JOIN knn_sub s USING (d, bucket)
     )"""

  /** The gated-edge continuation of [[duckEdgesCtes]] (splice AFTER
    * it): mirrors [[gatedEdges]]'s kept branch — subcells at or below
    * CAP keep their vectors, edges are rebuilt among kept subcells
    * only — ending in `gedges(src_id, dst_id, cos_sim, rnk ≤ 3)`. Both
    * gate consumers (`llm_knn_graph_hub_gated` and the gated PageRank)
    * splice this ONE fragment, so the gate predicate cannot drift
    * between them or from the Spark plan. */
  def duckGatedCtes: String =
    s"""kept AS (
       SELECT * FROM knn_effs WHERE n_sub <= $Cap
     ),
     gpairs AS (
       SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
              round(list_aggregate(
                      list_transform(list_zip(a.embedding, b.embedding),
                        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                      'sum') / (a.nrm * b.nrm), 4) + 0.0 AS cos_sim
       FROM kept a JOIN kept b
         ON a.d = b.d AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
     ),
     gedges AS (
       SELECT src_id, dst_id, cos_sim,
              row_number() OVER (PARTITION BY src_id
                                 ORDER BY cos_sim DESC, dst_id) AS rnk
       FROM gpairs
       QUALIFY rnk <= 3
     )"""
}
