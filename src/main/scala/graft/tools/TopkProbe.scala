package graft.tools

import org.apache.spark.sql.functions._

/** Top-k recall probe for the ANN search family.
  *
  * The dedup keys' blocking recall is measured by RecallProbe's
  * planted twins; the SEARCH keys (`llm_sim_topk_*`) answer a
  * different question — "of the true top-3 neighbors per probe, how
  * many does the approximate key return?" — and their ground truth
  * stays affordable at ANY corpus size because the exact key
  * (`llm_sim_topk`) broadcasts its 10-probe set and scans the corpus
  * linearly (O(probes·N), never O(N²)). So this probe just runs the
  * exact key as truth and each approximate key against the same
  * corpus directory, reporting two recalls:
  *
  *  - id recall: |approx ∩ truth| / |truth| on (probe_id,
  *    neighbor_id) — the strict metric, but it counts a tie (an
  *    approx neighbor with the SAME rounded cos_sim as the truth's
  *    k-th) as a miss;
  *  - value recall: approx rows whose cos_sim ≥ the truth's k-th
  *    value for that probe, / |truth| — tie-robust ("returned a
  *    neighbor at least as good").
  *
  * Ground truth is 30 pairs (10 declared probes × k=3), so recall
  * granularity is 1/30 ≈ 0.033 — report the raw fraction, not just
  * the ratio. Reuses RecallProbe/ScaleProbe corpora: point it at any
  * directory with an embeddings.parquet.
  *
  * Usage: runMain graft.tools.TopkProbe <dir> key...
  */
object TopkProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val keys = args.drop(1)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    var t0 = System.nanoTime()
    val truth = graft.SparkEntry.queries("llm_sim_topk")(spark, dir)
      .select("probe_id", "neighbor_id", "cos_sim").localCheckpoint()
    val nTruth = truth.count()
    println(f"TOPKPROBE llm_sim_topk (exact truth) " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s, $nTruth pairs")
    val kth = truth.groupBy("probe_id").agg(min("cos_sim").as("kthv"))
      .localCheckpoint()

    // Probe-only pseudo-keys: llm_sim_topk_lsh_or_bX<N> runs the OR
    // key with its margin budget ×N (the production dial, measured
    // without touching the declared plan or its oracle — round 18).
    // ..._d6 runs the depth-6 mask domain at the standard budget
    // (same scan bound, deeper reach); ..._d6bx<N> scales both.
    val BudgetScaled = raw"llm_sim_topk_lsh_or_bx(\d+)".r
    val Depth6 = raw"llm_sim_topk_lsh_or_d6(?:bx(\d+))?".r
    keys.foreach { k =>
      t0 = System.nanoTime()
      val out = (k match {
        case Depth6(n) =>
          graft.ops.Pipelines30.orRadiusTopkDepth6(spark, dir,
            Option(n).map(_.toInt).getOrElse(1))
        case BudgetScaled(n) =>
          graft.ops.Pipelines30.orRadiusTopkBudgetScaled(spark, dir, n.toInt)
        case _ => graft.SparkEntry.queries(k)(spark, dir)
      }).select("probe_id", "neighbor_id", "cos_sim").localCheckpoint()
      val sec = (System.nanoTime() - t0) / 1e9
      val idHit = truth.join(out, Seq("probe_id", "neighbor_id"),
        "left_semi").count()
      val valHit = out.join(kth, Seq("probe_id"))
        .filter(col("cos_sim") >= col("kthv")).count()
      println(f"TOPKPROBE $k $sec%.1f s, id recall $idHit/$nTruth = " +
        f"${idHit.toDouble / nTruth}%.3f, value recall $valHit/$nTruth = " +
        f"${valHit.toDouble / nTruth}%.3f")
    }
    spark.stop()
  }
}
