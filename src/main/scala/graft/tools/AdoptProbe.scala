package graft.tools

import org.apache.spark.sql.functions._

/** Cross-application index ADOPTION probe (round 18 — VERDICT r17
  * task 2's evidence): the shared IVF lifecycle artifact is keyed by
  * a corpus fingerprint and committed by a manifest, so a LATER
  * application pointed at the same corpus must validate + adopt it —
  * paying the read path, never the O(N·k) build — and must REJECT a
  * mismatched artifact (regenerated corpus, older format, truncated
  * segment) by rebuilding.
  *
  * Run it as two sequential JVMs against the same dir:
  *   app-1: runMain graft.tools.AdoptProbe <dir>       — builds
  *   app-2: runMain graft.tools.AdoptProbe <dir>       — adopts
  * and the rejection path:
  *          runMain graft.tools.AdoptProbe <dir> corrupt — tampers
  *          the manifest fingerprint first; resolve must reject the
  *          artifact and rebuild.
  *
  * Each run also answers the declared probe batch from the resolved
  * artifact (`llm_sim_topk_ivf_persisted` verbatim), so the adopted
  * index is exercised, not just validated.
  */
object AdoptProbe {
  def main(args: Array[String]): Unit = {
    // The probe IS the adoption demonstration — opt in explicitly.
    // (Default-off keeps the bench honest: see IvfLifecycle.adoptionEnabled.)
    System.setProperty("graft.ivf.adopt", "true")
    val dir = args(0)
    val corrupt = args.contains("corrupt")
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    if (corrupt) {
      val root = graft.ops.IvfLifecycle.artifactRoot(spark, dir)
      graft.ops.IvfLifecycle.tamperManifestFingerprint(spark, root)
      println(s"ADOPTPROBE tampered manifest fingerprint at $root")
    }

    val t0 = System.nanoTime()
    val sh = graft.ops.IvfLifecycle.resolve(spark, dir)
    val resolveSec = (System.nanoTime() - t0) / 1e9
    println(f"ADOPTPROBE resolve $resolveSec%.1f s " +
      f"(base=${sh.nBase} delta=${sh.nDelta}) root=${sh.root} " +
      "-- see the GRAFT IvfLifecycle stderr line for ADOPTED/REJECTED/built")

    val t1 = System.nanoTime()
    val out = graft.SparkEntry
      .queries("llm_sim_topk_ivf_persisted")(spark, dir)
    val rows = out.count()
    println(f"ADOPTPROBE persisted-key query ${
      (System.nanoTime() - t1) / 1e9}%.1f s, $rows rows")
    // A spot check that the adopted artifact serves real data: the
    // top-1 neighbor of probe 0 exists and carries a sane cosine.
    val top = out.filter(col("probe_id") === 0 && col("rnk") === 1)
      .select("neighbor_id", "cos_sim").collect()
    top.foreach(r => println(
      s"ADOPTPROBE probe0 top1 neighbor=${r.getLong(0)} cos=${r.getDouble(1)}"))
    spark.stop()
  }
}
