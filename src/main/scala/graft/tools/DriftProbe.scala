package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Drift-audit demonstration probe (round 16 — the evidence behind
  * `llm_ivf_drift_audit`'s rebuild-trigger claim): the audit is only a
  * trigger if its metric MOVES when the appended batch genuinely
  * drifts and HOLDS when it doesn't.
  *
  * Drift is relative to the quantizer's represented DENSITY, not to
  * the vectors themselves: on an isotropic base (the iid fixtures, or
  * the signed-permutation twin corpora — measured: a coordinate
  * rotation of the batch moved the mean micro-cosine 4354 → 4351 on
  * the 2 M twin corpus, i.e. nothing, because that corpus is closed
  * under permutations and has no density structure beyond the planted
  * pairs) NO statistic of assigned-cosine can move. So this probe
  * synthesizes a CLUSTERED corpus — the structure real embedding
  * corpora have — from the fixture embeddings as cluster centers:
  *
  *  - base: members = 0.9·center + 0.1·hash-jitter, `copies` members
  *    per center (md5-arithmetic jitter, fully deterministic);
  *  - `appended`: more members of the SAME clusters (a held-out
  *    member index range) — the audit must read ≈ base;
  *  - `appended_drifted`: pure hash-direction vectors (no cluster
  *    membership) — individually plausible norms, but outside every
  *    density region the quantizer was built on; the audit must sag.
  *
  * Output = the declared key's exact statistic (assigned-cosine
  * integer-micro mean + p10/p50/p90 vs the base centroids, base
  * sampled 5 %).
  *
  * Usage: runMain graft.tools.DriftProbe <dir> [copies=100]
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val copies = if (args.length > 1) args(1).toInt else 100
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    val centers = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce0"))
    // Deterministic per-(member, coord) jitter in [-1, 1]: the repo's
    // md5-arithmetic chain.
    def jittered(memberLo: Int, memberHi: Int): DataFrame =
      centers
        .select(col("c_id"), col("ce0"),
                explode(expr(s"sequence($memberLo, ${memberHi - 1})"))
                  .as("m"))
        .select(
          (col("c_id") * 10000 + col("m")).as("vec_id"),
          expr("""transform(ce0, (x, i) -> cast(
                    0.9d * x + 0.1d * 0.3d * (
                      (conv(substring(md5(concat(c_id, '-', m, '-', i)),
                            1, 8), 16, 10) % 2001 - 1000) / 1000.0d)
                    as float))""").as("embedding"))
    val base = jittered(0, copies)
    val cents = graft.ops.Pipelines31.centroidsOf(base).localCheckpoint()
    val k = cents.count()
    // In-distribution append: held-out member range of the same
    // clusters. Drifted append: pure hash directions, same norm scale.
    val batchIn = jittered(copies, copies + 2)
      .withColumn("cohort", lit("appended"))
    val batchDrift = jittered(copies, copies + 2)
      .select(col("vec_id"),
        expr("""transform(embedding, (x, i) -> cast(0.3d * (
                  (conv(substring(md5(concat('drift-', vec_id, '-', i)),
                        1, 8), 16, 10) % 2001 - 1000) / 1000.0d)
                as float))""").as("embedding"))
      .withColumn("cohort", lit("appended_drifted"))
    val audited = batchIn.unionAll(batchDrift)
      .unionAll(base.filter(col("vec_id") % 20 === 3)
        .withColumn("cohort", lit("base_sample")))
    // The declared key's statistic in its round-17 histogram-rank
    // form: deciles from cumulative counts over the bounded
    // (cohort, micro) aggregate — never a rank window over the
    // audited rows themselves.
    def audit(rows: org.apache.spark.sql.DataFrame,
              against: org.apache.spark.sql.DataFrame) = {
      val best = rows.join(broadcast(against))
        .select(col("cohort"), col("vec_id"),
                (round(expr("graft_cosine_sim(embedding, ce)"), 4) + 0.0)
                  .as("cs"))
        .groupBy("cohort", "vec_id").agg(max("cs").as("cs"))
        .withColumn("micro", expr("cast(round(cs * 10000) as bigint)"))
      val cum = best.groupBy("cohort", "micro")
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(
          Window.partitionBy("cohort").orderBy(asc("micro"))))
        .withColumn("n", sum("c").over(Window.partitionBy("cohort")))
      def dec(kk: Int) = min(when(
        expr(s"(n * $kk) div 10 >= 1 and cum >= (n * $kk) div 10"),
        col("micro"))).as(s"p$kk")
      cum.groupBy("cohort").agg(
          sum("c").as("n_vecs"),
          (expr("sum(c * (micro + 10000)) div sum(c)") - 10000L)
            .as("mean"),
          dec(1), dec(5), dec(9))
        .orderBy("cohort").collect()
    }
    val t0 = System.nanoTime()
    val out = audit(audited, cents)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"DRIFTPROBE k=$k audit $sec%.1f s " +
      "(cohort, n, mean/p10/p50/p90 micro-cosine):")
    out.foreach(r => println(
      f"DRIFTPROBE ${r.getString(0)}%-17s n=${r.getLong(1)} " +
      f"mean=${r.getLong(2)} p10=${r.getLong(3)} p50=${r.getLong(4)} " +
      f"p90=${r.getLong(5)}"))

    // ---- REBUILD ON TRIGGER (round 17, VERDICT r16 task 5 — close
    // the loop the audit opens): the drifted cohort's sagging mean IS
    // the rebuild signal, so act on it — re-derive the quantizer on
    // the merged corpus (base + the drifted batch, the "rebuild per
    // corpus version" the append key's contract defers) and re-audit
    // the SAME drifted cohort against the new centroids. Its
    // assigned-cosine must recover: the rebuilt centroid set contains
    // stride-th rows of the drifted region itself, so the region is
    // represented again. ----
    val t1 = System.nanoTime()
    val merged = base
      .unionAll(batchDrift.select("vec_id", "embedding"))
    val cents2 = graft.ops.Pipelines31.centroidsOf(merged)
      .localCheckpoint()
    val k2 = cents2.count()
    val rebuilt = audit(batchDrift, cents2)
    val sec2 = (System.nanoTime() - t1) / 1e9
    println(f"DRIFTPROBE rebuild k=$k2 + re-audit $sec2%.1f s " +
      "(drifted cohort, AFTER acting on the trigger):")
    rebuilt.foreach(r => println(
      f"DRIFTPROBE ${r.getString(0)}%-17s n=${r.getLong(1)} " +
      f"mean=${r.getLong(2)} p10=${r.getLong(3)} p50=${r.getLong(4)} " +
      f"p90=${r.getLong(5)} (recovered vs pre-rebuild above)"))
    spark.stop()
  }
}
