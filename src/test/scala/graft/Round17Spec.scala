package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-17 pins — VERDICT r16 tasks 1–4: the histogram-rank drift
  * deciles (exact equivalence to the retired row-rank window), the
  * shared lifecycle index (one build serves every lifecycle key),
  * and the margin budget's derivation from a target per-table
  * scanned fraction.
  */
class Round17Spec extends AnyFunSuite {
  import TestSpark._

  test("margin budget derives from the target scanned fraction") {
    // budget = max(floor(r), 2^(np-8)): the r16 constant exactly up
    // to np = 19 (bit-identity with every measured decade point),
    // the fraction term 2^(np-8) = 2^-8 · 2^np binding at np = 20-23
    // (holding the seventh-decade per-table fraction constant), and
    // the depth-5 domain binding past np = 23 (documented floor
    // change in Pipelines28).
    val cases = Seq(
      (15, 3) -> 2147483647L, // <= pin: unlimited, domain = radius ball
      (16, 3) -> 2048L,       // floor binds (post-step richness)
      (17, 3) -> 2048L,       // measured 20 M point, unchanged
      (19, 3) -> 2048L,       // measured 80 M point, unchanged
      (20, 3) -> 4096L,       // fraction term takes over
      (23, 3) -> 32768L,      // last np where budget <= depth-5 domain
      (31, 4) -> 8388608L)    // r=4 ceiling: fraction term > 4944
    cases.foreach { case ((npV, rV), want) =>
      val got = spark.range(1)
        .withColumn("np", lit(npV)).withColumn("r", lit(rV))
        .select(expr(ops.Pipelines28.marginBudget).cast("long"))
        .head().getLong(0)
      assert(got === want, s"budget(np=$npV, r=$rV)")
    }
    // The fraction invariant itself: budget / 2^np is constant at
    // 2^-8 per table wherever the fraction term binds.
    for (npV <- 20 to 23) {
      val b = spark.range(1)
        .withColumn("np", lit(npV)).withColumn("r", lit(3))
        .select(expr(ops.Pipelines28.marginBudget).cast("long"))
        .head().getLong(0)
      assert(b * 256L === (1L << npV),
        s"fraction drifted from 2^-8 at np=$npV")
    }
  }

  test("drift-audit histogram deciles equal the row-rank reference") {
    // VERDICT r16 weak key 1: the declared key now computes deciles
    // from the bounded (cohort, micro) histogram; this pin re-derives
    // the same statistic with the RETIRED per-cohort rank window
    // (fine at fixture scale, the thing it was retired for is the
    // single-partition sort at 10^11) and requires value equality,
    // row for row, column for column.
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("llm_ivf_drift_audit")(spark, sf)
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") % 50 =!= 17)
    val cents = ops.Pipelines31.centroidsOf(base)
    val audited = e.filter(col("vec_id") % 50 === 17)
      .withColumn("cohort", lit("appended"))
      .unionAll(base.filter(col("vec_id") % 20 === 3)
        .withColumn("cohort", lit("base_sample")))
    val best = audited.join(broadcast(cents))
      .select(col("cohort"), col("vec_id"),
              (round(expr("graft_cosine_sim(embedding, ce)"), 4) + 0.0)
                .as("cs"))
      .groupBy("cohort", "vec_id").agg(max("cs").as("cs"))
      .withColumn("micro", expr("cast(round(cs * 10000) as bigint)"))
    val wR = Window.partitionBy("cohort")
      .orderBy(asc("micro"), asc("vec_id"))
    val ranked = best
      .withColumn("rn", row_number().over(wR).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cohort")))
    val deciles = (1 to 9).map(k =>
      max(when(col("rn") * 10 <= col("n") * k, col("micro")))
        .as(s"p${k * 10}_micro"))
    val aggs = Seq(
      count(lit(1)).as("n_vecs"),
      (expr("sum(micro + 10000) div count(1)") - 10000L).as("mean_micro")
    ) ++ deciles
    val ref = ranked.groupBy("cohort").agg(aggs.head, aggs.tail: _*)
      .orderBy("cohort")
    assert(out.collect().map(_.toString).toSeq ===
           ref.collect().map(_.toString).toSeq,
      "histogram-rank deciles diverged from the row-rank reference")
  }

  test("lifecycle keys share ONE built index artifact") {
    // VERDICT r16 task 3: whichever lifecycle key runs first builds;
    // the rest read. Pin: after one key has resolved the artifact,
    // running the other lifecycle keys leaves the shared segments
    // byte-untouched (no rebuild, no mutation).
    val sh = ops.IvfLifecycle.resolve(spark, sf)
    def snap(root: String): Long =
      ops.Pipelines31.newestMtime(new java.io.File(root))
    val before = (snap(sh.baseRoot), snap(sh.deltaRoot), snap(sh.centsRoot))
    for (k <- Seq("llm_sim_topk_ivf_persisted", "llm_sim_topk_ivf_append",
                  "llm_sim_topk_ivf_delete", "llm_ivf_drift_audit"))
      assert(SparkEntry.queries(k)(spark, sf).count() > 0L, k)
    val after = (snap(sh.baseRoot), snap(sh.deltaRoot), snap(sh.centsRoot))
    assert(before === after,
      "a lifecycle key rebuilt or mutated the shared segments")
  }

  test("stale-index sweep never touches the current application's artifacts") {
    // Round-17 review finding: the shared IvfLifecycle artifact is
    // write-once per app and CACHED, so a >1 h session must not have
    // the age-based sweep delete its own live dirs when a later build
    // triggers housekeeping. Idents embed the sanitized appId; the
    // sweep excludes names carrying it, whatever their age — and
    // still removes foreign apps' stale dirs.
    val root = new java.io.File(ops.Sinks.sinkRoot(spark))
    root.mkdirs()
    val ownApp = spark.sparkContext.applicationId
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val own = new java.io.File(root, s"graft_ivf_index_pin_$ownApp")
    val foreign = new java.io.File(root, "graft_ivf_index_pin_foreignapp")
    for (d <- Seq(own, foreign)) {
      d.mkdirs()
      d.setLastModified(System.currentTimeMillis() - 7200L * 1000)
    }
    ops.Pipelines31.cleanStaleIndexes(spark)
    assert(own.exists(),
      "sweep deleted the current application's own artifact")
    assert(!foreign.exists(),
      "sweep failed to delete a >1h foreign artifact")
    ops.Pipelines31.rmRf(own)
  }

  test("shared delta segment is exactly the append batch, sidecar-assigned") {
    // The artifact's construction contract: delta = the vec_id%50=17
    // batch, each row's cell the argmax against the sidecar (so the
    // tombstone location step and the delta rows agree at any scale).
    val sh = ops.IvfLifecycle.resolve(spark, sf)
    val delta = sh.deltaSeg(spark)
    val batch = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 17)
    assert(delta.count() === batch.count())
    assert(delta.filter(col("vec_id") % 50 =!= 17).count() === 0L)
    val reassigned = ops.Pipelines31.assignCells(
        spark, batch.select("vec_id", "embedding"), sh.sidecar(spark))
      .select(col("vec_id"), col("cell").as("cell2"))
    assert(delta.join(reassigned, Seq("vec_id"))
      .filter(col("cell") =!= col("cell2")).count() === 0L,
      "delta cells diverge from a fresh sidecar assignment")
    // And the pgrp partition column reads back as BIGINT (ADVICE r16
    // item 3: one stable type for every downstream isin/pruning).
    assert(delta.schema("pgrp").dataType ===
      org.apache.spark.sql.types.LongType)
  }
}
