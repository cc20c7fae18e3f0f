package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-16 batch — SURVEY.md §2.19: the two maintenance jobs that
  * complete the persisted-IVF index lifecycle (VERDICT r15 tasks 5–6).
  * Round 15 gave the index build-once persistence and append-per-batch
  * growth; a production corpus ALSO shrinks (takedowns, license
  * revocations, dedup verdicts) and drifts (appended batches pull away
  * from the centroids they are served by). (1) DELETE: a tombstone
  * table anti-joined at query time — deletes are metadata until a
  * compaction job rewrites ONLY the affected cell-group partitions
  * (copy-on-write into the key's own root since round 17, the
  * economics every table format uses) — checked against a full
  * REBUILD on the survivors. (2) DRIFT AUDIT: mean/decile
  * distribution of assigned-cosine for the appended batch vs a
  * deterministic base sample — the metric whose degradation triggers
  * the rebuild the append key's contract defers.
  *
  * Round 17 (VERDICT r16 tasks 1–3): both keys now resolve the ONE
  * shared lifecycle index ([[IvfLifecycle]]) instead of building
  * their own; the drift deciles ride a bounded histogram instead of
  * a corpus-fraction rank window; and the tombstone anti-join lost
  * its forced broadcast. SURVEY §2.0 determinism rules apply:
  * rounded cosines with id tiebreaks, integer micro-units with
  * non-negative `div` numerators, every key ends in an ORDER BY.
  */
object Pipelines32 extends Module {

  /** Cell-group count for the delete key's partition-dir layout: the
    * ≤ 4096 cells fold into 64 directories, so a compaction rewrite
    * touches at worst 1/64 of the corpus per affected group and the
    * partition count stays far under any filesystem's directory
    * limits at 100 TB. */
  private[graft] val CellGroups = 64L

  /** The cell → partition-dir assignment. MUST be a real hash, not
    * `cell % groups` (round 16, measured): cell ids are centroid
    * vec_ids — every stride-th row — so a plain modulo aliases to
    * gcd(stride, groups) groups (at the 2 M corpus stride = 488,
    * gcd(488, 64) = 8: only 8 of 64 dirs existed and every probe
    * touched 1/8 of the corpus instead of 1/64). Derived groups are
    * always COLLECTED from a DataFrame carrying this expression,
    * never recomputed driver-side. */
  private[graft] def pgrpOf(cell: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(cell), lit(CellGroups))

  def queries: Map[String, Q] = Map(
    // TOMBSTONE delete + partition-granular compaction (VERDICT r15
    // task 5 — the index-shrink maintenance): a production delete
    // must not rebuild the O(N·k) assignment, and must not rewrite
    // the whole corpus either. Round 17: the index is the SHARED
    // lifecycle artifact ([[IvfLifecycle]] — base segment + delta
    // segment in the pgrp-partitioned, range-clustered layout, built
    // at most once per application and IMMUTABLE), and this key
    // declares the delete path over it:
    //   (1) DELETE the deterministic batch (vec_id % 50 = 17, ~2% —
    //       never a centroid id) as a TOMBSTONE table carrying each
    //       deleted row's (vec_id, cell, pgrp) — located by
    //       re-assigning the batch against the ≤ 4096-row sidecar,
    //       O(|batch|·k), never an index scan. Deletes are metadata:
    //       the index files are untouched.
    //   (2) QUERY phase 'tombstoned': the shared probe job
    //       ([[Pipelines31.probeTopk]]) with probed cell ids pushed
    //       as literal partition + cell filters (the scan reads ONLY
    //       probed cell-group dirs, PartitionFilters-pruned) and the
    //       tombstones ANTI-JOINED out. The anti-join carries NO
    //       broadcast hint (round 17, VERDICT r16 weak key 2: the
    //       batch is 2% OF THE CORPUS by construction, so a forced
    //       broadcast grows with N and aborts at the threshold
    //       exactly when it stops being small — the planner/AQE
    //       picks the strategy from the measured sizes instead; the
    //       scan side is already cell/partition-pruned, so even the
    //       shuffle form is partition-local and cheap).
    //   (3) COMPACT, copy-on-write: rewrite ONLY the affected
    //       cell-group partitions (the distinct pgrp values among
    //       the tombstones — a ≤ 64-long driver materialization,
    //       same legitimacy as the probed-cell ids) with their
    //       survivor rows into this key's OWN compacted root; the
    //       shared segments are never mutated. The compacted index
    //       is a manifest union — unaffected groups from the shared
    //       segments + rewritten groups from the compact root — and
    //       since round 18 the manifest is PERSISTED beside the COW
    //       output (version, segment roots, compact root, affected
    //       groups), which is exactly how a table format serves a
    //       COW rewrite: any reader, including a later application,
    //       serves the compacted view from the manifest alone. It
    //       also removes round 16's raw-FS edge entirely (ADVICE r16
    //       item 2): a fully-tombstoned group simply has no files in
    //       the compact root and is excluded from the shared side by
    //       the partition filter — no directory deletion on ANY
    //       filesystem.
    //   (4) QUERY phase 'compacted': the same probe job over the
    //       manifest-read union, with NO anti-join — the tombstones
    //       are physically gone from the files it reads.
    // Both phases must equal a full REBUILD on the survivor corpus —
    // exact at ANY scale, since the survivors ARE the base corpus and
    // the sidecar IS centroidsOf(base) — so the oracle IS the
    // `llm_sim_topk_ivf` rebuild text over `embeddings WHERE
    // vec_id % 50 <> 17`, cross-joined with the two phase labels: the
    // check that tombstone masking and selective COW compaction each
    // lost nothing vs rebuilding. (Round 18 retired the r17 stride
    // warning entirely: the persisted/append oracles now mirror the
    // base-centroid derivation too, so no lifecycle differential
    // depends on a stride coincidence anymore.)
    "llm_sim_topk_ivf_delete" -> ((s, d) => {
      val sh = IvfLifecycle.resolve(s, d)
      val sidecar = sh.sidecar(s)
      val full = sh.fullIndex(s)
      val stem = s"${Sinks.sinkRoot(s)}/" +
        Sinks.ident(s, "graft_ivf_index_del", d)
      // ---- DELETE: tombstones located via the sidecar, O(|B|·k). ----
      val batch = Tables.embeddings(s, d).select("vec_id", "embedding")
        .filter(col("vec_id") % 50 === 17)
      Pipelines31.assignCells(s, batch, sidecar)
        .select(col("vec_id"), col("cell"),
                pgrpOf(col("cell")).as("pgrp"))
        .coalesce(1).write.mode("overwrite").parquet(stem + "_tomb")
      val tomb = s.read.parquet(stem + "_tomb")
      // Partition + row-group pruned scan of an index relation:
      // probed groups derived through the writer's own pgrpOf
      // expression, never driver arithmetic.
      def pruned(idx: DataFrame, probed: Array[Long]): DataFrame = {
        val probedGroups = s.range(1)
          .select(explode(lit(probed)).as("cell"))
          .select(pgrpOf(col("cell")))
          .distinct().collect().map(_.getLong(0)).sorted
        idx.filter(col("pgrp").isin(probedGroups: _*) &&
                   col("cell").isin(probed.toSeq: _*))
      }
      // Probe vectors come from the SOURCE table (round 17 — the
      // id-clustered parquet prunes to one row group; extracting
      // them from the cell-sorted index would decode corpus-sized
      // row groups at scale).
      val probes = Pipelines31.declaredProbes(s, d)
      val tombstoned = Pipelines31.probeTopk(s, probes, sidecar,
        probed => pruned(full, probed)
          .join(tomb.select("vec_id"), Seq("vec_id"), "left_anti"))
      // ---- COMPACT: survivors of the ≤ 64 affected groups only,
      // written copy-on-write to this key's root. All inputs here are
      // immutable, so unlike round 16 no checkpoint fence is needed
      // between the phases — nothing rewrites what phase 1 reads. ----
      val affected = tomb.select("pgrp").distinct()
        .collect().map(_.getLong(0)).sorted
      full.filter(col("pgrp").isin(affected: _*))
        .join(tomb.select("vec_id"), Seq("vec_id"), "left_anti")
        .repartitionByRange(col("pgrp"), col("cell"))
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("pgrp").parquet(stem + "_compact")
      // Round 18 (VERDICT r17 task 4): the manifest is PERSISTED
      // beside the COW output — (segment roots, compact root,
      // affected groups) — and phase 'compacted' reads the view FROM
      // IT, so any later reader serves the compacted index from the
      // manifest alone, never re-deriving `affected`.
      IvfLifecycle.writeCompactionManifest(s, sh, stem + "_compact",
        affected.toSeq, stem + "_manifest")
      val compactedIdx =
        IvfLifecycle.compactedViewFromManifest(s, stem + "_manifest")
      val compacted = Pipelines31.probeTopk(s, probes, sidecar,
        probed => pruned(compactedIdx, probed))
      tombstoned.withColumn("phase", lit("tombstoned"))
        .unionAll(compacted.withColumn("phase", lit("compacted")))
        .select("phase", "probe_id", "neighbor_id", "cos_sim", "rnk")
        .orderBy("phase", "probe_id", "rnk")
    }),

    // CENTROID-DRIFT audit (VERDICT r15 task 6 — the rebuild trigger
    // metric the append key's "rebuild per corpus version, append per
    // batch" contract needs): the append key serves appended batches
    // from the EXISTING centroid set, so its recall erodes exactly as
    // fast as appended vectors land far from every centroid. The
    // leading indicator is the assigned-cosine distribution — each
    // vector's similarity to its OWN cell's centroid — compared
    // between the appended batch and the base build: when the batch's
    // mean/deciles sag below the base's, the quantizer no longer
    // represents the new data and the O(N·k) rebuild is due
    // (DriftProbe's rebuild mode closes the loop: trigger fires →
    // rebuild → the appended cohort's statistic recovers).
    //
    // Round 17 — the audit is a pure INDEX reader on the shared
    // lifecycle artifact: the audited set is the delta segment (the
    // appended cohort, with its served cell already on each row) +
    // a deterministic 5% sample of the base segment (the base
    // reference is a distribution; a fixed-fraction sample keeps the
    // audit ∝ |batch| + N/20), and since the index rows CARRY their
    // assigned cell, each row joins the broadcast ≤ 4096-row sidecar
    // on cell = cent_id for ONE cosine — O(|audited|) scoring, not
    // the O(|audited|·k) re-assignment (the max over all centroids
    // equals the cosine to the row's own argmax cell by
    // construction; the oracle keeps the max-over-centroids form as
    // the independent derivation).
    //
    // Deciles via HISTOGRAM-RANK (round 17, converting VERDICT r16
    // weak key 1: the r16 per-cohort rank window put N/20 rows in ONE
    // window partition at any corpus size — a single-task multi-TB
    // sort at 10¹¹ vectors). micro = round(cos·10⁴) lives in
    // [−10⁴, 10⁴], so grouping to (cohort, micro) counts bounds the
    // windowed relation at ≤ 20 001 rows per cohort FOREVER; the
    // cumulative count over that aggregate gives exact ranks (the
    // llm_quality_bucket round-4 pattern). The decile at p·n/10 —
    // previously "value at ascending-rank floor(p·n/10)" — becomes
    // min(micro : cum ≥ floor(p·n/10)), identical by definition of
    // the cumulative histogram. Integer micro-units throughout; the
    // mean shifts by +10⁴ before `div` so the truncated division
    // never sees a negative numerator (Spark `div` truncates toward
    // zero, DuckDB `//` floors — they agree on non-negatives, §2.0).
    "llm_ivf_drift_audit" -> ((s, d) => {
      val sh = IvfLifecycle.resolve(s, d)
      val audited = sh.deltaSeg(s).withColumn("cohort", lit("appended"))
        .unionAll(sh.baseSeg(s).filter(col("vec_id") % 20 === 3)
          .withColumn("cohort", lit("base_sample")))
      val best = audited.join(broadcast(sh.sidecar(s)),
          col("cell") === col("cent_id"))
        .select(col("cohort"), col("vec_id"),
                (round(expr("graft_cosine_sim(embedding, ce)"), 4) + 0.0)
                  .as("cs"))
        .withColumn("micro", expr("cast(round(cs * 10000) as bigint)"))
      val hist = best.groupBy("cohort", "micro")
        .agg(count(lit(1)).as("c"))
      // micro is unique within (cohort, micro) groups, so the default
      // RANGE frame's tie handling is moot — cum is the exact count
      // of audited rows at or below this micro value.
      val cum = hist
        .withColumn("cum", sum("c").over(
          Window.partitionBy("cohort").orderBy(asc("micro"))))
        .withColumn("n", sum("c").over(Window.partitionBy("cohort")))
      val deciles = (1 to 9).map(k =>
        min(when(expr(s"(n * $k) div 10 >= 1 and " +
                      s"cum >= (n * $k) div 10"), col("micro")))
          .as(s"p${k * 10}_micro"))
      val aggs = Seq(
        sum("c").as("n_vecs"),
        (expr("sum(c * (micro + 10000)) div sum(c)") - 10000L)
          .as("mean_micro")) ++ deciles
      cum.groupBy("cohort").agg(aggs.head, aggs.tail: _*)
        .orderBy("cohort")
    })
  )

  def oracles: Map[String, String] = Map(
    // The rebuild-on-survivors text VERBATIM (the append key's proof
    // pattern): Pipelines4's factored IVF CTE chain instantiated over
    // the survivor corpus, cross-joined with the two phase labels —
    // tombstone masking and selective COW compaction must each
    // reproduce what rebuilding from scratch on the survivors would.
    // Round 17 scale note: this differential is now exact at ANY
    // corpus size — the shared index's sidecar IS centroidsOf(base)
    // and the survivor corpus IS the base, so the oracle's
    // survivor-derived stride/centroids coincide with the in-plan
    // sidecar by construction (the r16 stride-coincidence caveat
    // applied to the retired full-corpus-centroid build; the residual
    // caveat lives on the persisted/append keys' full-rebuild oracles
    // and is guarded by IvfLifecycle's stride warning).
    "llm_sim_topk_ivf_delete" ->
      s"""WITH surv AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 50 <> 17
         ),
         ${Pipelines4.duckIvfCandCtes("surv")},
         top3 AS (
           SELECT probe_id, neighbor_id, cos_sim,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cos_sim DESC, neighbor_id)
                    AS rnk
           FROM cand
           QUALIFY rnk <= 3
         )
         SELECT ph.phase, t.probe_id, t.neighbor_id, t.cos_sim, t.rnk
         FROM top3 t CROSS JOIN (
           SELECT unnest(['compacted', 'tombstoned']) AS phase) ph
         ORDER BY phase, probe_id, rnk""",

    "llm_ivf_drift_audit" ->
      """WITH base AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 50 <> 17
         ),
         bsv AS (
           SELECT greatest(50, count(*) // 4096) AS stride FROM base
         ),
         norms AS (
           SELECT vec_id, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm
           FROM embeddings
         ),
         cents AS (
           SELECT n.vec_id AS cent_id, n.embedding AS ce, n.nrm AS cnrm
           FROM norms n, bsv
           WHERE n.vec_id % 50 <> 17 AND n.vec_id % bsv.stride = 0
         ),
         aud AS (
           SELECT 'appended' AS cohort, vec_id, embedding, nrm
           FROM norms WHERE vec_id % 50 = 17
           UNION ALL
           SELECT 'base_sample' AS cohort, vec_id, embedding, nrm
           FROM norms WHERE vec_id % 50 <> 17 AND vec_id % 20 = 3
         ),
         best AS (
           SELECT a.cohort, a.vec_id,
                  max(round(list_aggregate(
                        list_transform(list_zip(a.embedding, c.ce),
                          z -> CAST(z[1] AS DOUBLE) *
                               CAST(z[2] AS DOUBLE)), 'sum')
                      / (a.nrm * c.cnrm), 4) + 0.0) AS cs
           FROM aud a CROSS JOIN cents c
           GROUP BY a.cohort, a.vec_id
         ),
         m AS (
           SELECT cohort, vec_id,
                  CAST(round(cs * 10000) AS BIGINT) AS micro
           FROM best
         ),
         h AS (
           SELECT cohort, micro, count(*) AS c
           FROM m GROUP BY cohort, micro
         ),
         r AS (
           SELECT cohort, micro, c,
                  sum(c) OVER (PARTITION BY cohort
                               ORDER BY micro) AS cum,
                  sum(c) OVER (PARTITION BY cohort) AS n
           FROM h
         )
         SELECT cohort, CAST(sum(c) AS BIGINT) AS n_vecs,
                CAST(sum(c * (micro + 10000)) // sum(c) AS BIGINT) - 10000
                  AS mean_micro,
                min(CASE WHEN (n * 1) // 10 >= 1
                          AND cum >= (n * 1) // 10 THEN micro END)
                  AS p10_micro,
                min(CASE WHEN (n * 2) // 10 >= 1
                          AND cum >= (n * 2) // 10 THEN micro END)
                  AS p20_micro,
                min(CASE WHEN (n * 3) // 10 >= 1
                          AND cum >= (n * 3) // 10 THEN micro END)
                  AS p30_micro,
                min(CASE WHEN (n * 4) // 10 >= 1
                          AND cum >= (n * 4) // 10 THEN micro END)
                  AS p40_micro,
                min(CASE WHEN (n * 5) // 10 >= 1
                          AND cum >= (n * 5) // 10 THEN micro END)
                  AS p50_micro,
                min(CASE WHEN (n * 6) // 10 >= 1
                          AND cum >= (n * 6) // 10 THEN micro END)
                  AS p60_micro,
                min(CASE WHEN (n * 7) // 10 >= 1
                          AND cum >= (n * 7) // 10 THEN micro END)
                  AS p70_micro,
                min(CASE WHEN (n * 8) // 10 >= 1
                          AND cum >= (n * 8) // 10 THEN micro END)
                  AS p80_micro,
                min(CASE WHEN (n * 9) // 10 >= 1
                          AND cum >= (n * 9) // 10 THEN micro END)
                  AS p90_micro
         FROM r GROUP BY cohort ORDER BY cohort"""
  )
}
