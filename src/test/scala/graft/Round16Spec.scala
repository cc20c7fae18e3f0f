package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-16 pins — VERDICT r15 tasks 1/2/4/5/6 and ADVICE r15 item 3:
  * the persisted-IVF centroid sidecar, the cell-pruned probe reads,
  * the np=15/r=3 margin-degeneracy boundary, and the two new index
  * maintenance keys (tombstone delete + compaction, centroid-drift
  * audit).
  */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  private def latestTable(prefix: String, cents: Boolean): String =
    spark.sessionState.catalog.listTables("default")
      .map(_.table)
      .filter(t => t.startsWith(prefix) && t.contains("sf0_001") &&
                   !t.contains("_app_") &&
                   t.endsWith("_cents") == cents)
      .max

  test("persisted IVF sidecar equals the stride-th-rows derivation") {
    // VERDICT r15 task 1 (round 17: the sidecar is the SHARED
    // lifecycle artifact's): the persisted sidecar is
    // centroidsOf(base), and at fixture scale — where the base and
    // full strides coincide and no centroid id is ≡ 17 (mod 50) —
    // it also equals the re-derivation from the full merged index,
    // which is exactly the coincidence the full-rebuild oracles
    // lean on (IvfLifecycle scale note).
    val out = SparkEntry.queries("llm_sim_topk_ivf_persisted")(spark, sf)
    assert(out.count() > 0L)
    val sh = ops.IvfLifecycle.resolve(spark, sf)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cent_id"), hash(col("ce")).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val sidecar = keyed(sh.sidecar(spark))
    val fromBase = keyed(ops.Pipelines31.centroidsOf(sh.baseSeg(spark)))
    val fromFull = keyed(ops.Pipelines31.centroidsOf(
      spark.table(latestTable("graft_ivf_index_", cents = false))))
    assert(sidecar === fromBase,
      "sidecar diverged from the base stride-th-rows derivation")
    assert(sidecar === fromFull,
      "fixture stride coincidence broken: sidecar != full-index derivation")
    assert(sidecar.size === 10) // N=500, stride=50
  }

  test("persisted IVF query scan carries bucket pruning + pushed cell IN") {
    // VERDICT r15 task 2, mechanism on the DECLARED key: the index
    // scan must expose a bucket-pruning set (SelectedBucketsCount)
    // and push the literal probed-cell IN to parquet. At fixture the
    // 10 probed cells can hash across all 8 buckets, so strict
    // selected < total is pinned by the dedicated case below.
    val p = SparkEntry.queries("llm_sim_topk_ivf_persisted")(spark, sf)
      .queryExecution.executedPlan.toString
    val idxScan = p.linesIterator
      .filter(l => l.contains("graft_ivf_index") &&
                   l.contains("SelectedBucketsCount")).toSeq
    assert(idxScan.nonEmpty,
      s"index scan lost its bucket-pruning set:\n$p")
    assert(idxScan.exists(l => l.contains("In(cell")),
      s"probed-cell IN not pushed to the index scan:\n${idxScan.mkString("\n")}")
  }

  test("cell IN on a bucketed-by-cell table strictly prunes buckets") {
    // The strict form of the pin above, on a table whose probed-cell
    // set cannot cover every bucket: 1 cell of 40 in 8 buckets.
    import spark.implicits._
    val tbl = "graft_r16_prunecase"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // A previous aborted run can leave the managed location behind
    // with no catalog entry — Spark then refuses the name outright.
    ops.Pipelines31.rmRf(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl))
    (0L until 1000L).map(i => (i, i % 40L)).toDF("id", "cell")
      .write.mode("overwrite").bucketBy(8, "cell").sortBy("cell")
      .saveAsTable(tbl)
    // A bare filter-scan lets the planner's autoBucketedScan drop the
    // bucketed read entirely ("Bucketed: false"); pin the pruning on
    // a bucket-consuming shape — the aggregate keeps the bucketed
    // scan, as the declared key's cell join does.
    val scan = spark.table(tbl)
      .filter(col("cell") === 3L || col("cell") === 11L)
      .groupBy("cell").count()
      .queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(scan)
    assert(m.isDefined, s"no bucket pruning in:\n$scan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"bucket set not pruned: ${m.get.matched}")
  }

  test("margin probe set degenerates to the radius ball at np=15, r=3") {
    // ADVICE r15 item 3: the riskiest boundary — r steps 2 -> 3 AT
    // np = 15 (the depth-3 arm switches on via `r >= 3` while the
    // depth-4/5 arms stay gated on np > 15), and the unlimited
    // budget must still cover the whole Σ_{k<=3}C(15,k) = 576 ball.
    val prepared = Tables.embeddings(spark, sf).limit(20)
      .withColumn("np", lit(15))
      .withColumn("r", lit(3))
      .withColumn("bucket", expr("graft_sign_lsh(embedding, np)"))
      .withColumn("margins", expr("graft_sign_lsh_margins(embedding, np)"))
      .withColumn("srt", expr(ops.Pipelines28.marginOrder))
    val bad = prepared.select(
        expr(s"""array_sort(transform(
                   slice(array_sort(${ops.Pipelines28.marginMaskSet}), 1,
                         ${ops.Pipelines28.marginBudget}),
                   s -> bucket ^ s.f))""").as("viaMargin"),
        expr(s"array_sort(${ops.Pipelines28.radiusProbeSet})").as("viaBall"),
        expr(s"size(${ops.Pipelines28.marginMaskSet})").as("domSize"))
      .filter(col("viaMargin") =!= col("viaBall") ||
              col("domSize") =!= lit(576))
      .count()
    assert(bad === 0L,
      "margin probe set diverged from the radius-3 ball at the np=15 boundary")
  }

  test("tombstone delete: phases agree, compacted view holds only survivors") {
    // VERDICT r15 task 5, round-17 COW form: the tombstoned
    // (anti-join) answer and the post-compaction answer are the same
    // relation; the compacted MANIFEST VIEW (unaffected shared groups
    // + rewritten groups from the key's own compact root) holds
    // exactly the survivors; and the shared segments are IMMUTABLE —
    // the tombstoned rows are still in them, by design.
    val df = SparkEntry.queries("llm_sim_topk_ivf_delete")(spark, sf)
    val out = df.collect()
    val phases = out.map(_.getString(0)).distinct.sorted
    assert(phases === Array("compacted", "tombstoned"))
    def rows(ph: String) = out.filter(_.getString(0) == ph)
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    assert(rows("tombstoned") === rows("compacted"))
    assert(rows("compacted").nonEmpty)
    val sh = ops.IvfLifecycle.resolve(spark, sf)
    val stem = s"${ops.Sinks.sinkRoot(spark)}/" +
      ops.Sinks.ident(spark, "graft_ivf_index_del", sf)
    val tomb = spark.read.parquet(stem + "_tomb")
    val affected = tomb.select("pgrp").distinct()
      .collect().map(_.getLong(0)).sorted
    val compactedView = sh.fullIndex(spark)
      .filter(!col("pgrp").isin(affected: _*))
      .unionAll(spark.read.schema(sh.schema).parquet(stem + "_compact"))
    val n = Tables.embeddings(spark, sf).count()
    assert(compactedView.count() === n - n / 50)
    assert(compactedView.filter(col("vec_id") % 50 === 17).count() === 0L,
      "tombstoned rows survived in the compacted view")
    assert(spark.read.parquet(stem + "_compact")
        .filter(col("vec_id") % 50 === 17).count() === 0L,
      "COW rewrite copied tombstoned rows")
    assert(sh.fullIndex(spark)
        .filter(col("vec_id") % 50 === 17).count() === n / 50,
      "shared segments were mutated — the artifact must stay immutable")
    // The pruned probe read: partition-dir filters on the cell-group.
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("pgrp")),
      s"probe read lost its cell-group partition pruning:\n$p")
  }

  test("pgrp hash does not alias on stride-multiple cells") {
    // The measured round-16 bug: cells are centroid vec_ids (every
    // stride-th row), so pgrp = cell % 64 collapsed to gcd(stride, 64)
    // dirs (8 of 64 at the 2 M corpus's stride = 488). The hash form
    // must spread stride-multiples over (nearly) all 64 groups.
    import spark.implicits._
    val groups = (0L until 4096L).map(_ * 488L).toDF("cell")
      .select(ops.Pipelines32.pgrpOf(col("cell")).as("pgrp"))
      .distinct().count()
    assert(groups > 56L,
      s"pgrpOf covers only $groups of 64 groups on stride-multiples")
    val mod = (0L until 4096L).map(_ * 488L).toDF("cell")
      .select(pmod(col("cell"), lit(64L))).distinct().count()
    assert(mod === 8L) // the plain modulo really does alias — the why
  }

  test("centroid-drift audit: cohort sizes and monotone deciles") {
    val out = SparkEntry.queries("llm_ivf_drift_audit")(spark, sf)
      .collect()
    assert(out.length === 2)
    val e = Tables.embeddings(spark, sf)
    val byCohort = out.map(r => r.getString(0) -> r).toMap
    assert(byCohort("appended").getLong(1) ===
      e.filter(col("vec_id") % 50 === 17).count())
    assert(byCohort("base_sample").getLong(1) ===
      e.filter(col("vec_id") % 50 =!= 17 && col("vec_id") % 20 === 3)
        .count())
    out.foreach { r =>
      val decs = (3 to 11).map(r.getLong) // p10..p90
      assert(decs === decs.sorted, s"deciles not monotone: $decs")
      val mean = r.getLong(2)
      assert(mean >= decs.head - 1 && mean <= decs.last + 1,
        s"mean $mean outside decile envelope $decs")
    }
  }
}
