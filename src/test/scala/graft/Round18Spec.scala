package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 pins — VERDICT r17 tasks 1/4 + ADVICE r17 item 2:
  * the lifecycle oracles' base-centroid derivation is exact ABOVE the
  * stride switchover (where the retired full-corpus text provably
  * diverged), a swept lifecycle artifact is rebuilt with the same
  * answers, the compaction manifest serves any reader, and the margin
  * budget clamps instead of wrapping negative at np ≥ 39.
  */
class Round18Spec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  test("margin budget clamps at np >= 39 instead of wrapping negative") {
    // ADVICE r17 item 2: the unclamped 2^(np-8) wrapped negative
    // through the int cast at np >= 39, dropping EVERY candidate mask
    // (recall 0) while the BIGINT oracle kept them all. The clamp is
    // semantically free: the depth-<=5 mask domain stays far below
    // 2^31 at any reachable np, so slice(-, -, 2^31-1) keeps the whole
    // domain exactly as the oracle's unclamped comparison does.
    val cases = Seq(
      (19, 3) -> 2048L,        // unchanged below the clamp
      (23, 3) -> 32768L,       // unchanged at the last fraction point
      (38, 3) -> 1073741824L,  // last np below the clamp: 2^30
      (39, 3) -> 2147483647L,  // previously wrapped to -2^31 -> 0 rows
      (45, 3) -> 2147483647L,
      (62, 4) -> 2147483647L)
    cases.foreach { case ((npV, rV), want) =>
      val got = spark.range(1)
        .withColumn("np", lit(npV)).withColumn("r", lit(rV))
        .select(expr(ops.Pipelines28.marginBudget).cast("long"))
        .head().getLong(0)
      assert(got === want, s"budget(np=$npV, r=$rV)")
      assert(got > 0L, s"budget(np=$npV, r=$rV) must never go negative")
    }
  }

  test("lifecycle oracles are exact above the stride switchover") {
    // VERDICT r17 task 1: the `_persisted`/`_append` oracles now
    // derive centroids from the BASE corpus (the sidecar's own
    // derivation), retiring the r17 stride-coincidence caveat. Pin on
    // a synthetic corpus ABOVE the 204 800-row switchover, where
    // stride(base) = 50 != stride(full) = 51:
    //  (a) the OLD full-corpus centroid set provably differs from the
    //      artifact's sidecar (the reason the old text was retired);
    //  (b) the engine's persisted/append keys equal an independent
    //      in-Spark derivation of the NEW oracle semantics
    //      (base-derived stride + centroid set + nprobe, full-corpus
    //      candidates) — value for value.
    val dir = tempDir("graft_r18_switchover")
    val nFull = 51L * 4096L // 208 896: full stride 51, base stride 50
    spark.range(0, nFull).select(
        col("id").as("vec_id"),
        expr("""array(cast(1.0 as float),
                      cast(pmod(xxhash64(id), 2001) / 1000.0 - 1.0
                           as float))""").as("embedding"))
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    var artifact: Option[String] = None
    try {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val base = e.filter(col("vec_id") % 50 =!= 17)
      val strideB = math.max(50L, base.count() / 4096L)
      val strideF = math.max(50L, e.count() / 4096L)
      assert(strideB === 50L && strideF === 51L,
        "fixture must sit above the stride switchover")

      val engine =
        SparkEntry.queries("llm_sim_topk_ivf_persisted")(spark, dir)
          .collect().map(_.toString).toSeq
      val engineApp =
        SparkEntry.queries("llm_sim_topk_ivf_append")(spark, dir)
          .collect().map(_.toString).toSeq
      assert(engine === engineApp, "the two lifecycle keys share the query job")

      // (a) the retired full-corpus derivation diverges HERE.
      val sh = ops.IvfLifecycle.resolve(spark, dir)
      artifact = Some(sh.root)
      val sidecarIds = sh.sidecar(spark)
        .select("cent_id").collect().map(_.getLong(0)).toSet
      val oldIds = e.filter(col("vec_id") % strideF === 0)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(sidecarIds !== oldIds,
        "above the switchover the old full-corpus centroid set must differ")

      // (b) independent mirror of the NEW oracle semantics.
      val cents = base.filter(col("vec_id") % strideB === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
      def scoredOf(rows: org.apache.spark.sql.DataFrame) =
        rows.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cent_id"),
                  (round(expr("graft_cosine_sim(embedding, ce)"), 4) + 0.0)
                    .as("cs"))
      val cells = scoredOf(e)
        .groupBy("vec_id")
        .agg(max(struct(col("cs"), (-col("cent_id")).as("negc"))).as("m"))
        .select(col("vec_id"), (-col("m.negc")).as("cell"))
      val corpus = e.join(cells, Seq("vec_id"))
      val np = math.max(2L, cents.count() / 16L)
      val wA = Window.partitionBy("vec_id")
        .orderBy(desc("cs"), asc("cent_id"))
      val probeCells = scoredOf(e.filter(col("vec_id") < 10))
        .withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= np)
        .join(e.filter(col("vec_id") < 10)
                .select(col("vec_id"), col("embedding").as("pe")),
              Seq("vec_id"))
        .select(col("vec_id").as("probe_id"), col("pe"),
                col("cent_id").as("cell"))
      val w = Window.partitionBy("probe_id")
        .orderBy(desc("cos_sim"), asc("neighbor_id"))
      val mirror = corpus.join(broadcast(probeCells), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                (round(expr("graft_cosine_sim(pe, embedding)"), 4) + 0.0)
                  .as("cos_sim"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("probe_id", "rnk")
        .collect().map(_.toString).toSeq
      assert(engine === mirror,
        "engine diverged from the base-centroid oracle derivation " +
          "above the stride switchover")
    } finally {
      // Drop the synthetic corpus' shared artifact and this app's
      // twin so repeated suite runs stay disk-flat (the corpus dir
      // itself is a TempDirs dir).
      artifact.foreach(r => ops.Pipelines31.rmRf(new java.io.File(r)))
      val twin = ops.Sinks.ident(spark, "graft_ivf_index", dir)
      try spark.sql(s"DROP TABLE IF EXISTS default.`$twin`")
      catch { case _: Exception => () }
      ops.Pipelines31.rmRf(
        new java.io.File(s"${ops.Sinks.sinkRoot(spark)}/$twin"))
    }
  }

  test("a swept lifecycle artifact is rebuilt with the same answers") {
    // The cache hit re-verifies that the three segment dirs exist; a
    // foreign application's stale sweep (or any external cleanup) that
    // removed one must trigger a rebuild, never a FileNotFound.
    val before = SparkEntry.queries("llm_ivf_drift_audit")(spark, sf)
      .collect().toSeq
    val sh1 = ops.IvfLifecycle.resolve(spark, sf)
    ops.Pipelines31.rmRf(new java.io.File(sh1.baseRoot))
    val sh2 = ops.IvfLifecycle.resolve(spark, sf)
    assert(!(sh2 eq sh1), "the stranded handle must not be served")
    assert(sh2.root === sh1.root)
    Seq(sh2.baseRoot, sh2.deltaRoot, sh2.centsRoot).foreach(p =>
      assert(new java.io.File(p).isDirectory, s"$p missing after rebuild"))
    assert(sh2.nBase === sh1.nBase && sh2.nDelta === sh1.nDelta)
    assert(SparkEntry.queries("llm_ivf_drift_audit")(spark, sf)
      .collect().toSeq === before)
  }

  test("compaction manifest serves the compacted view to any reader") {
    // VERDICT r17 task 4: the delete key persists (segment roots,
    // compact root, affected groups) beside its COW output and serves
    // phase 'compacted' FROM it; any reader reconstructs the view
    // with no in-memory state. The declared delete removes exactly
    // the delta batch, so the manifest view must hold precisely the
    // base survivors with zero tombstoned ids.
    assert(SparkEntry.queries("llm_sim_topk_ivf_delete")(spark, sf)
      .count() > 0L)
    val stem = s"${ops.Sinks.sinkRoot(spark)}/" +
      ops.Sinks.ident(spark, "graft_ivf_index_del", sf)
    val view = ops.IvfLifecycle
      .compactedViewFromManifest(spark, stem + "_manifest")
    val sh = ops.IvfLifecycle.resolve(spark, sf)
    assert(view.count() === sh.nBase,
      "manifest view must hold exactly the base survivors")
    assert(view.filter(col("vec_id") % 50 === 17).count() === 0L,
      "a tombstoned id survived in the manifest-served view")
    assert(view.schema("pgrp").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  // ---- round-18 OPTIMIZATION pins (results must be plan-invariant) --

  test("graft_sorted_intersect_once is value-identical to the walk") {
    // The non-deterministic flag constrains the optimizer only; the
    // evaluated value must be bit-identical on every input shape
    // (empty, disjoint, equal, interleaved, subset).
    val rows = spark.sql(
      """SELECT graft_sorted_intersect_size(a, b) AS s,
                graft_sorted_intersect_once(a, b) AS o
         FROM VALUES
           (array(1L,2L,3L), array(2L,3L,4L)),
           (array(), array(1L)),
           (array(1L,5L,9L), array(2L,6L,10L)),
           (array(1L,2L,3L), array(1L,2L,3L)),
           (array(1L,2L,3L,4L,5L), array(2L,4L)),
           (array(-9L,-1L,0L,7L), array(-1L,0L,1L,7L)) AS t(a, b)""")
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("kmeans min-struct argmin equals the retired row_number form") {
    // The round-18 re-plan replaced both assignment windows with
    // min(struct(dist, c)) aggregates; this pin recomputes the
    // iteration-1 assignment with the retired window form and asserts
    // per-vector equality, so the argmin tie-break (dist asc, c asc)
    // can never drift.
    val qarr = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> coalesce(cast(floor(cast(x as double) * 1000 + 0.5) as bigint), 0L))")
        .as("qa"))
      .withColumn("n2", expr("graft_long_dot(qa, qa)"))
    val cent0 = qarr
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
      .select(expr("vec_id div 50").as("c"), col("qa").as("ca"),
              col("n2").as("cn2"))
    val scored = qarr.crossJoin(broadcast(cent0))
      .select(col("vec_id"),
              (col("n2") - lit(2L) * expr("graft_long_dot(qa, ca)") +
                col("cn2")).as("dist"),
              col("c"))
    val viaAgg = scored.groupBy("vec_id")
      .agg(min(struct(col("dist"), col("c"))).as("m"))
      .select(col("vec_id"), col("m.c").as("c"))
    val viaWin = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("dist").asc, col("c").asc)))
      .filter(col("rk") === 1).select("vec_id", "c")
    assert(viaAgg.orderBy("vec_id").collect().toSeq ===
           viaWin.orderBy("vec_id").collect().toSeq)
  }

  test("ngram novelty first-owner count equals the retired join-back") {
    // The round-18 re-plan removed the E-row join of the exploded
    // shingle stream back against the first-occurrence table; the
    // per-doc (n_sh, n_novel) pairs must match the retired form.
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(1, size(t) - 2),
             i -> xxhash64(concat_ws(' ', element_at(t, i),
                           element_at(t, i + 1), element_at(t, i + 2))))"""
        ))).as("g"))
    val first = sh.groupBy("g").agg(min("doc_id").as("fd"))
    val retired = sh.join(first, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
             .as("n_novel"))
    val nSh = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val nNovel = first.groupBy(col("fd").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    val current = nSh.join(nNovel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
              coalesce(col("n_novel"), lit(0L)).as("n_novel"))
    assert(current.orderBy("doc_id").collect().toSeq ===
           retired.orderBy("doc_id").collect().toSeq)
  }

  test("simhash 60-column balance equals the retired bit-explode form") {
    // The round-18 re-plan computes the per-bit balances as 60 static
    // sum() columns over the E token rows instead of exploding each
    // token into 4·w bit-rows; the per-doc fingerprints must match the
    // retired form bit-for-bit.
    val docs0 = Tables.documents(spark, sf)
    val wTab = docs0.agg(
      least(lit(15), greatest(lit(8),
          length(expr("bin((count(1) - 1) div 20)"))))
        .cast("int").as("w"))
    val hvExpr =
      "cast(conv(substring(md5(cast(tok as binary)),1,15),16,10) as bigint)"
    val toks = docs0
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .crossJoin(broadcast(wTab))
      .withColumn("hv", expr(hvExpr))
    val retired = toks
      .select(col("doc_id"), col("w"), col("hv"),
              explode(expr("sequence(0, 4 * w - 1)")).as("bit"))
      .groupBy("doc_id", "w", "bit")
      .agg(sum(when(expr("(hv >> (60 - 4 * w + bit)) & 1") === 1, 1)
                 .otherwise(-1)).as("bal"))
      .groupBy("doc_id", "w")
      .agg(sum(when(col("bal") > 0,
                    expr("shiftleft(cast(1 as bigint), bit)"))
             .otherwise(0L)).as("simhash"))
      .select("doc_id", "simhash")
    val balCols = (0 until 60).map(j =>
      sum(expr(s"2 * cast((hv >> $j) & 1 as int) - 1")).as(s"s$j"))
    val current = toks
      .groupBy("doc_id", "w")
      .agg(balCols.head, balCols.tail: _*)
      .withColumn("sarr", array((0 until 60).map(j => col(s"s$j")): _*))
      .select(col("doc_id"),
        expr("""aggregate(sequence(0, 4 * w - 1), cast(0 as bigint),
                  (acc, bit) -> acc +
                    IF(element_at(sarr, 60 - 4 * w + bit + 1) > 0,
                       shiftleft(cast(1 as bigint), bit),
                       cast(0 as bigint)))""").as("simhash"))
    assert(current.orderBy("doc_id").collect().toSeq ===
           retired.orderBy("doc_id").collect().toSeq)
  }

  test("fingerprint_simhash 32-column balance equals the retired bit-explode form") {
    // Same re-plan as the dedup key's fingerprint stage, at the fixed
    // 32-bit width: the declared key computes the balances as 32
    // static sum() columns; the retired form exploded each token row
    // into 32 bit-rows through a (doc, bit) aggregate pair.
    val hvExpr =
      "cast(conv(substring(md5(cast(tok as binary)),1,8),16,10) as bigint)"
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("hv", expr(hvExpr))
    val retired = toks
      .select(col("doc_id"), col("hv"),
              explode(expr("sequence(0, 31)")).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(when(expr("(hv >> bit) & 1") === 1, 1).otherwise(-1))
             .as("bal"))
      .groupBy("doc_id")
      .agg(sum(when(col("bal") > 0,
                    expr("shiftleft(cast(1 as bigint), bit)"))
             .otherwise(0L)).as("simhash"))
    val current = SparkEntry.queries("llm_fingerprint_simhash")(spark, sf)
    assert(current.orderBy("doc_id").collect().toSeq ===
           retired.orderBy("doc_id").collect().toSeq)
  }

  test("degree agg+join-back equals the retired count-over-window form") {
    // Round-18 re-plan of the pairless LSH degree pass
    // (ops.Hashing.degree):
    // the per-(sid, key) subset counts ride a count aggregate +
    // shuffled-hash join-back instead of a count-over-window. The
    // declared histogram must match the retired window form row for
    // row.
    val P = 2147483647L
    val A = Seq(100003L, 122251L, 135637L, 161423L, 173431L, 188677L,
                199831L, 224737L, 350377L, 411637L, 467237L, 524287L,
                600011L, 700001L, 800011L, 900001L)
    val B = Seq(7L, 977L, 1847L, 2741L, 3581L, 4421L, 5281L, 6143L,
                7001L, 7919L, 8887L, 9733L, 10657L, 11677L, 12569L,
                13457L)
    val hvExpr =
      "cast(conv(substring(md5(cast(tok as binary)),1,8),16,10) as bigint)"
    val sig = Tables.documents(spark, sf)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("hv", expr(hvExpr))
      .groupBy("doc_id")
      .agg(min((col("hv") * A(0) + B(0)) % P).as("m0"),
           (1 until 16).map(i =>
             min((col("hv") * A(i) + B(i)) % P).as(s"m$i")): _*)
    val bandCols = Seq(
      Seq("m0", "m1", "m2", "m3"), Seq("m4", "m5", "m6", "m7"),
      Seq("m8", "m9", "m10", "m11"), Seq("m12", "m13", "m14", "m15"))
    val subsetKeys = (1 until 16).map { mask =>
      array((0 until 4).filter(b => (mask & (1 << b)) != 0)
        .flatMap(bandCols).map(col): _*)
    }
    val retired = sig.select(col("doc_id"),
        posexplode(array(subsetKeys: _*)).as(Seq("sid", "key")))
      .withColumn("c",
        count(lit(1)).over(Window.partitionBy("sid", "key")))
      .groupBy("doc_id").agg(
        (sum(when(expr("bit_count(sid + 1) % 2 = 1"), col("c"))
               .otherwise(-col("c"))) - lit(1)).as("degree"))
    val retiredHist = Tables.documents(spark, sf).select("doc_id")
      .join(retired, Seq("doc_id"), "left_outer")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
    val current = SparkEntry.queries("llm_lsh_degree_hist")(spark, sf)
    assert(current.collect().toSeq === retiredHist.collect().toSeq)
  }

  test("power_users histogram rank equals the retired global window form") {
    // Round-18 re-plan: rk = cum_before(n_events histogram) + user_id
    // rank within the tie group, with only values intersecting the
    // top-k range joined back. Must match the retired single-partition
    // row_number window row for row.
    val uc = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val tot = uc.agg(count(lit(1)).as("n_users"),
                     sum("n_events").as("n_total"))
    val w = Window.orderBy(desc("n_events"), asc("user_id"))
    val retired = uc.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= greatest(lit(1L),
        expr("cast(n_users div 100 as bigint)")))
      .select(col("rk"), col("user_id"), col("n_events"),
              (round(col("n_events") / col("n_total"), 4) + 0.0)
                .as("share"))
      .orderBy("rk")
    val current = SparkEntry.queries("insta_power_users")(spark, sf)
    assert(current.collect().toSeq === retired.collect().toSeq)
  }

  test("rfm histogram ntile equals the retired three-window form") {
    // Round-18 re-plan: each ntile(4) bucket derives from the exact
    // rank (value-histogram cum_before + within-tie-group user_id
    // rank) via the first-buckets-take-the-remainder formula. Pinned
    // against Spark's own ntile so the formula can't drift from
    // engine semantics.
    val perUser = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_day"),
           count(lit(1)).as("frequency"),
           floor((sum(col("value").cast("decimal(30,10)")) * 100)
             .cast("double") + 0.5).cast("long").as("monetary_x100"))
    val globalMax = Tables.events(spark, sf)
      .agg(max(to_date(col("ts"))).as("max_day"))
    val wr = Window.orderBy(asc("recency_days"), asc("user_id"))
    val wf = Window.orderBy(desc("frequency"), asc("user_id"))
    val wm = Window.orderBy(desc("monetary_x100"), asc("user_id"))
    val retired = perUser.join(broadcast(globalMax))
      .withColumn("recency_days",
        datediff(col("max_day"), col("last_day")).cast("long"))
      .withColumn("r_bucket", ntile(4).over(wr).cast("long"))
      .withColumn("f_bucket", ntile(4).over(wf).cast("long"))
      .withColumn("m_bucket", ntile(4).over(wm).cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
              col("monetary_x100"), col("r_bucket"), col("f_bucket"),
              col("m_bucket"),
              (col("r_bucket") * 100 + col("f_bucket") * 10 +
               col("m_bucket")).as("segment"))
      .orderBy("user_id")
    val current = SparkEntry.queries("insta_rfm_segments")(spark, sf)
    assert(current.collect().toSeq === retired.collect().toSeq)
  }

  test("priority aging telescoped algebra equals the retired scalar form") {
    // Round-18 re-plan: the max-order-date scalar crossJoin (two
    // orders scans) became a per-priority (n, Σod, min, max) aggregate
    // with ref_day as a global-max window over the ≤5-row result;
    // Σage = n·ref − Σod and max_age = ref − min_od telescope exactly.
    import graft.Tables
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority"),
              expr("unix_date(to_date(o_orderdate))").as("od"))
    val ref = o.agg(max("od").as("ref_day"))
    val retired = o.crossJoin(broadcast(ref))
      .select(col("o_orderpriority"),
              (col("ref_day") - col("od")).as("age"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("age").as("s"),
           max(col("age").cast("long")).as("max_age_days"))
      .select(col("o_orderpriority"), col("n_orders"),
              expr("(2 * s + n_orders) div (2 * n_orders)")
                .as("avg_age_days"),
              col("max_age_days"))
      .orderBy("o_orderpriority").collect().toSeq
    val current = SparkEntry.queries("orders_priority_aging")(spark, sf)
      .collect().toSeq
    assert(current === retired)
  }

  test("bloom screen key-level sums equal the retired row-level counts") {
    // Round-18 re-plan: three orders scans (distinct probe keys +
    // candidate row count + exact row count) became one per-key count
    // table whose n sums over the passing/exact key sets — the counts
    // must be the same integers.
    import graft.Tables
    val rows4 = spark.range(1).select(explode(expr("sequence(0, 3)")).as("r"))
    def bitOf(keyCol: String) =
      expr(s"cast(conv(substring(md5(cast(concat(cast(r as string), ':', " +
           s"cast($keyCol as string)) as binary)),1,8),16,10) as bigint) " +
           "% 65536")
    val seg = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select("c_custkey")
    val bloomBits = seg.crossJoin(broadcast(rows4))
      .select(bitOf("c_custkey").as("bit")).distinct()
    val probeKeys = Tables.orders(spark, sf).select("o_custkey").distinct()
      .crossJoin(broadcast(rows4))
      .select(col("o_custkey"), bitOf("o_custkey").as("bit"))
    val passKeys = probeKeys.join(broadcast(bloomBits), Seq("bit"))
      .groupBy("o_custkey").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === 4)
      .select("o_custkey")
    val candOrders = Tables.orders(spark, sf)
      .join(broadcast(passKeys), Seq("o_custkey"), "left_semi")
    val exactOrders = Tables.orders(spark, sf)
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"),
            "left_semi")
    val retired = candOrders.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(exactOrders.agg(count(lit(1)).as("n_exact")))
      .select(col("n_candidates"), col("n_exact"),
              (col("n_candidates") - col("n_exact")).as("n_false_pos"))
      .collect().toSeq
    val current = SparkEntry.queries("join_bloom_screen")(spark, sf)
      .collect().toSeq
    assert(current === retired)
  }

  test("pagerank inline-rank iteration equals the retired ranks form") {
    // The round-18 re-plan derives pr inline from the previous
    // iteration's in_sum (missing in-edges ⇒ in_sum = 0) instead of
    // materializing the full ranks table per iteration; this pin
    // recomputes the retired ranks-per-iteration form over the same
    // checkpointed edge set and asserts per-node equality of the
    // final integer ranks for BOTH declared pagerank keys.
    val nodes = Tables.embeddings(spark, sf).select(col("vec_id"))
    def retiredRanks(edgesDeg: org.apache.spark.sql.DataFrame) = {
      var ranks = nodes.withColumn("pr", lit(1000000L))
      for (_ <- 1 to 3) {
        val contrib = edgesDeg
          .join(ranks.withColumnRenamed("vec_id", "src_id"), "src_id")
          .select(col("dst_id").as("vec_id"),
                  expr("pr div deg").as("c"))
          .groupBy("vec_id").agg(sum("c").as("in_sum"))
        ranks = nodes.join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
                  (lit(150000L) +
                     expr("(17 * coalesce(in_sum, 0L)) div 20")).as("pr"))
      }
      ranks.orderBy("vec_id").collect().toSeq
    }
    val knnDeg = graft.ops.KnnEdges.edgeList(spark, sf)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src_id")))
      .localCheckpoint()
    assert(SparkEntry.queries("graph_pagerank_knn")(spark, sf)
             .collect().toSeq === retiredRanks(knnDeg))
    val gatedDeg = graft.ops.KnnEdges.gatedEdges(spark, sf)
      .filter(col("kind") === "edge").select("src_id", "dst_id")
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src_id")))
      .localCheckpoint()
    assert(SparkEntry.queries("graph_pagerank_hub_gated")(spark, sf)
             .collect().toSeq === retiredRanks(gatedDeg))
  }
}
