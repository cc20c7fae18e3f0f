package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-level regression guard: the structural properties PLANS.md
  * declares as REQUIRED for specific keys, asserted on the live
  * executedPlan string so a plan regression (lost pushdown, changed
  * join strategy, a sneaked-in global sort) fails the suite instead
  * of surfacing as a silent slowdown at the next bench.
  */
class PlanPropertiesSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("tpch_q6_revenue: all three predicates reach the parquet scan") {
    val p = plan("tpch_q6_revenue")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c missing from PushedFilters: $pushed")
  }

  test("scan_project: ReadSchema is pruned to the projected columns") {
    val p = plan("scan_project")
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    // The full lineitem schema has 16 columns; a pruned read must not
    // mention more than the projection needs.
    assert(!rs.contains("l_comment") && !rs.contains("l_shipinstruct"),
      s"scan reads beyond the projection: $rs")
  }

  test("orders_basket_pairs: top-100 resolves as TakeOrderedAndProject") {
    val p = plan("orders_basket_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      "ranked limit must not become a global Sort + Limit")
  }

  test("events_sessionize: exactly one data exchange feeds both windows") {
    val p = plan("events_sessionize")
    // Count hashpartitioning exchanges on user_id; the output sort adds
    // a range exchange, but the windows + aggregate must share ONE.
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning"))
      .toSeq
    assert(hashEx.size == 1,
      s"expected exactly one hash exchange, got ${hashEx.size}:\n" +
        hashEx.mkString("\n"))
    assert(hashEx.head.contains("user_id"))
  }

  test("tpch_q7_volume: dims broadcast, only the fact join shuffles") {
    val p = plan("tpch_q7_volume")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 4, s"supplier/customer/nation joins must broadcast ($bhj)")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("llm_quality_bucket and llm_token_budget_sample: global windows only over aggregates") {
    // The scale rule (SCALE.md §14): a Window over Exchange
    // SinglePartition is allowed ONLY when its input is an aggregate
    // of bounded cardinality (histogram / boundary tables), never the
    // corpus itself. Corpus-scale rows must go through partitioned
    // windows.
    for (k <- Seq("llm_quality_bucket", "llm_token_budget_sample")) {
      val lines = plan(k).linesIterator.toSeq
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val windowAbove = lines.slice(math.max(0, i - 4), i)
            .exists(_.contains("Window"))
          if (windowAbove) {
            val below = lines.slice(i + 1, math.min(i + 5, lines.size))
            assert(below.exists(l => l.contains("HashAggregate") ||
                                     l.contains("SortAggregate")),
              s"$k: global window not fed by an aggregate:\n" +
                lines.slice(i - 4, i + 5).mkString("\n"))
          }
        }
    }
  }

  test("llm_contamination: benchmark side broadcasts into the probe") {
    val p = plan("llm_contamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the benchmark-gram side must broadcast")
  }

  test("llm_dedup_semantic: pair stage is cluster-keyed, dot is the fused expression") {
    val p = plan("llm_dedup_semantic")
    // The Σ|c|² blocking requires the pair join keyed on c — an
    // unkeyed BroadcastNestedLoopJoin would be the N² disaster.
    val pairJoin = p.linesIterator.filter(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
       l.contains("BroadcastHashJoin")) && l.contains("vec_id")).toList
    assert(pairJoin.nonEmpty, s"no c-keyed pair join found:\n$p")
    assert(p.contains("longdotproduct") || p.contains("LongDotProduct") ||
           p.contains("graft_long_dot"),
      "pair scoring must use the codegen'd fused dot")
  }

  test("llm_embed_kmeans: assignment joins broadcast the k-row centroid side") {
    val p = plan("llm_embed_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"),
      "centroid tables must broadcast")
    // No corpus-global window: every Window line partitions by vec_id.
    val windows = p.linesIterator.filter(_.trim.startsWith("Window")).toList
    assert(windows.forall(_.contains("vec_id")),
      s"kmeans windows must partition by vec_id:\n${windows.mkString("\n")}")
  }

  test("join_skew_salted: the join keys include both salt columns") {
    val p = plan("join_skew_salted")
    // Assert on the join NODE itself, not the surrounding projections:
    // dropping the salt from the equi-join keys (the regression this
    // guards) still leaves e_salt in the project/scan lines, so only
    // the join line is evidence.
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
      l.contains("ShuffledHashJoin")).toList
    assert(joinLines.nonEmpty, s"no equi-join node in plan:\n$p")
    assert(joinLines.exists(l => l.contains("e_salt") && l.contains("c_salt")),
      "join keys must contain both e_salt and c_salt:\n" +
        joinLines.mkString("\n"))
  }

  test("llm_bpe_encode: the 256-entry vocab attaches as a broadcast") {
    val p = plan("llm_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      "vocab join must be a broadcast hash join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("agg_countmin_freq: exactly one corpus-grain aggregate") {
    // The round-7 re-plan: the sketch build runs at |K| distinct-key
    // grain — the ONLY aggregate consuming the events scan is the
    // exact count (one partial+final pair on key k); everything else
    // aggregates the |K|x4 keyed table.
    val p = plan("agg_countmin_freq")
    // The events scan feeds exactly one partial HashAggregate keyed
    // on the parsed key before the checkpoint boundary.
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD")
        || p.contains("HashAggregate"),
      s"unexpected plan shape:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("llm_lsh_degree_hist and llm_dedup_lsh_recall: banded equi-joins, never nested loops") {
    for (k <- Seq("llm_lsh_degree_hist", "llm_dedup_lsh_recall")) {
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"),
        s"$k must generate candidates via equi-join, got:\n" +
          p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    }
  }

  test("llm_dedup_semantic: pair join keyed on (c, salt)") {
    val p = plan("llm_dedup_semantic")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
      l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(l => l.contains("salt")),
      "pair join must include the salt key so work spreads beyond " +
        s"the cluster count:\n${joinLines.mkString("\n")}")
  }

  test("llm_doc_containment: pair join carries the salt key") {
    // The round-7 re-plan: keyed on lang alone the pair walk lands on
    // |langs| reducers; the salt must stay in the equi-join keys.
    // (llm_dedup_cc's identical edge join is hidden behind its
    // localCheckpoint in the final plan, so this key is the guard for
    // the shared pattern; cc's checkpoint boundary is asserted below.)
    val p = plan("llm_doc_containment")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
      l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(l => l.contains("salt")),
      "containment pair join must include the salt key:\n" +
        joinLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("llm_dedup_cc: edge set is checkpoint-materialized, no nested loop") {
    val p = plan("llm_dedup_cc")
    assert(p.contains("Scan ExistingRDD"),
      "edges must come from the localCheckpoint, not a rebuilt plan")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q21_late_supplier: single lineitem scan, no self-join") {
    val p = plan("tpch_q21_late_supplier")
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1,
      s"the re-plan must scan lineitem exactly once, got $liScans")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("agg_hll_mergeable: the rollup consumes sketches, not fact rows") {
    // Two-level aggregation: the union agg's input is the day-grain
    // sketch table; hll_union_agg must appear above hll_sketch_agg.
    val p = plan("agg_hll_mergeable")
    assert(p.contains("hll_sketch_agg") && p.contains("hll_union_agg"),
      s"expected sketch build + register union in plan:\n$p")
  }

  test("graph_pagerank_knn: iteration joins are equi-joins on uniform keys") {
    val p = plan("graph_pagerank_knn")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      "PageRank iterations must be equi-joins")
    // The checkpointed edge set appears as an RDD scan, proving the
    // edge build is not re-planned per iteration.
    assert(p.contains("Scan ExistingRDD"),
      "edges must come from the localCheckpoint, not a rebuilt plan")
  }

  test("llm_lsh_degree_hist: degree computed without a pair join") {
    // The round-10 inclusion–exclusion rewrite, re-planned in round
    // 18 (OPTIMIZATION_r18.md §12): the subset counts ride ONE
    // (sid, key) count aggregate attached back by a shuffled-hash
    // join (build side = the 1-row-per-key count table — linear), and
    // the only other join is the final degree-0 outer join against
    // documents on doc_id. A SELF-join on band keys would mean the
    // quadratic Σ|bucket|² pair materialization crept back in; a
    // Window would mean the 15·N-row sort + unsplittable hub-group
    // buffering came back.
    val p = plan("llm_lsh_degree_hist")
    val joins = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.size == 2,
      s"expected the count join-back + the final doc_id outer join, got:\n${joins.mkString("\n")}")
    assert(joins.exists(l => l.contains("ShuffledHashJoin") &&
                             l.contains("sid") && l.contains("key")),
      s"count join-back must be a shuffled-hash join on (sid, key):\n${joins.mkString("\n")}")
    assert(joins.exists(l => l.contains("doc_id") && l.contains("Outer")),
      s"final degree-0 attach must be the doc_id outer join:\n${joins.mkString("\n")}")
    assert(!p.linesIterator.exists(_.trim.startsWith("Window")),
      "the degree pass must stay window-free (round-18 re-plan)")
  }

  test("llm_incremental_dedup: old-corpus signatures read back from the sink") {
    // The key's 100 TB story: the existing corpus' MinHash signatures
    // are persisted, not re-derived from text — the plan must contain
    // a parquet scan of the materialized old-side signature table.
    val p = plan("llm_incremental_dedup")
    assert(p.contains("incdedup_oldsig"),
      "expected a FileScan of the persisted old-side signatures")
  }

  test("IVF keys: zero SortAggregate (the round-14 argmax contract)") {
    // max(struct) planned as SortAggregate and sorted the full N·k
    // score relation — ~70 GB of spill killed the 2 M-vec build. The
    // packed-BIGINT argmax (Pipelines4.cellArgmax) must keep every
    // IVF plan free of SortAggregate.
    for (k <- Seq("llm_sim_topk_ivf", "llm_sim_topk_ivf_batch",
                  "llm_sim_topk_ivf_persisted")) {
      val p = plan(k)
      assert(!p.contains("SortAggregate"),
        s"$k plans a SortAggregate — the N·k sort is back")
    }
  }

  test("llm_sim_topk_ivf_batch: candidate top-3 rides TopKPerGroup, salted join keys") {
    // The corpus-scaling probe set makes the candidate relation the
    // plan's biggest object (Σ np·|cell| ≈ 5e9 rows at 2 M vecs); the
    // per-probe top-3 must reduce through TopKPerGroup's partial
    // heaps, never a row_number window over the full relation, and
    // the cell join must carry the ×8 salt axis.
    val p = plan("llm_sim_topk_ivf_batch")
    assert(p.contains("TopKPerGroup"),
      "candidate reduction lost the TopKPerGroup operator")
    val joinKeyed = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("cell"))
      .toSeq
    assert(joinKeyed.exists(_.contains("salt")),
      s"cell join exchange lost the salt axis:\n${joinKeyed.mkString("\n")}")
  }

  test("llm_sim_topk_ivf_persisted: query path reads the bucketed index, probes broadcast") {
    // Build-once/query-many: the final join must consume the
    // persisted table's scan with the probe side broadcast — no
    // exchange of the N-row side in the query path.
    val p = plan("llm_sim_topk_ivf_persisted")
    assert(p.contains("graft_ivf_index"),
      "query path does not scan the persisted index table")
    assert(p.contains("BroadcastHashJoin"),
      "probe-side broadcast join missing from the query path")
  }

  test("declaredProbes: probe vectors read from the source table, filter pushed") {
    // Round 17: probe VECTORS come from the id-clustered source
    // parquet (one row group at any scale), never by filtering the
    // cell-sorted index (a corpus-sized decode) — the last
    // corpus-sized scan in the post-build query path, removed. The
    // final query plans can't show this (the probe subplan is
    // materialized behind probeTopk's localCheckpoint), but the
    // probeTopk signature now REQUIRES an explicit probe relation —
    // this pins what the one shared probe source scans and pushes.
    val p = graft.ops.Pipelines31.declaredProbes(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("embeddings.parquet"),
      "probe vectors must come from the source table")
    assert(p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString.contains("vec_id"),
      "probe-id filter not pushed to the source scan")
  }

  test("llm_sim_topk_ivf_delete: tombstone anti-join present, strategy unforced") {
    // VERDICT r16 weak key 2: the delete batch is 2% OF THE CORPUS by
    // construction, so a forced broadcast() of the tombstone set grows
    // with N and aborts at the broadcast threshold exactly at scale.
    // The plan must still ANTI-JOIN the tombstones out of the
    // tombstoned-phase scan, but the strategy is the planner's call —
    // this assertion tolerates broadcast, shuffled-hash and
    // sort-merge alike (at fixture AQE will usually pick broadcast
    // from the measured 10-row size, which is fine: it chose).
    val p = plan("llm_sim_topk_ivf_delete")
    assert(p.contains("LeftAnti"),
      "tombstoned phase lost its anti-join")
  }

  test("llm_ivf_drift_audit: reads index segments, no corpus-fraction window") {
    // VERDICT r16 weak key 1 (converted round 17): the audit is a
    // pure reader of the shared lifecycle index (base + delta
    // segments + sidecar), and its only window runs over the
    // (cohort, micro) HISTOGRAM — ≤ 20 001 rows per cohort at any
    // corpus size — never over the audited rows themselves. The
    // histogram is the aggregate below the window, so the plan's
    // Window sits above a HashAggregate, not above the scan.
    val p = plan("llm_ivf_drift_audit")
    // The shared segments live under the lifecycle artifact root
    // (graft_ivf_shared/graft_ivf_lc_<corpus>_app_<appid>).
    assert(p.contains("graft_ivf_lc_"),
      "audit no longer reads the shared lifecycle segments")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "histogram-rank window missing")
    assert(p.substring(winIdx).contains("HashAggregate"),
      "window must consume the bounded (cohort, micro) aggregate")
  }

  test("llm_sim_topk_lsh_or: probe side broadcast, margins off the corpus scan") {
    // The round-15 margin-directed re-plan's contract: the candidate
    // join streams the exploded corpus through a broadcast of the
    // probe masks (a regression to a shuffle join would exchange the
    // N·T-row side on (t, bucket)), and the margin machinery — the
    // signlshmargins expression and the mask-domain Generate — must
    // live ONLY under the broadcast (probe) side, never on the corpus
    // scan (10·T rows vs N·T).
    val p = plan("llm_sim_topk_lsh_or")
    assert(p.contains("BroadcastHashJoin"),
      "probe-mask join must broadcast the probe side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "candidate join regressed to a shuffle/cartesian strategy")
    assert(p.contains("signlshmargins"),
      "margin expression missing from the plan")
    // Tree walk (ADVICE r15): the old string-offset check compared
    // against the FIRST BroadcastExchange in the dump — the corpus
    // subtree's plane-count broadcast — so it proved only print
    // order. Walk the physical tree instead: no operator OUTSIDE a
    // BroadcastExchange subtree may carry a SignLshMargins
    // expression (margins on the corpus side would evaluate the
    // np-length accumulator loop on N·T rows instead of 10·T).
    val exec = SparkEntry.queries("llm_sim_topk_lsh_or")(spark, sf)
      .queryExecution.executedPlan
    def hasMargins(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.expressions.exists(
        _.find(_.isInstanceOf[graft.functions.SignLshMargins]).isDefined)
    // The walk must unwrap AQE wrappers: AdaptiveSparkPlanExec is a
    // LeafExecNode (children = Nil), so a naive children-recursion
    // never descends and the assertion passes vacuously.
    def marginsAnywhere(
        n: org.apache.spark.sql.execution.SparkPlan): Boolean = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        marginsAnywhere(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        marginsAnywhere(q.plan)
      case other =>
        hasMargins(other) || other.children.exists(marginsAnywhere)
    }
    def outsideBroadcast(
        n: org.apache.spark.sql.execution.SparkPlan): Boolean = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        outsideBroadcast(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        outsideBroadcast(q.plan)
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        false
      case other => hasMargins(other) || other.children.exists(outsideBroadcast)
    }
    // Vacuity guard: the walk must actually SEE the margins expression
    // somewhere — if a future Spark version hides the tree behind a
    // new wrapper, this fails instead of silently passing.
    assert(marginsAnywhere(exec),
      "tree walk cannot see the margins expression — unwrap broken")
    assert(!outsideBroadcast(exec),
      "margins computed outside every BroadcastExchange (probe) subtree")
  }

  test("lifecycle probe job keeps its WindowGroupLimit below the exchange") {
    // VERDICT r17 task 5: the shared probe job's final top-3 rides a
    // row_number window — the pattern the r13/r14 re-plans banished
    // elsewhere in favor of TopKPerGroup — and is acceptable ONLY
    // because Spark 4's InferWindowGroupLimit bounds it to ≤ 3 rows
    // per (probe, partition) BELOW the exchange (Partial mode; the
    // pre-exchange sort is per-partition and parallel). Pin both
    // modes on the executed plan so a refactor that hides the rank
    // from the rule (e.g. wrapping it in an expression it can't see
    // through) fails here instead of becoming a full-relation window
    // sort at scale.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = SparkEntry.queries("llm_sim_topk_ivf_persisted")(spark, sf)
    assert(df.collect().nonEmpty) // finalize the adaptive plan first
    def modes(n: SparkPlan): Seq[String] = n match {
      case a: AdaptiveSparkPlanExec => modes(a.executedPlan)
      case q: QueryStageExec => modes(q.plan)
      case w: WindowGroupLimitExec =>
        w.mode.toString +: w.children.flatMap(modes)
      case other => other.children.flatMap(modes)
    }
    val ms = modes(df.queryExecution.executedPlan)
    assert(ms.contains("Partial"),
      s"no Partial-mode WindowGroupLimit below the exchange: $ms")
    assert(ms.contains("Final"),
      s"no Final-mode WindowGroupLimit above the exchange: $ms")
  }
}
