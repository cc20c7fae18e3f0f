package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 fourth batch — SURVEY.md §2.11q: SemDeDup-style semantic
  * dedup (cluster-blocked embedding pairs), last-touch revenue
  * attribution, integer-exact weighted averages, a nested-JSON
  * source/sink roundtrip, and per-source Gini inequality of token
  * mass. SURVEY §2.0 determinism rules apply: quantized integer
  * vector math, squared-threshold comparisons instead of sqrt where
  * a comparison decides membership, explicit tiebreaks everywhere.
  */
object Pipelines15 extends Module {

  def queries: Map[String, Q] = Map(
    // Semantic near-duplicate pairs, SemDeDup-shaped: vectors are
    // assigned to deterministic coarse centroids and only
    // WITHIN-CLUSTER pairs are scored — pair volume is Σ|c|², never
    // N². The centroid count is NOT pinned (round 12b — the original
    // k=10 fixed centroids make every cell N/10, so the pair stage is
    // N²/10 at any corpus size: measured 92 s/1028 s at the 100×/300×
    // embeddings-iid probe, a clean quadratic): fine centroids are
    // every 50th vector, so k ≈ N/50 grows WITH the corpus and cells
    // hold ~50 vectors — the SemDeDup design point (cells bound the
    // quadratic) kept true at any N. Sampled centroids are
    // density-adaptive like the kmeans centroids SemDeDup trains:
    // dense regions contribute proportionally more centroids, so
    // cells self-balance against data density. Routing is by COSINE
    // (SemDeDup operates on L2-normalized embeddings), not euclidean
    // distance: on this key's first re-plan the probe measured
    // euclidean argmin degenerating on decorrelated vectors — when a
    // vector is far from every centroid, argmin(‖v‖²+‖c‖²−2·dot) is
    // argmin ‖c‖², so the minimum-norm centroid becomes a hub cell
    // (~15% of the 300× corpus in one cell, output 10.3 M → 89 M rows
    // quadratic). The cosine score is symmetric across random
    // centroids, so decorrelated vectors spread ~uniformly
    // (multinomial cells ≈ Poisson(50)) — no hub by construction.
    // The score is exact int64: signed_cos2 = sign(dot) · (dot²·10⁶
    // div ‖c‖²) over CENTI-quantized coordinates (routing only —
    // |q| ≤ ~60 ⇒ dot² · 10⁶ ≤ ~5e16; the pair stage keeps the
    // milli-quantized precision), a monotone integer image of signed
    // cos² — assignment cannot flip on float accumulation. k ∝ N
    // makes single-level assignment O(N·k) = O(N²/50), so routing is
    // TWO-LEVEL: fine centroids group by id-range into buckets of
    // m = 2^(bits(k) div 2) ≈ √k (derived from the centroid count
    // INSIDE the plan, integer-exact via length(bin(x)) in both
    // engines); each vector picks its best group representative
    // (k/m ≈ √k dots), then the best fine centroid within that group
    // (≤ m dots) — O(N·√k) total, with the level count itself the
    // knob at extreme N. Routing is a deterministic function of the
    // vector alone, so identical vectors make identical routing
    // decisions and co-locate (Round12bSpec asserts exact duplicates
    // always pair through the k > 64 path). At the check fixtures
    // k ≤ 64 gates m = 1: every group is one fine centroid and
    // routing IS the global argmax — single-level SemDeDup exactly.
    // Scoring runs on SKINNY (vec_id, key, score) rows with a
    // max-struct aggregate — never a row_number sort carrying the
    // vector payload, and never the 64·N·k-row posexplode join the
    // first form shipped. The pair-stage cosine test uses
    // milli-quantized integers with a SQUARED threshold (num ≥ 0 ∧
    // num² ≥ τ²·‖a‖²·‖b‖²): every operand an exact int64 (‖q‖² ≤
    // 2.3e7, products ≤ 5.3e14), so membership cannot flip on float
    // accumulation; the reported cosine is the only float and is
    // rounded.
    "llm_dedup_semantic" -> ((s, d) => {
      val qarr = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          expr("transform(embedding, x -> coalesce(cast(floor(cast(x as double) * 1000 + 0.5) as bigint), 0L))")
            .as("qa"),
          expr("transform(embedding, x -> coalesce(cast(floor(cast(x as double) * 100 + 0.5) as bigint), 0L))")
            .as("qb"))
        .withColumn("n2", expr("graft_long_dot(qa, qa)"))
        .withColumn("nb2", expr("graft_long_dot(qb, qb)"))
        .localCheckpoint()
      val cents = qarr.filter(col("vec_id") % 50 === 0)
        .select(expr("vec_id div 50").as("c"), col("qb").as("qbc"),
                col("nb2").as("nbc2"))
      val km = cents.agg(count(lit(1)).as("k"))
        .select(expr(
          "if(k <= 64, 1L, shiftleft(1L, cast(length(bin(k)) as int) div 2))")
          .as("m"))
      val grp = cents.crossJoin(broadcast(km))
        .select(expr("c div m").as("g"), col("c"), col("qbc"), col("nbc2"))
      // Group representative = the group's least centroid id; its
      // vector attaches by one k-row self-join (k = N/50 rows — never
      // a window over the corpus).
      val supers = grp.groupBy("g").agg(min("c").as("c"))
        .join(grp.select("c", "qbc", "nbc2"), Seq("c"))
        .select(col("g"), col("qbc").as("sqb"), col("nbc2").as("snb2"))
      val route = qarr.join(broadcast(supers))
        .select(col("vec_id"), col("g"),
                expr("graft_long_dot(qb, sqb)").as("dt"), col("snb2"))
        .select(col("vec_id"), col("g"), expr(
          """CASE WHEN dt >= 0 THEN (dt * dt * 1000000L) div greatest(snb2, 1L)
                  ELSE -((dt * dt * 1000000L) div greatest(snb2, 1L)) END""")
          .as("sc"))
        .groupBy("vec_id")
        .agg(max(struct(col("sc"), (-col("g")).as("ng"))).as("m1"))
        .select(col("vec_id"), (-col("m1.ng")).as("g"))
      // Level 2 is an equi-join on the group key (≤ m centroids per
      // group) — at scale neither side broadcasts and the join
      // shuffles on g; at fixture scale the planner broadcasts the
      // tiny centroid side.
      val assign = qarr.join(route, Seq("vec_id"))
        .join(grp.select("g", "c", "qbc", "nbc2"), Seq("g"))
        .select(col("vec_id"), col("c"),
                expr("graft_long_dot(qb, qbc)").as("dt"), col("nbc2"))
        .select(col("vec_id"), col("c"), expr(
          """CASE WHEN dt >= 0 THEN (dt * dt * 1000000L) div greatest(nbc2, 1L)
                  ELSE -((dt * dt * 1000000L) div greatest(nbc2, 1L)) END""")
          .as("sc"))
        .groupBy("vec_id")
        .agg(max(struct(col("sc"), (-col("c")).as("nc"))).as("m2"))
        .select(col("vec_id"), (-col("m2.nc")).as("c"))
      // Cell-size cap (the hub defense of the routing stage): the
      // two-level route is an untrained hierarchy, and on decorrelated
      // vectors its level-1 argmax is an extreme-value selection — the
      // winning group's REPRESENTATIVE then beats its arbitrary
      // id-range siblings at level 2, so routing piles ~N/|groups|
      // vectors onto each representative's cell (measured: 300× iid
      // probe, max cell 1 855 ≈ 37× target, Σ|c|² = 4.2e8 — quadratic
      // again). Rather than trust any untrained routing to balance,
      // the plan BOUNDS the damage in-plan: each cell larger than 2×
      // target gets a sign-LSH sub-key with per-cell plane count
      // np_c = bits((|c|−1) div 50) (SignLsh hash hyperplanes — the
      // engine's honest LSH), splitting it to ~50-vector sub-cells;
      // cells at target size take np_c = 0 and are untouched, so the
      // fixture path (all cells ≤ 100) is byte-identical with and
      // without the cap. Within an oversized cell the sub-split
      // trades bounded recall (same-sub probability (1−θ/π)^np_c for
      // a pair at angle θ) for bounded cost — the alternative is the
      // |c|²-pair stage the blocking exists to avoid; identical
      // vectors share every sub-key by determinism, so exact-dup
      // recall stays 1. The size lookup is a k-row aggregate joined
      // back on c — at scale a uniform-key shuffle join (hot cells
      // are exactly what AQE skew-splits), at fixture scale a
      // broadcast.
      val sizes = assign.groupBy("c").agg(count(lit(1)).as("cn"))
        .select(col("c"), expr(
          "if(cn <= 100, 0, cast(length(bin((cn - 1) div 50)) as int))")
          .as("np_c"))
      val side = qarr.select("vec_id", "embedding", "qa", "n2")
        .join(assign, Seq("vec_id"))
        .join(sizes, Seq("c"))
        .withColumn("sub", graft.functions.SignLsh.bucketCol(s, "np_c"))
        .select("vec_id", "qa", "n2", "c", "sub")
        .localCheckpoint()
      // Salted pair join (round-6 advice): keyed on (c, sub) alone the
      // pair stage gets one shuffle task per populated cell, and the
      // hot cells (the capped-but-still-2×-target ones) dominate their
      // task's runtime — k = N/50 centroid cells at scale, but the
      // skew, not the key count, is what salting fixes. The right side
      // maps each row to one (c, salt) via pmod(vec_id, 8); the left
      // side replicates over all 8 salts — each (x, y) pair meets
      // exactly once, and each cell's pair work splits across 8 tasks.
      // At corpus scale the salt width is a knob.
      val saltN = 8
      val sideY = side
        .withColumn("salt", pmod(col("vec_id"), lit(saltN)).cast("int"))
      val sideX = side
        .withColumn("salt",
          explode(array((0 until saltN).map(i => lit(i)): _*)))
      sideX.as("x").join(sideY.as("y"),
          col("x.c") === col("y.c") &&
          col("x.sub") === col("y.sub") &&
          col("x.salt") === col("y.salt") &&
          col("x.vec_id") < col("y.vec_id"))
        // Codegen'd fused integer dot product (functions/
        // LongDotProduct.scala) — the HOF zip_with/aggregate form
        // allocates an intermediate array per pair; over Σ|c|² pairs
        // that allocation dominates the stage.
        .withColumn("num", expr("graft_long_dot(x.qa, y.qa)"))
        .filter(col("num") > 0 &&
                col("num") * col("num") >=
                  // τ = 0.35: the fixture embeddings are random (max
                  // observed cosine ≈ 0.48), so the declared threshold
                  // sits in the distribution tail; real semantic dedup
                  // runs the same plan at τ ≈ 0.95 — τ is a knob, the
                  // integer-exact comparison is the mechanism.
                  lit(0.1225) * col("x.n2") * col("y.n2"))
        .select(col("x.c").as("c"), col("x.vec_id").as("a_id"),
                col("y.vec_id").as("b_id"),
                (round(col("num") / sqrt(col("x.n2") * col("y.n2")), 4)
                   + 0.0).as("cos"))
        .orderBy("a_id", "b_id")
    }),

    // Last-touch revenue attribution: each purchase credits the
    // user's most recent PRECEDING non-purchase event type ('direct'
    // when none) — the standard marketing attribution op. One
    // user-partitioned window (uniform key) with an explicit
    // (unbounded, -1) frame and IGNORE NULLS last(); the credit
    // aggregate runs over 5-ish attributed types.
    "events_attribution_last_touch" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("prev_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
               ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("attributed", coalesce(col("prev_touch"), lit("direct")))
        .groupBy("attributed")
        .agg(count(lit(1)).as("n_purchases"),
             round(sum(col("value").cast("decimal(30,10)")), 2)
               .cast("double").as("revenue"))
        .orderBy("attributed")
    }),

    // Quantity-weighted average price per return flag in integer
    // CENTS (price is 2-dec money, quantity integer-valued): the
    // weighted sum Σ(cents·q) is an exact bigint (≤ 3e14), one double
    // division at the end — no float accumulation order anywhere.
    "agg_weighted_avg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
                col("l_quantity").cast("long").as("q"),
                expr("cast(round(l_extendedprice * 100) as bigint)")
                  .as("cents"))
        .groupBy("l_returnflag")
        .agg(sum("q").as("total_qty"),
             sum(col("cents") * col("q")).as("wsum_cents"))
        .select(col("l_returnflag"), col("total_qty"),
                (round(col("wsum_cents") / col("total_qty") / 100.0, 2)
                   + 0.0).as("weighted_avg_price"))
        .orderBy("l_returnflag")),

    // Nested-JSON roundtrip: per-customer order documents (struct
    // with an ORDER-SORTED array of order structs) written as JSON
    // lines, read back with an EXPLICIT schema (inference is a scan
    // you don't pay twice at 100 TB), re-flattened and re-aggregated
    // to prove lossless nesting. Money rides as integer cents — JSON
    // float round-trips are not bit-stable, integers are.
    "source_json_nested" -> ((s, d) => {
      val out = Sinks.sinkPath(s, "json_nested", d)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
                expr("cast(round(o_totalprice * 100) as bigint)")
                  .as("cents"))
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(struct(col("o_orderkey"),
                                            col("cents")))).as("orders"))
        .write.mode("overwrite").json(out)
      s.read.schema(
          "o_custkey long, orders array<struct<o_orderkey:long,cents:long>>")
        .json(out)
        .select(col("o_custkey"), explode(col("orders")).as("o"))
        .agg(countDistinct("o_custkey").as("n_custs"),
             count(lit(1)).as("n_orders"),
             sum(col("o.cents")).as("total_cents"))
    }),

    // Calendar-spine gap filling: generate the COMPLETE day spine
    // between the corpus min/max dates (a 1-row aggregate exploded —
    // never a driver-side loop) and left-join daily purchase counts so
    // zero-activity days appear as explicit zeros — the dimension-
    // spine op every reporting layer needs (a missing day in a
    // time-series silently skews every moving average downstream).
    "events_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(expr("unix_date(to_date(ts))").as("day_idx"),
                col("value"))
      val daily = ev.groupBy("day_idx")
        .agg(count(lit(1)).as("n_purchases"),
             round(sum(col("value").cast("decimal(30,10)")), 2)
               .cast("double").as("revenue"))
      val spine = Tables.events(s, d)
        .agg(expr("min(unix_date(to_date(ts)))").as("d0"),
             expr("max(unix_date(to_date(ts)))").as("d1"))
        .select(explode(expr("sequence(d0, d1)")).as("day_idx"))
      spine.join(daily, Seq("day_idx"), "left_outer")
        .select(col("day_idx").cast("long").as("day_idx"),
                coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
                coalesce(col("revenue"), lit(0.0)).as("revenue"))
        .orderBy("day_idx")
    }),

    // Cumulative unique users by day (growth accounting): each user
    // counts once on their FIRST day — per-user min-aggregate, then a
    // running sum over the |days|-row aggregate. The naive form
    // (count distinct over an expanding window) rescans the corpus
    // per day; this form is one uniform-key aggregate + a tiny window.
    "events_cumulative_users" -> ((s, d) => {
      val firstDay = Tables.events(s, d)
        .groupBy("user_id")
        .agg(expr("min(unix_date(to_date(ts)))").as("day_idx"))
      firstDay.groupBy("day_idx")
        .agg(count(lit(1)).as("n_new_users"))
        .withColumn("cum_users",
          sum("n_new_users").over(Window.orderBy("day_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("day_idx").cast("long").as("day_idx"),
                col("n_new_users"), col("cum_users"))
        .orderBy("day_idx")
    }),

    // Higher-order array predicates — exists / forall / filter /
    // array_position / array_remove over token arrays (the HOF
    // surface §2.8 lacked; aggregate/transform are covered by
    // arr_funcs and the quantized-vector keys). Row-local, codegen'd,
    // no UDF. Parity note: Spark array_position returns 0 when
    // absent, DuckDB list_position NULL — the oracle coalesces.
    "arr_hof_funcs" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"),
                size(col("ts")).cast("long").as("n_tokens"),
                size(expr("filter(ts, t -> length(t) > 6)")).cast("long")
                  .as("n_long_tokens"),
                expr("exists(ts, t -> t = 'the')").as("has_the"),
                expr("forall(ts, t -> length(t) < 20)").as("all_short"),
                expr("array_position(ts, 'the')").cast("long")
                  .as("first_the_pos"),
                size(expr("array_remove(ts, 'the')")).cast("long")
                  .as("n_without_the"))
        .orderBy("doc_id")),

    // End-to-end curation funnel in ONE DAG — the composition proof
    // that the pipeline stages (exact dedup → lang-ID agreement →
    // quality floor) chain without materialization boundaries: per
    // lang, survivors at each stage. Stage predicates are flags, not
    // filters, so one pass over the corpus feeds all four counts
    // (n_raw / n_dedup / n_langid / n_quality); the dedup election is
    // the rank-per-content-hash pattern (uniform md5 shuffle key);
    // lang-ID reuses the production scorer verbatim.
    "llm_curation_pipeline" -> ((s, d) => {
      val pred = LlmScale.queries("llm_lang_id")(s, d)
        .select(col("doc_id"), col("is_match"))
      val staged = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
                md5(col("text").cast("binary")).as("h"),
                split(col("text"), " ").as("ts"))
        .withColumn("keep_dedup", row_number().over(
          Window.partitionBy("h").orderBy("doc_id")) === 1)
        .join(pred, Seq("doc_id"))
        .withColumn("keep_lang", col("keep_dedup") && col("is_match"))
        .withColumn("keep_quality",
          col("keep_lang") && size(col("ts")) >= 30 &&
          size(array_distinct(col("ts"))) >=
            lit(0.35) * size(col("ts")))
      staged.groupBy("lang")
        .agg(count(lit(1)).as("n_raw"),
             sum(when(col("keep_dedup"), 1L).otherwise(0L)).as("n_dedup"),
             sum(when(col("keep_lang"), 1L).otherwise(0L)).as("n_langid"),
             sum(when(col("keep_quality"), 1L).otherwise(0L))
               .as("n_quality"))
        .withColumn("yield_ratio",
          round(col("n_quality") / col("n_raw"), 4) + 0.0)
        .orderBy("lang")
    }),

    // Malformed-input tolerance: a JSON feed where every doc_id ≡ 7
    // (mod 10) line is deterministically truncated mid-string, read
    // back in PERMISSIVE mode with an explicit _corrupt_record column
    // — the ingest posture for 100 TB of real-world JSON, where a
    // FAILFAST scan dies on the first bad line and silent DROPMALFORMED
    // hides data loss. The aggregate audits the quarantine: corrupt
    // lines are counted, clean rows keep exact stats.
    "source_json_corrupt_tolerant" -> ((s, d) => {
      val out = Sinks.sinkPath(s, "json_corrupt", d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("line",
          when(col("doc_id") % 10 === 7,
               concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
                      lit(", \"lang\": \"")))
            .otherwise(to_json(struct(col("doc_id"), col("lang"),
                                      col("n_chars")))))
        .select("line")
        .write.mode("overwrite").text(out)
      s.read
        .schema("doc_id long, lang string, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .agg(count(lit(1)).as("n_lines"),
             sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
               .as("n_corrupt"),
             sum(when(col("_corrupt_record").isNull, col("n_chars")))
               .as("sum_chars_good"))
    }),

    // The custom TopKPerGroup whole-operator plan node reused on a
    // SECOND table with a COMPOSITE group key — top-3 longest docs
    // per (lang, source): proves the operator generalizes beyond its
    // original declaration (bounded per-partition heaps, survivors-
    // only exchange, never a full-group sort — see plans/TopKPerGroup
    // .scala). The rank window runs over ≤ 3·|groups| survivors.
    "win_topk_native_docs" -> ((s, d) => {
      val top = graft.plans.TopKPerGroup(
        Tables.documents(s, d)
          .select(col("lang"), col("source"), col("doc_id"),
                  col("n_chars")),
        groupCols = Seq("lang", "source"),
        orderCols = Seq(("n_chars", true), ("doc_id", false)),
        k = 3)
      val w = Window.partitionBy("lang", "source")
        .orderBy(desc("n_chars"), asc("doc_id"))
      top.withColumn("rnk", row_number().over(w).cast("long"))
        .orderBy("lang", "source", "rnk")
    }),

    // Gini coefficient of per-document token mass within each source
    // — the inequality profile behind mixture rebalancing (a source
    // where 1% of docs hold 90% of tokens needs different sampling
    // than a uniform one). Rank window partitions by source (uniform
    // key); G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) over integer sums only.
    "llm_tokens_per_source_gini" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
                size(split(col("text"), " ")).cast("long").as("x"))
        .withColumn("i", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("x").asc, col("doc_id").asc)).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("x").as("total_tokens"),
             sum(col("i") * col("x")).as("ix"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
                (round((lit(2.0) * col("ix") -
                        (col("n_docs") + 1) * col("total_tokens")) /
                       (col("n_docs") * col("total_tokens")), 4) + 0.0)
                  .as("gini"))
        .orderBy("source"))
  )

  def oracles: Map[String, String] = Map(
    "llm_dedup_semantic" ->
      s"""WITH qv AS (
           SELECT vec_id, embedding,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                              AS BIGINT)) AS qa
           FROM embeddings
         ),
         qn AS (
           SELECT vec_id, embedding, qa,
                  CAST(list_sum(list_transform(qa, x -> x * x))
                       AS BIGINT) AS n2
           FROM qv
         ),
         qb AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5)
                              AS BIGINT)) AS qb
           FROM embeddings
         ),
         qbn AS (
           SELECT vec_id, qb,
                  CAST(list_sum(list_transform(qb, x -> x * x))
                       AS BIGINT) AS nb2
           FROM qb
         ),
         cent AS (
           SELECT vec_id // 50 AS c, qb AS qbc, nb2 AS nbc2
           FROM qbn WHERE vec_id % 50 = 0
         ),
         km AS (
           SELECT CASE WHEN count(*) <= 64 THEN CAST(1 AS BIGINT)
                       ELSE (CAST(1 AS BIGINT)
                             << (length(bin(count(*))) // 2)) END AS m
           FROM cent
         ),
         grp AS (
           SELECT c // m AS g, c, qbc, nbc2 FROM cent, km
         ),
         sup AS (
           SELECT s.g, t.qbc AS sqb, t.nbc2 AS snb2
           FROM (SELECT g, min(c) AS c FROM grp GROUP BY g) s
           JOIN grp t USING (c)
         ),
         l1 AS (
           SELECT vec_id, g,
                  CASE WHEN dt >= 0
                       THEN (dt * dt * 1000000) // greatest(snb2, 1)
                       ELSE -((dt * dt * 1000000) // greatest(snb2, 1))
                  END AS sc
           FROM (
             SELECT q.vec_id, s.g, s.snb2,
                    CAST(list_sum(list_transform(
                          range(1, len(q.qb) + 1),
                          i -> q.qb[i] * s.sqb[i])) AS BIGINT) AS dt
             FROM qbn q CROSS JOIN sup s)
         ),
         route AS (
           SELECT vec_id, g FROM (
             SELECT vec_id, g, row_number() OVER
                      (PARTITION BY vec_id ORDER BY sc DESC, g ASC) AS rk
             FROM l1) WHERE rk = 1
         ),
         l2 AS (
           SELECT vec_id, c,
                  CASE WHEN dt >= 0
                       THEN (dt * dt * 1000000) // greatest(nbc2, 1)
                       ELSE -((dt * dt * 1000000) // greatest(nbc2, 1))
                  END AS sc
           FROM (
             SELECT q.vec_id, t.c, t.nbc2,
                    CAST(list_sum(list_transform(
                          range(1, len(q.qb) + 1),
                          i -> q.qb[i] * t.qbc[i])) AS BIGINT) AS dt
             FROM qbn q JOIN route USING (vec_id) JOIN grp t USING (g))
         ),
         assign AS (
           SELECT vec_id, c FROM (
             SELECT vec_id, c, row_number() OVER
                      (PARTITION BY vec_id ORDER BY sc DESC, c ASC) AS rk
             FROM l2) WHERE rk = 1
         ),
         snp AS (
           SELECT c, CASE WHEN count(*) <= 100 THEN 0
                          ELSE length(bin((count(*) - 1) // 50)) END AS np_c
           FROM assign GROUP BY c
         ),
         side AS (
           SELECT qn.vec_id, qn.qa, qn.n2, assign.c,
                  coalesce(${graft.functions.SignLsh.duckBucketSql("np_c")},
                           0) AS sub
           FROM qn JOIN assign USING (vec_id) JOIN snp USING (c)
         ),
         pairs AS (
           SELECT x.c, x.vec_id AS a_id, y.vec_id AS b_id,
                  CAST(list_sum(list_transform(range(1, len(x.qa) + 1),
                         i -> x.qa[i] * y.qa[i])) AS BIGINT) AS num,
                  x.n2 AS na2, y.n2 AS nb2
           FROM side x JOIN side y
             ON x.c = y.c AND x.sub = y.sub AND x.vec_id < y.vec_id
         )
         SELECT c, a_id, b_id,
                round(num / sqrt(CAST(na2 * nb2 AS DOUBLE)), 4) + 0.0
                  AS cos
         FROM pairs
         WHERE num > 0 AND num * num >= 0.1225 * na2 * nb2
         ORDER BY a_id, b_id""",

    "events_attribution_last_touch" ->
      """WITH t AS (
           SELECT event_type, value,
                  last_value(CASE WHEN event_type <> 'purchase'
                                  THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id
                          ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_touch
           FROM events
         )
         SELECT coalesce(prev_touch, 'direct') AS attributed,
                count(*) AS n_purchases,
                round(sum(value), 2) AS revenue
         FROM t WHERE event_type = 'purchase'
         GROUP BY attributed ORDER BY attributed""",

    "agg_weighted_avg" ->
      """WITH c AS (
           SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem
         )
         SELECT l_returnflag,
                CAST(sum(q) AS BIGINT) AS total_qty,
                round(CAST(sum(cents * q) AS BIGINT) /
                      CAST(sum(q) AS BIGINT) / 100.0, 2) + 0.0
                  AS weighted_avg_price
         FROM c GROUP BY l_returnflag ORDER BY l_returnflag""",

    "source_json_nested" ->
      """SELECT count(DISTINCT o_custkey) AS n_custs,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS total_cents
         FROM orders""",

    "events_gap_fill" ->
      """WITH ev AS (
           SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS day_idx,
                  event_type, value
           FROM events
         ),
         daily AS (
           SELECT day_idx, count(*) AS n_purchases,
                  round(sum(value), 2) AS revenue
           FROM ev WHERE event_type = 'purchase' GROUP BY day_idx
         ),
         spine AS (
           SELECT unnest(generate_series((SELECT min(day_idx) FROM ev),
                                         (SELECT max(day_idx) FROM ev)))
                    AS day_idx
         )
         SELECT CAST(spine.day_idx AS BIGINT) AS day_idx,
                coalesce(n_purchases, 0) AS n_purchases,
                coalesce(revenue, 0.0) AS revenue
         FROM spine LEFT JOIN daily USING (day_idx)
         ORDER BY day_idx""",

    "events_cumulative_users" ->
      """WITH f AS (
           SELECT user_id,
                  min(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE))) AS day_idx
           FROM events GROUP BY user_id
         ),
         daily AS (
           SELECT day_idx, count(*) AS n_new_users FROM f GROUP BY day_idx
         )
         SELECT CAST(day_idx AS BIGINT) AS day_idx, n_new_users,
                CAST(sum(n_new_users) OVER (ORDER BY day_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_users
         FROM daily ORDER BY day_idx""",

    "arr_hof_funcs" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         )
         SELECT doc_id,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(ts, t -> length(t) > 6)) AS BIGINT)
                  AS n_long_tokens,
                len(list_filter(ts, t -> t = 'the')) > 0 AS has_the,
                len(list_filter(ts, t -> length(t) < 20)) = len(ts)
                  AS all_short,
                CAST(coalesce(list_position(ts, 'the'), 0) AS BIGINT)
                  AS first_the_pos,
                CAST(len(list_filter(ts, t -> t <> 'the')) AS BIGINT)
                  AS n_without_the
         FROM t ORDER BY doc_id""",

    "llm_curation_pipeline" ->
      s"""WITH pred AS (${LlmScale.oracles("llm_lang_id")}),
         staged AS (
           SELECT d.doc_id, d.lang,
                  row_number() OVER (PARTITION BY md5(d.text)
                                     ORDER BY d.doc_id) = 1 AS keep_dedup,
                  len(string_split(d.text, ' ')) AS nt,
                  len(list_distinct(string_split(d.text, ' '))) AS nd,
                  p.is_match
           FROM documents d JOIN pred p USING (doc_id)
         )
         SELECT lang, count(*) AS n_raw,
                CAST(sum(CASE WHEN keep_dedup THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_dedup,
                CAST(sum(CASE WHEN keep_dedup AND is_match
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_langid,
                CAST(sum(CASE WHEN keep_dedup AND is_match
                                   AND nt >= 30 AND nd >= 0.35 * nt
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                round(sum(CASE WHEN keep_dedup AND is_match
                                    AND nt >= 30 AND nd >= 0.35 * nt
                               THEN 1 ELSE 0 END) / count(*), 4) + 0.0
                  AS yield_ratio
         FROM staged GROUP BY lang ORDER BY lang""",

    // The oracle derives the quarantine split semantically: corruption
    // is a deterministic function of doc_id, so DuckDB never needs to
    // see the malformed bytes.
    "source_json_corrupt_tolerant" ->
      """SELECT count(*) AS n_lines,
                CAST(sum(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_corrupt,
                CAST(sum(CASE WHEN doc_id % 10 <> 7 THEN n_chars END)
                     AS BIGINT) AS sum_chars_good
         FROM documents""",

    "win_topk_native_docs" ->
      """SELECT lang, source, doc_id, n_chars,
                row_number() OVER (PARTITION BY lang, source
                                   ORDER BY n_chars DESC, doc_id) AS rnk
         FROM documents
         QUALIFY rnk <= 3
         ORDER BY lang, source, rnk""",

    "llm_tokens_per_source_gini" ->
      """WITH x AS (
           SELECT source, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS x
           FROM documents
         ),
         r AS (
           SELECT source, x,
                  CAST(row_number() OVER
                    (PARTITION BY source ORDER BY x ASC, doc_id ASC)
                    AS BIGINT) AS i
           FROM x
         )
         SELECT source, count(*) AS n_docs,
                CAST(sum(x) AS BIGINT) AS total_tokens,
                round((2.0 * CAST(sum(i * x) AS BIGINT) -
                       (count(*) + 1) * CAST(sum(x) AS BIGINT)) /
                      (count(*) * CAST(sum(x) AS BIGINT)), 4) + 0.0
                  AS gini
         FROM r GROUP BY source ORDER BY source"""
  )
}
