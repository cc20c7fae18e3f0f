package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 batch — SURVEY.md §2.11r: the four gaps the round-6 audit
  * named (join-driven dynamic partition pruning, AQE automatic
  * skew-join split, planner-injected runtime Bloom join pruning, and
  * tokenizer APPLY — the encode step `llm_bpe_pair_stats` only
  * measured), plus multi-distinct aggregation, multiset set ops
  * (INTERSECT ALL / EXCEPT ALL), schema-evolution reads, and four new
  * analytics keys (event-audience Jaccard, daily percent change,
  * Simpson diversity, order aging). SURVEY §2.0 determinism rules
  * apply: integer arithmetic until one final rounded division, no
  * nullable doubles in any output, every key ends in an ORDER BY.
  *
  * The three runtime-optimizer demos (`scan_dpp_join`,
  * `join_skew_aqe`, `join_bloom_runtime`) run on an isolated
  * `newSession()` so their conf toggles (thresholds lowered to make
  * the fixture-scale optimizer fire the way a 100 TB plan would by
  * default) cannot leak into sibling keys sharing the driver session.
  * Their RESULTS are oracle-checked like any key; the optimizer
  * behavior itself is asserted on the physical plan in Round7Spec.
  */
object Pipelines16 extends Module {

  def queries: Map[String, Q] = Map(
    // Join-driven Dynamic Partition Pruning — the single biggest
    // scan-cost lever in a 100 TB star schema: the fact table is laid
    // out partitioned on ship year (its own declared sink pattern,
    // sink_partitioned_write), the dim side carries a selective
    // filter, and the join on the PARTITION column lets Spark prune
    // fact partitions at RUNTIME from the dim's broadcast values —
    // the scan reads 2 of 7 year directories without any static
    // predicate on the fact side. Round7Spec asserts the
    // `dynamicpruning` subquery is present in the scan's
    // PartitionFilters; the oracle checks the join result itself.
    "scan_dpp_join" -> ((s, d) => {
      val out = Sinks.sinkPath(s, "lineitem_by_shipyr", d)
      Tables.lineitem(s, d)
        .select(col("l_quantity"),
                year(col("l_shipdate")).as("ship_yr"))
        .repartition(col("ship_yr")) // one file per year, not tasks×years
        .write.mode("overwrite").partitionBy("ship_yr").parquet(out)
      val dim = Tables.orders(s, d)
        .filter(year(col("o_orderdate")) <= 1996)
        .select(year(col("o_orderdate")).as("yr"))
        .distinct()
      s.read.parquet(out)
        .join(dim, col("ship_yr") === col("yr"))
        .groupBy("ship_yr")
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(col("ship_yr").cast("long").as("ship_yr"),
                col("n_items"), col("sum_qty"))
        .orderBy("ship_yr")
    }),

    // AQE automatic skew-join split — what a user actually relies on
    // at scale when a manual salt (join_skew_salted) isn't in place:
    // ~75% of fact rows share key 0, and AQE's runtime stage stats
    // split that partition into advisory-sized chunks, replicating
    // the matching dim rows. Thresholds are lowered so the fixture's
    // skew crosses them exactly as a 100 TB key would cross the
    // defaults; forceOptimizeSkewedJoin accepts the extra shuffle the
    // downstream same-key aggregate would otherwise veto. Round7Spec
    // asserts `skew=true` in the executed join; the oracle checks the
    // aggregate (split+replicate must not change it).
    "join_skew_aqe" -> ((s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
      // Advisory 4 KiB, not bytes-scale: it only needs to sit far
      // enough below the skewed partition's compressed size that the
      // split makes ≥2 chunks at sf0.001 (the spec's environment,
      // hot partition <32 KB compressed — 8 and 16 KiB advisories
      // were measured NOT to split there). A 512 B advisory
      // shattered the sf0.1 hot partition into thousands of
      // sub-splits whose per-task scheduling overhead dominated the
      // key (grew 1.5→39 s across rounds under load); 4 KiB bounds
      // it to a few hundred — the same mechanism, bounded task count.
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096")
      // Two fixture-scale accommodations, both absent at real scale:
      // (1) AQE splits a skewed reduce partition at MAP-OUTPUT-BLOCK
      // granularity — a single-file scan yields one map task, whose
      // one block is unsplittable, so the round-robin repartition
      // guarantees ≥16 map blocks (a 100 TB scan has thousands).
      // (2) OptimizeSkewedJoin only matches a join whose inputs are
      // DIRECT shuffle outputs — Sort(ShuffleStage) — so the dim
      // aggregate is materialized to parquet first; inlined, its
      // HashAggregate would sit between shuffle and join and the rule
      // would pass the plan by (at scale the dim IS a table, not an
      // inline aggregate, so this is also the realistic shape).
      // Root resolved from the PARENT session: a spark.graft.sink.root
      // set at runtime on `s` is not visible in newSession()'s conf, and
      // sibling keys (scan_dpp_join, scan_schema_evolution) write under
      // the parent-configured root — this key must land beside them.
      val dimOut = Sinks.sinkPath(s, "skew_dim", d)
      Tables.orders(s2, d)
        .groupBy(expr("CAST(o_orderkey % 97 AS BIGINT)").as("k"))
        .agg(count(lit(1)).as("n_orders"))
        .write.mode("overwrite").parquet(dimOut)
      val fact = Tables.lineitem(s2, d).select(
        expr("CAST(CASE WHEN l_orderkey % 4 <> 0 THEN 0 " +
             "ELSE l_orderkey % 97 END AS BIGINT)").as("k"),
        col("l_quantity"))
        .repartition(16)
      fact.join(s2.read.parquet(dimOut), Seq("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_quantity").cast("long")).as("sum_qty"),
             max("n_orders").as("n_orders"))
        .orderBy("k")
    }),

    // Planner-injected runtime Bloom-filter join pruning — the
    // built-in counterpart of the hand-built audited screen
    // (join_bloom_screen): a selective dim filter makes Spark build a
    // Bloom filter over the dim's join keys and push
    // `bloom_filter_might_contain` into the fact scan, cutting
    // shuffle volume before the join. The application-side size
    // threshold is zeroed because the fixture fact scan is far below
    // the 10 GB default — the exact scan size past which the
    // optimizer fires this unprompted at cluster scale. Round7Spec
    // asserts the injected filter; the oracle checks the join result.
    "join_bloom_runtime" -> ((s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      val dim = Tables.orders(s2, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
                col("o_totalprice") > 150000.0)
        .select("o_orderkey")
      Tables.lineitem(s2, d)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Tokenizer APPLY — the encode step every training pipeline runs
    // corpus-wide (llm_bpe_pair_stats only measured merge statistics).
    // Deterministic greedy scheme: a 256-entry word vocabulary ranked
    // (freq desc, word asc). The top-256 cut is a sort-LIMIT — planned
    // as TakeOrderedAndProject, a per-partition bounded heap + driver
    // merge — so no task ever sorts the full distinct-word set (the
    // previous global-window-then-filter shape did, and was both the
    // single-task stall under driver-box contention and a real
    // bottleneck at billion-word vocabularies); the id-assignment
    // window then runs over exactly 256 rows. The vocab rides as a
    // broadcast; each word encodes to 1 token if in-vocab, else falls
    // back to its characters (the longest-match degenerate case that
    // both engines can state exactly). Per-doc output: word / token /
    // OOV counts and the in-vocab id checksum — all integers.
    "llm_bpe_encode" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("doc_id"),
                explode(split(lower(col("text")), " ")).as("w"))
      val vocab = words.groupBy("w").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("w")).limit(256)
        .withColumn("id", row_number()
          .over(Window.orderBy(desc("freq"), asc("w"))).cast("long"))
        .select("w", "id")
      words.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
             sum(when(col("id").isNotNull, lit(1L))
                   .otherwise(length(col("w")).cast("long"))).as("n_tokens"),
             sum(when(col("id").isNull, lit(1L)).otherwise(lit(0L)))
               .as("n_oov"),
             coalesce(sum("id"), lit(0L)).as("id_sum"))
        .orderBy("doc_id")
    }),

    // Tokenizer fertility (tokens per word) by language — the
    // standard tokenizer-evaluation number, over the SAME encode
    // scheme as llm_bpe_encode so the two keys cross-check. Integer
    // sums per lang; one final rounded division.
    "llm_tokenizer_fertility" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("lang"),
                explode(split(lower(col("text")), " ")).as("w"))
      val vocab = words.groupBy("w").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("w")).limit(256) // TakeOrdered, as above
        .withColumn("id", row_number()
          .over(Window.orderBy(desc("freq"), asc("w"))).cast("long"))
        .select("w", "id")
      words.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
             sum(when(col("id").isNotNull, lit(1L))
                   .otherwise(length(col("w")).cast("long"))).as("n_tokens"))
        .select(col("lang"), col("n_words"), col("n_tokens"),
                (round(col("n_tokens") / col("n_words"), 4) + 0.0)
                  .as("fertility"))
        .orderBy("lang")
    }),

    // Pairwise audience Jaccard between event types: which behaviors
    // share users. The pair space is C(|event_type|, 2) — an enum,
    // not the corpus — and the common-user join keys on user_id
    // (uniform); the 5-row size table broadcasts. Counts are exact
    // integers; the Jaccard is the one final rounded division.
    "events_user_overlap_jaccard" -> ((s, d) => {
      // Round 18 (opt, guide §2.4): materialized once — the skinny
      // distinct (type, user) set fed the sizes aggregate AND both
      // self-join sides, so the events scan + corpus distinct ran
      // three times. Results identical.
      val tu = Tables.events(s, d)
        .select(col("event_type").as("et"), col("user_id")).distinct()
        .localCheckpoint()
      val sizes = tu.groupBy("et").agg(count(lit(1)).as("n"))
      tu.as("a").join(tu.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.et") < col("b.et"))
        .groupBy(col("a.et").as("et_a"), col("b.et").as("et_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes).as("sa"), col("et_a") === col("sa.et"))
        .join(broadcast(sizes).as("sb"), col("et_b") === col("sb.et"))
        .select(col("et_a"), col("et_b"), col("n_common"),
                col("sa.n").as("n_a"), col("sb.n").as("n_b"),
                (round(col("n_common") /
                       (col("sa.n") + col("sb.n") - col("n_common")), 4)
                   + 0.0).as("jaccard"))
        .orderBy("et_a", "et_b")
    }),

    // Daily event volume with day-over-day percent change in BASIS
    // POINTS — integer division (both engines truncate toward zero,
    // so the value is engine-exact; a 4-dp float here can flip on a
    // .xxxx5 boundary). The lag window is global but runs over the
    // DAILY AGGREGATE (|days| rows), never events. First day (no
    // predecessor) is excluded rather than emitting a nullable column.
    "win_pct_change_daily" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("unix_date(to_date(ts))").as("day_idx"))
        .agg(count(lit(1)).as("n_events"))
      daily
        .withColumn("prev", lag("n_events", 1).over(Window.orderBy("day_idx")))
        .filter(col("prev").isNotNull)
        .select(col("day_idx").cast("long").as("day_idx"), col("n_events"),
                col("prev").as("prev_events"),
                expr("((n_events - prev) * 10000) div prev")
                  .as("pct_change_bp"))
        .orderBy("day_idx")
    }),

    // Simpson diversity index of the word distribution per language:
    // Σ c·(c−1) / (N·(N−1)) — the probability two random word draws
    // coincide. Stays integer to the end (reported in ppm via integer
    // division; bounds at sf0.1: N ≈ 1e6 ⇒ numerator·1e6 ≈ 1e18 <
    // 2^63). Word counts key on (lang, word) — uniform; per-lang
    // rollup is |langs| rows. At corpora where N²·1e6 overflows
    // int64, bucket the sum (Σ over word shards, then combine) —
    // the aggregation is associative in exact integers. The divisor is
    // clamped to ≥1: a degenerate language with a single word would
    // otherwise yield NULL here but a division-by-zero error in the
    // oracle (engines disagree on x div 0) — with the clamp both sides
    // report 0 (coincide is 0 whenever n_words ≤ 1).
    "llm_doc_simpson" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_distinct_words"),
             sum("c").as("n_words"),
             sum(col("c") * (col("c") - 1)).as("coincide"))
        .select(col("lang"), col("n_distinct_words"), col("n_words"),
                expr("(coincide * 1000000) div " +
                     "greatest(n_words * (n_words - 1), 1)")
                  .as("simpson_ppm"))
        .orderBy("lang")
    }),

    // Order aging by priority: integer day ages against the corpus
    // max order date, with the mean half-up rounded in integer
    // space — ages are non-negative so (2s+n) div 2n IS half-up here.
    // Round 18 (opt, guide §2.4): the reference day was a scalar
    // aggregate over the SAME orders projection it was crossed back
    // into, and an un-materialized subtree is duplicated per consumer
    // — the orders scan ran twice. Age algebra telescopes through the
    // per-priority aggregate (Σage = n·ref − Σod, max_age = ref −
    // min_od), so ONE pass computes (n, Σod, min od, max od) per
    // priority and ref_day is a global-max window over the ≤5-row
    // aggregate (the blessed windows-over-aggregates shape). Orders
    // scans 2 → 1; values bit-identical (pure integer arithmetic).
    "orders_priority_aging" -> ((s, d) => {
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_orderpriority"),
                expr("unix_date(to_date(o_orderdate))").as("od"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             sum("od").as("sum_od"),
             min("od").as("min_od"),
             max("od").as("max_od"))
        .withColumn("ref_day", max("max_od").over(wAll))
        .select(col("o_orderpriority"), col("n_orders"),
                expr("(2 * (n_orders * ref_day - sum_od) + n_orders) " +
                     "div (2 * n_orders)").as("avg_age_days"),
                (col("ref_day") - col("min_od")).cast("long")
                  .as("max_age_days"))
        .orderBy("o_orderpriority")
    }),

    // Multiple DISTINCT aggregates in one pass — planned through
    // Spark's Expand operator (each input row fans out once per
    // distinct column set, then a single uniform-key aggregate):
    // the declarative answer to "count distinct customers AND
    // distinct order years per priority" without two self-joined
    // subqueries. Expand multiplies rows by the number of distinct
    // sets (3 here) — a constant, not a scale hazard.
    "agg_multi_distinct" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             countDistinct("o_custkey").as("n_customers"),
             countDistinct(year(col("o_orderdate"))).as("n_years"),
             countDistinct("o_orderstatus").as("n_statuses"))
        .orderBy("o_orderpriority")
    }),

    // INTERSECT ALL — multiset intersection with min-multiplicity
    // semantics (a customer with 3 urgent and 2 high orders appears
    // exactly 2×), which DISTINCT set ops (set_intersect) erase.
    // Spark plans both via a count-per-side aggregate + generate —
    // shuffle keys are the values themselves (uniform here).
    "set_intersect_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        .intersectAll(
          o.filter(col("o_orderpriority") === "2-HIGH").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // EXCEPT ALL — multiset difference (multiplicity max(a−b, 0)):
    // together with set_intersect_all this partitions the left
    // multiset exactly (|A∩B| + |A∖B| = |A|), which Round7Spec
    // asserts as the algebraic invariant.
    "set_except_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        .exceptAll(
          o.filter(col("o_orderpriority") === "2-HIGH").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // Schema-evolution read: two parquet generations of one table —
    // an old layout without o_orderpriority and a new one with it —
    // read together under mergeSchema, the missing column surfacing
    // as NULL for old files. This is the 100 TB reality of any
    // long-lived dataset (columns get added; history is not
    // rewritten). The aggregate buckets by the evolved column with
    // an explicit label for pre-evolution rows.
    "scan_schema_evolution" -> ((s, d) => {
      val out = Sinks.sinkPath(s, "orders_evo", d)
      val o = Tables.orders(s, d)
      o.filter(year(col("o_orderdate")) <= 1997)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(out + "/v1")
      o.filter(year(col("o_orderdate")) > 1997)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(out + "/v2")
      s.read.option("mergeSchema", "true").parquet(out + "/v1", out + "/v2")
        .groupBy(coalesce(col("o_orderpriority"), lit("pre-evolution"))
                   .as("priority_label"))
        .agg(count(lit(1)).as("n_orders"),
             countDistinct("o_orderkey").as("n_distinct_keys"))
        .orderBy("priority_label")
    })
  )

  def oracles: Map[String, String] = Map(
    "scan_dpp_join" ->
      """WITH dim AS (
           SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr
           FROM orders WHERE year(o_orderdate) <= 1996
         )
         SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_yr,
                count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem JOIN dim ON CAST(year(l_shipdate) AS BIGINT) = yr
         GROUP BY 1 ORDER BY 1""",

    "join_skew_aqe" ->
      """WITH f AS (
           SELECT CAST(CASE WHEN l_orderkey % 4 <> 0 THEN 0
                       ELSE l_orderkey % 97 END AS BIGINT) AS k,
                  l_quantity
           FROM lineitem
         ),
         d AS (
           SELECT CAST(o_orderkey % 97 AS BIGINT) AS k,
                  count(*) AS n_orders
           FROM orders GROUP BY 1
         )
         SELECT k, count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(max(n_orders) AS BIGINT) AS n_orders
         FROM f JOIN d USING (k)
         GROUP BY k ORDER BY k""",

    "join_bloom_runtime" ->
      """SELECT l_returnflag, count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem JOIN (
           SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
         ) ON l_orderkey = o_orderkey
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "llm_bpe_encode" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           FROM documents
         ),
         vocab AS (
           SELECT w, CAST(row_number() OVER
                    (ORDER BY count(*) DESC, w ASC) AS BIGINT) AS id
           FROM words GROUP BY w
           QUALIFY id <= 256
         )
         SELECT doc_id, count(*) AS n_words,
                CAST(sum(CASE WHEN id IS NOT NULL THEN 1
                         ELSE length(w) END) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_oov,
                CAST(coalesce(sum(id), 0) AS BIGINT) AS id_sum
         FROM words LEFT JOIN vocab USING (w)
         GROUP BY doc_id ORDER BY doc_id""",

    "llm_tokenizer_fertility" ->
      """WITH words AS (
           SELECT lang, unnest(string_split(lower(text), ' ')) AS w
           FROM documents
         ),
         vocab AS (
           SELECT w, CAST(row_number() OVER
                    (ORDER BY count(*) DESC, w ASC) AS BIGINT) AS id
           FROM words GROUP BY w
           QUALIFY id <= 256
         )
         SELECT lang, count(*) AS n_words,
                CAST(sum(CASE WHEN id IS NOT NULL THEN 1
                         ELSE length(w) END) AS BIGINT) AS n_tokens,
                round(sum(CASE WHEN id IS NOT NULL THEN 1
                          ELSE length(w) END) / count(*), 4) + 0.0
                  AS fertility
         FROM words LEFT JOIN vocab USING (w)
         GROUP BY lang ORDER BY lang""",

    "events_user_overlap_jaccard" ->
      """WITH tu AS (
           SELECT DISTINCT event_type AS et, user_id FROM events
         ),
         sizes AS (SELECT et, count(*) AS n FROM tu GROUP BY et),
         pairs AS (
           SELECT a.et AS et_a, b.et AS et_b, count(*) AS n_common
           FROM tu a JOIN tu b
             ON a.user_id = b.user_id AND a.et < b.et
           GROUP BY 1, 2
         )
         SELECT et_a, et_b, n_common,
                sa.n AS n_a, sb.n AS n_b,
                round(n_common / (sa.n + sb.n - n_common), 4) + 0.0
                  AS jaccard
         FROM pairs
         JOIN sizes sa ON et_a = sa.et
         JOIN sizes sb ON et_b = sb.et
         ORDER BY et_a, et_b""",

    "win_pct_change_daily" ->
      """WITH daily AS (
           SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS day_idx,
                  count(*) AS n_events
           FROM events GROUP BY 1
         ),
         lagged AS (
           SELECT day_idx, n_events,
                  lag(n_events, 1) OVER (ORDER BY day_idx) AS prev
           FROM daily
         )
         SELECT day_idx, n_events, CAST(prev AS BIGINT) AS prev_events,
                CAST(((n_events - prev) * 10000) // prev AS BIGINT)
                  AS pct_change_bp
         FROM lagged WHERE prev IS NOT NULL
         ORDER BY day_idx""",

    "llm_doc_simpson" ->
      """WITH c AS (
           SELECT lang, w, count(*) AS c FROM (
             SELECT lang, unnest(string_split(text, ' ')) AS w
             FROM documents)
           GROUP BY lang, w
         )
         SELECT lang, count(*) AS n_distinct_words,
                CAST(sum(c) AS BIGINT) AS n_words,
                CAST((sum(c * (c - 1)) * 1000000) //
                     greatest(sum(c) * (sum(c) - 1), 1) AS BIGINT)
                  AS simpson_ppm
         FROM c GROUP BY lang ORDER BY lang""",

    "orders_priority_aging" ->
      """WITH o AS (
           SELECT o_orderpriority,
                  date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS od
           FROM orders
         ),
         r AS (SELECT max(od) AS ref_day FROM o)
         SELECT o_orderpriority, count(*) AS n_orders,
                CAST((2 * sum(ref_day - od) + count(*)) //
                     (2 * count(*)) AS BIGINT) AS avg_age_days,
                CAST(max(ref_day - od) AS BIGINT) AS max_age_days
         FROM o, r
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "agg_multi_distinct" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                count(DISTINCT o_custkey) AS n_customers,
                count(DISTINCT year(o_orderdate)) AS n_years,
                count(DISTINCT o_orderstatus) AS n_statuses
         FROM orders
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "set_intersect_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         INTERSECT ALL
         SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
         ORDER BY o_custkey""",

    "set_except_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         EXCEPT ALL
         SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
         ORDER BY o_custkey""",

    "scan_schema_evolution" ->
      """WITH merged AS (
           SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderpriority
           FROM orders WHERE year(o_orderdate) <= 1997
           UNION ALL
           SELECT o_orderkey, o_orderpriority
           FROM orders WHERE year(o_orderdate) > 1997
         )
         SELECT coalesce(o_orderpriority, 'pre-evolution')
                  AS priority_label,
                count(*) AS n_orders,
                count(DISTINCT o_orderkey) AS n_distinct_keys
         FROM merged
         GROUP BY 1 ORDER BY 1""")
}
