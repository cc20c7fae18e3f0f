package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 second batch (SURVEY §2.11z): the MERGEABLE form of the
  * heavy-hitters sketch (accumulate → combine, the shape that scales),
  * Spark 4's built-in XML source, and a deep recursive-CTE series
  * (UnionLoop beyond toy depth).
  */
object Pipelines24 extends Module {

  def queries: Map[String, Q] = Map(
    // Mergeable heavy hitters — the rollup twin of `agg_approx_topk`
    // and the sketch-family pattern agg_hll_mergeable set: per-lang
    // approx_top_k_accumulate states (one fact pass), combined into a
    // corpus sketch WITHOUT re-reading facts (the combine consumes
    // |langs| sketch states), then estimated. At 100 TB the states
    // are what lands in a daily rollup table; re-aggregation to any
    // coarser grain merges states. Deterministic output: exact top-5
    // (sort-LIMIT) with the merged estimate audited per row.
    "agg_approx_topk_rollup" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("lang"),
                explode(split(lower(col("text")), " ")).as("w"))
      val est = words
        .groupBy("lang")
        .agg(expr("approx_top_k_accumulate(w, 4096)").as("st"))
        .agg(expr("approx_top_k_combine(st, 4096)").as("st"))
        .select(explode(expr("approx_top_k_estimate(st, 256)")).as("e"))
        .select(col("e.item").as("word"), col("e.count").as("est_cnt"))
      val top = words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("w")).limit(5)
        .withColumn("rnk", row_number()
          .over(Window.orderBy(desc("exact_cnt"), asc("w"))).cast("long"))
      top.join(broadcast(est), col("w") === col("word"), "left")
        .select(col("rnk"), col("w").as("word"), col("exact_cnt"),
                coalesce(col("est_cnt"), lit(-1L)).as("est_cnt"),
                coalesce(col("est_cnt") === col("exact_cnt"), lit(false))
                  .as("est_exact"))
        .orderBy("rnk")
    }),

    // Spark 4's built-in XML source (the last text-family format after
    // csv/json/text): write per-doc records as XML rows, read them
    // back with an explicit schema, aggregate. Only integer/enum
    // fields ride through the XML so entity-escaping conventions can't
    // create a parity surface; the oracle states the aggregate from
    // the source table, which equals the round-trip iff the written
    // layout is complete and the reader parses every row.
    "source_xml_roundtrip" -> ((s, d) => {
      val dir = Sinks.sinkPath(s, "xml_docs", d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
                length(col("text")).cast("long").as("n_chars"))
        .coalesce(4) // fixture-scale write; at 100 TB keep partition-parallel
        .write.mode("overwrite")
        .option("rootTag", "docs").option("rowTag", "doc")
        .format("xml").save(dir)
      s.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .load(dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
             max("doc_id").as("max_doc_id"))
        .orderBy("lang", "source")
    }),

    // BATCH session_window — the engine-native sessionizer API (a
    // different operator than the gaps-and-islands window algebra of
    // events_sessionize: a merging session aggregate, no row_number
    // lineage). Boundary semantics are the native ones — windows merge
    // while next_start < prev_end, so a gap of EXACTLY the 30-minute
    // duration starts a new session — and the oracle states that
    // strict rule in integer µs. Shuffle key is user_id (uniform);
    // state is per-user.
    "events_session_window_batch" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
                col("session_window.start").as("session_start"),
                col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // try_* error-safe arithmetic (Spark 3.5/4 ANSI-mode escape
    // hatches): division by zero, bigint overflow, and malformed casts
    // yield NULL instead of failing the job — the semantics a 100 TB
    // pipeline wants when one poisoned row must not kill a 6-hour run.
    // NULL outcomes are COUNTED per type (the declared output stays
    // non-null); the oracle states each failure predicate explicitly.
    //
    // FIXTURE INVARIANT (round-8 advice): the oracle's null-failure
    // predicates (k % 7 = 0, k > 7, k % 2 = 1) assume props.$.k is
    // ALWAYS present and in [0, 99] (FIXTURES.md). A null/missing k
    // would diverge (Spark's try_* of NULL is NULL-input, the oracle
    // predicates would misclassify), and a NEGATIVE odd k would split
    // badcast/sum_goodcast differently (Spark `%` keeps the dividend
    // sign, so -3 % 2 = -1 ≠ 1). If the fixture generator ever changes
    // k's domain, revisit these predicates together. The same
    // invariant (k present, non-negative) underpins the variant keys'
    // concat-based JSON assembly in Pipelines23: a null k would send
    // the whole concat → NULL row to the NULL group in Spark while the
    // oracle keeps the real event_type.
    "math_try_funcs" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
                expr("cast(get_json_object(props, '$.k') as bigint)").as("k"))
        .withColumn("d", expr("try_divide(100L, k % 7)"))
        .withColumn("m", expr("try_mod(100L, k % 5)"))
        .withColumn("o", expr("try_add(9223372036854775800L, k)"))
        .withColumn("c", expr(
          "try_cast(concat(cast(k as string), " +
          "case when k % 2 = 1 then 'x' else '' end) as bigint)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col("d").isNull, 1L).otherwise(0L)).as("n_div0"),
             sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_mod0"),
             sum(when(col("o").isNull, 1L).otherwise(0L)).as("n_overflow"),
             sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_badcast"),
             coalesce(sum("c"), lit(0L)).as("sum_goodcast"))
        .orderBy("event_type")
    }),

    // Deep recursion: a 24-month calendar generated by the recursive
    // CTE itself (24 UnionLoop iterations — real loop depth, where
    // sql_recursive_reach stops at 3), left-joined to monthly order
    // counts with zero-fill — the generate-a-calendar-dimension
    // pattern warehouses run daily. The recursion produces 24 rows
    // total; the single fact-scale operation is one uniform-key
    // month aggregate.
    "sql_recursive_series" -> ((s, d) => {
      Tables.orders(s, d)
        .select(trunc(col("o_orderdate"), "MM").as("m"))
        .groupBy("m").agg(count(lit(1)).as("n"))
        .createOrReplaceTempView("graft_monthly_orders_r8")
      s.sql(
        """WITH RECURSIVE cal(month_start, i) AS (
          |  SELECT (SELECT min(m) FROM graft_monthly_orders_r8), 1
          |  UNION ALL
          |  SELECT add_months(month_start, 1), i + 1 FROM cal WHERE i < 24
          |)
          |SELECT c.month_start, CAST(c.i AS INT) AS month_idx,
          |       coalesce(o.n, CAST(0 AS BIGINT)) AS n_orders
          |FROM cal c LEFT JOIN graft_monthly_orders_r8 o
          |  ON c.month_start = o.m
          |ORDER BY c.month_start""".stripMargin)
    })
  )

  def oracles: Map[String, String] = Map(
    "agg_approx_topk_rollup" ->
      """WITH w AS (
           SELECT unnest(string_split(lower(text), ' ')) AS word
           FROM documents
         ),
         c AS (SELECT word, count(*) AS c FROM w GROUP BY word)
         SELECT CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT)
                  AS rnk,
                word, CAST(c AS BIGINT) AS exact_cnt,
                CAST(c AS BIGINT) AS est_cnt, TRUE AS est_exact
         FROM c ORDER BY c DESC, word LIMIT 5""",

    "source_xml_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
                CAST(sum(len(text)) AS BIGINT) AS total_chars,
                CAST(max(doc_id) AS BIGINT) AS max_doc_id
         FROM documents
         GROUP BY lang, source ORDER BY lang, source""",

    "events_session_window_batch" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
         ),
         flagged AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 1800000000
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ),
         sess AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
           FROM flagged
         )
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""",

    "math_try_funcs" ->
      """WITH k AS (
           SELECT event_type,
                  CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events
         )
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_div0,
                CAST(sum(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_mod0,
                CAST(sum(CASE WHEN k > 7 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_overflow,
                CAST(sum(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_badcast,
                CAST(sum(CASE WHEN k % 2 = 0 THEN k ELSE 0 END) AS BIGINT)
                  AS sum_goodcast
         FROM k GROUP BY event_type ORDER BY event_type""",

    "sql_recursive_series" ->
      """WITH RECURSIVE base AS (
           SELECT date_trunc('month', CAST(min(o_orderdate) AS DATE))
             AS m0 FROM orders
         ),
         cal(month_start, i) AS (
           SELECT m0, 1 FROM base
           UNION ALL
           SELECT CAST(month_start + INTERVAL '1 month' AS DATE), i + 1
           FROM cal WHERE i < 24
         ),
         mo AS (
           SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
                  count(*) AS n
           FROM orders GROUP BY 1
         )
         SELECT CAST(c.month_start AS DATE) AS month_start,
                CAST(c.i AS INTEGER) AS month_idx,
                CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
         FROM cal c LEFT JOIN mo o ON c.month_start = o.m
         ORDER BY c.month_start"""
  )
}
