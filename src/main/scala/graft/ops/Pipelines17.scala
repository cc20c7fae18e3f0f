package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 second batch — SURVEY.md §2.11s: operator-surface closure
  * items a reference user would reach for next — argmin/argmax
  * aggregates, IN / NOT IN subqueries (null-aware anti-join form),
  * value-range window frames, CROSS JOIN dense grids with zero-fill,
  * LIMIT/OFFSET pagination — plus the LSH candidate-graph degree
  * histogram, the dedup-family audit that exposes hub documents
  * (template spam) before they quadratically dominate a 100 TB
  * bucket. SURVEY §2.0 determinism rules apply throughout.
  */
object Pipelines17 extends Module {

  def queries: Map[String, Q] = Map(
    // max_by / min_by (argmax/argmin) per segment. The comparison key
    // is made UNIQUE by construction — cents·10⁷ + custkey, strictly
    // monotone in (cents, custkey) since custkey < 10⁷ — because both
    // engines break argmax ties arbitrarily; determinism must come
    // from the data, not the engine.
    "agg_arg_extremes" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_name"),
                (expr("cast(round(c_acctbal * 100) as bigint)") *
                   lit(10000000L) + col("c_custkey")).as("ak"))
        .groupBy("c_mktsegment")
        .agg(max_by(col("c_name"), col("ak")).as("richest"),
             min_by(col("c_name"), col("ak")).as("poorest"),
             count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // IN (subquery): lineitems whose part is oversized — planned as a
    // left-semi join; the subquery side is a filtered dim that rides
    // broadcast. Declares the IN-subquery surface distinctly from
    // EXISTS (exists_subquery) and JOIN-semi (join_semi).
    "in_subquery_parts" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_in")
      Tables.part(s, d).createOrReplaceTempView("graft_p_in")
      s.sql("""SELECT l_returnflag, count(*) AS n_items,
                      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                        AS sum_qty
               FROM graft_li_in
               WHERE l_partkey IN
                     (SELECT p_partkey FROM graft_p_in WHERE p_size >= 45)
               GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // NOT IN (subquery): parts with no returned ('R') shipment in the
    // final fixture year — the null-aware anti-join (~29% of parts
    // qualify at every SF: the lineitem-per-part ratio is
    // SF-invariant). Keys are non-null on both sides (primary/foreign
    // keys), so the null-aware plan degrades to a plain anti-join;
    // the semantics declared are still NOT IN's (one NULL in the
    // subquery would empty the result, which is why production
    // pipelines guard the subquery with IS NOT NULL).
    "not_in_subquery_idle" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("graft_p_ni")
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_ni")
      s.sql("""SELECT p_brand, count(*) AS n_unreturned_parts
               FROM graft_p_ni
               WHERE p_partkey NOT IN
                     (SELECT l_partkey FROM graft_li_ni
                      WHERE year(l_shipdate) = 2001
                        AND l_returnflag = 'R')
               GROUP BY p_brand ORDER BY p_brand""")
    }),

    // Value-range window frame (RANGE BETWEEN n PRECEDING on a
    // NON-TIME axis): for each order, how many orders of the same
    // priority fall within 5000.00 below its price, and their total.
    // The range key is integer cents — a float range boundary can
    // include/exclude a row per-engine; integer bounds cannot. RANGE
    // includes peers (ties) by definition in both engines. Partitions
    // on priority (bounded enum) with an in-partition sort — the same
    // cost any windowed percentile pays; the frame itself adds no
    // shuffle.
    "win_range_value_frame" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_o_vrf")
      s.sql("""WITH c AS (
                 SELECT o_orderkey, o_orderpriority,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM graft_o_vrf
               )
               SELECT o_orderkey, o_orderpriority, cents,
                      count(*) OVER w AS n_in_band,
                      sum(cents) OVER w AS band_cents
               FROM c
               WINDOW w AS (PARTITION BY o_orderpriority
                            ORDER BY cents
                            RANGE BETWEEN 500000 PRECEDING
                                      AND CURRENT ROW)
               ORDER BY o_orderpriority, cents, o_orderkey""")
    }),

    // CROSS JOIN dense grid with zero-fill: every (region, priority)
    // combination, including the ones with no orders — the
    // dimension-complete report shape (a plain groupBy silently drops
    // empty cells). Grid = 5×5 enum cross join (constant, broadcast);
    // facts flow orders→customer (uniform custkey shuffle) with
    // nation/region as broadcast dims.
    "join_cross_enum" -> ((s, d) => {
      val prios = Tables.orders(s, d).select("o_orderpriority").distinct()
      val grid = Tables.region(s, d).select("r_regionkey", "r_name")
        .crossJoin(prios)
      val actual = Tables.orders(s, d)
        .join(Tables.customer(s, d),
              col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_regionkey", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      grid.join(actual,
          grid("r_regionkey") === actual("n_regionkey") &&
          grid("o_orderpriority") === actual("o_orderpriority"),
          "left_outer")
        .select(col("r_name"), grid("o_orderpriority"),
                coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy("r_name", "o_orderpriority")
    }),

    // LIMIT/OFFSET pagination with a total-ordered unique sort key —
    // page 3 (rows 41..60) of orders by price. Spark plans OFFSET as
    // a global limit of offset+limit then a skip — fine for page-size
    // offsets; deep pagination at 100 TB should keyset-paginate
    // (WHERE (price, key) < last-seen) instead, which is the
    // win_rank_topk shape.
    "sort_limit_offset" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_o_page")
      s.sql("""SELECT o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM graft_o_page
               ORDER BY cents DESC, o_orderkey
               LIMIT 20 OFFSET 40""")
    }),

    // LSH candidate-graph degree histogram: how many banding partners
    // each document has (degree 0 = no candidate at all), over the
    // SAME 16-hash/4-band construction as llm_dedup_minhash_lsh /
    // llm_dedup_lsh_recall. The degree distribution is the
    // dedup-family capacity metric at 100 TB: a hub document
    // (boilerplate/template) with degree ~|B| makes its bucket's pair
    // work quadratic, and this histogram is what surfaces those hubs
    // before the pair stage pays for them.
    //
    // Computed WITHOUT materializing candidate pairs: degree(x) =
    // |∪_i A_i(x)| where A_i(x) = {y≠x : band_i(y) = band_i(x)}, and
    // by inclusion–exclusion over the 15 non-empty band subsets S,
    //   degree(x) = Σ_S (−1)^{|S|+1} · c_S(x)  −  1,
    // where c_S(x) = #docs (incl. x) agreeing with x on EVERY band in
    // S — a per-bucket COUNT, i.e. 15 bucket-count aggregates over
    // the N-row signature table. The round-9 plan materialized the 6.4 M-pair
    // banding self-join (Σ|bucket|² work — the exact quadratic blowup
    // this audit exists to warn about) just to count distinct
    // partners; the subset-count form is mathematically identical
    // (including multi-band collisions, which a naive Σ(|bucket|−1)
    // would double-count) and scales as 15 shuffles of N rows.
    "llm_lsh_degree_hist" -> ((s, d) => {
      val sig = Hashing.signature(Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(col("text"), " "))).as("tok")))
        // Materialized once (N×17 longs, round 18): the count
        // aggregate and the join-back of the degree pass both consume
        // the exploded subset stream — lazily each would re-run the
        // corpus explode+hash+16-min pipeline.
        .localCheckpoint()
      val deg = Hashing.degree(sig, Hashing.bandCols)
      // Outer join keeps a degree-0 row for a doc with no tokens at
      // all (absent from sig); every tokenized doc is already exact
      // in `deg`, including isolated ones (all c_S = 1 → degree 0).
      Tables.documents(s, d).select("doc_id")
        .join(deg, Seq("doc_id"), "left_outer")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    })
  )

  def oracles: Map[String, String] = Map(
    "agg_arg_extremes" ->
      """WITH c AS (
           SELECT c_mktsegment, c_name,
                  CAST(round(c_acctbal * 100) AS BIGINT) * 10000000
                    + c_custkey AS ak
           FROM customer
         )
         SELECT c_mktsegment,
                arg_max(c_name, ak) AS richest,
                arg_min(c_name, ak) AS poorest,
                count(*) AS n_customers
         FROM c GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "in_subquery_parts" ->
      """SELECT l_returnflag, count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_partkey IN
               (SELECT p_partkey FROM part WHERE p_size >= 45)
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "not_in_subquery_idle" ->
      """SELECT p_brand, count(*) AS n_unreturned_parts
         FROM part
         WHERE p_partkey NOT IN
               (SELECT l_partkey FROM lineitem
                WHERE year(l_shipdate) = 2001 AND l_returnflag = 'R')
         GROUP BY p_brand ORDER BY p_brand""",

    "win_range_value_frame" ->
      """WITH c AS (
           SELECT o_orderkey, o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders
         )
         SELECT o_orderkey, o_orderpriority, cents,
                count(*) OVER w AS n_in_band,
                CAST(sum(cents) OVER w AS BIGINT) AS band_cents
         FROM c
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY cents
                      RANGE BETWEEN 500000 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderpriority, cents, o_orderkey""",

    "join_cross_enum" ->
      """WITH grid AS (
           SELECT r_regionkey, r_name, o_orderpriority
           FROM region CROSS JOIN
                (SELECT DISTINCT o_orderpriority FROM orders)
         ),
         actual AS (
           SELECT n_regionkey, o_orderpriority, count(*) AS n
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2
         )
         SELECT r_name, g.o_orderpriority,
                CAST(coalesce(n, 0) AS BIGINT) AS n_orders
         FROM grid g LEFT JOIN actual a
           ON g.r_regionkey = a.n_regionkey
          AND g.o_orderpriority = a.o_orderpriority
         ORDER BY r_name, g.o_orderpriority""",

    "sort_limit_offset" ->
      """SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders
         ORDER BY cents DESC, o_orderkey
         LIMIT 20 OFFSET 40""",

    "llm_lsh_degree_hist" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                    AS tok
           FROM documents
         ),
         h AS (
           SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS hv
           FROM toks
         ),
         sig AS (
           SELECT doc_id,
                  min((hv * 100003 + 7) % 2147483647)     AS m0,
                  min((hv * 122251 + 977) % 2147483647)   AS m1,
                  min((hv * 135637 + 1847) % 2147483647)  AS m2,
                  min((hv * 161423 + 2741) % 2147483647)  AS m3,
                  min((hv * 173431 + 3581) % 2147483647)  AS m4,
                  min((hv * 188677 + 4421) % 2147483647)  AS m5,
                  min((hv * 199831 + 5281) % 2147483647)  AS m6,
                  min((hv * 224737 + 6143) % 2147483647)  AS m7,
                  min((hv * 350377 + 7001) % 2147483647)  AS m8,
                  min((hv * 411637 + 7919) % 2147483647)  AS m9,
                  min((hv * 467237 + 8887) % 2147483647)  AS m10,
                  min((hv * 524287 + 9733) % 2147483647)  AS m11,
                  min((hv * 600011 + 10657) % 2147483647) AS m12,
                  min((hv * 700001 + 11677) % 2147483647) AS m13,
                  min((hv * 800011 + 12569) % 2147483647) AS m14,
                  min((hv * 900001 + 13457) % 2147483647) AS m15
           FROM h GROUP BY doc_id
         ),
         bands AS (
           SELECT doc_id, 0 AS band_idx,
                  CAST(m0 AS VARCHAR) || '-' || CAST(m1 AS VARCHAR) || '-' ||
                  CAST(m2 AS VARCHAR) || '-' || CAST(m3 AS VARCHAR) AS band_key
           FROM sig
           UNION ALL
           SELECT doc_id, 1,
                  CAST(m4 AS VARCHAR) || '-' || CAST(m5 AS VARCHAR) || '-' ||
                  CAST(m6 AS VARCHAR) || '-' || CAST(m7 AS VARCHAR)
           FROM sig
           UNION ALL
           SELECT doc_id, 2,
                  CAST(m8 AS VARCHAR) || '-' || CAST(m9 AS VARCHAR) || '-' ||
                  CAST(m10 AS VARCHAR) || '-' || CAST(m11 AS VARCHAR)
           FROM sig
           UNION ALL
           SELECT doc_id, 3,
                  CAST(m12 AS VARCHAR) || '-' || CAST(m13 AS VARCHAR) || '-' ||
                  CAST(m14 AS VARCHAR) || '-' || CAST(m15 AS VARCHAR)
           FROM sig
         ),
         cand AS (
           SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           FROM bands x JOIN bands y
             ON x.band_idx = y.band_idx AND x.band_key = y.band_key
            AND x.doc_id < y.doc_id
         ),
         deg AS (
           SELECT doc_id, count(*) AS degree
           FROM (SELECT a_id AS doc_id FROM cand
                 UNION ALL
                 SELECT b_id FROM cand)
           GROUP BY doc_id
         )
         SELECT CAST(coalesce(degree, 0) AS BIGINT) AS degree,
                count(*) AS n_docs
         FROM documents LEFT JOIN deg USING (doc_id)
         GROUP BY 1 ORDER BY 1""")
}
