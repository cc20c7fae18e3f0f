package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 second batch — SURVEY.md §2.11g: batch gaps-and-islands
  * sessionization, the remaining fixture-expressible TPC-H shapes
  * (Q6/Q7/Q13/Q14), corpus quality scoring (token entropy, unigram-LM
  * cross-entropy), symmetric int8 embedding quantization, an explicit
  * salted-join skew mechanism, and exact-substring (window-hash)
  * duplicate-span detection.  Determinism rules of SURVEY §2.0 apply
  * throughout: total output order with id tiebreaks, rounded float
  * aggregates, explicit aliases, engine-mirrored expression shapes.
  */
object Pipelines5 extends Module {

  def queries: Map[String, Q] = Map(
    // Gaps-and-islands sessionization in batch: a session breaks when
    // the per-user gap exceeds 30 minutes; session ids are per-user
    // ordinals (running sum of break flags). All windows partition by
    // user_id — state and sort are per-user, the shuffle key is
    // uniform, and nothing is corpus-global, so the plan holds at any
    // event volume (contrast the streaming twin `stream_session`,
    // which gets identical semantics from session_window + watermark).
    // Timestamps are truncated to seconds FIRST on both engines: the
    // fixture stores ns, Spark reads µs, and a >30min comparison at
    // mismatched precision could disagree exactly at the boundary.
    "events_sessionize" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
                date_trunc("second", col("ts")).as("tss"))
      val wo = Window.partitionBy("user_id").orderBy(asc("tss"), asc("event_id"))
      val run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("gap",
          unix_timestamp(col("tss")) - unix_timestamp(lag("tss", 1).over(wo)))
        .withColumn("brk",
          when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
        .withColumn("session_id", sum("brk").over(run).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min("tss").as("start_ts"),
             (unix_timestamp(max("tss")) - unix_timestamp(min("tss")))
               .as("dur_s"))
        .orderBy("user_id", "session_id")
    }),

    // TPC-H Q6 shape: pure scan-side revenue — every predicate reaches
    // the parquet reader (PushedFilters on l_shipdate / l_discount /
    // l_quantity), the projection is 2 columns, and the single
    // aggregate is a map-side partial + 1-row final. The cheapest
    // possible plan for the question; at 100 TB it is IO-bound on
    // exactly the row groups the date range admits.
    "tpch_q6_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-01-01" &&
                col("l_shipdate") < "1997-01-01" &&
                col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
                col("l_quantity") < 24)
        // Decimal-cast sum (SURVEY §2.0 rule 2 hardened form): the
        // per-term double product is identical in both engines; the
        // decimal sum is exact and order-independent.
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
                         .cast("decimal(30,10)")), 2).cast("double")
               .as("revenue"))),

    // TPC-H Q7 shape (national volume): lineitem ⋈ orders is the only
    // shuffle join — supplier/customer/nation are broadcast (1k/15k/25
    // rows here; on a cluster supplier+customer stay dimension-sized
    // relative to the fact). The date filter is scan-pushed; the
    // nation pair filter runs after two 25-row broadcast maps.
    "tpch_q7_volume" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1995-01-01" &&
                col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
                "l_shipdate")
      val supN = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val custN = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
      li.join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
              col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
              col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
              col("o_custkey") === col("c_custkey"))
        .join(supN, col("s_nationkey") === col("sn_key"))
        .join(custN, col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
                 year(col("l_shipdate")).cast("long").as("l_year"))
        // Decimal-cast sum: 1200 groups × ~500 terms each lands sums
        // on .005 boundaries often enough that raw-double accumulation
        // order flips pennies (observed at sf0.01).
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
                         .cast("decimal(30,10)")), 2).cast("double")
               .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q13 shape (customer order-count distribution): the LEFT
    // join keeps orderless customers; the first aggregate groups on
    // the join key itself, so Catalyst reuses the join's hash
    // partitioning and adds NO second exchange; the distribution
    // aggregate runs over |distinct counts| rows — trivially small at
    // any scale.
    "tpch_q13_custdist" -> ((s, d) =>
      Tables.customer(s, d).select("c_custkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey",
                                         "o_orderpriority"),
              col("c_custkey") === col("o_custkey") &&
              col("o_orderpriority") =!= "5-LOW",
              "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))),

    // TPC-H Q14 shape (promo revenue share): one scan-pushed month of
    // lineitem, part broadcast, a single conditional aggregate. The
    // percentage is computed FROM the rounded sums so the ratio is
    // deterministic by construction (no float-division-of-raw-sums
    // parity risk).
    "tpch_q14_promo" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1997-03-01" &&
                col("l_shipdate") < "1997-04-01")
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
              col("l_partkey") === col("p_partkey"))
        .agg(round(sum(when(col("p_type") === "PROMO",
                            col("l_extendedprice") * (lit(1) - col("l_discount")))
                         .otherwise(0.0).cast("decimal(30,10)")), 2)
               .cast("double").as("promo_rev"),
             round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
                         .cast("decimal(30,10)")), 2).cast("double")
               .as("total_rev"))
        .select(col("promo_rev"), col("total_rev"),
                (round(col("promo_rev") * 100 / col("total_rev"), 4) + 0.0)
                  .as("promo_pct"))),

    // Per-document token entropy (a quality signal: low-entropy docs
    // are repetitive/boilerplate). Uses the identity
    // H = ln(n) − (Σ c·ln c)/n so a single (doc,tok)-count aggregate
    // feeds a single per-doc aggregate — two uniform-key shuffles,
    // both keyed by doc_id (+tok), nothing global.
    "llm_doc_entropy" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
             sum(col("c") * log(col("c"))).as("clnc"))
        .select(col("doc_id"), col("n_tokens"),
                (round(log(col("n_tokens")) - col("clnc") / col("n_tokens"), 4)
                  + 0.0).as("entropy"))
        .orderBy("doc_id")),

    // Unigram-LM cross-entropy per document (perplexity proxy — the
    // classic cheap LM-based quality filter). The LM is the corpus
    // token-frequency table: vocab-sized, aggregated once, then
    // BROADCAST into the per-token probe — at 100 TB the vocab is
    // capped (top-K tokens + an UNK bucket) and stays broadcastable;
    // the corpus itself only shuffles for the per-doc average, keyed
    // by doc_id. The corpus total rides along as a 1-row broadcast —
    // never a driver-side collect.
    "llm_perplexity_lm" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .localCheckpoint() // feeds the LM build AND the probe side once
      // Round 18 (opt, guide §2.4): the corpus total was a scalar
      // aggregate over the SAME un-materialized lm subtree the nll
      // projection reads, so the vocab aggregate over the checkpoint
      // ran twice. A global-sum window over the VOCAB-grain aggregate
      // (the llm_zipf_fit shape) derives it from the one pass.
      val lm = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .withColumn("tot", sum("c").over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val lmp = lm
        .select(col("tok"), (-log(col("c") / col("tot"))).as("nll"))
      toks.join(broadcast(lmp), Seq("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             (round(sum("nll") / count(lit(1)), 4) + 0.0).as("xent"))
        .orderBy("doc_id")
    }),

    // Symmetric int8 quantization with a per-vector scale — the
    // standard embedding-compression prep (stores ~4× fewer bytes
    // ahead of ANN indexing). Row-local arithmetic only; output is
    // exploded to scalar rows (vec_id, pos, q) per the harness's
    // array-column rule, with the reconstruction scale carried as an
    // exact integer (×1e9). Both engines evaluate the identical
    // left-associated expression floor(x/mx*127+0.5), so the floor is
    // bit-deterministic.
    "llm_embed_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .withColumn("mx",
          aggregate(transform(col("embedding"), x => abs(x.cast("double"))),
                    lit(0.0), (a, x) => greatest(a, x)))
        .filter(col("mx") > 0)
        .select(col("vec_id"),
                floor(lit(127.0) / col("mx") * 1e9 + 0.5).cast("long")
                  .as("scale_x1e9"),
                posexplode(transform(col("embedding"),
                  x => floor(x.cast("double") / col("mx") * 127.0 + 0.5)
                         .cast("long"))))
        .select(col("vec_id"), col("scale_x1e9"),
                col("pos").cast("long").as("pos"), col("col").as("q"))
        .orderBy("vec_id", "pos")),

    // Explicit salted join — the skew mechanism as a first-class
    // operator: the dimension side replicates ×8 with a salt column,
    // the fact side computes salt = event_id mod 8, and the join key
    // becomes (key, salt) so one hot key spreads over 8 reducers. On
    // this fixture user_id is uniform — the key exists to DECLARE the
    // mechanism (and its equivalence to the plain join, which is the
    // oracle). At 100 TB, salt only the keys AQE flags as skewed and
    // size the salt fanout to the skew factor.
    "join_skew_salted" -> ((s, d) => {
      val salts = 8
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("value"),
                pmod(col("event_id"), lit(salts)).cast("int").as("e_salt"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
                explode(sequence(lit(0), lit(salts - 1))).as("c_salt"))
      ev.join(cust,
              col("user_id") === col("c_custkey") &&
              col("e_salt") === col("c_salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
             round(sum("value"), 2).as("total_value"))
        .orderBy("c_mktsegment")
    }),

    // Exact-substring duplicate spans (the window-hash half of
    // Lee et al.'s "Deduplicating Training Data Makes Language Models
    // Better"): every 16-token sliding window hashes to a 32-bit key;
    // documents sharing ≥1 window hash are duplicate-span pairs,
    // found by an EQUI-JOIN on the window hash — candidate volume is
    // Σ|bucket|² over hash buckets, never all-pairs. The distinct
    // window table is checkpointed once (N×windows rows of 2 longs)
    // so both self-join sides reuse it; at 100 TB the same table is
    // the persisted fingerprint index and the join shuffles only
    // (hash, doc_id) longs, not text.
    "llm_dedup_substring" -> ((s, d) => {
      // Round 18 (opt, guide §1.2 per-task work): the window key is
      // join-INTERNAL (the output is shared-window counts), so it
      // doesn't need the oracle-parity md5 chain — xxhash64 of the
      // 16-token slice hashes the array directly, skipping both the
      // per-window string build (concat_ws) and the md5+conv parse.
      // Token arrays from a space-split reconstruct the substring
      // bijectively, so the window universe is unchanged; the oracle
      // now states window identity on the string itself (exact), and
      // counts agree modulo 64-bit collisions — the accepted tradeoff
      // of every hashed join key here.
      val wins = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 16)
        .select(col("doc_id"),
                explode(expr("transform(sequence(1, size(toks) - 15), " +
                             "i -> xxhash64(slice(toks, i, 16)))"))
                  .as("h"))
        .distinct()
        .localCheckpoint()
      wins.as("a").join(wins.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("shared_windows"))
        .orderBy("a_id", "b_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "events_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, date_trunc('second', ts) AS tss
           FROM events
         ),
         g AS (
           SELECT user_id, event_id, tss,
                  date_diff('second',
                            lag(tss) OVER (PARTITION BY user_id
                                           ORDER BY tss, event_id),
                            tss) AS gap
           FROM e
         ),
         s AS (
           SELECT user_id, tss,
                  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800
                                THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY tss, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS session_id
           FROM g
         )
         SELECT user_id, session_id, count(*) AS n_events,
                min(tss) AS start_ts,
                CAST(date_diff('second', min(tss), max(tss)) AS BIGINT)
                  AS dur_s
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "tpch_q6_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                                    AS DECIMAL(30,10))), 2) AS DOUBLE)
                  AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND l_discount >= 0.02 AND l_discount <= 0.04
           AND l_quantity < 24""",

    "tpch_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(30,10))), 2) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND n1.n_name <> n2.n_name
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",

    "tpch_q13_custdist" ->
      """WITH co AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
           GROUP BY c_custkey
         )
         SELECT c_count, count(*) AS custdist
         FROM co GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    "tpch_q14_promo" ->
      """WITH sums AS (
           SELECT CAST(round(sum(CAST(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END AS DECIMAL(30,10))), 2)
                       AS DOUBLE) AS promo_rev,
                  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                      AS DECIMAL(30,10))), 2) AS DOUBLE)
                    AS total_rev
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= TIMESTAMP '1997-03-01'
             AND l_shipdate <  TIMESTAMP '1997-04-01'
         )
         SELECT promo_rev, total_rev,
                round(promo_rev * 100 / total_rev, 4) + 0.0 AS promo_pct
         FROM sums""",

    "llm_doc_entropy" ->
      """WITH tc AS (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY doc_id, tok
         )
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                round(ln(CAST(sum(c) AS BIGINT))
                      - sum(c * ln(c)) / CAST(sum(c) AS BIGINT), 4) + 0.0
                  AS entropy
         FROM tc GROUP BY doc_id ORDER BY doc_id""",

    "llm_perplexity_lm" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents
         ),
         lm AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM lm),
         lmp AS (SELECT tok, -ln(c / tot) AS nll FROM lm CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
                round(sum(nll) / count(*), 4) + 0.0 AS xent
         FROM t JOIN lmp USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",

    "llm_embed_quantize" ->
      """WITH m AS (
           SELECT vec_id, embedding,
                  list_aggregate(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
           FROM embeddings
         )
         SELECT vec_id,
                CAST(floor(127.0 / mx * 1e9 + 0.5) AS BIGINT) AS scale_x1e9,
                CAST(unnest(range(0, len(embedding))) AS BIGINT) AS pos,
                unnest(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5)
                            AS BIGINT))) AS q
         FROM m WHERE mx > 0
         ORDER BY vec_id, pos""",

    "join_skew_salted" ->
      """SELECT c_mktsegment, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // The oracle states the SEMANTIC relation (docs sharing 16-token
    // windows) with a per-document index range — no banding, no salt;
    // equality proves the engine's hash-join candidate generation
    // finds exactly the shared-window pairs. The window positions
    // derive from each document's own length (range(1, len-14)), so
    // the oracle enumerates every window regardless of doc length —
    // no fixed cap to fall out of sync with the fixture.
    "llm_dedup_substring" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         ),
         ti AS (
           SELECT doc_id, toks,
                  unnest(range(1, len(toks) - 14)) AS i
           FROM t
         ),
         w AS (
           SELECT DISTINCT doc_id,
                  array_to_string(toks[i:i+15], ' ') AS h
           FROM ti
         )
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                count(*) AS shared_windows
         FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY a_id, b_id
         ORDER BY a_id, b_id"""
  )
}
