package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 batch — SURVEY.md §2.13: the EXACT set-similarity join by
  * prefix filtering (the deterministic-recall counterpart of the
  * MinHash/LSH dedup family), corpus-statistics quality scoring (IDF
  * rarity — a signal the per-doc gates of llm_quality_* cannot see),
  * and the time-constrained funnel (the product form of
  * events_funnel_ordered: each stage must fire within a window of the
  * previous one). SURVEY §2.0 determinism rules apply: integer
  * arithmetic until one final rounded division, no nullable doubles,
  * every key ends in an ORDER BY.
  */
object Pipelines27 extends Module {

  def queries: Map[String, Q] = Map(
    // Exact 3-gram Jaccard ≥ 0.5 duplicate pairs via PREFIX FILTERING
    // (AllPairs/PPJoin family): order every doc's distinct shingles by
    // ascending global document frequency (rarest first, ties broken
    // lexically — a total order shared by all docs), and emit only the
    // first |s| − ⌈0.5·|s|⌉ + 1 shingles as candidate keys. Any pair
    // with J ≥ 0.5 must share a shingle in BOTH prefixes (if a's
    // prefix misses the intersection entirely, i ≤ |a| − p_a =
    // ⌈0.5|a|⌉ − 1 < 0.5|a| ≤ i — contradiction), so recall is 100%
    // BY CONSTRUCTION — no banding-probability argument needed, which
    // is exactly why a production dedup reaches for this when the dup
    // threshold is a hard contract (the oracle brute-forces all pairs,
    // so the recall claim is CHECKED). The set universe is 3-gram
    // shingles, not unigram tokens, and that choice is load-bearing:
    // prefix filtering's pruning power comes from rare set elements,
    // and over this fixture's ~40-word vocabulary unigram token sets
    // make nearly EVERY doc pair J ≥ 0.5 (measured: the token-level
    // form of this key walked ~12.5 M pairs at sf0.1, 40 s — the
    // quadratic output is inherent to that universe, not the
    // algorithm). Shingle df IS discriminative, so candidates collapse
    // to the real dup clusters. The merge-walk confirm is the same
    // integer 3i ≥ na+nb as the LSH family; output is the J-decile
    // histogram of confirmed pairs. Scale shape: shingle-df is one
    // corpus aggregate; the prefix rank is a window partitioned by
    // doc_id (bounded group = doc shingle count); candidates are an
    // equi-join on the prefix shingle.
    "llm_dedup_prefix_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        // Guard: for <3 tokens sequence(1, size-2) has start > stop and
        // generates a DESCENDING run through index 0, so element_at
        // throws at runtime; a shingle-less doc can't be a dup anyway.
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), array_distinct(expr(
          """transform(sequence(1, size(t) - 2),
               i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                              element_at(t, i + 2)))""")).as("sh"))
        .withColumn("th", Hashing.tokenHashSet(col("sh")))
        .withColumn("n", size(col("th")).cast("long"))
        .localCheckpoint() // feeds df agg, prefix explode, both confirm sides
      val shDf = docs.select(explode(col("sh")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
      // Prefix length p = n − ⌈n/2⌉ + 1; rank shingles rarest-first.
      val byRarity = Window.partitionBy("doc_id").orderBy("df", "g")
      val prefix = docs.select(col("doc_id"), col("n"),
          explode(col("sh")).as("g"))
        .join(shDf, Seq("g"))
        .withColumn("rk", row_number().over(byRarity))
        .filter(col("rk") <= col("n") - ((col("n") + 1) / lit(2)).cast("long")
                  + lit(1))
        .select(col("g"), col("doc_id"), col("n"), col("rk").cast("long"))
      // Candidate join with the PPJoin position bound applied PER
      // TUPLE, before the distinct: a matched element at ranks
      // (rka, rkb) of the shared rarity order bounds the overlap by
      // (min(rka,rkb)−1) common elements strictly before it plus
      // min(na−rka+1, nb−rkb+1) at-or-after it. The bound is valid
      // for EVERY common element (not just the first), so a
      // qualifying pair passes on all its tuples — recall stays 1.0
      // (and stays CHECKED by the brute-force oracle). This subsumes
      // the size/length filter (the bound at ranks 1,1 IS
      // min(na,nb)) and prunes candidate tuples before they reach
      // the distinct exchange.
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id") &&
          lit(3) * (least(col("a.rk"), col("b.rk")) - 1 +
                    least(col("a.n") - col("a.rk") + 1,
                          col("b.n") - col("b.rk") + 1)) >=
            col("a.n") + col("b.n"))
        .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"))
        .distinct()
      // Confirm stage, spill-proofed and SIZE-AWARE (the round-10
      // 100× probe found the single-box ceiling here — candidate
      // pairs sorted WITH both signature arrays attached exceeded
      // ~80 GB of local disk):
      // (1) attach LENGTHS via a broadcast of the ids+n projection
      //     (8 MB even at 500 k docs) — candidate rows stay ids-only;
      // (2) attach the arrays with an explicit size-gated strategy:
      //     BROADCAST the signature table while it fits an executor
      //     (≤150 k docs ≈ 100 MB — candidate rows then never enter
      //     an exchange at all, the merge-walk streams map-side),
      //     else SHUFFLE-HASH (docs is the build side): no
      //     sort-merge, so array-bearing rows stream through one
      //     exchange write each instead of feeding multi-run spill
      //     sorts. docs is localCheckpoint'd, so the gating count is
      //     a cached-metadata read, not a recompute.
      val nTab = docs.select(col("doc_id"), col("n"))
      val thTab = docs.select(col("doc_id"), col("th"))
      val attachHint = if (docs.count() <= 150000L) "broadcast"
                       else "shuffle_hash"
      val candN = cand
        .join(broadcast(nTab.select(col("doc_id").as("ai"),
                                    col("n").as("na"))), Seq("ai"))
        .join(broadcast(nTab.select(col("doc_id").as("bi"),
                                    col("n").as("nb"))), Seq("bi"))
        .filter(lit(3) * least(col("na"), col("nb")) >=
                col("na") + col("nb"))
      candN
        .join(thTab.select(col("doc_id").as("ai"), col("th").as("ta"))
                .hint(attachHint), Seq("ai"))
        .join(thTab.select(col("doc_id").as("bi"), col("th").as("tb"))
                .hint(attachHint), Seq("bi"))
        // Round 18 (opt, guide §4.4): the non-pushable once-variant —
        // the r17 filter below was pushed into the attach join with
        // the walk inlined a second time (executed plan carried
        // sortedintersectsize in BOTH the join condition and this
        // projection), so every surviving pair walked twice. candN
        // already carries the explicit integer length prune.
        .withColumn("i",
          expr("cast(graft_sorted_intersect_once(ta, tb) as bigint)"))
        .filter(col("i") * 3 >= col("na") + col("nb"))
        .groupBy(((col("i") * 10) / (col("na") + col("nb") - col("i")))
          .cast("long").as("jx10"))
        .agg(count(lit(1)).as("n_pairs"),
             sum("ai").as("sum_a"), sum("bi").as("sum_b"))
        .orderBy("jx10")
    }),

    // IDF-rarity quality score: the corpus-statistics quality signal —
    // a document made of rare tokens scores high, boilerplate made of
    // the corpus' most common tokens scores low. Unlike the per-doc
    // gates (llm_quality_score/llm_quality_gopher_rules), this signal
    // needs a corpus pass: token document frequencies are one
    // aggregate, joined back to the exploded docs (broadcast at
    // fixture scale, a plain shuffle join at 100 TB — the df table is
    // |vocab|-sized either way). All integer: per-token rarity is
    // N div df, the doc score its integer mean — no log/float IDF, so
    // both engines agree bit-for-bit.
    "llm_idf_rarity_score" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(col("text"), " "))).as("tok"))
      val tokDf = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      val total = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_total"))
      toks.join(tokDf, Seq("tok"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg((sum(floor(col("n_total") / col("df")).cast("long"))
               / count(lit(1))).cast("long").as("rarity"))
        .groupBy("rarity")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_ids"))
        .orderBy("rarity")
    }),

    // Running DISTINCT count over a window — an operator neither
    // engine supports directly (COUNT(DISTINCT) OVER is illegal in
    // both), expressed by the first-occurrence decomposition: flag
    // each row that is the first of its (user, type) by time
    // (row_number = 1 over the composite key), then running-sum the
    // flags over the user's timeline. Both windows partition on
    // bounded uniform keys (user, user×type) — never corpus-global —
    // and the tie-break on unique event_id makes every intermediate
    // deterministic. The same decomposition is how a 100 TB "new
    // entities seen so far" curve avoids a distinct-state blowup:
    // the heavy distinct work is ONE hash shuffle, the cumulative
    // part is a plain prefix sum.
    "win_running_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val firstW = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val cumW = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("first_seen",
          when(row_number().over(firstW) === 1, 1L).otherwise(0L))
        .withColumn("n_distinct_types", sum("first_seen").over(cumW))
        .select(col("event_id"), col("user_id"), col("n_distinct_types"))
        .orderBy("event_id")
    }),

    // Bitwise aggregates — presence bitmaps in integer registers:
    // BIT_OR of 1<<(user_id mod 32) per event type is the 32-slot
    // occupancy mask (the poor man's bitmap index; agg_bitmap_distinct
    // is the full-width form), BIT_AND the always-on slots mask over
    // value buckets, BIT_XOR the parity fingerprint. All three are
    // commutative/associative, so they distribute like sums —
    // map-side partials at 100 TB — and integer-exact in both
    // engines.
    "agg_bit_ops" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("slot", expr("shiftleft(1L, cast(user_id % 32 as int))"))
        // floor() before the int cast: Spark's cast(double as int)
        // truncates toward zero while DuckDB's rounds to nearest, so
        // the explicit floor is what makes both engines agree per-row
        // (not merely on the collapsed bit_and).
        .withColumn("vb", expr("shiftleft(1L, cast(floor(value) as int) % 16)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             expr("bit_or(slot)").as("user_mask"),
             expr("bit_and(vb)").as("value_and_mask"),
             expr("bit_xor(slot)").as("parity_mask"))
        .orderBy("event_type")
    }),

    // Gopher-style repetition signal: the duplicate-3-gram fraction —
    // (total − distinct) 3-grams over total — the quality gate the
    // per-doc char/word rules (llm_quality_gopher_rules) lack; a doc
    // stuck in a copy-paste loop shows near-1 here while passing every
    // length gate. Integer permille via `div` so both engines agree
    // bit-for-bit; per-(lang, decile-bucket) histogram output is
    // bounded by |langs|×11 at any scale. One corpus pass, no joins.
    "llm_repetition_ngram" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
        .withColumn("n3", (size(col("t")) - 2).cast("long"))
        .filter(col("n3") > 0)
        .withColumn("d3", size(array_distinct(expr(
          """transform(sequence(1, size(t) - 2),
               i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                              element_at(t, i + 2)))"""))).cast("long"))
        .withColumn("repx1000", expr("((n3 - d3) * 1000) div n3"))
        .groupBy(col("lang"), expr("repx1000 div 100").as("rep_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum("repx1000").as("sum_repx1000"))
        .orderBy("lang", "rep_bucket")
    }),

    // Exact decimal money aggregation — the one scalar type absent
    // from every fixture column (SURVEY §1.2: "money is double"), so
    // the engine must demonstrate it by casting in: DOUBLE →
    // DECIMAL(18,4) goes through the shortest decimal representation
    // then half-up in BOTH engines (Spark: BigDecimal.valueOf +
    // setScale(HALF_UP); DuckDB: measured identical on half-boundary
    // probes), and decimal SUM is exact — no float accumulation — so
    // group totals are order-independent without the integer-cents
    // workaround used elsewhere. avg is deliberately absent (DuckDB's
    // decimal avg returns DOUBLE; division result scales differ);
    // decimals render scale-faithfully as strings in both engines,
    // which is what the hash compare sees.
    "agg_decimal_money" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("p", col("o_totalprice").cast("decimal(18,4)"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             sum("p").cast("decimal(28,4)").cast("string").as("sum_price"),
             min("p").cast("string").as("min_price"),
             max("p").cast("string").as("max_price"))
        .orderBy("o_orderpriority")
    }),

    // The hub-quarantine dedup chain — the 100 TB mitigation the
    // round-10 scale probe measured end-to-end (BASELINE.md §scale
    // probe: the pair-emitting LSH key pays 461 M pairs / 513 s when
    // near-dup clusters grow 10×, while the pairless degree audit
    // sees the same hubs in 3 s): (1) per-doc candidate degree by the
    // inclusion–exclusion subset-count form (NO pair
    // materialization), (2) quarantine hub docs (degree ≥ 150 — the
    // fixture's mega-cluster; template/boilerplate in a real corpus),
    // (3) run the banded pair join + merge-walk confirm ONLY on the
    // survivors, whose Σ|bucket|² is now benign. Output is the chain
    // audit: hubs quarantined, docs kept, candidate and confirmed
    // pair counts among the kept.
    "llm_dedup_hub_quarantine" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", array_distinct(split(col("text"), " ")))
        .withColumn("th", Hashing.tokenHashSet(col("toks")))
        .withColumn("n", size(col("th")).cast("long"))
        .select("doc_id", "toks", "th", "n")
        .localCheckpoint()
      val sig = Hashing.signature(docs
        .select(col("doc_id"), explode(col("toks")).as("tok")))
        .localCheckpoint() // feeds the degree pass AND both band sides
      // Stage 1: pairless degree (same pass as llm_lsh_degree_hist).
      val deg = Hashing.degree(sig, Hashing.bandCols)
      // Stage 2: quarantine. Materialized once (hub ids only, round
      // 18 — the §7 diamond pattern, and what the minhashLsh sibling
      // already did): hubs feeds the band-side gate, n_hubs and
      // n_kept — lazily each consumer re-ran the whole degree stage
      // (explode + count agg + join) from the sig checkpoint.
      val hubs = deg.filter(col("degree") >= Hashing.HubDegree).select("doc_id")
        .localCheckpoint()
      val keptSig = sig.join(hubs, Seq("doc_id"), "left_anti")
      // Stage 3: banded pair join + confirm among survivors only.
      val bands = keptSig.select(col("doc_id"),
        posexplode(array(Hashing.bandCols.map(bc => array(bc.map(col): _*)): _*))
          .as(Seq("band_idx", "band_key")))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("ai"), col("y.doc_id").as("bi"))
        .distinct()
        .localCheckpoint()
      val conf = cand
        .join(docs.select(col("doc_id").as("ai"), col("th").as("ta"),
                          col("n").as("na")), Seq("ai"))
        .join(docs.select(col("doc_id").as("bi"), col("th").as("tb"),
                          col("n").as("nb")), Seq("bi"))
        .filter(expr("3 * graft_sorted_intersect_size(ta, tb) >= na + nb"))
      val nHubs = hubs.agg(count(lit(1)).as("n_hubs"))
      val nKept = docs.join(hubs, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_kept"))
      val nCand = cand.agg(count(lit(1)).as("n_cand_pairs"))
      val nConf = conf.agg(count(lit(1)).as("n_conf_pairs"))
      nHubs.crossJoin(broadcast(nKept)).crossJoin(broadcast(nCand))
        .crossJoin(broadcast(nConf))
    }),

    // Time-constrained ordered funnel — the product metric behind
    // "conversion within the hour": stage 2 must fire within 1h of
    // stage 1, stage 3 within 1h of stage 2 (strictly after, as in
    // events_funnel_ordered, whose unconstrained counts upper-bound
    // these). Same min-per-stage shape: each stage is a groupBy(user)
    // min over a stage-filtered slice joined to the previous stage's
    // timestamps — shuffle key user_id, uniform. Interval arithmetic
    // is µs-exact in both engines.
    "events_funnel_window_1h" -> ((s, d) => {
      // Round 18 (opt, guide §2.4): same stage-chain diamond as
      // events_funnel_ordered — the counts re-evaluated the whole
      // un-materialized chain per consumer (six event scans, three
      // joins). User-grain stage checkpoints run each stage once:
      // event scans 6 → 3, joins 3 → 2. Values identical.
      val ev = Tables.events(s, d)
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t1"))
        .localCheckpoint()
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1") &&
                col("ts") <= col("t1") + expr("INTERVAL 1 HOUR"))
        .groupBy("user_id").agg(min("ts").as("t2"))
        .localCheckpoint()
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2") &&
                col("ts") <= col("t2") + expr("INTERVAL 1 HOUR"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val n1 = s1.agg(count(lit(1)).as("n_signup"))
      val n2 = s2.agg(count(lit(1)).as("n_click_1h"))
      val n3 = s3.agg(count(lit(1)).as("n_purchase_1h"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(n3))
        .select(col("n_signup"), col("n_click_1h"), col("n_purchase_1h"),
                (round(col("n_click_1h") / col("n_signup"), 4) + 0.0)
                  .as("r_click"),
                (round(col("n_purchase_1h") / col("n_signup"), 4) + 0.0)
                  .as("r_purchase"))
    })
  )

  def oracles: Map[String, String] = Map(
    // The oracle brute-forces ALL pairs (feasible at the sf0.01 check
    // scale) — so any candidate the prefix filter missed would show up
    // as a hash mismatch, making the 100%-recall claim checked, not
    // asserted.
    "llm_dedup_prefix_filter" ->
      """WITH t AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1] || ' ' ||
                         string_split(text, ' ')[i + 2])) AS sh
           FROM documents
           WHERE len(string_split(text, ' ')) >= 3
         ),
         pairs AS (
           SELECT a.doc_id AS ai, b.doc_id AS bi,
                  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
                  CAST(len(a.sh) AS BIGINT) AS na,
                  CAST(len(b.sh) AS BIGINT) AS nb
           FROM t a JOIN t b ON a.doc_id < b.doc_id
         )
         SELECT CAST((i * 10) // (na + nb - i) AS BIGINT) AS jx10,
                count(*) AS n_pairs,
                CAST(sum(ai) AS BIGINT) AS sum_a,
                CAST(sum(bi) AS BIGINT) AS sum_b
         FROM pairs WHERE i * 3 >= na + nb
         GROUP BY 1 ORDER BY 1""",

    "llm_idf_rarity_score" ->
      """WITH t AS (
           SELECT doc_id,
                  unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents
         ),
         df AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
         n AS (SELECT count(*) AS n_total FROM documents),
         sc AS (
           SELECT t.doc_id,
                  CAST(sum(n_total // df) // count(*) AS BIGINT) AS rarity
           FROM t JOIN df USING (tok) CROSS JOIN n
           GROUP BY t.doc_id
         )
         SELECT rarity, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids
         FROM sc GROUP BY 1 ORDER BY 1""",

    "win_running_distinct" ->
      """SELECT event_id, user_id,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS n_distinct_types
         FROM (SELECT event_id, user_id, ts,
                      row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts, event_id) AS rn
               FROM events)
         ORDER BY event_id""",

    "agg_bit_ops" ->
      """WITH e AS (
           SELECT event_type,
                  (CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER))
                    AS slot,
                  (CAST(1 AS BIGINT) << (CAST(floor(value) AS INTEGER) % 16))
                    AS vb
           FROM events
         )
         SELECT event_type, count(*) AS n_events,
                bit_or(slot) AS user_mask,
                bit_and(vb) AS value_and_mask,
                bit_xor(slot) AS parity_mask
         FROM e GROUP BY 1 ORDER BY 1""",

    "llm_repetition_ngram" ->
      """WITH t AS (
           SELECT doc_id, lang,
                  CAST(len(string_split(text, ' ')) - 2 AS BIGINT) AS n3,
                  CAST(len(list_distinct(list_transform(
                    range(1, len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1] || ' ' ||
                         string_split(text, ' ')[i + 2]))) AS BIGINT) AS d3
           FROM documents
         ),
         r AS (
           SELECT lang, ((n3 - d3) * 1000) // n3 AS repx1000
           FROM t WHERE n3 > 0
         )
         SELECT lang, CAST(repx1000 // 100 AS BIGINT) AS rep_bucket,
                count(*) AS n_docs,
                CAST(sum(repx1000) AS BIGINT) AS sum_repx1000
         FROM r GROUP BY 1, 2 ORDER BY 1, 2""",

    "agg_decimal_money" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                CAST(CAST(sum(p) AS DECIMAL(28,4)) AS VARCHAR) AS sum_price,
                CAST(min(p) AS VARCHAR) AS min_price,
                CAST(max(p) AS VARCHAR) AS max_price
         FROM (SELECT o_orderpriority,
                      CAST(o_totalprice AS DECIMAL(18,4)) AS p
               FROM orders)
         GROUP BY 1 ORDER BY 1""",

    "llm_dedup_hub_quarantine" ->
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
         ),
         hubs AS (SELECT doc_id FROM deg WHERE degree >= 150),
         candk AS (
           SELECT a_id, b_id FROM cand
           WHERE a_id NOT IN (SELECT doc_id FROM hubs)
             AND b_id NOT IN (SELECT doc_id FROM hubs)
         ),
         sets AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
           FROM documents
         ),
         conf AS (
           SELECT a_id FROM candk
           JOIN sets a ON a.doc_id = a_id
           JOIN sets b ON b.doc_id = b_id
           WHERE 3 * len(list_intersect(a.ts, b.ts))
                   >= len(a.ts) + len(b.ts)
         )
         SELECT (SELECT count(*) FROM hubs) AS n_hubs,
                (SELECT count(*) FROM documents)
                  - (SELECT count(*) FROM hubs) AS n_kept,
                (SELECT count(*) FROM candk) AS n_cand_pairs,
                (SELECT count(*) FROM conf) AS n_conf_pairs""",

    "events_funnel_window_1h" ->
      """WITH s1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY user_id
         ),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 1 HOUR
           GROUP BY e.user_id
         ),
         s3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s2.t2 + INTERVAL 1 HOUR
           GROUP BY e.user_id
         )
         SELECT (SELECT count(*) FROM s1) AS n_signup,
                (SELECT count(*) FROM s2) AS n_click_1h,
                (SELECT count(*) FROM s3) AS n_purchase_1h,
                round((SELECT count(*) FROM s2)
                      / (SELECT count(*) FROM s1), 4) + 0.0 AS r_click,
                round((SELECT count(*) FROM s3)
                      / (SELECT count(*) FROM s1), 4) + 0.0 AS r_purchase"""
  )
}
