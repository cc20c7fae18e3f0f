package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 third batch — SURVEY.md §2.11h: winnowed document
  * fingerprints (Schleimer et al. MOSS scheme), a count-min frequency
  * sketch with its exact-count audit, temperature-scaled source
  * mixing, a text-format source/sink roundtrip, and the TPC-H
  * Q17/Q22 decorrelated-subquery shapes. SURVEY §2.0 determinism
  * rules apply throughout.
  */
object Pipelines6 extends Module {

  def queries: Map[String, Q] = Map(
    // Winnowed fingerprints (the MOSS scheme, Schleimer et al. 2003):
    // hash every 4-token gram, slide a w=4 window over the gram-hash
    // sequence, keep the window minimum — the selected set is a
    // position-robust ~2/(w+1) sample of the grams that two documents
    // sharing long substrings are guaranteed to overlap on. Both
    // window passes partition by doc_id (uniform key); the fingerprint
    // relation (doc_id, fp) is what a plagiarism/near-dup index stores
    // at scale — 8 bytes per selected gram instead of the text.
    "llm_winnow_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 7) // >= 4 full-gram windows needs n-3 >= 4
        .select(col("doc_id"), (size(col("toks")) - 3).as("ng"),
                posexplode(expr("transform(sequence(1, size(toks) - 3), " +
                                "i -> concat_ws(' ', slice(toks, i, 4)))")))
        .select(col("doc_id"), col("ng"), col("pos"),
                expr(Hashing.md5Prefix("col")).as("h"))
        .withColumn("mh", min("h").over(
          Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)))
        .filter(col("pos") <= col("ng") - 4) // full windows only
        .select(col("doc_id"), col("mh").as("fp")).distinct()
        .orderBy("doc_id", "fp")),

    // Count-min sketch over the event property stream, audited against
    // exact counts: 4 hash rows × 256 buckets — the sketch table is
    // CONSTANT-SIZED (1024 counters) no matter the corpus, which is
    // the entire point at 100 TB: the groupBy(r,b) is a 4×-replicated
    // uniform aggregate whose output always broadcasts, and the
    // estimate is a broadcast probe. CMS guarantees est >= exact
    // (collisions only inflate); the declared output carries both so
    // the oracle proves the property on every key.
    "agg_countmin_freq" -> ((s, d) => {
      // ONE uniform-key count over the stream, then EVERYTHING
      // downstream runs at |K| (distinct keys) grain: the row hash
      // h(r, k) depends only on (r, k), so the sketch counters are
      // identically cnt(r, b) = Σ_{k : h(r,k)=b} exact_cnt(k) — the
      // per-ROW ×4 replication + md5 the round-2 form paid (N×4
      // hashes; the md5 chain is pinned by oracle parity and is the
      // expensive part) collapses to |K|×4. At 100 TB this is the
      // difference between hashing the corpus four times and hashing
      // the key dictionary four times after one map-side-combinable
      // count.
      val exact = Tables.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("exact_cnt"))
        .localCheckpoint()
      val rows4 = s.range(1)
        .select(explode(expr("sequence(0, 3)")).as("r"))
      val bExpr = Hashing.md5Prefix(
        "concat(cast(r as string), ':', cast(k as string))") + " % 256"
      val keyed = exact.crossJoin(broadcast(rows4))
        .withColumn("b", expr(bExpr))
        .localCheckpoint() // |K|×4 rows feed both counters and probes
      val cnt = keyed.groupBy("r", "b").agg(sum("exact_cnt").as("c"))
      val est = keyed.select("k", "r", "b")
        .join(broadcast(cnt), Seq("r", "b"))
        .groupBy("k").agg(min("c").as("cms_est"))
      exact.join(est, Seq("k"))
        .select(col("k"), col("exact_cnt"), col("cms_est"))
        .orderBy("k")
    }),

    // Temperature-scaled source mixing (alpha = 0.5, the multilingual
    // training rebalance): sampling probability ∝ share^alpha, which
    // upweights small sources relative to proportional sampling. Two
    // 1-row broadcast scalars (corpus total, weight normalizer) chain
    // through the 20-row source table — nothing here scales with the
    // corpus except the first uniform-key token count.
    "llm_mix_temperature" -> ((s, d) => {
      // Round 18 (opt, guide §2.4): the two scalar totals came from
      // chained agg + crossJoin(broadcast(...)) steps, and an
      // un-materialized subtree is duplicated per consumer — the
      // corpus token count ran FOUR times (directly, inside
      // broadcast(tot), and both again through w/broadcast(sw)). Two
      // global windows over the |sources|-row AGGREGATE (the
      // agg_share_of_total pattern — tiny, never corpus rows) derive
      // the same normalizers from the one pass: no extra scans, no
      // materialization barrier.
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("tok_count"))
        .withColumn("w", sqrt(col("tok_count") / sum("tok_count").over(wAll)))
        .withColumn("sw", sum("w").over(wAll))
        .select(col("source"), col("tok_count"),
                (round(col("w") / col("sw"), 4) + 0.0).as("p_sample"))
        .orderBy("source")
    }),

    // Text-format source/sink roundtrip (completes the format matrix:
    // parquet/csv/json/orc + text): documents serialize to
    // tab-separated lines, re-parse from the raw text source, and the
    // per-lang totals must equal the direct computation — proving the
    // line codec loses nothing. The fixture vocabulary is tab-free by
    // construction; a real corpus would escape or length-prefix.
    "source_text_roundtrip" -> ((s, d) => {
      val dir = Sinks.sinkPath(s, "text_docs", d)
      Tables.documents(s, d)
        .select(concat_ws("\t", col("doc_id"), col("lang"), col("text"))
                  .as("value"))
        .coalesce(4) // fixture-scale write; at 100 TB keep partition-parallel
        .write.mode("overwrite").text(dir)
      s.read.text(dir)
        .select(split(col("value"), "\t").as("f"))
        .select(col("f").getItem(1).as("lang"),
                length(col("f").getItem(2)).cast("long").as("chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("chars").as("total_chars"))
        .orderBy("lang")
    }),

    // TPC-H Q17 shape (small-quantity revenue): the correlated
    // "quantity < 0.2 * per-part average" subquery, decorrelated into
    // a per-part aggregate joined back on l_partkey — the aggregate's
    // shuffle partitioning is the join's, so the pattern costs one
    // fact shuffle + one dimension broadcast at any scale. The
    // threshold is exact: quantities are integer-valued doubles, so
    // their partial sums (hence the average) are bit-identical under
    // any accumulation order.
    "tpch_q17_smallqty" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val thr = li.groupBy("l_partkey")
        .agg((avg("l_quantity") * 0.2).as("thr"))
      li.join(thr, Seq("l_partkey"))
        .filter(col("l_quantity") < col("thr"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
              col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg((round(sum(col("l_extendedprice").cast("decimal(30,10)")) / 7.0, 2)
                + 0.0).as("avg_yearly"))
        .orderBy("p_brand")
    }),

    // TPC-H Q22 shape (dormant high-balance customers): a global
    // scalar subquery (average positive balance) as a 1-row broadcast,
    // then an ANTI join against recent orders — "no order since 2000"
    // (every fixture customer has SOME order, so the unscoped Q22
    // predicate would be vacuous; the date scope also shows the anti
    // side itself taking a scan-pushed filter). Anti join shuffles on
    // the customer key only; the threshold never touches the driver.
    "tpch_q22_dormant" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(avg("c_acctbal").as("thr"))
      cust.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .join(Tables.orders(s, d)
                .filter(col("o_orderdate") >= "2000-01-01")
                .select("o_custkey"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
             round(sum(col("c_acctbal").cast("decimal(30,10)")), 2)
               .cast("double").as("totacctbal"))
        .orderBy("c_nationkey")
    })
  )

  def oracles: Map[String, String] = Map(
    "llm_winnow_fingerprint" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         ),
         ti AS (
           -- gram positions derive from each doc's own length, so the
           -- oracle enumerates every gram at any doc length (no fixed
           -- index cap to fall out of sync with the fixture)
           SELECT doc_id, toks, len(toks) - 3 AS ng,
                  unnest(range(1, len(toks) - 2)) AS i
           FROM t WHERE len(toks) >= 7
         ),
         g AS (
           SELECT doc_id, ng, i - 1 AS pos,
                  CAST(('0x' || substring(
                          md5(array_to_string(toks[i:i+3], ' ')), 1, 8))
                       AS BIGINT) AS h
           FROM ti
         ),
         w AS (
           SELECT doc_id, pos, ng,
                  min(h) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                    AS mh
           FROM g
         )
         SELECT DISTINCT doc_id, mh AS fp
         FROM w WHERE pos <= ng - 4
         ORDER BY doc_id, fp""",

    "agg_countmin_freq" ->
      """WITH ks AS (
           SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events WHERE json_extract(props, '$.k') IS NOT NULL
         ),
         rows_ AS (SELECT unnest(range(0, 4)) AS r),
         cnt AS (
           SELECT r,
                  CAST(('0x' || substring(md5(CAST(r AS VARCHAR) || ':' ||
                          CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS b,
                  count(*) AS c
           FROM ks CROSS JOIN rows_ GROUP BY r, b
         ),
         est AS (
           SELECT k, min(c) AS cms_est
           FROM (SELECT DISTINCT k FROM ks) dk
           CROSS JOIN rows_
           JOIN cnt ON cnt.r = rows_.r AND cnt.b =
             CAST(('0x' || substring(md5(CAST(rows_.r AS VARCHAR) || ':' ||
                     CAST(dk.k AS VARCHAR)), 1, 8)) AS BIGINT) % 256
           GROUP BY k
         ),
         ex AS (SELECT k, count(*) AS exact_cnt FROM ks GROUP BY k)
         SELECT k, exact_cnt, cms_est
         FROM ex JOIN est USING (k)
         ORDER BY k""",

    "llm_mix_temperature" ->
      """WITH st AS (
           SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                    AS tok_count
           FROM documents GROUP BY source
         ),
         tot AS (SELECT CAST(sum(tok_count) AS BIGINT) AS t FROM st),
         w AS (
           SELECT source, tok_count, sqrt(tok_count / t) AS w
           FROM st CROSS JOIN tot
         ),
         sw AS (SELECT sum(w) AS sw FROM w)
         SELECT source, tok_count, round(w / sw, 4) + 0.0 AS p_sample
         FROM w CROSS JOIN sw
         ORDER BY source""",

    // The oracle computes the per-lang totals DIRECTLY from the
    // documents table — equality proves the text write+read+parse
    // chain is lossless.
    "source_text_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(len(text)) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang ORDER BY lang""",

    "tpch_q17_smallqty" ->
      """WITH thr AS (
           SELECT l_partkey, 0.2 * avg(l_quantity) AS thr
           FROM lineitem GROUP BY l_partkey
         )
         SELECT p_brand,
                round(sum(CAST(l_extendedprice AS DECIMAL(30,10))) / 7.0, 2)
                  + 0.0 AS avg_yearly
         FROM lineitem
         JOIN thr USING (l_partkey)
         JOIN part ON l_partkey = p_partkey
         WHERE l_quantity < thr
         GROUP BY p_brand ORDER BY p_brand""",

    "tpch_q22_dormant" ->
      """WITH thr AS (
           SELECT avg(c_acctbal) AS thr FROM customer WHERE c_acctbal > 0
         )
         SELECT c_nationkey, count(*) AS numcust,
                CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 2)
                     AS DOUBLE) AS totacctbal
         FROM customer CROSS JOIN thr
         WHERE c_acctbal > thr
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY c_nationkey ORDER BY c_nationkey"""
  )
}
