package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 seventh batch — SURVEY.md §2.11l: association-rule metrics
  * over the basket pairs, and the incremental-ingest dedup that
  * screens a new source batch against the existing corpus — the
  * production "don't re-train on what we already have" gate. SURVEY
  * §2.0 determinism rules apply throughout.
  */
object Pipelines10 extends Module {

  def queries: Map[String, Q] = Map(
    // Association-rule metrics: support, confidence and lift for
    // co-occurring part pairs, from EXACT integer counts (pair count,
    // per-part order counts, total orders) — the ratios divide longs,
    // deterministically, rounded once. Same per-order join shape as
    // orders_basket_pairs; the per-part counts and the total ride in
    // as broadcasts. Min-support floor (pair in ≥ 2 orders) bounds
    // the rule set the way production a-priori does.
    "orders_basket_lift" -> ((s, d) => {
      // Round 18 (opt): one groupBy(l_orderkey) basket table replaces
      // the r7 distinct→checkpoint→self-join (see orders_basket_pairs
      // — identical pair multiset, two fact-scale exchanges fewer).
      // The basket table is checkpointed because THREE consumers
      // derive from it (order count, per-part counts, pair explode);
      // it is |orders| rows of bounded part arrays, strictly smaller
      // than the r7 checkpoint of the exploded (order, part) table.
      val ord = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .localCheckpoint()
      val nOrders = ord.agg(count(lit(1)).as("n_orders"))
      // Round 18 (opt, guide §2.4, second pass): pc feeds BOTH
      // broadcast sides (n_a and n_b) as an un-materialized subtree,
      // so the basket explode+aggregate ran twice over the checkpoint.
      // pc is |parts|-grain (two columns) — materialize it once.
      val pc = ord.select(explode(col("parts")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n_p"))
        .localCheckpoint()
      val pairs = ord
        .select(explode(expr(
          """flatten(transform(parts, (p, i) ->
               transform(slice(parts, i + 2, size(parts) - i - 1),
                         q -> struct(p AS part_a, q AS part_b))))"""))
          .as("pr"))
        .groupBy(col("pr.part_a").as("part_a"),
                 col("pr.part_b").as("part_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 2)
      pairs
        .join(broadcast(pc.select(col("l_partkey").as("part_a"),
                                  col("n_p").as("n_a"))), Seq("part_a"))
        .join(broadcast(pc.select(col("l_partkey").as("part_b"),
                                  col("n_p").as("n_b"))), Seq("part_b"))
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("n_pair"),
                (round(col("n_pair") / col("n_a"), 4) + 0.0)
                  .as("confidence_ab"),
                (round((col("n_pair") * col("n_orders")) /
                       (col("n_a") * col("n_b")), 4) + 0.0).as("lift"))
        .orderBy(desc("lift"), asc("part_a"), asc("part_b"))
        .limit(50)
    }),

    // Incremental-ingest dedup: the NEW sources (src10–src19) screen
    // against the EXISTING corpus (src0–src9) — exact duplicates by
    // content hash, near-duplicates by the production MinHash banding
    // + merge-walk confirm (J ≥ 0.5), classified per new source. The
    // old side's role at 100 TB is played by its PERSISTED hash and
    // signature tables (corpus-sized but hash-only — the text never
    // reloads); the new batch is the only full scan. Near-dup counts
    // exclude exact dups so the two classes partition the dropped
    // set; kept = docs − exact − near.
    "llm_incremental_dedup" -> ((s, d) => {
      // ONE tokenize pass: distinct raw tokens are computed once and
      // feed BOTH the xxhash64 token-set (merge-walk confirm) and the
      // md5 MinHash signatures — round 9 tokenized the full text
      // twice (once here, once in a separate `sig` scan) and paid a
      // second localCheckpoint on top; the double scan and checkpoint
      // were the key's persistent 3–11× over its frozen mean.
      val docs = Tables.documents(s, d)
        .withColumn("src_num",
          expr("cast(substring(source, 4, 8) as int)"))
        .withColumn("h", md5(col("text").cast("binary")))
        .withColumn("toks", array_distinct(split(col("text"), " ")))
        .withColumn("th",
          Hashing.tokenHashSet(col("toks")))
        .withColumn("n", size(col("th")))
        .select("doc_id", "source", "src_num", "h", "toks", "th", "n")
        .localCheckpoint()
      val oldDocs = docs.filter(col("src_num") < 10)
      val newDocs = docs.filter(col("src_num") >= 10)
      // Exact screen: content hash of the new batch against the old
      // corpus' distinct hash table.
      val exactDup = newDocs.join(
          oldDocs.select(col("h")).distinct(), Seq("h"), "left_semi")
        .select(col("doc_id"), lit(1).as("is_exact"))
      // Near screen: the production banding (same chain as
      // llm_dedup_minhash_lsh) between new and old, confirmed J >= 0.5
      // in integer form; a new doc is near-dup if ANY old partner
      // confirms.
      def sigOf(side: DataFrame): DataFrame = Hashing.signature(side
        .select(col("doc_id"), explode(col("toks")).as("tok")))
      // The old corpus' signatures are PERSISTED (the key's own 100 TB
      // story: at scale they live beside the corpus and never
      // recompute from text). Materializing them to the sink root
      // here plays that role in-plan — each side's MinHash is now
      // computed exactly once from the single checkpointed tokenize,
      // and the banding reads the old side back from parquet instead
      // of re-deriving it (round 9's second localCheckpoint).
      val oldSigPath = Sinks.sinkPath(s, "incdedup_oldsig", d)
      sigOf(oldDocs).write.mode("overwrite").parquet(oldSigPath)
      val oldSig = s.read.parquet(oldSigPath)
      val newSig = sigOf(newDocs)
      // Raw-slice band keys (array<bigint>): the incremental screen's
      // classification must match the oracle's raw-value banding
      // exactly; the 8-byte hashed key remains the production-scale
      // knob documented at llm_dedup_minhash_lsh.
      val newBands = Hashing.rawBands(newSig)
      val oldBands = Hashing.rawBands(oldSig)
      val candNearIds = newBands.as("x").join(oldBands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          Hashing.firstCollision(4))
        .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("old_id"))
      val nearIds = candNearIds
        .join(newDocs.select(col("doc_id"), col("th").as("tn"),
                             col("n").as("nn")), Seq("doc_id"))
        .join(oldDocs.select(col("doc_id").as("old_id"), col("th").as("to2"),
                             col("n").as("no2")), Seq("old_id"))
        .filter(expr("3 * graft_sorted_intersect_size(tn, to2) >= nn + no2"))
        .select("doc_id").distinct()
        .withColumn("is_near", lit(1))
      newDocs.select("doc_id", "source")
        .join(exactDup.select("doc_id", "is_exact"), Seq("doc_id"),
              "left_outer")
        .join(nearIds, Seq("doc_id"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             coalesce(sum("is_exact"), lit(0L)).as("n_exact_dup"),
             coalesce(sum(when(col("is_exact").isNull &&
                               col("is_near") === 1, 1)), lit(0L))
               .as("n_near_dup"))
        .select(col("source"), col("n_docs"), col("n_exact_dup"),
                col("n_near_dup"),
                (col("n_docs") - col("n_exact_dup") - col("n_near_dup"))
                  .as("n_kept"))
        .orderBy("source")
    })
  )

  def oracles: Map[String, String] = Map(
    "orders_basket_lift" ->
      """WITH lp AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         ),
         no_ AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp),
         pc AS (SELECT l_partkey, count(*) AS n_p FROM lp GROUP BY 1),
         pairs AS (
           SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                  count(*) AS n_pair
           FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
           GROUP BY part_a, part_b
           HAVING count(*) >= 2
         )
         SELECT part_a, part_b, n_pair,
                round(n_pair / pa.n_p, 4) + 0.0 AS confidence_ab,
                round((n_pair * n_orders) / (pa.n_p * pb.n_p), 4) + 0.0
                  AS lift
         FROM pairs
         JOIN pc pa ON pa.l_partkey = part_a
         JOIN pc pb ON pb.l_partkey = part_b
         CROSS JOIN no_
         ORDER BY lift DESC, part_a, part_b
         LIMIT 50""",

    "llm_incremental_dedup" ->
      """WITH docs AS (
           SELECT doc_id, source,
                  CAST(substring(source, 4) AS INTEGER) AS src_num,
                  md5(text) AS h,
                  list_distinct(string_split(text, ' ')) AS toks
           FROM documents
         ),
         old AS (SELECT * FROM docs WHERE src_num < 10),
         new_ AS (SELECT * FROM docs WHERE src_num >= 10),
         exact AS (
           SELECT DISTINCT n.doc_id
           FROM new_ n JOIN (SELECT DISTINCT h FROM old) o USING (h)
         ),
         toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                    AS tok
           FROM documents
         ),
         hh AS (
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
           FROM hh GROUP BY doc_id
         ),
         near AS (
           SELECT DISTINCT n.doc_id
           FROM new_ n
           JOIN sig sn ON sn.doc_id = n.doc_id
           JOIN sig so ON so.doc_id <> sn.doc_id
           JOIN old o ON o.doc_id = so.doc_id
           WHERE ((sn.m0 = so.m0 AND sn.m1 = so.m1 AND
                   sn.m2 = so.m2 AND sn.m3 = so.m3) OR
                  (sn.m4 = so.m4 AND sn.m5 = so.m5 AND
                   sn.m6 = so.m6 AND sn.m7 = so.m7) OR
                  (sn.m8 = so.m8 AND sn.m9 = so.m9 AND
                   sn.m10 = so.m10 AND sn.m11 = so.m11) OR
                  (sn.m12 = so.m12 AND sn.m13 = so.m13 AND
                   sn.m14 = so.m14 AND sn.m15 = so.m15))
             AND 3 * len(list_intersect(n.toks, o.toks))
                 >= len(n.toks) + len(o.toks)
         )
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_exact_dup,
                CAST(sum(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
                CAST(count(*)
                     - sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                     - sum(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM new_ n
         LEFT JOIN exact e ON e.doc_id = n.doc_id
         LEFT JOIN near nr ON nr.doc_id = n.doc_id
         GROUP BY source
         ORDER BY source"""
  )
}
