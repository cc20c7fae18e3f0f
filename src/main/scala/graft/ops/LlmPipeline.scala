package graft.ops

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over `documents` and
  * `embeddings` (SURVEY.md §2.11): dedup, similarity search, text
  * stats, multimodal joins, language distribution.
  *
  * Scale posture (100 TB): everything here is a distributed
  * groupBy/join — no driver-side state. Exact dedup hashes then
  * aggregates (shuffle on hash — uniform by construction). Similarity
  * is blocked: probes × corpus with the probe side broadcast; the LSH
  * scale path lives in `graft.functions.MinHash` (Phase 4).
  */
object LlmPipeline extends Module {

  def queries: Map[String, Q] = Map(
    "llm_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min("doc_id").as("survivor_id"),
             count(lit(1)).as("group_size"))
        .orderBy("text_hash")),

    "llm_sim_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      // Probe side is tiny and broadcast: the corpus never shuffles.
      // Ranking uses the ROUNDED similarity + id tiebreak so the
      // ordering is identical across engines.
      val pairs = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                (round(expr("graft_cosine_sim(pe, embedding)"), 4) + 0.0).as("cos_sim"))
      val w = Window.partitionBy("probe_id")
        .orderBy(desc("cos_sim"), asc("neighbor_id"))
      pairs.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("probe_id", "rnk")
    }),

    "llm_text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("n_distinct_tokens"),
          round(size(array_distinct(split(col("text"), " "))).cast("double") /
                size(split(col("text"), " ")).cast("double"), 4).as("ttr"),
          col("n_chars"))
        .orderBy("doc_id")),

    "llm_multimodal_join" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb  = Tables.embeddings(s, d)
      docs.join(emb, docs("doc_id") === emb("vec_id"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_docs"),
             round(avg(size(split(col("text"), " ")).cast("double")), 2)
               .as("avg_tokens"))
        .orderBy("label")
    }),

    // Near-duplicate pairs by exact token-set Jaccard, blocked by lang
    // so the self-join never goes quadratic across the whole corpus.
    // The MinHash/LSH scale path for this operator is
    // graft.functions.MinHash (no oracle there — approximate).
    "llm_dedup_near" -> ((s, d) => {
      // Tokens hashed (xxhash64, injective on the corpus — asserted in
      // PropertySpec) into sorted long arrays, so the per-pair work is
      // one allocation-free merge walk (SortedIntersectSize) instead
      // of generic string-array set ops. |A∪B| = |A|+|B|-|A∩B|.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
                Hashing.tokenHashSet(split(col("text"), " ")).as("th"))
        .withColumn("n", size(col("th")))
      val a = toks.as("a")
      val b = toks.as("b")
      // The threshold in integer form: J = i/(n_a+n_b-i) ≥ 0.5 ⇔
      // 3·i ≥ n_a+n_b — exactly equivalent to the oracle's
      // round(J,4) ≥ 0.5 (J is a rational with denominator ≤ ~100,
      // so none lands in [0.49995, 0.5)). Round 18 (opt, guide
      // §4.4): the r1–r17 form kept the walk in the join condition
      // to dodge filter pushdown's double-inline — but then
      // RE-projected `isect` for the jaccard output, so every
      // SURVIVING pair still walked twice, and on this corpus
      // ~98.7 % of blocked pairs survive. Now the join carries the
      // cheap conjuncts only — doc_id compare plus the hand-written
      // length prune (|A∩B| ≤ min ⇒ 3·min < n_a+n_b can never
      // qualify) — and the walk runs ONCE per blocked pair as the
      // non-pushable `graft_sorted_intersect_once` projection, with
      // the threshold as an ordinary filter above it. The probe side
      // is repartitioned because the small documents file scans as
      // one partition and the broadcast join would otherwise walk
      // all ~2.5 M blocked pairs in a single task. The count is
      // pinned: an unpinned repartition(col) is AQE-coalescible and
      // this side is tiny by bytes, so AQE folds it back to one
      // task — the cost driver is pairs-per-row, which AQE can't see.
      a.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("a.doc_id")).join(b,
          col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 3 >=
            col("a.n") + col("b.n"))
        .withColumn("isect",
          expr("graft_sorted_intersect_once(a.th, b.th)"))
        .filter(col("isect") * 3 >= col("a.n") + col("b.n"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
                col("a.lang").as("lang"),
                round(col("isect").cast("double") /
                      (col("a.n") + col("b.n") - col("isect")), 4)
                  .as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // Cluster-quality stat: mean intra- vs inter-label cosine per
    // label. Fixture labels carry no similarity structure (values are
    // near zero) — round to 4 d.p., never assert separation.
    "llm_sim_pairs_label" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("a_id"), col("label").as("a_label"),
                       col("embedding").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
                       col("embedding").as("b_emb"))
      // One pass over the pair space: each pair is scored once and
      // exploded into its contribution rows (one row for an
      // intra-label pair, two — one per endpoint label — for an
      // inter-label pair), instead of filtering the pair table three
      // ways and re-evaluating the cosine per branch. At 100 TB the
      // pair space itself would be sampled per (label,label) cell;
      // the one-pass shape keeps that a single uniform-key shuffle.
      val tagged = a.join(b, col("a_id") < col("b_id"))
        .select(col("a_label"), col("b_label"),
                expr("graft_cosine_sim(a_emb, b_emb)").as("cos"))
        .select(explode(
          when(col("a_label") === col("b_label"),
               array(struct(col("a_label").as("label"),
                            lit(1).as("is_intra"))))
          .otherwise(array(struct(col("a_label").as("label"),
                                  lit(0).as("is_intra")),
                           struct(col("b_label").as("label"),
                                  lit(0).as("is_intra"))))).as("e"),
          col("cos"))
        .select(col("e.label").as("label"), col("cos"), col("e.is_intra"))
      tagged
        .groupBy("label")
        // `+ 0.0` normalizes IEEE negative zero: DuckDB's round keeps
        // the sign of -0.0, Spark's doesn't (seen at sf0.1).
        .agg(count(when(col("is_intra") === 1, 1)).as("n_intra"),
             (round(avg(when(col("is_intra") === 1, col("cos"))), 4) + 0.0)
               .as("mean_intra"),
             count(when(col("is_intra") === 0, 1)).as("n_inter"),
             (round(avg(when(col("is_intra") === 0, col("cos"))), 4) + 0.0)
               .as("mean_inter"))
        .orderBy("label")
    }),

    "llm_lang_dist" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("lang")
      counts
        .withColumn("lang_share",
          round(col("n_docs") / sum("n_docs").over(w), 4))
        .orderBy("lang", "source")
    })
  )

  def oracles: Map[String, String] = Map(
    "llm_dedup_exact" ->
      """SELECT md5(text) AS text_hash,
                min(doc_id) AS survivor_id,
                count(*) AS group_size
         FROM documents
         GROUP BY 1
         ORDER BY text_hash""",

    "llm_sim_topk" ->
      """WITH norms AS (
           SELECT vec_id, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm
           FROM embeddings
         ),
         pairs AS (
           SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
                  round(list_aggregate(
                          list_transform(list_zip(p.embedding, e.embedding),
                            z -> CAST(z[1] AS DOUBLE) *
                                 CAST(z[2] AS DOUBLE)), 'sum')
                        / (p.nrm * e.nrm), 4) + 0.0 AS cos_sim
           FROM norms p JOIN norms e ON e.vec_id <> p.vec_id
           WHERE p.vec_id < 10
         )
         SELECT probe_id, neighbor_id, cos_sim,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cos_sim DESC, neighbor_id)
                  AS rnk
         FROM pairs
         QUALIFY rnk <= 3
         ORDER BY probe_id, rnk""",

    "llm_text_stats" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' ')))
                  AS n_distinct_tokens,
                round(CAST(len(list_distinct(string_split(text, ' ')))
                           AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS ttr,
                n_chars
         FROM documents
         ORDER BY doc_id""",

    "llm_multimodal_join" ->
      """SELECT label, count(*) AS n_docs,
                round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 2)
                  AS avg_tokens
         FROM documents JOIN embeddings ON doc_id = vec_id
         GROUP BY label
         ORDER BY label""",

    "llm_dedup_near" ->
      """WITH toks AS (
           SELECT doc_id, lang, list_distinct(string_split(text, ' '))
                    AS toks
           FROM documents
         )
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang AS lang,
                round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.toks, b.toks))),
                      4) AS jaccard
         FROM toks a JOIN toks b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.toks, b.toks))),
                     4) >= 0.5
         ORDER BY a_id, b_id""",

    "llm_sim_pairs_label" ->
      """WITH norms AS (
           SELECT vec_id, label, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm
           FROM embeddings
         ),
         pairs AS (
           SELECT a.label AS a_label, b.label AS b_label,
                  list_aggregate(
                    list_transform(list_zip(a.embedding, b.embedding),
                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                    'sum') / (a.nrm * b.nrm) AS cos
           FROM norms a JOIN norms b ON a.vec_id < b.vec_id
         ),
         tagged AS (
           SELECT a_label AS label, cos, 1 AS is_intra FROM pairs
           WHERE a_label = b_label
           UNION ALL
           SELECT a_label, cos, 0 FROM pairs WHERE a_label <> b_label
           UNION ALL
           SELECT b_label, cos, 0 FROM pairs WHERE a_label <> b_label
         )
         SELECT label,
                count(CASE WHEN is_intra = 1 THEN 1 END) AS n_intra,
                round(avg(CASE WHEN is_intra = 1 THEN cos END), 4) + 0.0
                  AS mean_intra,
                count(CASE WHEN is_intra = 0 THEN 1 END) AS n_inter,
                round(avg(CASE WHEN is_intra = 0 THEN cos END), 4) + 0.0
                  AS mean_inter
         FROM tagged
         GROUP BY label
         ORDER BY label""",

    "llm_lang_dist" ->
      """SELECT lang, source, count(*) AS n_docs,
                round(count(*) * 1.0 /
                      sum(count(*)) OVER (PARTITION BY lang), 4)
                  AS lang_share
         FROM documents
         GROUP BY lang, source
         ORDER BY lang, source"""
  )
}
