package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 fifth batch (SURVEY §2.11v): asymmetric containment dedup,
  * Gopher-style rule-set quality gates, integer-arithmetic PageRank
  * over the LSH kNN graph (iterative graph computation as repeated
  * joins), and a vocabulary coverage curve.
  */
object Pipelines20 extends Module {

  def queries: Map[String, Q] = Map(
    // Asymmetric CONTAINMENT dedup — the criterion Jaccard misses: a
    // short doc fully embedded in a long one has low Jaccard but
    // containment(short→long) ≈ 1 (the CCNet/Gopher near-dup rule for
    // quote/boilerplate inclusion). Same lang-blocked + salted
    // candidate join as llm_dedup_cc (merge-walk intersect on sorted
    // hashed-token arrays, |langs|×4 shuffle keys), candidates kept
    // when the smaller side is ≥50% contained; the declared output is
    // per-DOC grain (n_supersets at ≥80%, max containment pct) so the
    // result is |docs| rows at any corpus scale, never the pair list.
    // All ratios are integer basis points — no float reaches the
    // comparator.
    "llm_doc_containment" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
                Hashing.tokenHashSet(split(col("text"), " ")).as("th"))
        .withColumn("n", size(col("th")))
        .localCheckpoint()
      val csalt = 4
      // Round 18 (opt): two fixes to the confirm stage, results
      // byte-identical. (1) guide §4.4 — the r17 form ran the merge
      // walk in the join condition AND re-projected it for `inter`,
      // two walks per surviving pair; the walk now runs ONCE per
      // blocked pair as the non-pushable `graft_sorted_intersect_once`
      // projection with the containment threshold as a plain filter
      // (no length prune in the join: 2·min(|A∩B|) ≥ min(n) is
      // implied by nothing cheaper — min·2 ≥ min is vacuous).
      // (2) guide §2.4 — the directed view was a two-branch UNION of
      // the same `pairs`, and an un-materialized join subtree is
      // duplicated per consumer: the whole blocked-pair walk join ran
      // TWICE. One generator row per direction (explode of a 2-array
      // of structs) emits both directed rows from a single pass, so
      // the join subtree appears — and executes — once, and stays
      // visible in the final plan (no checkpoint barrier, keeping the
      // salt-key plan pin checkable).
      val pairs = toks
        .withColumn("salt",
          explode(array((0 until csalt).map(i => lit(i)): _*))).as("a")
        .join(toks.withColumn("salt",
                pmod(col("doc_id"), lit(csalt)).cast("int")).as("b"),
          col("a.lang") === col("b.lang") &&
          col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
                expr("graft_sorted_intersect_once(a.th, b.th)").as("inter"),
                col("a.n").as("an"), col("b.n").as("bn"))
        .filter(col("inter") * 2 >= least(col("an"), col("bn")))
      val directed = pairs
        .select(explode(array(
            struct(col("x").as("doc_id"),
                   expr("(100 * inter) div an").as("pct")),
            struct(col("y").as("doc_id"),
                   expr("(100 * inter) div bn").as("pct")))).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("e.pct").as("pct"))
      val agg = directed.groupBy("doc_id")
        .agg(sum(when(col("pct") >= 80, 1L).otherwise(0L))
               .as("n_supersets"),
             max("pct").as("max_pct"))
      Tables.documents(s, d).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
                coalesce(col("n_supersets"), lit(0L)).as("n_supersets"),
                coalesce(col("max_pct"), lit(-1L)).as("max_containment_pct"))
        .orderBy("doc_id")
    }),

    // Gopher-style rule-set quality gates — the named-gate form a
    // curation pipeline reports (which rule rejected how many docs),
    // distinct from llm_quality_score's single weighted scalar. Four
    // gates, all integer comparisons (char counts, word counts,
    // distinct-stopword counts): word count in [20,80], mean word
    // length in [4,5] (as 4n ≤ chars ≤ 5n — no division), ≥2 distinct
    // anchor stopwords, digit mass <10% of chars. Output is the
    // per-lang gate-failure table — bounded by |langs| at any scale.
    "llm_quality_gopher_rules" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nw", size(col("toks")).cast("long"))
        // chars in words = n_chars minus the (nw-1) separating spaces
        .withColumn("cw", col("n_chars") - (col("nw") - 1))
        .withColumn("n_digit",
          (col("n_chars") -
             length(regexp_replace(col("text"), "[0-9]", ""))).cast("long"))
        .withColumn("n_stop",
          size(array_intersect(col("toks"),
            array(lit("the"), lit("key"), lit("order"), lit("sort"),
                  lit("scan")))).cast("long"))
        .withColumn("ok_wc", col("nw") >= 20 && col("nw") <= 80)
        .withColumn("ok_mwl",
          col("cw") >= col("nw") * 4 && col("cw") <= col("nw") * 5)
        .withColumn("ok_stop", col("n_stop") >= 2)
        .withColumn("ok_digit", col("n_digit") * 10 < col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(!col("ok_wc"), 1L).otherwise(0L)).as("fail_wordcount"),
             sum(when(!col("ok_mwl"), 1L).otherwise(0L)).as("fail_meanlen"),
             sum(when(!col("ok_stop"), 1L).otherwise(0L)).as("fail_stopword"),
             sum(when(!col("ok_digit"), 1L).otherwise(0L)).as("fail_digit"),
             sum(when(col("ok_wc") && col("ok_mwl") && col("ok_stop") &&
                      col("ok_digit"), 1L).otherwise(0L)).as("pass_all"))
        .orderBy("lang")),

    // PageRank over the LSH kNN graph — iterative graph computation as
    // repeated joins (the Pregel pattern in DataFrame form): 3 fixed
    // iterations of r' = 0.15·U + 0.85·Σ r(in)/deg(in) over the same
    // top-3-cosine edge set as llm_knn_graph_lsh. Everything is INTEGER
    // micro-units — contrib = r div deg, damped = (17·Σ) div 20 — so
    // the result is independent of summation order (float PageRank is
    // not cross-engine comparable). Each iteration is one uniform-key
    // shuffle join edges⋈contrib + one agg; the edge set is built ONCE
    // and checkpointed. With 3 fixed iterations the contrib lineage is
    // 3 stacked single-consumer joins off the materialized edge RDD —
    // each subtree referenced exactly once, so the DAG evaluates each
    // stage once; a much deeper run would add a per-round
    // localCheckpoint (the cut llm_dedup_cc makes per pointer-jumping
    // round) to bound retry cost. Dangling mass
    // (out-degree-0 nodes) is dropped, as in the sparse-matrix
    // formulation.
    "graph_pagerank_knn" -> ((s, d) => {
      // Edge set = the shared SALTED adaptive kNN build (ops.KnnEdges,
      // round 13 — previously a third copy of the bucket self-join,
      // and the one the r12 verdict flagged unsalted): at the fixtures
      // np derives to 5, so the edge set (and the PageRank over it) is
      // unchanged, while at 100× the bucket join keeps Σ|cell|² and
      // its shuffle-key space growing with the corpus and the ×8 salt
      // splits cluster-dense cells. The in-plan count(*) scalar never
      // appears in the iteration plans: the edge set is
      // localCheckpoint'd below, so the loop hangs off the
      // materialized RDD.
      val edges = KnnEdges.edgeList(s, d)
      // deg is fused ONTO the checkpointed edge rows (out-degree is a
      // per-src window count — no separate deg table, no second join
      // per iteration), so each of the 3 iterations below is exactly
      // one shuffle join + one agg against one cached table.
      val edgesDeg = edges
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("src_id")))
        .localCheckpoint()
      val nodes = Tables.embeddings(s, d).select(col("vec_id"))
      // Round 18 (opt, guide §2.2): ranks never materialize between
      // iterations — pr is derivable inline from the previous
      // iteration's in_sum (pr = 150000 + (17·in_sum) div 20 with
      // missing in-edges ⇒ in_sum = 0), so the per-iteration N-row
      // nodes re-scan + shuffle + LeftOuter SMJ that rebuilt the full
      // ranks table runs only ONCE, for the final all-nodes output,
      // and iteration 1 needs no join at all (initial pr is the
      // constant 1000000). Per-iteration cost drops from
      // E⋈N + agg + N⋈agg to E⋈contrib + agg; values bit-identical
      // (integer micro-units — Round18Spec pins equality against the
      // retired ranks-per-iteration form).
      var contrib = edgesDeg
        .select(col("dst_id").as("vec_id"),
                expr("1000000L div deg").as("c"))
        .groupBy("vec_id").agg(sum("c").as("in_sum"))
      for (_ <- 2 to 3) {
        contrib = edgesDeg
          .join(contrib.withColumnRenamed("vec_id", "src_id"),
                Seq("src_id"), "left")
          .select(col("dst_id").as("vec_id"),
                  expr("(150000L + (17 * coalesce(in_sum, 0L)) div 20) div deg")
                    .as("c"))
          .groupBy("vec_id").agg(sum("c").as("in_sum"))
      }
      nodes.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
                (lit(150000L) +
                   expr("(17 * coalesce(in_sum, 0L)) div 20")).as("pr"))
        .orderBy("vec_id")
    }),

    // Vocabulary coverage curve: share of total token mass covered by
    // the top-k vocabulary words, k = 1..50 — the number that sizes a
    // vocab (and the integral the Zipf fit summarizes). The top-50 cut
    // is a sort-LIMIT (TakeOrderedAndProject: bounded per-partition
    // heaps, no single-task sort of the full vocab); the rank and
    // cumulative windows then run over exactly 50 rows. Shares are
    // integer ppm of the bigint total.
    "llm_vocab_coverage" -> ((s, d) => {
      // Round 18 (opt, guide §2.4): the corpus token total was a
      // scalar aggregate over the SAME un-materialized vocab subtree
      // the top-50 cut reads, so the corpus explode+aggregate ran
      // TWICE. The total is now a global-sum window over the
      // VOCAB-grain aggregate (the llm_zipf_fit shape — SCALE.md §14:
      // global windows only over aggregates), so the corpus pass runs
      // once and only (word, cnt) rows reach the single-partition
      // window. Values identical.
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .withColumn("total", sum("cnt").over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val w = Window.orderBy(desc("cnt"), asc("word"))
      vocab
        .orderBy(desc("cnt"), asc("word")).limit(50)
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("cum", sum("cnt").over(
          Window.orderBy(desc("cnt"), asc("word"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("k"), col("word"), col("cnt"),
                expr("(1000000 * cum) div total").as("cum_ppm"))
        .orderBy("k")
    })
  )

  def oracles: Map[String, String] = Map(
    "llm_doc_containment" ->
      """WITH toks AS (
           SELECT doc_id, lang,
                  list_distinct(string_split(text, ' ')) AS toks
           FROM documents
         ),
         p AS (
           SELECT a.doc_id AS x, b.doc_id AS y,
                  len(list_intersect(a.toks, b.toks)) AS inter,
                  len(a.toks) AS an, len(b.toks) AS bn
           FROM toks a JOIN toks b
             ON a.lang = b.lang AND a.doc_id < b.doc_id
           WHERE 2 * len(list_intersect(a.toks, b.toks)) >=
                 least(len(a.toks), len(b.toks))
         ),
         directed AS (
           SELECT x AS doc_id, (100 * inter) // an AS pct FROM p
           UNION ALL
           SELECT y AS doc_id, (100 * inter) // bn AS pct FROM p
         ),
         agg AS (
           SELECT doc_id,
                  sum(CASE WHEN pct >= 80 THEN 1 ELSE 0 END)
                    AS n_supersets,
                  max(pct) AS max_pct
           FROM directed GROUP BY doc_id
         )
         SELECT d.doc_id,
                CAST(coalesce(n_supersets, 0) AS BIGINT) AS n_supersets,
                CAST(coalesce(max_pct, -1) AS BIGINT)
                  AS max_containment_pct
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         ORDER BY d.doc_id""",

    "llm_quality_gopher_rules" ->
      """WITH g AS (
           SELECT lang, n_chars,
                  string_split(text, ' ') AS toks,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                  n_chars - (len(string_split(text, ' ')) - 1) AS cw,
                  CAST(length(text) -
                       length(regexp_replace(text, '[0-9]', '', 'g'))
                       AS BIGINT) AS n_digit,
                  CAST(len(list_intersect(
                         list_distinct(string_split(text, ' ')),
                         ['the', 'key', 'order', 'sort', 'scan']))
                       AS BIGINT) AS n_stop
           FROM documents
         ),
         f AS (
           SELECT lang,
                  (nw >= 20 AND nw <= 80) AS ok_wc,
                  (cw >= nw * 4 AND cw <= nw * 5) AS ok_mwl,
                  (n_stop >= 2) AS ok_stop,
                  (n_digit * 10 < n_chars) AS ok_digit
           FROM g
         )
         SELECT lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN NOT ok_wc THEN 1 ELSE 0 END)
                     AS BIGINT) AS fail_wordcount,
                CAST(sum(CASE WHEN NOT ok_mwl THEN 1 ELSE 0 END)
                     AS BIGINT) AS fail_meanlen,
                CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END)
                     AS BIGINT) AS fail_stopword,
                CAST(sum(CASE WHEN NOT ok_digit THEN 1 ELSE 0 END)
                     AS BIGINT) AS fail_digit,
                CAST(sum(CASE WHEN ok_wc AND ok_mwl AND ok_stop
                              AND ok_digit THEN 1 ELSE 0 END)
                     AS BIGINT) AS pass_all
         FROM f GROUP BY lang ORDER BY lang""",

    "graph_pagerank_knn" ->
      s"""WITH ${graft.ops.KnnEdges.duckEdgesCtes()},
         edges AS (
           SELECT src_id, dst_id FROM knn_edges
         ),
         deg AS (
           SELECT src_id, count(*) AS deg FROM edges GROUP BY src_id
         ),
         r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr
                FROM embeddings),
         r1 AS (
           SELECT n.vec_id,
                  150000 + (17 * coalesce(s.in_sum, 0)) // 20 AS pr
           FROM embeddings n LEFT JOIN (
             SELECT e.dst_id AS vec_id, sum(r.pr // d.deg) AS in_sum
             FROM edges e
             JOIN deg d ON e.src_id = d.src_id
             JOIN r0 r ON e.src_id = r.vec_id
             GROUP BY e.dst_id) s ON n.vec_id = s.vec_id
         ),
         r2 AS (
           SELECT n.vec_id,
                  150000 + (17 * coalesce(s.in_sum, 0)) // 20 AS pr
           FROM embeddings n LEFT JOIN (
             SELECT e.dst_id AS vec_id, sum(r.pr // d.deg) AS in_sum
             FROM edges e
             JOIN deg d ON e.src_id = d.src_id
             JOIN r1 r ON e.src_id = r.vec_id
             GROUP BY e.dst_id) s ON n.vec_id = s.vec_id
         ),
         r3 AS (
           SELECT n.vec_id,
                  150000 + (17 * coalesce(s.in_sum, 0)) // 20 AS pr
           FROM embeddings n LEFT JOIN (
             SELECT e.dst_id AS vec_id, sum(r.pr // d.deg) AS in_sum
             FROM edges e
             JOIN deg d ON e.src_id = d.src_id
             JOIN r2 r ON e.src_id = r.vec_id
             GROUP BY e.dst_id) s ON n.vec_id = s.vec_id
         )
         SELECT vec_id, CAST(pr AS BIGINT) AS pr
         FROM r3 ORDER BY vec_id""",

    "llm_vocab_coverage" ->
      """WITH vocab AS (
           SELECT word, count(*) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents)
           GROUP BY word
         ),
         t AS (SELECT sum(cnt) AS total FROM vocab),
         ranked AS (
           SELECT word, cnt,
                  row_number() OVER (ORDER BY cnt DESC, word) AS k,
                  sum(cnt) OVER (ORDER BY cnt DESC, word
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
           FROM vocab
         )
         SELECT CAST(k AS BIGINT) AS k, word, cnt,
                CAST((1000000 * cum) // total AS BIGINT) AS cum_ppm
         FROM ranked, t
         WHERE k <= 50
         ORDER BY k"""
  )
}
