package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 second batch — SURVEY.md §2.11o: k-means Lloyd iterations
  * over the embedding table (the clustering stage behind semantic
  * dedup / diversity sampling), bigram PMI collocations, the
  * deterministic hash train/val/test split, and a range-clustered
  * sink layout. Determinism strategy per SURVEY §2.0: every distance
  * and every score is integer-derived (quantized embeddings, exact
  * count/sum pairs, logs of integer ratios), ties break on explicit
  * id order, floats appear only in final rounded outputs.
  */
object Pipelines13 extends Module {

  def queries: Map[String, Q] = Map(
    // Two Lloyd iterations of k-means over quantized embeddings —
    // the clustering primitive behind semantic dedup (drop near-
    // duplicate cluster members) and diversity-stratified sampling.
    // Design for exact cross-engine parity AND scale:
    //  * vectors quantize to integer milli-units once (floor(x·1000
    //    + 0.5) — identical IEEE ops in both engines), so every
    //    distance is an EXACT integer sum, never an accumulated
    //    float: assignment argmins cannot flip on summation order;
    //  * k = 10 fixed seed centroids (vec_id ≡ 0 mod 50, < 500) —
    //    assignment cost is N·dim·k, LINEAR in the corpus, and the
    //    (k·dim)-row centroid tables broadcast;
    //  * the mean update stays a (Σq, n) integer pair; iteration-2
    //    distance compares Σ(n·q − S)² / n² — exact integer
    //    numerators, one exact double division at the end;
    //  * ties break toward the lower cluster id.
    // At larger k, pre-bucket by a coarse quantizer (the
    // llm_sim_topk_ivf pattern) so each vector probes nprobe cells
    // instead of all k.
    "llm_embed_kmeans" -> ((s, d) => {
      // Array-form assignment via the codegen'd fused dot:
      // ‖v−c‖² = ‖v‖² − 2·v·c + ‖c‖² — exact integers throughout, and
      // the candidate table is N·k rows (k=10 centroid ARRAYS
      // broadcast), not the N·dim·k exploded-position join (64× the
      // rows). The oracle states the exploded Σ(q−qc)² form; the two
      // are the same integer by algebra, so parity is exact.
      val qarr = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> coalesce(cast(floor(cast(x as double) * 1000 + 0.5) as bigint), 0L))")
          .as("qa"))
        .withColumn("n2", expr("graft_long_dot(qa, qa)"))
        .localCheckpoint() // reused by both assignments + the update
      val cent0 = qarr
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
        .select(expr("vec_id div 50").as("c"), col("qa").as("ca"),
                col("n2").as("cn2"))
      // Round 18 (opt): the per-vector argmin was a row_number window
      // over the N·k candidate table — an Exchange(vec_id) + full
      // per-partition SORT of N·k rows (WindowGroupLimit bounds what
      // crosses the exchange, not the map-side sort). A min-struct
      // aggregate — the pattern llm_dedup_semantic already uses —
      // computes the same argmin with a partially-aggregated hash
      // agg: candidates collapse to one row per vec_id per partition
      // BEFORE the shuffle, no sort anywhere. min(struct(dist, c)) is
      // lexicographic, identical to orderBy(dist asc, c asc) row 1.
      val a1 = qarr.crossJoin(broadcast(cent0))
        .select(col("vec_id"),
                (col("n2") - lit(2L) * expr("graft_long_dot(qa, ca)") +
                  col("cn2")).as("dist"),
                col("c"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("c"))).as("m1"))
        .select(col("vec_id"), col("m1.c").as("c"))
      // Mean update: one exploded pass builds the per-cluster (Σq, n)
      // integer pairs, re-packed into pos-ordered arrays so the
      // second assignment is again a k-row broadcast of arrays.
      val upd = qarr.join(a1, Seq("vec_id"))
        .select(col("c"), posexplode(col("qa")))
        .toDF("c", "pos", "q")
        .groupBy("c", "pos")
        .agg(sum("q").as("sc"), count(lit(1)).as("n"))
      val cents1 = upd.groupBy("c")
        .agg(expr("transform(array_sort(collect_list(struct(pos, sc))), x -> coalesce(x.sc, 0L))")
               .as("sa"),
             max("n").as("n"))
        .withColumn("s2", expr("graft_long_dot(sa, sa)"))
      // dist to the mean, scaled by n²: (n²‖v‖² − 2n·v·S + ‖S‖²)/n² —
      // integer numerator (≤ ~4e14), one exact double division.
      val a2 = qarr.crossJoin(broadcast(cents1))
        .select(col("vec_id"),
                ((col("n") * col("n") * col("n2") -
                  lit(2L) * col("n") * expr("graft_long_dot(qa, sa)") +
                  col("s2")) / (col("n") * col("n"))).as("dist"),
                col("c"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("c"))).as("m2"))
        .select(col("vec_id"), col("m2.c").as("c"))
      val n1 = a1.groupBy("c").agg(count(lit(1)).as("n_init"))
      val n2 = a2.groupBy("c").agg(count(lit(1)).as("n_final"))
      n1.join(n2, Seq("c"), "full_outer")
        .select(col("c"),
                coalesce(col("n_init"), lit(0L)).as("n_init"),
                coalesce(col("n_final"), lit(0L)).as("n_final"))
        .orderBy("c")
    }),

    // Bigram PMI collocations: pointwise mutual information of
    // adjacent token pairs — the classic collocation/phrase-mining
    // signal (and the scoring behind merge candidates in BPE-style
    // vocab induction). PMI = ln c_xy + 2·ln N − ln Nb − ln c_x −
    // ln c_y: every operand an exact integer count, the expression
    // written with IDENTICAL shape in both engines so the float
    // result is bit-identical before rounding (no integer products
    // that could overflow an engine's fixed-width multiply). Support
    // floor ≥ 5, top-50 by support with full lexical tiebreak —
    // resolves as TakeOrderedAndProject, never a global sort.
    "llm_token_bigram_pmi" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(split(col("text"), " ").as("ts"))
      // Round 18 (opt, guide §2.4): both count tables are materialized
      // once — un-checkpointed, the bigram aggregate subtree ran TWICE
      // (main chain + its n_bi total) and the unigram aggregate THREE
      // times (n_uni total + both broadcast builds), i.e. five corpus
      // explode+agg passes for a two-pass computation. Checkpoints are
      // VOCAB-grain aggregates (|bigram vocab| / |vocab| rows), never
      // corpus rows. Results identical.
      val bi = toks
        .select(explode(expr(
          "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), (a, b) -> struct(a, b))"))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c_xy"))
        .localCheckpoint()
      val uni = toks.select(explode(col("ts")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val totals = uni.agg(sum("cnt").as("n_uni"))
        .crossJoin(bi.agg(sum("c_xy").as("n_bi")))
      bi.join(broadcast(uni.select(col("tok").as("a"), col("cnt").as("c_x"))),
              Seq("a"))
        .join(broadcast(uni.select(col("tok").as("b"), col("cnt").as("c_y"))),
              Seq("b"))
        .crossJoin(broadcast(totals))
        .filter(col("c_xy") >= 5)
        .select(col("a"), col("b"), col("c_xy"),
                (round(log(col("c_xy")) + lit(2.0) * log(col("n_uni")) -
                       log(col("n_bi")) - log(col("c_x")) -
                       log(col("c_y")), 4) + 0.0).as("pmi"))
        .orderBy(col("c_xy").desc, col("a").asc, col("b").asc)
        .limit(50)
    }),

    // Deterministic train/val/test split (90/5/5) by content-stable
    // hash bucket — THE reproducible-split primitive for training
    // pipelines: no RNG, no row order dependence, any engine that
    // computes md5 agrees on every document's assignment. Bucket =
    // first 8 md5 hex chars of the doc id, mod 100; shares ride a
    // window over the 3-row aggregate.
    "llm_split_train_val" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", expr(
          Hashing.md5Prefix("cast(doc_id as string)") + " % 100"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
             sum(size(split(col("text"), " ")).cast("long"))
               .as("n_tokens"))
        .withColumn("doc_share",
          round(col("n_docs") / sum("n_docs").over(Window.partitionBy()),
                4) + 0.0)
        .orderBy("split")),

    // Range-clustered sink: repartitionByRange + sortWithinPartitions
    // on user_id before writing — the layout that makes parquet
    // row-group min/max statistics selective, so a user-range
    // predicate on the read side prunes at the row-group level (the
    // sort-key analogue of partition pruning; at 100 TB, clustering
    // the fact table on its hottest filter key is the difference
    // between touching 8 files and all of them). The read-back
    // filter lands in PushedFilters (plan-asserted in Round6bSpec);
    // the aggregate proves read-back equivalence.
    "sink_clustered_minmax" -> ((s, d) => {
      val out = Sinks.sinkPath(s, "events_clustered", d)
      Tables.events(s, d)
        .repartitionByRange(8, col("user_id"))
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("user_id") >= 1 && col("user_id") <= 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value").cast("decimal(30,10)")), 2)
               .cast("double").as("sum_value"))
        .orderBy("event_type")
    })
  )

  def oracles: Map[String, String] = Map(
    "llm_embed_kmeans" ->
      """WITH vp AS (
           SELECT vec_id,
                  CAST(unnest(range(0, len(embedding))) AS BIGINT) AS pos,
                  unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                              AS BIGINT))) AS q
           FROM embeddings
         ),
         cent0 AS (
           SELECT vec_id // 50 AS c, pos, q AS qc
           FROM vp WHERE vec_id % 50 = 0 AND vec_id < 500
         ),
         d1 AS (
           SELECT v.vec_id, c.c,
                  CAST(sum((v.q - c.qc) * (v.q - c.qc)) AS BIGINT) AS dist
           FROM vp v JOIN cent0 c USING (pos)
           GROUP BY v.vec_id, c.c
         ),
         a1 AS (
           SELECT vec_id, c FROM (
             SELECT vec_id, c, row_number() OVER
                      (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rk
             FROM d1) WHERE rk = 1
         ),
         upd AS (
           SELECT a1.c, vp.pos, CAST(sum(vp.q) AS BIGINT) AS sc,
                  count(*) AS n
           FROM vp JOIN a1 USING (vec_id) GROUP BY a1.c, vp.pos
         ),
         d2 AS (
           SELECT v.vec_id, u.c,
                  CAST(sum((u.n * v.q - u.sc) * (u.n * v.q - u.sc))
                       AS BIGINT) / (max(u.n) * max(u.n)) AS dist
           FROM vp v JOIN upd u USING (pos)
           GROUP BY v.vec_id, u.c
         ),
         a2 AS (
           SELECT vec_id, c FROM (
             SELECT vec_id, c, row_number() OVER
                      (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rk
             FROM d2) WHERE rk = 1
         ),
         n1 AS (SELECT c, count(*) AS n_init FROM a1 GROUP BY c),
         n2 AS (SELECT c, count(*) AS n_final FROM a2 GROUP BY c)
         SELECT c, coalesce(n_init, 0) AS n_init,
                coalesce(n_final, 0) AS n_final
         FROM n1 FULL OUTER JOIN n2 USING (c)
         ORDER BY c""",

    "llm_token_bigram_pmi" ->
      """WITH t AS (
           SELECT string_split(text, ' ') AS ts FROM documents
         ),
         ti AS (
           SELECT ts, unnest(range(1, len(ts))) AS i FROM t
         ),
         bi AS (
           SELECT ts[i] AS a, ts[i + 1] AS b, count(*) AS c_xy
           FROM ti GROUP BY a, b
         ),
         uni AS (
           SELECT tok, count(*) AS cnt
           FROM (SELECT unnest(ts) AS tok FROM t) GROUP BY tok
         ),
         tot AS (
           SELECT (SELECT CAST(sum(cnt) AS BIGINT) FROM uni) AS n_uni,
                  (SELECT CAST(sum(c_xy) AS BIGINT) FROM bi) AS n_bi
         )
         SELECT a, b, c_xy,
                round(ln(c_xy) + 2.0 * ln(n_uni) - ln(n_bi) -
                      ln(c_x) - ln(c_y), 4) + 0.0 AS pmi
         FROM bi
           JOIN (SELECT tok AS a, cnt AS c_x FROM uni) ua USING (a)
           JOIN (SELECT tok AS b, cnt AS c_y FROM uni) ub USING (b)
           CROSS JOIN tot
         WHERE c_xy >= 5
         ORDER BY c_xy DESC, a ASC, b ASC
         LIMIT 50""",

    "llm_split_train_val" ->
      """WITH b AS (
           SELECT CAST(('0x' || substring(
                    md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 100 AS bucket,
                  len(string_split(text, ' ')) AS n_toks
           FROM documents
         ),
         sp AS (
           SELECT CASE WHEN bucket < 90 THEN 'train'
                       WHEN bucket < 95 THEN 'val'
                       ELSE 'test' END AS split,
                  n_toks
           FROM b
         )
         SELECT split, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                round(count(*) / sum(count(*)) OVER (), 4) + 0.0
                  AS doc_share
         FROM sp GROUP BY split
         ORDER BY split""",

    "sink_clustered_minmax" ->
      """SELECT event_type, count(*) AS n_events,
                round(sum(value), 2) AS sum_value
         FROM events
         WHERE user_id >= 1 AND user_id <= 8
         GROUP BY event_type ORDER BY event_type"""
  )
}
