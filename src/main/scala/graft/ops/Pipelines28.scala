package graft.ops

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 batch — SURVEY.md §2.14: writer-side MERGE emulation (the
  * upsert semantics a warehouse user expects, VERDICT r10 "missing"
  * item 2), the sweep-line interval-cardinality pattern, forward
  * as-of, corpus-novelty scoring, the HiveQL LATERAL VIEW surface,
  * the multimodal resize + features legs of the
  * decode/extract/resize/sample quartet, and the adaptive-plane
  * sign-LSH top-k (the scale knob computed in-plan). The declared
  * transformWithState key lives with its streaming siblings in
  * ops/Streaming.scala; the ungated minhash pair list with its gated
  * twin in ops/LlmScale.scala. SURVEY §2.0 determinism rules apply:
  * integer arithmetic until one final division, money in integer
  * cents, every key ends in an ORDER BY.
  */
object Pipelines28 extends Module {

  /** The radius-with-np probe-bucket set (round 13): every bucket
    * within Hamming radius `r` of `bucket` over `np` planes, as
    * Σ_{k≤r} C(np,k) distinct XOR masks built by explicit ascending
    * k-combination enumeration (never a 2^np enumerate-and-filter —
    * at np=26 that materializes a 67 M-element array per probe row
    * where the combination form emits ~313 k). Expects columns
    * `bucket`, `np`, and `r` in scope; the k=3 and k=4 terms sit
    * behind lazy `if`s on r so their sequence bounds (descending for
    * np below the term's arity) never evaluate below their radius.
    * Factored out so Round13Spec can pin the set's size, distinctness
    * and Hamming property at the large-np values the fixture corpus
    * (np=3, r=2) never reaches. */
  private[graft] val radiusProbeSet: String =
    """concat(array(bucket),
              transform(sequence(0, np - 1),
                        j -> bucket ^ shiftleft(1L, j)),
              flatten(transform(sequence(0, np - 2), j ->
                transform(sequence(j + 1, np - 1), k ->
                  bucket ^ shiftleft(1L, j)
                         ^ shiftleft(1L, k)))),
              if(r >= 3,
                 flatten(flatten(
                   transform(sequence(0, np - 3), j ->
                     transform(sequence(j + 1, np - 2), k ->
                       transform(sequence(k + 1, np - 1), l ->
                         bucket ^ shiftleft(1L, j)
                                ^ shiftleft(1L, k)
                                ^ shiftleft(1L, l)))))),
                 cast(array() as array<bigint>)),
              if(r >= 4,
                 flatten(flatten(flatten(
                   transform(sequence(0, np - 4), j ->
                     transform(sequence(j + 1, np - 3), k ->
                       transform(sequence(k + 1, np - 2), l ->
                         transform(sequence(l + 1, np - 1), m ->
                           bucket ^ shiftleft(1L, j)
                                  ^ shiftleft(1L, k)
                                  ^ shiftleft(1L, l)
                                  ^ shiftleft(1L, m)))))))),
                 cast(array() as array<bigint>)))"""

  /** Margin order for the QUERY-DIRECTED probe set (round 15): the
    * probe's bucket bit positions sorted by ascending flip cost
    * |margin|, ties by position — `margins` (array<bigint>, element
    * p+1 = plane p's pre-sign accumulator, graft_sign_lsh_margins)
    * and `np` in scope. Bit position b holds plane np−1−b, so its
    * cost is |margins[np−b]|. Fragment of [[marginMaskSet]], bound
    * separately because Spark SQL has no let-binding and the probe
    * fragment reads the order twice per pattern. */
  private[graft] val marginOrder: String =
    """array_sort(transform(sequence(0, np - 1),
         b -> struct(abs(element_at(margins, np - b)) as c, b as b)))"""

  /** The margin-directed (query-directed multiprobe) flip-mask domain
    * (round 15) — the public multiprobe-LSH recipe: a true neighbor
    * most plausibly differs on the planes whose pre-sign margin is
    * SMALL, so every flip set carries its total |margin| cost
    * (struct<c, f: flip mask>) and the caller keeps the
    * [[marginBudget]] cheapest per (probe, table) — sort by (c, f),
    * a deterministic total order, so the budget cut is
    * engine-identical — instead of enumerating the whole Hamming ball.
    * Expects `np`, `r` and `srt` (the [[marginOrder]] array) in
    * scope; combinations of sorted positions at depth ≤ r for
    * np ≤ 15 and ≤ min(r + 2, 5) past it (margins buy extra flip
    * DEPTH where it is cheap, instead of C(np, r+2) everywhere — the
    * 20 M probe ladder in BASELINE.md measured depth r+1 at 0.700
    * and r+2 at 0.733 under the same budget; the deepest term
    * enumerated is the 5-combination one, so the r = 4 ceiling step
    * probes depth r+1 — its 4 944 budget sits below the depth-5
    * domain there anyway).
    *
    * For np ≤ 15 the domain IS the full radius-r ball and the
    * caller's budget exceeds it, so the candidate set equals
    * [[radiusProbeSet]]'s exactly — every fixture point and every
    * measured point ≤ 8.2 M vectors is bit-identical (Round15Spec
    * pins the degeneracy). Flip bits within a combination are
    * distinct, so summing them equals XOR-folding them. Like
    * [[radiusProbeSet]], explicit ascending combination enumeration —
    * never a 2^np enumerate-and-filter — sized Σ_{k≤r'}C(np,k)
    * (9 402 at np=17/r'=5), and only materialized on probe rows
    * (10·T per query), never the corpus side. */
  private[graft] val marginMaskSet: String =
    """concat(
         array(struct(0L as c, cast(0L as bigint) as f)),
         transform(sequence(0, np - 1), j ->
           struct(element_at(srt, j + 1).c as c,
                  shiftleft(1L, element_at(srt, j + 1).b) as f)),
         flatten(transform(sequence(0, np - 2), j ->
           transform(sequence(j + 1, np - 1), k ->
             struct(element_at(srt, j + 1).c
                      + element_at(srt, k + 1).c as c,
                    shiftleft(1L, element_at(srt, j + 1).b)
                      + shiftleft(1L, element_at(srt, k + 1).b) as f)))),
         if(np > 15 or r >= 3,
            flatten(flatten(transform(sequence(0, np - 3), j ->
              transform(sequence(j + 1, np - 2), k ->
                transform(sequence(k + 1, np - 1), l ->
                  struct(element_at(srt, j + 1).c
                           + element_at(srt, k + 1).c
                           + element_at(srt, l + 1).c as c,
                         shiftleft(1L, element_at(srt, j + 1).b)
                           + shiftleft(1L, element_at(srt, k + 1).b)
                           + shiftleft(1L, element_at(srt, l + 1).b)
                           as f)))))),
            cast(array() as array<struct<c: bigint, f: bigint>>)),
         if(np > 15 and r >= 3,
            flatten(flatten(flatten(transform(sequence(0, np - 4), j ->
              transform(sequence(j + 1, np - 3), k ->
                transform(sequence(k + 1, np - 2), l ->
                  transform(sequence(l + 1, np - 1), m ->
                    struct(element_at(srt, j + 1).c
                             + element_at(srt, k + 1).c
                             + element_at(srt, l + 1).c
                             + element_at(srt, m + 1).c as c,
                           shiftleft(1L, element_at(srt, j + 1).b)
                             + shiftleft(1L, element_at(srt, k + 1).b)
                             + shiftleft(1L, element_at(srt, l + 1).b)
                             + shiftleft(1L, element_at(srt, m + 1).b)
                             as f)))))))),
            cast(array() as array<struct<c: bigint, f: bigint>>)),
         if(np > 15 and r >= 3,
            flatten(flatten(flatten(flatten(
              transform(sequence(0, np - 5), j ->
                transform(sequence(j + 1, np - 4), k ->
                  transform(sequence(k + 1, np - 3), l ->
                    transform(sequence(l + 1, np - 2), m ->
                      transform(sequence(m + 1, np - 1), n2 ->
                        struct(element_at(srt, j + 1).c
                                 + element_at(srt, k + 1).c
                                 + element_at(srt, l + 1).c
                                 + element_at(srt, m + 1).c
                                 + element_at(srt, n2 + 1).c as c,
                               shiftleft(1L, element_at(srt, j + 1).b)
                                 + shiftleft(1L, element_at(srt, k + 1).b)
                                 + shiftleft(1L, element_at(srt, l + 1).b)
                                 + shiftleft(1L, element_at(srt, m + 1).b)
                                 + shiftleft(1L,
                                     element_at(srt, n2 + 1).b)
                                 as f)))))))))),
            cast(array() as array<struct<c: bigint, f: bigint>>)))"""

  /** The per-probe-per-TABLE mask budget consuming [[marginMaskSet]]:
    * unlimited at np ≤ 15 (the domain is the exact radius ball
    * there); past the pin it is DERIVED from a target per-table
    * scanned fraction (round 17, VERDICT r16 task 4 — the r16 form
    * pinned the constant 2 048, whose fraction HALVED per np and
    * whose measured recall decayed toward the 0.70 floor):
    *
    *   budget = max(floor, 2^(np−8))   with 2^(np−8) = F*·2^np and
    *   F* = 2^−8 per table (4·2^−8 ≈ 1.56 % across the T = 4
    *   tables — the SEVENTH-decade operating point, the last
    *   measured recall ≥ the floor), floor = 2 048 at r = 3 (the
    *   post-step richness the x2500 corpus measured paying:
    *   0.800 vs 0.767) and Σ_{k≤r+1}C(15,k) = 4 944 at the r = 4
    *   ceiling step.
    *
    * Budget-vs-fraction by np band (each np increment ≈ one corpus
    * doubling, N ≈ 250·2^np):
    *   - np = 16 (~8.2–16.4 M): floor binds — 2 048, 4·2048/2^16 =
    *     12.5 % (deliberately rich right after the regime step);
    *   - np = 17–19 (20–80 M): floor binds — 2 048, fraction
    *     halves 6.25 → 1.56 %; measured recall 0.733/0.733/0.700
    *     (BASELINE.md ladders), reaching the floor exactly where
    *     the fraction reaches F*;
    *   - np = 20–23 (0.25–2×10⁹): the fraction term binds —
    *     4 096/8 192/16 384/32 768 masks hold 4F* ≈ 1.56 % constant
    *     (the r16 extrapolation put the floor break at np = 20–21
    *     under the constant budget; holding the fraction is the
    *     fix), probe-mask broadcast ≤ 32 768·10·4 rows ≈ 21 MB;
    *   - np ≥ 24: the DOMAIN binds — Σ_{k≤5}C(np,k) < 2^(np−8), so
    *     the budget keeps every mask of flip depth ≤ 5 and the
    *     fraction decays again (documented floor change: holding F*
    *     past np = 23 needs depth-6 mask terms, the same mechanical
    *     widening that added depths 4–5 in round 15).
    *     Round 18 measured that widening (and budget ×2/×4) at
    *     np = 20, 160 M vectors: aggregate recall stayed at 0.667,
    *     because the missed exact-top-3 pairs are cos 0.60–0.66
    *     cross-copy tail neighbors needing 6–11 flips in their best
    *     table while every planted twin is found at ≤ 2 flips — so
    *     the domain stops at depth 5 (depth 6 would cost C(np,6)
    *     structs per probe and table, 38 760 at np = 20).
    *
    * Per-table, NOT pooled across tables: the 20 M ladder measured
    * pooled allocation at 0.633 — the pooled budget drains into
    * whichever table has the smallest margins, collapsing the
    * cross-table independence that catches the weaker true
    * neighbors. Bit-identity below np = 20 with the r16 constant is
    * pinned in Round17Spec.
    *
    * The outer least(…, 2^31−1) (round 18 — ADVICE r17 item 2): the
    * budget feeds `slice`, whose length argument is an INT, and at
    * np ≥ 39 the unclamped 2^(np−8) wraps negative through the int
    * cast — every candidate mask dropped, recall 0. The clamp is
    * semantically free at every reachable np: the kept set is
    * bounded by the depth-≤(r+2) domain Σ C(np,k), which stays far
    * below 2^31 for all np ≤ 62, so clamped-slice ≡ the DuckDB
    * oracle's unclamped BIGINT comparison. Pinned in Round18Spec. */
  private[graft] val marginBudget: String =
    """cast(least(if(np <= 15, 2147483647,
             greatest(if(r >= 4, 4944, 2048),
                      shiftleft(cast(1 as bigint), np - 8))),
             2147483647) as int)"""

  def queries: Map[String, Q] = Map(
    // MERGE INTO emulation (no transactional table format in this
    // environment, so the merge is computed relationally and made
    // writer-side by round-tripping through a parquet sink): target =
    // every order with key % 3 != 0 (the "warehouse table"), source =
    // every order with key % 2 = 0 carrying a +100.00 price revision
    // (the "change feed"). WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED
    // THEN INSERT — one FULL OUTER join on the key, coalescing source
    // over target, with each row labeled by the action the MERGE took
    // ('update' / 'insert' / 'keep'). At 100 TB this is exactly the
    // copy-on-write MERGE plan (Delta/Iceberg do the same join against
    // the matched files); the shuffle key is the merge key, uniform.
    // Output: per-action audit in integer cents over the re-read sink.
    "sink_merge_upsert" -> ((s, d) => {
      val target = Tables.orders(s, d)
        .filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("tp"))
      val source = Tables.orders(s, d)
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"),
                (col("o_totalprice") + 100.0).as("sp"))
      val merged = source.join(target, Seq("k"), "full_outer")
        .select(col("k"),
                coalesce(col("sp"), col("tp")).as("p"),
                when(col("sp").isNotNull && col("tp").isNotNull, "update")
                  .when(col("sp").isNotNull, "insert")
                  .otherwise("keep").as("action"))
      val root = Sinks.sinkPath(s, "merge_upsert", d)
      merged.write.mode("overwrite").parquet(root)
      s.read.parquet(root)
        .groupBy("action")
        .agg(count(lit(1)).as("n_rows"),
             sum(expr("cast(round(p * 100) as bigint)")).as("sum_cents"),
             min("k").as("min_key"), max("k").as("max_key"))
        .orderBy("action")
    }),

    // Corpus novelty: per doc, the fraction of its 3-gram shingles
    // appearing for the FIRST time in the corpus (by doc_id order) —
    // the signal a curriculum/dedup pipeline uses to find documents
    // that only restate earlier ones (novelty → 0) versus genuinely
    // new material (novelty → 1). Round 18 (opt, guide §2.3/§2.4,
    // results identical): the r17 form joined the FULL exploded
    // shingle stream back against the (shingle → first doc) table —
    // a second corpus-scale shuffle of E rows — only to count, per
    // doc, how many of its shingles it owns. But that count is
    // directly `first.groupBy(fd).count()` (each shingle contributes
    // its one first-owner row), and the per-doc shingle total is a
    // separate uniform agg of the stream — so the E-row join-back
    // disappears: two aggregates (E→|G| and E→|docs|), one |G|→|docs|
    // agg, one |docs|⋈|docs| join. Shingles shuffle as xxhash64
    // longs, not ~20-byte strings (8 bytes/key; distinct-of-hashes ≡
    // hash-of-distinct as a set — the same 64-bit-collision tradeoff
    // every hashed join key here accepts, and min(doc_id) per hashed
    // shingle equals min per shingle absent collisions). The
    // first-occurrence min is how the "seen so far" state avoids any
    // ordered scan at 100 TB. Integer deciles via `div`.
    "llm_ngram_novelty" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3) // shingle-less docs can't score
        .select(col("doc_id"), explode(array_distinct(expr(
          """transform(sequence(1, size(t) - 2),
               i -> xxhash64(concat_ws(' ', element_at(t, i),
                             element_at(t, i + 1), element_at(t, i + 2))))"""
          ))).as("g"))
      val nSh = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val nNovel = sh.groupBy("g").agg(min("doc_id").as("fd"))
        .groupBy(col("fd").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      nSh.join(nNovel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sh"),
                coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .groupBy(expr("(10 * n_novel) div n_sh").as("novelty_x10"))
        .agg(count(lit(1)).as("n_docs"),
             sum("doc_id").as("sum_doc_ids"),
             sum("n_novel").as("sum_novel"))
        .orderBy("novelty_x10")
    }),

    // Sweep-line interval cardinality — "how many orders were open on
    // each day" WITHOUT a per-day explode: each order contributes a
    // +1 delta at its open day (o_orderdate) and a −1 at close+1
    // (close = the order's last l_shipdate), deltas aggregate per day
    // (one uniform shuffle over ~|days| groups), and the running sum
    // over the |days|-row aggregate is the open count. The window is
    // global but over a TINY aggregate (≈2 500 day rows at any corpus
    // scale — day cardinality doesn't grow with row count), the same
    // shape as events_cumulative_users. Output: per-month peak and
    // end-of-month backlog.
    "orders_backlog_sweep" -> ((s, d) => {
      val closes = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(max("l_shipdate").as("close_ts"))
      val spans = Tables.orders(s, d)
        .join(closes, col("o_orderkey") === col("k"))
        .select(expr("unix_date(to_date(o_orderdate))").as("d0"),
                expr("unix_date(to_date(close_ts))").as("d1"))
      // Round 18 (opt, guide §2.4): the +1/−1 delta rows came from a
      // two-branch UNION of the same `spans`, and an un-materialized
      // subtree is duplicated per consumer — the lineitem close-date
      // aggregate and the orders join executed TWICE. One generator
      // row per endpoint (explode of a 2-array of structs) emits both
      // deltas from a single pass. Results identical.
      val deltas = spans
        .select(explode(array(
            struct(col("d0").as("day"), lit(1L).as("delta")),
            struct((col("d1") + 1).as("day"), lit(-1L).as("delta"))))
          .as("e"))
        .select(col("e.day").as("day"), col("e.delta").as("delta"))
      val daily = deltas.groupBy("day").agg(sum("delta").as("net"))
      val open = daily.withColumn("open",
        sum("net").over(Window.orderBy("day")))
      // Per-month peak seeded with the month's CARRY-IN level (round
      // 12, ADVICE r11): between delta days the open count holds
      // constant, so a month whose first delta is negative peaks at
      // the level it inherited, not at any of its own delta-day
      // values — true peak = greatest(carry_in, max over delta days),
      // with carry_in = the previous output month's end level (exact
      // even across absent months, where the level never moves). Both
      // windows run over the tiny month/day-grain aggregates.
      val monthly = open
        .withColumn("dt", expr("date_from_unix_date(cast(day as int))"))
        .groupBy((year(col("dt")) * 100 + month(col("dt")))
          .cast("long").as("month_key"))
        .agg(max("open").as("mx"),
             expr("max_by(open, day)").as("eom_open"),
             count(lit(1)).as("n_days"))
      monthly
        .withColumn("carry_in",
          coalesce(lag("eom_open", 1).over(Window.orderBy("month_key")),
                   lit(0L)))
        .select(col("month_key"),
                greatest(col("carry_in"), col("mx")).as("peak_open"),
                col("eom_open"), col("n_days"))
        .orderBy("month_key")
    }),

    // HiveQL LATERAL VIEW surface (the generator-join syntax Spark
    // inherits from Hive — distinct from the ANSI `LATERAL` subquery
    // of join_lateral_topn and from the DataFrame explode of
    // str_split_explode): token-length profile per language. The
    // generator runs inside the scan stage (no shuffle until the
    // aggregate), exactly like the API form.
    "sql_lateral_view_explode" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("graft_docs_lv")
      s.sql(
        """SELECT lang, CAST(length(tok) AS BIGINT) AS tok_len,
          |       count(*) AS n_tokens,
          |       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
          |FROM graft_docs_lv
          |LATERAL VIEW explode(split(text, ' ')) t AS tok
          |GROUP BY lang, length(tok)
          |ORDER BY lang, tok_len""".stripMargin)
    }),

    // The resize leg of the multimodal quartet (meta/features/frames
    // already declared): runs the REAL Dataset plumbing —
    // Multimodal.resizeAll's per-partition mapPartitions over typed
    // MediaRecord rows, bounded batches, no collect — with the
    // documented FakeCodec stand-in for the pixel work (no codec libs
    // in this sandbox; a real decoder drops into FakeCodec.resize and
    // nothing else changes). Audio passes through untouched;
    // image/video payloads clip to the 25×10 box's byte budget. The
    // oracle mirrors the arithmetic of the stub, so the PLUMBING
    // (schema, typing, batch shape, per-type grouping) is what's
    // checked cross-engine.
    "llm_multimodal_resize" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, d)
      val before = media.toDF()
        .select(col("media_id"), col("media_type"),
                length(col("content")).cast("long").as("n_before"))
      val after = Multimodal.resizeAll(media, 25, 10).toDF()
        .select(col("media_id"),
                length(col("content")).cast("long").as("n_after"))
      before.join(after, Seq("media_id"))
        .groupBy("media_type")
        .agg(count(lit(1)).as("n_items"),
             sum("n_before").as("bytes_before"),
             sum("n_after").as("bytes_after"))
        .orderBy("media_type")
    }),

    // The FEATURES leg of the multimodal quartet (meta / frames /
    // resize already declared): integer-exact per-record content
    // features through the real typed-Dataset mapPartitions path —
    // byte mass and a 31-polynomial head fingerprint folded mod
    // 1e9+7 (the explicit mod is what makes the fingerprint
    // cross-engine portable: the unreduced polynomial overflows
    // int64, where DuckDB errors and the JVM wraps). The float
    // entropy of `extractFeatures` stays ScalaTest-only — float log
    // is not bit-portable — which is exactly the declared/asserted
    // split the streaming keys use. Oracle recomputes both features
    // character-wise from the ASCII text.
    "llm_multimodal_features" -> ((s, d) => {
      Multimodal.extractFeaturesExact(Multimodal.fromDocuments(s, d))
        .toDF()
        .groupBy("media_type")
        .agg(count(lit(1)).as("n_items"),
             sum("n_bytes").as("bytes_total"),
             sum("byte_sum").as("byte_mass"),
             sum("head_hash").as("head_hash_sum"))
        .orderBy("media_type")
    }),

    // ADAPTIVE-PLANE sign-LSH top-k — the scale knob of the sign-LSH
    // family promoted to a first-class, in-plan computation (the
    // round-11 embeddings probe measured what a PINNED plane count
    // does at 100×: 8 cells → Σ|cell|² grows 10⁴× and the candidate
    // join has 8 shuffle keys, parallelism collapses to ~1 core —
    // BASELINE.md round-11 probe section). The plane count is derived
    // from the corpus size INSIDE the plan, integer-exactly in both
    // engines: np = max(3, bits((N−1) div 250)) — one more plane per
    // corpus doubling, target cell ≈ 250 vectors — via length(bin(x))
    // (floor(log2)+1 with no float log anywhere). The bucket is then
    // the SignLsh hash-plane projection with np planes; candidate
    // volume and shuffle-key count both grow with N instead of being
    // frozen at fixture scale.
    //
    // The probe side carries RADIUS-WITH-NP multi-probe (round 13 —
    // the r12 verdict's top recall item): each probe scans every
    // bucket within Hamming radius r of its own, with r derived
    // IN-PLAN from the plane count, r = least(4, greatest(2,
    // np div 4)). A FIXED radius is a measured scale-killer: the
    // round-12d TopkProbe clocked the Hamming≤2 form's id recall at
    // 0.633 → 0.667 → 0.400 across 10×/100×/1000× while the probed
    // fraction collapsed N/7 → N/18 → N/155 (92 of 8192 cells at
    // np=13) — the radius has to grow with np to hold the probed
    // fraction, and the cost of growing it is probe-side fan-out
    // only: the probe relation is 10·Σ_{k≤r} C(np,k) broadcast rows
    // (378 at np=13/r=3 — tiny at any scale), while the corpus side
    // never fans out. The r dial holds probed mass ≈ Σ C(np,k)/2^np
    // roughly flat (≈1/7 at np=3..8/r=2, ≈1/22 at np=13/r=3,
    // ≈1/26 at np=16/r=4); the least(4,…) cap binds past np=19
    // (≈ 131 M vectors at 250/cell) — the documented production
    // widening is a k=5 term, same shape. The 3- and 4-flip terms
    // sit behind lazy `if`s on r, so below their radius the
    // (descending) sequence bounds never evaluate. Multi-probe at
    // radius ≥ 1 is the recall device the dedup scale path has had
    // since round 11; a neighbor still matches at most one probe
    // bucket (the probe's bucket set is distinct XOR masks), so no
    // pair dedup is needed. The output's `bucket` column is the
    // NEIGHBOR's bucket (= the matched probe bucket). At fixture
    // scale (np=3, r=2) the probe set is byte-identical to the
    // round-12d Hamming≤2 form, and the multi-probe candidate set
    // strictly contains the pinned key's, so per-rank cos_sim
    // dominates the pinned key's (Round11Spec). Measured trajectory
    // (rounds 14-15, BASELINE.md): 0.600 / 0.767 / 0.767 / 0.700 /
    // 0.600 across 400 k / 4 M / 10 M / 20 M / 40 M vectors — the
    // fifth-decade dip onward is the single-table ball fraction
    // shrinking untargeted, and the production successor there is
    // the COMPOSED key (`llm_sim_topk_lsh_or`, T = 4 tables ×
    // margin-directed radius-r probing), which holds 0.733 at both
    // 20 M and 40 M and leads from the fifth decade on.
    "llm_sim_topk_lsh_adaptive" -> ((s, d) => {
      val planes = Tables.embeddings(s, d)
        .agg(count(lit(1)).as("n_vecs"))
        .select(greatest(lit(3),
                  length(expr("bin((n_vecs - 1) div 250)")))
          .cast("int").as("np"))
      val bucketed = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(planes))
        .withColumn("bucket", graft.functions.SignLsh.bucketCol(s, "np"))
      val probes = bucketed.filter(col("vec_id") < 10)
        .withColumn("r", expr("least(4, greatest(2, np div 4))"))
        .withColumn("pbucket", explode(expr(radiusProbeSet)))
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
                col("pbucket"))
      val pairs = bucketed.join(broadcast(probes),
          col("bucket") === col("pbucket"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                col("np").cast("long").as("np"), col("bucket"),
                (round(expr("graft_cosine_sim(pe, embedding)"), 4) + 0.0)
                  .as("cos_sim"))
      val w = Window.partitionBy("probe_id")
        .orderBy(desc("cos_sim"), asc("neighbor_id"))
      pairs.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("probe_id", "rnk")
    }),

    // Forward as-of join — the mirror of join_asof (which looks
    // backward): for every view, the same user's NEXT purchase at or
    // after it, via a running min on the REVERSE-ordered per-user
    // timeline. One shuffle on the uniform user key; no range
    // self-join. The frame direction matters at scale: the natural
    // (currentRow, unboundedFollowing) form is Spark's SHRINKING
    // frame, which re-aggregates the remainder of the partition for
    // every row — O(n²) per partition, measured superlinear on the
    // 1000× events probe where hub-user timelines reach ~100 k rows
    // (3.4 s at 100× → 80.9 s at 1000×). Sorting descending and
    // framing (unboundedPreceding, currentRow) is the GROWING frame —
    // incremental, O(n) — and "min over me and everything after me in
    // ascending order" is exactly "running min over me and everything
    // before me in descending order": identical output, bit for bit.
    // A simultaneous purchase still counts iff it sorts after the
    // view on the unique event_id tiebreak — deterministic in both
    // engines.
    "join_asof_forward" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"),
                col("event_type"))
        .withColumn("next_purchase_ts",
          min(when(col("event_type") === "purchase", col("ts"))).over(w))
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
                col("ts").as("view_ts"), col("next_purchase_ts"))
        .orderBy("user_id", "view_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "sink_merge_upsert" ->
      """WITH t AS (
           SELECT o_orderkey AS k, o_totalprice AS tp
           FROM orders WHERE o_orderkey % 3 <> 0
         ),
         s AS (
           SELECT o_orderkey AS k, o_totalprice + 100.0 AS sp
           FROM orders WHERE o_orderkey % 2 = 0
         ),
         m AS (
           SELECT COALESCE(s.k, t.k) AS k,
                  COALESCE(s.sp, t.tp) AS p,
                  CASE WHEN s.k IS NOT NULL AND t.k IS NOT NULL
                         THEN 'update'
                       WHEN s.k IS NOT NULL THEN 'insert'
                       ELSE 'keep' END AS action
           FROM s FULL JOIN t ON s.k = t.k
         )
         SELECT action, count(*) AS n_rows,
                CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
                CAST(min(k) AS BIGINT) AS min_key,
                CAST(max(k) AS BIGINT) AS max_key
         FROM m GROUP BY 1 ORDER BY 1""",

    "llm_ngram_novelty" ->
      """WITH sh AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1] || ' ' ||
                         string_split(text, ' ')[i + 2]))) AS g
           FROM documents
           WHERE len(string_split(text, ' ')) >= 3
         ),
         first AS (SELECT g, min(doc_id) AS fd FROM sh GROUP BY g),
         per AS (
           SELECT sh.doc_id, count(*) AS n_sh,
                  sum(CASE WHEN fd = sh.doc_id THEN 1 ELSE 0 END)
                    AS n_novel
           FROM sh JOIN first USING (g)
           GROUP BY sh.doc_id
         )
         SELECT CAST((10 * n_novel) // n_sh AS BIGINT) AS novelty_x10,
                count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids,
                CAST(sum(n_novel) AS BIGINT) AS sum_novel
         FROM per GROUP BY 1 ORDER BY 1""",

    "orders_backlog_sweep" ->
      """WITH closes AS (
           SELECT l_orderkey AS k, max(l_shipdate) AS close_ts
           FROM lineitem GROUP BY 1
         ),
         spans AS (
           SELECT CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS d0,
                  CAST(c.close_ts AS DATE) - DATE '1970-01-01' AS d1
           FROM orders o JOIN closes c ON o.o_orderkey = c.k
         ),
         deltas AS (
           SELECT d0 AS day, 1 AS delta FROM spans
           UNION ALL
           SELECT d1 + 1, -1 FROM spans
         ),
         daily AS (SELECT day, sum(delta) AS net FROM deltas GROUP BY day),
         run AS (
           SELECT day,
                  CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS open
           FROM daily
         ),
         monthly AS (
           SELECT CAST(year(DATE '1970-01-01' + CAST(day AS INTEGER)) * 100
                       + month(DATE '1970-01-01' + CAST(day AS INTEGER))
                    AS BIGINT) AS month_key,
                  max(open) AS mx,
                  arg_max(open, day) AS eom_open,
                  count(*) AS n_days
           FROM run GROUP BY 1
         )
         SELECT month_key,
                greatest(coalesce(lag(eom_open) OVER (ORDER BY month_key),
                                  CAST(0 AS BIGINT)), mx) AS peak_open,
                eom_open, n_days
         FROM monthly ORDER BY month_key""",

    "sql_lateral_view_explode" ->
      """SELECT lang, CAST(len(tok) AS BIGINT) AS tok_len,
                count(*) AS n_tokens,
                CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
               FROM documents)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Mirrors FakeCodec.resize's arithmetic: non-audio payload length
    // clips to (25*10) % 1024 = 250 bytes; audio passes through.
    // documents.text is ASCII, so byte length = n_chars.
    "llm_multimodal_resize" ->
      """WITH m AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio'
                       ELSE 'video' END AS media_type,
                  n_chars AS n_before,
                  CASE WHEN doc_id % 3 = 1 THEN n_chars
                       ELSE least(n_chars, 250) END AS n_after
           FROM documents
         )
         SELECT media_type, count(*) AS n_items,
                CAST(sum(n_before) AS BIGINT) AS bytes_before,
                CAST(sum(n_after) AS BIGINT) AS bytes_after
         FROM m GROUP BY 1 ORDER BY 1""",

    // Head-hash mirror: sum of ascii(char_i) * 31^(16-i) mod 1e9+7
    // with the powers inlined as literals (31^15 mod P .. 31^0); the
    // unreduced sum is < 16*255*P < 2^63, so one trailing mod equals
    // the engine's sequential fold. Fixture texts are >= 100 chars,
    // so the 16-byte head always exists.
    "llm_multimodal_features" ->
      """WITH m AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio'
                       ELSE 'video' END AS media_type,
                  n_chars AS n_bytes,
                  list_sum(list_transform(range(1, CAST(n_chars AS INTEGER) + 1),
                    i -> ascii(substring(text, i, 1)))) AS byte_sum,
                  (CAST(ascii(substring(text, 1, 1)) AS BIGINT)  * 853136842 +
                   CAST(ascii(substring(text, 2, 1)) AS BIGINT)  * 188810867 +
                   CAST(ascii(substring(text, 3, 1)) AS BIGINT)  * 522219709 +
                   CAST(ascii(substring(text, 4, 1)) AS BIGINT)  * 274910315 +
                   CAST(ascii(substring(text, 5, 1)) AS BIGINT)  * 718545499 +
                   CAST(ascii(substring(text, 6, 1)) AS BIGINT)  * 281243405 +
                   CAST(ascii(substring(text, 7, 1)) AS BIGINT)  * 621975598 +
                   CAST(ascii(substring(text, 8, 1)) AS BIGINT)  * 891031477 +
                   CAST(ascii(substring(text, 9, 1)) AS BIGINT)  * 512613922 +
                   CAST(ascii(substring(text, 10, 1)) AS BIGINT) * 887503681 +
                   CAST(ascii(substring(text, 11, 1)) AS BIGINT) * 28629151 +
                   CAST(ascii(substring(text, 12, 1)) AS BIGINT) * 923521 +
                   CAST(ascii(substring(text, 13, 1)) AS BIGINT) * 29791 +
                   CAST(ascii(substring(text, 14, 1)) AS BIGINT) * 961 +
                   CAST(ascii(substring(text, 15, 1)) AS BIGINT) * 31 +
                   CAST(ascii(substring(text, 16, 1)) AS BIGINT))
                    % 1000000007 AS head_hash
           FROM documents
         )
         SELECT media_type, count(*) AS n_items,
                CAST(sum(n_bytes) AS BIGINT) AS bytes_total,
                CAST(sum(byte_sum) AS BIGINT) AS byte_mass,
                CAST(sum(head_hash) AS BIGINT) AS head_hash_sum
         FROM m GROUP BY 1 ORDER BY 1""",

    "llm_sim_topk_lsh_adaptive" ->
      s"""WITH $duckAdaptiveTopkCtes
         SELECT probe_id, neighbor_id, np, bucket, cos_sim,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cos_sim DESC, neighbor_id)
                  AS rnk
         FROM pairs
         QUALIFY rnk <= 3
         ORDER BY probe_id, rnk""",

    "join_asof_forward" ->
      """SELECT user_id, event_id AS view_id, ts AS view_ts,
                next_purchase_ts
         FROM (SELECT user_id, event_id, ts, event_type,
                      min(CASE WHEN event_type = 'purchase' THEN ts END)
                        OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING)
                        AS next_purchase_ts
               FROM events
               WHERE event_type IN ('view', 'purchase'))
         WHERE event_type = 'view'
         ORDER BY user_id, view_id"""
  )

  /** DuckDB CTE chain (`nv`/`bucketed`/`probes`/`pairs`) mirroring the
    * adaptive radius-with-np LSH top-k's candidate generation —
    * factored so the recall-audit oracle (Pipelines30) reuses the
    * IDENTICAL candidate computation rather than a drifting copy.
    * Splice as `WITH $duckAdaptiveTopkCtes <final select over pairs>`. */
  private[graft] def duckAdaptiveTopkCtes: String =
      s"""nv AS (
           SELECT CAST(greatest(3, length(bin((count(*) - 1) // 250)))
                    AS INTEGER) AS np
           FROM embeddings
         ),
         bucketed AS (
           SELECT vec_id, embedding, np,
                  ${graft.functions.SignLsh.duckBucketSql("np")} AS bucket,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm
           FROM embeddings CROSS JOIN nv
         ),
         probes AS (
           SELECT vec_id, embedding, nrm,
                  unnest(list_concat(list_concat(list_concat(
                    list_concat([bucket],
                      list_transform(range(0, np),
                        j -> xor(bucket, CAST(1 AS BIGINT) << j))),
                    flatten(list_transform(range(0, np - 1), j ->
                      list_transform(range(j + 1, np), k ->
                        xor(xor(bucket, CAST(1 AS BIGINT) << j),
                            CAST(1 AS BIGINT) << k))))),
                    CASE WHEN least(4, greatest(2, np // 4)) >= 3 THEN
                      flatten(flatten(list_transform(range(0, np - 2), j ->
                        list_transform(range(j + 1, np - 1), k ->
                          list_transform(range(k + 1, np), l ->
                            xor(xor(xor(bucket, CAST(1 AS BIGINT) << j),
                                    CAST(1 AS BIGINT) << k),
                                CAST(1 AS BIGINT) << l))))))
                    ELSE CAST([] AS BIGINT[]) END),
                    CASE WHEN least(4, greatest(2, np // 4)) >= 4 THEN
                      flatten(flatten(flatten(
                        list_transform(range(0, np - 3), j ->
                          list_transform(range(j + 1, np - 2), k ->
                            list_transform(range(k + 1, np - 1), l ->
                              list_transform(range(l + 1, np), m ->
                                xor(xor(xor(xor(bucket,
                                        CAST(1 AS BIGINT) << j),
                                      CAST(1 AS BIGINT) << k),
                                    CAST(1 AS BIGINT) << l),
                                  CAST(1 AS BIGINT) << m))))))))
                    ELSE CAST([] AS BIGINT[]) END))
                    AS pbucket
           FROM bucketed
           WHERE vec_id < 10
         ),
         pairs AS (
           SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
                  CAST(e.np AS BIGINT) AS np, e.bucket AS bucket,
                  round(list_aggregate(
                          list_transform(list_zip(p.embedding, e.embedding),
                            z -> CAST(z[1] AS DOUBLE) *
                                 CAST(z[2] AS DOUBLE)), 'sum')
                        / (p.nrm * e.nrm), 4) + 0.0 AS cos_sim
           FROM probes p JOIN bucketed e
             ON p.pbucket = e.bucket AND e.vec_id <> p.vec_id
         )"""
}
