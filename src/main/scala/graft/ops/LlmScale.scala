package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-path training-data operators: MinHash+LSH and n-gram/SimHash/
  * embedding near-dup, bucketed ANN, language-ID, quality scoring,
  * token counting, fingerprinting, multimodal metadata.
  *
  * Everything is oracle-checked: the hash functions (`Hashing`) are
  * built from md5-hex arithmetic that both engines compute identically
  * (Spark `conv(substring(md5(x),1,8),16,10)` ≡ DuckDB
  * `CAST('0x'||substring(md5(x),1,8) AS BIGINT)`), so even the LSH
  * banding pipeline produces bit-identical candidates on both sides.
  *
  * 100 TB posture: each operator is a groupBy/equi-join over derived
  * keys (hash, band, bucket) — candidate generation never goes
  * quadratic in the corpus; only blocked/bucketed pairs are scored.
  */
object LlmScale extends Module {

  /** Sign-LSH bucket id over `nPlanes` hash-derived ±1 hyperplanes
    * (graft.functions.SignLsh — round 12; previously the signs of the
    * first nPlanes coordinates, which on anisotropic real embeddings
    * is a biased, coordinate-order-dependent partition). 2^nPlanes
    * cells; expected cell size N/2^n, so the plane count is the scale
    * knob: every doubling of the corpus adds one plane to keep
    * Σ|cell|² candidate volume flat. Shared by all sign-LSH keys so
    * the knob exists in exactly one place; the adaptive keys pass a
    * count(*)-derived column through SignLsh.bucketCol directly. */
  private[graft] def signBucket(s: SparkSession, nPlanes: Int): Column =
    graft.functions.SignLsh.bucketCol(s, nPlanes.toString)

  /** MinHash(16) → 4 bands × 4 rows → bucket-join candidates → exact
    * Jaccard confirm. The shuffle key is the band bucket, never the
    * document pair space. `gated = true` (the default key) runs the
    * hub-quarantine degree gate in front of the pair join; `false`
    * (the `_pairs` variant) emits the raw ungated pair list — the
    * form whose OUTPUT goes quadratic in near-dup cluster size (the
    * round-10 probe measured 461 M pairs / 513 s on a 10× hub
    * corpus), kept as an explicit opt-in for corpora known to be
    * hub-free. */
  private def minhashLsh(s: SparkSession, d: String,
                         gated: Boolean): DataFrame = {
      val sig = Hashing.signature(Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(col("text"), " "))).as("tok")))
        // Materialized once (N×17 longs): both sides of the salted
        // candidate join derive from this — lazily each side would
        // re-run the corpus explode+hash+16-min pipeline.
        .localCheckpoint()
      // Band keys are xxhash64 of the band's signature slice — an
      // internal join key only (never output), so the long-vs-string
      // representation can't affect results absent 64-bit collisions,
      // and it shuffles 8 bytes instead of a ~40-char concat. Every
      // band row carries ALL FOUR band keys (k0..k3, 32 bytes) so the
      // join below can dedup pairs without a distinct: a colliding
      // pair is emitted only at its LOWEST colliding band (the `≠`
      // guards reject collisions at any later band). On a
      // high-similarity corpus that removes the dominant cost — a
      // multi-million-row partial-agg + exchange + final-agg distinct
      // over raw candidate tuples (measured ~9 s of this key's ~12 s
      // at sf0.1: 12.8 M raw tuples → 6.8 M pairs) — and at 100 TB it
      // removes the one shuffle whose volume scales with the PAIR
      // count rather than the corpus.
      val sigK = sig.selectExpr("doc_id",
        "xxhash64(m0,  m1,  m2,  m3)  as k0",
        "xxhash64(m4,  m5,  m6,  m7)  as k1",
        "xxhash64(m8,  m9,  m10, m11) as k2",
        "xxhash64(m12, m13, m14, m15) as k3")
        .localCheckpoint() // feeds degree audit + gated band sides
      // HUB GATE (default since round 11 — the round-10 scale probe
      // measured why: on a 10× hub-cluster corpus the ungated pair
      // join emits 461 M pairs / 513 s, quadratic in cluster size,
      // while the pairless degree audit sees the same hubs in 3 s).
      // Candidate degree per doc WITHOUT materializing pairs
      // (Hashing.degree, here over the four band keys). Docs with
      // degree ≥ Hashing.HubDegree (template/boilerplate
      // mega-clusters in a real corpus) are quarantined: emitted as a
      // labeled side output instead of entering the pair join, so the
      // quadratic term is confined to rows nobody pair-scans. Both
      // degree-pass consumers re-derive from the sigK checkpoint, so
      // no extra corpus pass.
      val deg = Hashing.degree(sigK, Seq("k0", "k1", "k2", "k3").map(Seq(_)))
      val hubs =
        if (gated)
          deg.filter(col("degree") >= Hashing.HubDegree).select("doc_id")
            .localCheckpoint() // feeds the gate AND the side output
        else sigK.select("doc_id").limit(0)
      val bandSrc = if (gated) sigK.join(hubs, Seq("doc_id"), "left_anti")
                    else sigK
      val bands = bandSrc
        .selectExpr("doc_id", "k0", "k1", "k2", "k3",
        "stack(4, 0, k0, 1, k1, 2, k2, 3, k3) as (band_idx, band_key)")
      // Skew guard: on a self-similar corpus a single band bucket can
      // hold a large fraction of all docs, making (band_idx, band_key)
      // a hot shuffle key. Salt the left side (each row keeps one salt)
      // and replicate the right side across all R salts: every
      // qualifying pair still matches exactly once (on the left row's
      // salt), but the hot bucket's join work is split across R
      // reducers. Tradeoff: the right side is shuffled R×; R=4 keeps
      // that below the cost of one straggler task at 100 TB skew.
      val R = 4L
      val left = bands.withColumn("salt", pmod(xxhash64(col("doc_id")), lit(R)))
      val right = bands.withColumn("salt",
        explode(sequence(lit(0L), lit(R - 1))))
      // First-collision emit: for a tuple matched at band i, reject it
      // unless no earlier band j < i also collides. Cheap codegen'd
      // long compares per matched tuple replace the distinct exchange;
      // output is exactly the distinct pair set.
      val cand = left.as("x").join(right.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id") &&
          Hashing.firstCollision(4))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      // Verify stage: hashed sorted token arrays + codegen'd merge
      // walk (see llm_dedup_near) — candidates can be millions of
      // pairs on a high-similarity corpus.
      val tsets = Tables.documents(s, d)
        .select(col("doc_id"),
                Hashing.tokenHashSet(split(col("text"), " ")).as("th"))
        .withColumn("n", size(col("th")))
        // Materialized once: feeds both verify-join sides (see sig).
        .localCheckpoint()
      // Threshold in integer form (J ≥ 0.5 ⇔ 3·i ≥ n_a+n_b, exactly
      // equivalent to round(J,4) ≥ 0.5 for these small-denominator
      // rationals). Round 18 (opt, guide §4.4): the join carries only
      // the hand-written integer length prune (|A∩B| ≤ min ⇒
      // 3·min < n_a+n_b can never qualify — what IntersectLengthPrune
      // used to derive here); the walk itself runs ONCE per surviving
      // candidate in the post-join projection, as the non-pushable
      // `graft_sorted_intersect_once`. The r17 form had the walk in
      // the join condition AND re-projected for the jaccard output —
      // two walks per surviving pair, and on this corpus nearly every
      // candidate survives, so the duplicate walk roughly doubled the
      // dominant confirm CPU. Survivor set is conjunct-for-conjunct
      // identical (the filter below is the exact former condition).
      val pairs = cand
        .join(tsets.as("ta"), col("a_id") === col("ta.doc_id"))
        .join(tsets.as("tb"), col("b_id") === col("tb.doc_id") &&
              least(col("ta.n"), col("tb.n")) * 3 >=
                col("ta.n") + col("tb.n"))
        .withColumn("isect",
          expr("graft_sorted_intersect_once(ta.th, tb.th)"))
        .filter(col("isect") * 3 >= col("ta.n") + col("tb.n"))
        .select(col("a_id"), col("b_id"),
                round(col("isect").cast("double") /
                      (col("ta.n") + col("tb.n") - col("isect")), 4)
                  .as("jaccard"))
      if (!gated) pairs.orderBy("a_id", "b_id")
      else {
        // Quarantined hubs surface as labeled rows (b_id −1 sentinel),
        // so a user sees WHICH docs were withheld from pair scanning
        // rather than silently losing them.
        val hubRows = hubs.select(col("doc_id").as("a_id"),
          lit(-1L).as("b_id"), lit(0.0).as("jaccard"), lit("hub").as("kind"))
        pairs.withColumn("kind", lit("pair"))
          .unionByName(hubRows).orderBy("kind", "a_id", "b_id")
      }
  }

  def queries: Map[String, Q] = Map(
    "llm_dedup_minhash_lsh" -> ((s, d) => minhashLsh(s, d, gated = true)),

    // The ungated raw pair list (pre-round-11 default semantics) —
    // explicit opt-in for hub-free corpora; see minhashLsh.
    "llm_dedup_minhash_pairs" -> ((s, d) => minhashLsh(s, d, gated = false)),

    // Token-3-gram shingle Jaccard: shingle-MinHash banded candidate
    // generation (the promised scale path — rounds 1-3 documented it,
    // this round declares it) feeding the exact merge-walk confirm.
    //
    // Round 1 shipped an inverted shingle index (Σ|postings|² blowup,
    // 120 s); rounds 2-3 the lang-blocked quadratic pair join (every
    // same-lang pair merge-walked — 2.5 M walks at sf0.1, the round-3
    // bench outlier). Now candidates come from MinHash(16) over the
    // shingle set banded 8×2: two docs collide iff some band's two
    // minhashes agree, so candidate volume tracks actual similarity
    // (1 244 candidate pairs at sf0.1 vs 2.5 M blocked pairs) and the
    // shuffle key is the band bucket. 8 bands × 2 rows, not the 4×4 of
    // llm_dedup_minhash_lsh: the confirm threshold here is J₃ ≥ 0.3,
    // and a 2-row band collides with prob J² per band — miss prob
    // (1-J²)⁸ < 3·10⁻⁴ for any J ≥ 0.8 pair (every qualifying pair in
    // this corpus has J₃ ≥ 0.88; verified bit-exact at sf0.01 AND
    // sf0.1: zero qualifying pairs missed, same output as the
    // quadratic form). The confirm is unchanged — threshold in integer
    // form inside the join (J ≥ 0.3 ⇔ 13·i ≥ 3·(n_a+n_b), exact for
    // these small-denominator rationals), length prune derived by
    // plans.IntersectLengthPrune, one merge walk per candidate.
    "llm_dedup_ngram" -> ((s, d) => {
      // Merge-walk operands: sorted DISTINCT shingle hashes. The
      // distinct runs AFTER the hash so it takes array_distinct's
      // primitive-long fast path instead of the interpreted O(n²)
      // string-compare scan; distinct-of-hashes equals
      // hash-of-distinct as a set (64-bit collisions aside, the
      // accepted design tradeoff for every hashed-join key here).
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("lang"),
                array_sort(array_distinct(expr(
                  """transform(
                       transform(sequence(1, size(t) - 2),
                         i -> concat_ws(' ', element_at(t, i),
                                        element_at(t, i + 1),
                                        element_at(t, i + 2))),
                       g -> xxhash64(g))"""))).as("sh"))
        .withColumn("n", size(col("sh")))
        // Materialized once: `sh` feeds BOTH confirm-join sides; as a
        // lazy plan each broadcast build would re-run the whole
        // corpus-wide shingle pipeline. N rows × (|shingles| longs) —
        // at any scale this is the per-doc signature table, far
        // smaller than the corpus text it derives from.
        .localCheckpoint()
      // MinHash signatures over the shingle strings (same md5-prefix
      // hash chain as the token-level signatures — deterministic and
      // engine-independent), banded 8×2 into 8-byte xxhash64 bucket
      // keys. Recall with this exact chain is verified bit-for-bit
      // against the quadratic form at sf0.01 and sf0.1 (zero
      // qualifying pairs missed). Two no-string-shingle variants
      // (xxhash64 of the gram string / of the token-hash triple) were
      // tried in round 4 and REVERTED: the hashing then runs inside
      // nested higher-order-function lambdas, outside whole-stage
      // codegen, and both measured slower than this form in
      // like-for-like bench runs.
      //
      // The explode feeding the signatures is written DIRECTLY over
      // the shingle transform (same select), not over an aliased array
      // column: exploding an aliased complex array lets
      // InferFiltersFromGenerate add a `size(arr) > 0` filter whose
      // pushdown through the projection re-inlines the whole shingle
      // chain — with `split(text)` substituted into every
      // `element_at` lambda call, turning the stage O(tokens²) per doc
      // (measured 4 s of this key's 5 s at sf0.1). The shingle list is
      // NOT array_distinct'd here: a MinHash minimum is invariant
      // under duplicates, and array_distinct over a *string* array is
      // an interpreted O(n²)-compares scan. The merge-walk side below
      // still dedups — on hashed longs, where array_distinct takes the
      // primitive fast path.
      val sig = Hashing.signature(Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(t) - 2),
               i -> concat_ws(' ', element_at(t, i),
                              element_at(t, i + 1),
                              element_at(t, i + 2)))""")).as("tok")))
        // Materialized once (N×17 longs): the candidate self-join
        // otherwise re-runs the explode+hash+16-min pipeline for its
        // broadcast side — measured as most of this key's cost at
        // sf0.1 (4.0 s lazy vs 1.3 s checkpointed end-to-end).
        .localCheckpoint()
      // First-collision emit (see llm_dedup_minhash_lsh): band rows
      // carry all eight band keys; the `≠` guards emit each colliding
      // pair at its lowest colliding band only, replacing the distinct.
      val sigK = sig.selectExpr("doc_id",
        "xxhash64(m0,  m1)  as k0", "xxhash64(m2,  m3)  as k1",
        "xxhash64(m4,  m5)  as k2", "xxhash64(m6,  m7)  as k3",
        "xxhash64(m8,  m9)  as k4", "xxhash64(m10, m11) as k5",
        "xxhash64(m12, m13) as k6", "xxhash64(m14, m15) as k7")
      val bands = sigK.selectExpr("doc_id",
        "k0", "k1", "k2", "k3", "k4", "k5", "k6", "k7",
        """stack(8, 0, k0, 1, k1, 2, k2, 3, k3,
                 4, k4, 5, k5, 6, k6, 7, k7) as (band_idx, band_key)""")
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id") &&
          Hashing.firstCollision(8))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      // Round 18 (opt, guide §4.4): hand-written length prune in the
      // join, ONE non-pushable walk in the projection, threshold as a
      // post-projection filter — see minhashLsh for the full note
      // (the r17 form walked every surviving pair twice).
      cand.join(sh.as("a"), col("a_id") === col("a.doc_id"))
        .join(sh.as("b"),
          col("b_id") === col("b.doc_id") &&
          col("a.lang") === col("b.lang") &&
          least(col("a.n"), col("b.n")) * 13 >=
            (col("a.n") + col("b.n")) * 3)
        .withColumn("isect",
          expr("graft_sorted_intersect_once(a.sh, b.sh)"))
        .filter(col("isect") * 13 >= (col("a.n") + col("b.n")) * 3)
        .select(col("a_id"), col("b_id"),
                col("a.lang").as("lang"),
                round(col("isect").cast("double") /
                      (col("a.n") + col("b.n") - col("isect")), 4)
                  .as("jaccard3"))
        .orderBy("a_id", "b_id")
    }),

    // Embedding-cosine near-duplicates, exact form: the full pair
    // space scored with the codegen'd cosine. This is the oracle-exact
    // reference semantics (recall = 1.0 by definition); it is O(N²)
    // and intentionally kept as the small-corpus / verify-stage form.
    // The scale path is llm_dedup_embedding_lsh below — identical
    // scoring, LSH-bucketed candidate generation.
    "llm_dedup_embedding" -> ((s, d) => {
      // Round 18 (opt, guide §4.4): the join keeps the vec_id order
      // and the recall-lossless dot screen at 0.3498 (one precomputed
      // norm per row — see llm_dedup_embedding_lsh), and the exact
      // cosine runs ONCE per screen survivor as the non-pushable
      // `graft_cosine_once` projection with the threshold as a plain
      // filter above it. The r17 form carried the cosine in the join
      // condition AND re-projected it for the output, so every
      // surviving pair paid two fused three-accumulator walks on top
      // of the screen dot. Survivor set and cos_sim values identical
      // (same value-defining expression, same screen).
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
        .withColumn("nrm", sqrt(expr("graft_dot_f(embedding, embedding)")))
      e.as("a").join(e.as("b"),
          col("a.vec_id") < col("b.vec_id") &&
          expr("graft_dot_f(a.embedding, b.embedding)") >=
            lit(0.3498) * col("a.nrm") * col("b.nrm"))
        .withColumn("cos_sim",
          round(expr("graft_cosine_once(a.embedding, b.embedding)"), 4))
        .filter(col("cos_sim") >= 0.35)
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
                col("cos_sim"))
        .orderBy("a_id", "b_id")
    }),

    // Embedding near-dup, scale path: sign-LSH candidate generation
    // with Hamming≤1 multi-probe — the left side probes its own bucket
    // plus the np buckets one sign-flip away, the right side stays in
    // its exact bucket, so every pair whose sign patterns differ in at
    // most one of the np hashed hyperplanes is scored exactly once (no
    // distinct needed: a pair matches on precisely one probe bucket).
    // Pairs differing in ≥2 sign bits are not candidates — that is the
    // documented LSH recall tradeoff, mirrored bit-for-bit by the
    // oracle. Candidate volume is Σ_bucket |probe|·|bucket| instead of
    // O(N²). The plane count is NOT pinned (round 12 — the round-11
    // 100× duplicated-vector probe measured the 3-plane form collapse
    // to ~1 busy core: 8 cells → Σ|cell|² grows N² and the join has 8
    // shuffle keys): np = max(3, bits((N−1) div 250)) is derived from
    // count(*) INSIDE the plan, integer-exactly in both engines (the
    // llm_sim_topk_lsh_adaptive formula), so cell count AND the
    // multi-probe fan-out (np+1 probe buckets) grow with the corpus
    // while expected candidate volume per probe stays ~constant. At
    // the check fixtures N ≤ 2000 → np = 3, preserving the declared
    // fixture-scale semantics.
    //
    // HUB GATE (default since round 15 — VERDICT r14 task 1, the
    // minhash family's gated template applied to the embedding pair
    // family): a sign cell still above CAP = 2000 after the adaptive
    // np sized E[cell] to ~250 is a near-parallel cluster no
    // hyperplane splits (the LSH property — KnnEdges measured a
    // 54 513-vector subcell sharing all 25 sign bits at the 1000×
    // probe), and its PAIR OUTPUT is quadratic in the cluster size
    // (the r14 OR-key probe ENOSPC'd this box at 2 M vectors on
    // exactly that pair mass). Members of such cells are QUARANTINED:
    // removed from BOTH join sides (so every surviving cell has
    // ≤ CAP members and candidate volume is ≤ (np+1)·CAP·N — linear)
    // and emitted as labeled kind='hub' rows (b_id −1, cos_sim 0) for
    // downstream handling, exactly llm_dedup_minhash_lsh's contract.
    // At the check fixtures no cell exceeds CAP (|cell| ≤ N ≤ 2000),
    // so the gate is a no-op: pair set identical, zero hub rows —
    // with the gate predicate itself mirrored in the oracle.
    "llm_dedup_embedding_lsh" -> ((s, d) => {
      val nv = Tables.embeddings(s, d)
        .agg(count(lit(1)).as("n_vecs"))
        .select(greatest(lit(3),
                  length(expr("bin((n_vecs - 1) div 250)")))
          .cast("int").as("np"))
      // One norm per ROW (N sqrt-dots) buys a per-CANDIDATE screen
      // below that replaces the full cosine (3 fused accumulators +
      // 2 sqrts + divide) with a bare dot + 2 multiplies for the
      // overwhelming majority of candidates that fail the threshold
      // (round 12: the 100× embeddings-iid probe measured this join
      // cosine-flop-bound on cluster-dense cells).
      val e0 = Tables.embeddings(s, d).select("vec_id", "embedding")
        .crossJoin(broadcast(nv))
        .withColumn("bucket", graft.functions.SignLsh.bucketCol(s, "np"))
        .withColumn("nrm", sqrt(expr("graft_dot_f(embedding, embedding)")))
      // Checkpointed (KnnEdges.gatedEdges' shape): the sized relation
      // feeds the probe side, the build side AND the hub branch —
      // lazily each would re-run the projection + the cell-size agg.
      val cellSz = e0.groupBy("bucket").agg(count(lit(1)).as("n_cell"))
      val es = e0.join(cellSz, Seq("bucket")).localCheckpoint()
      val e = es.filter(col("n_cell") <= KnnEdges.Cap)
        .select("vec_id", "embedding", "np", "bucket", "nrm")
      val probes = e.withColumn("pbucket",
        explode(expr(
          """concat(array(bucket),
                    transform(sequence(0, np - 1),
                              j -> bucket ^ shiftleft(1L, j)))""")))
        .withColumn("salt", pmod(xxhash64(col("vec_id")), lit(8L)))
      // Skew guard (round 12d — the same salting the minhash band join
      // has had since round 5): on a cluster-dense corpus one sign
      // cell can hold a large fraction of the corpus, and the planted-
      // twin 1000× probe OBSERVED this join collapse to a 1–2-core
      // straggler tail on the hottest cell. Left side keeps one salt,
      // build side replicates across all 8: every pair still matches
      // exactly once (on the probe row's salt), the hot cell's
      // candidate work splits 8 ways, and the build-side replication
      // (8·N payload rows) is linear — cheap against the quadratic
      // in-cell candidate work it parallelizes. Output identical, so
      // the oracle is unchanged.
      val build = e.withColumn("salt",
        explode(sequence(lit(0L), lit(7L))))
      // Conjunct order: cheap id test, then the dot screen at 0.3498
      // (recall-lossless: admits everything round(cos,4) ≥ 0.35 can
      // keep — the ulp gap between dot/(‖a‖‖b‖) and the fused cosine
      // is ~1e-13 against 1.5e-4 of slack). Round 18 (opt, guide
      // §4.4): screen survivors pay the exact cosine ONCE, as the
      // non-pushable `graft_cosine_once` projection with the
      // threshold filtered above it — the r17 form carried the cosine
      // in the condition AND re-projected it (two fused walks per
      // surviving pair). Values and survivor set identical.
      val pairs = probes.as("a").join(build.as("b"),
          col("a.pbucket") === col("b.bucket") &&
          col("a.salt") === col("b.salt") &&
          col("a.vec_id") < col("b.vec_id") &&
          expr("graft_dot_f(a.embedding, b.embedding)") >=
            lit(0.3498) * col("a.nrm") * col("b.nrm"))
        .withColumn("cos_sim",
          round(expr("graft_cosine_once(a.embedding, b.embedding)"), 4))
        .filter(col("cos_sim") >= 0.35)
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
                col("cos_sim"))
      val hubRows = es.filter(col("n_cell") > KnnEdges.Cap)
        .select(col("vec_id").as("a_id"), lit(-1L).as("b_id"),
                lit(0.0).as("cos_sim"), lit("hub").as("kind"))
      pairs.withColumn("kind", lit("pair"))
        .unionByName(hubRows)
        .orderBy("kind", "a_id", "b_id")
    }),

    // MinHash signatures via the typed Aggregator surface
    // (graft.functions.MinHashAgg, SURVEY §2.12): the
    // Dataset/groupByKey form of the same signature computation that
    // llm_dedup_minhash_lsh expresses in SQL — one partial-aggregating
    // pass over exploded tokens, hash chain identical on both paths,
    // so the oracle is the same 16-way min-agg.
    "llm_minhash_signature" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(col("text"), " "))).as("tok"))
        .as[(Long, String)]
      val sigs = toks.groupByKey(_._1).mapValues(_._2)
        .agg(graft.functions.MinHashAgg.toColumn.name("sig"))
      sigs.toDF("doc_id", "sig")
        .select(col("doc_id") +:
          (0 until 16).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
        .orderBy("doc_id")
    }),

    // 32-bit SimHash per document from token hashes.
    // Round 18 (opt, guide §2.2/§4 — same re-plan as
    // llm_dedup_simhash's fingerprint stage): the per-bit balances
    // used to be computed by exploding every token row into 32
    // bit-rows through a (doc, bit) aggregate pair (E·32 generated
    // rows before the first shuffle). They are now 32 statically
    // generated sum() columns (codegen'd DeclarativeAggregates) in
    // ONE pass over the E token rows — map-side partial agg collapses
    // to |docs| rows per partition before the shuffle (was |docs|·32)
    // — and the fingerprint assembles in a |docs|-grain projection.
    // Value-identical (order-free integer ±1 sums); Round18Spec pins
    // per-doc equality vs the retired explode form.
    "llm_fingerprint_simhash" -> ((s, d) => {
      val balCols = (0 until 32).map(j =>
        sum(expr(s"2 * cast((hv >> $j) & 1 as int) - 1")).as(s"s$j"))
      Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(col("text"), " "))).as("tok"))
        .withColumn("hv", expr(Hashing.md5Prefix("tok")))
        .groupBy("doc_id")
        .agg(balCols.head, balCols.tail: _*)
        .select(col("doc_id"),
          (0 until 32).map(j =>
              when(col(s"s$j") > 0,
                   lit(1L << j)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
        .orderBy("doc_id")
    }),

    // Polynomial rolling hash over the raw character stream.
    "llm_fingerprint_rolling" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
                expr("""aggregate(split(text, ''), cast(0 as bigint),
                        (acc, ch) -> (acc * 31 + ascii(ch)) % 1000000007)""")
                  .as("fingerprint"))
        .orderBy("doc_id")),

    // ANN scale path: sign-LSH bucket over 3 hash-derived ±1
    // hyperplanes (SignLsh, 8 buckets); probes only score neighbors in
    // their own bucket — the bucketed equi-join replaces the
    // brute-force cross join of llm_sim_topk. Pinned plane count: the
    // scale form is llm_sim_topk_lsh_adaptive, which derives np from
    // count(*) in-plan.
    "llm_sim_topk_lsh" -> ((s, d) => {
      val bucketed = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .withColumn("bucket", signBucket(s, 3))
      val probes = bucketed.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
                col("bucket"))
      val pairs = bucketed.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                col("bucket"),
                (round(expr("graft_cosine_sim(pe, embedding)"), 4) + 0.0).as("cos_sim"))
      val w = Window.partitionBy("probe_id")
        .orderBy(desc("cos_sim"), asc("neighbor_id"))
      pairs.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("probe_id", "rnk")
    }),

    // Approximate kNN GRAPH construction: every vector's top-3 cosine
    // neighbors WITHIN its sign-LSH cell — the ANN-graph build step
    // (IVF-style: candidate generation by bucket equi-join, exact
    // scoring inside the cell). Pair volume is Σ_bucket |b|², never
    // N². Round 13: the duplicate pinned-5-plane plan is RETIRED —
    // this key now shares the salted adaptive body (ops.KnnEdges,
    // floor 5) with llm_knn_graph_lsh_adaptive, minus the adaptive
    // key's np output column. At the check fixtures np derives to
    // exactly 5, so the output is unchanged (Round12Spec asserted the
    // fixture equality of the two plans before the merge); beyond
    // them the cell count grows with the corpus and the ×8 salt
    // splits cluster-dense cells instead of leaving the 12d-measured
    // straggler. The oracle mirrors the adaptive derivation
    // bit-for-bit.
    "llm_knn_graph_lsh" -> ((s, d) =>
      KnnEdges.topkEdges(s, d)
        .select("src_id", "dst_id", "cos_sim", "rnk")
        .orderBy("src_id", "rnk")),

    // n-gram-profile language ID heuristic (deterministic; fixture
    // text shares one vocabulary across langs, so accuracy is chance —
    // the operator contract is the deterministic scoring pipeline).
    "llm_lang_id" -> ((s, d) => {
      def occ(pat: String): Column =
        ((length(col("text")) -
          length(expr(s"replace(text, '$pat', '')"))) / pat.length)
      val scored = Tables.documents(s, d)
        .withColumn("s_de", occ("sch") + occ("ei") + occ("ch"))
        .withColumn("s_en", occ("the") + occ("er") + occ("an"))
        .withColumn("s_es", occ("os") + occ("la") + occ("on"))
        .withColumn("s_fr", occ("le") + occ("ou") + occ("es"))
        .withColumn("s_zh", occ("ng") + occ("sh") + occ("zh"))
      scored
        .withColumn("pred_lang",
          when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
               col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
                col("s_en") >= col("s_zh"), "en")
          .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
          .when(col("s_fr") >= col("s_zh"), "fr")
          .otherwise("zh"))
        .select(col("doc_id"), col("lang"), col("pred_lang"),
                (col("lang") === col("pred_lang")).as("is_match"))
        .orderBy("doc_id")
    }),

    // Composite document-quality score from length/stopword/token-shape
    // signals (all integer-derived doubles — cross-engine exact).
    "llm_quality_score" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_stop",
          size(filter(col("toks"),
            t => t.isin("the", "key", "order", "sort", "scan"))).cast("long"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("avg_tok_len",
          (col("n_chars") - (col("n_tokens") - 1)).cast("double") /
            col("n_tokens"))
        .withColumn("quality_score",
          least(lit(1.0), col("n_tokens") / 50.0) * 0.5 +
          col("stop_ratio") * 0.3 +
          (lit(1.0) - least(lit(1.0), col("avg_tok_len") / 10.0)) * 0.2)
        // floor(x*1e4 + 0.5) on identical doubles is deterministic
        // across engines; round(x, 4) is not — the engines disagree on
        // half-boundary doubles (Spark: decimal expansion, DuckDB:
        // multiply-then-nearbyint).
        .select(col("doc_id"), col("n_tokens"),
                floor(col("stop_ratio") * 10000 + 0.5).cast("long")
                  .as("stop_ratio_x1e4"),
                floor(col("quality_score") * 10000 + 0.5).cast("long")
                  .as("quality_score_x1e4"))
        .orderBy("doc_id")),

    // Token counting three ways: whitespace, BPE-ish regex, chars/4.
    "llm_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
                size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
                regexp_count(col("text"), lit("[a-z]+|[0-9]+")).cast("long")
                  .as("n_re_tokens"),
                ceil(col("n_chars") / 4.0).cast("long").as("est_bpe_tokens"))
        .orderBy("doc_id")),

    // Multimodal metadata modeling: documents as opaque media payloads
    // with deterministic fake decode (real decode is stubbed — see
    // graft.multimodal.Multimodal for the binary-column plumbing).
    "llm_multimodal_meta" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          col("n_chars").as("n_bytes"),
          (col("n_chars") % 640).as("fake_width"),
          (col("n_chars") % 480).as("fake_height"),
          when(col("doc_id") % 3 === 2, col("n_chars") % 120 + 1)
            .otherwise(1L).as("n_frames"))
        .orderBy("doc_id"))
  )

  def oracles: Map[String, String] = Map(
    "llm_dedup_minhash_lsh" ->
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
         -- Hub gate mirror: candidate degree per doc (number of
         -- distinct docs sharing >= 1 band), brute-forced from the
         -- pair list (feasible at oracle scale; the engine computes
         -- the same number pairlessly by inclusion-exclusion).
         deg AS (
           SELECT doc_id, count(*) AS degree
           FROM (SELECT a_id AS doc_id FROM cand
                 UNION ALL SELECT b_id FROM cand)
           GROUP BY doc_id
         ),
         hubs AS (SELECT doc_id FROM deg WHERE degree >= 150),
         kept AS (
           SELECT a_id, b_id FROM cand
           WHERE a_id NOT IN (SELECT doc_id FROM hubs)
             AND b_id NOT IN (SELECT doc_id FROM hubs)
         ),
         tsets AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
           FROM documents
         )
         SELECT a_id, b_id,
                round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                      / len(list_distinct(list_concat(ta.toks, tb.toks))),
                      4) AS jaccard,
                'pair' AS kind
         FROM kept
         JOIN tsets ta ON ta.doc_id = a_id
         JOIN tsets tb ON tb.doc_id = b_id
         WHERE round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                     / len(list_distinct(list_concat(ta.toks, tb.toks))),
                     4) >= 0.5
         UNION ALL
         SELECT doc_id AS a_id, CAST(-1 AS BIGINT) AS b_id,
                CAST(0.0 AS DOUBLE) AS jaccard, 'hub' AS kind
         FROM hubs
         ORDER BY kind, a_id, b_id""",

    "llm_dedup_minhash_pairs" ->
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
         tsets AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
           FROM documents
         )
         SELECT a_id, b_id,
                round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                      / len(list_distinct(list_concat(ta.toks, tb.toks))),
                      4) AS jaccard
         FROM cand
         JOIN tsets ta ON ta.doc_id = a_id
         JOIN tsets tb ON tb.doc_id = b_id
         WHERE round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                     / len(list_distinct(list_concat(ta.toks, tb.toks))),
                     4) >= 0.5
         ORDER BY a_id, b_id""",

    "llm_dedup_ngram" ->
      """WITH sh AS (
           SELECT doc_id, lang,
                  list_distinct(list_transform(
                    range(1, len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1] || ' ' ||
                         string_split(text, ' ')[i + 2])) AS shingles
           FROM documents
         )
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang AS lang,
                round(CAST(len(list_intersect(a.shingles, b.shingles))
                           AS DOUBLE)
                      / len(list_distinct(list_concat(a.shingles,
                                                      b.shingles))),
                      4) AS jaccard3
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE round(CAST(len(list_intersect(a.shingles, b.shingles))
                          AS DOUBLE)
                     / len(list_distinct(list_concat(a.shingles,
                                                     b.shingles))),
                     4) >= 0.3
         ORDER BY a_id, b_id""",

    "llm_dedup_embedding" ->
      """WITH norms AS (
           SELECT vec_id, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm
           FROM embeddings
         )
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                round(list_aggregate(
                        list_transform(list_zip(a.embedding, b.embedding),
                          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                        'sum') / (a.nrm * b.nrm), 4) AS cos_sim
         FROM norms a JOIN norms b ON a.vec_id < b.vec_id
         WHERE round(list_aggregate(
                       list_transform(list_zip(a.embedding, b.embedding),
                         z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                       'sum') / (a.nrm * b.nrm), 4) >= 0.35
         ORDER BY a_id, b_id""",

    "llm_dedup_embedding_lsh" ->
      s"""WITH nv AS (
           SELECT CAST(greatest(3, length(bin((count(*) - 1) // 250)))
                    AS INTEGER) AS np
           FROM embeddings
         ),
         norms0 AS (
           SELECT vec_id, embedding, np,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm,
                  ${graft.functions.SignLsh.duckBucketSql("np")} AS bucket
           FROM embeddings CROSS JOIN nv
         ),
         cellsz AS (
           SELECT bucket, count(*) AS n_cell FROM norms0 GROUP BY bucket
         ),
         norms AS (
           SELECT n.* FROM norms0 n JOIN cellsz c USING (bucket)
           WHERE c.n_cell <= ${graft.ops.KnnEdges.Cap}
         ),
         probes AS (
           SELECT vec_id, embedding, nrm,
                  unnest(list_concat([bucket],
                    list_transform(range(0, np),
                      j -> xor(bucket, CAST(1 AS BIGINT) << j))))
                    AS pbucket
           FROM norms
         )
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                round(list_aggregate(
                        list_transform(list_zip(a.embedding, b.embedding),
                          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                        'sum') / (a.nrm * b.nrm), 4) AS cos_sim,
                'pair' AS kind
         FROM probes a JOIN norms b
           ON a.pbucket = b.bucket AND a.vec_id < b.vec_id
         WHERE round(list_aggregate(
                       list_transform(list_zip(a.embedding, b.embedding),
                         z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                       'sum') / (a.nrm * b.nrm), 4) >= 0.35
         UNION ALL
         SELECT n.vec_id AS a_id, CAST(-1 AS BIGINT) AS b_id,
                0.0 AS cos_sim, 'hub' AS kind
         FROM norms0 n JOIN cellsz c USING (bucket)
         WHERE c.n_cell > ${graft.ops.KnnEdges.Cap}
         ORDER BY kind, a_id, b_id""",

    "llm_minhash_signature" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                    AS tok
           FROM documents
         ),
         h AS (
           SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS hv
           FROM toks
         )
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
         ORDER BY doc_id""",

    "llm_fingerprint_simhash" ->
      """WITH h AS (
           SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS hv
           FROM (SELECT doc_id,
                        unnest(list_distinct(string_split(text, ' ')))
                          AS tok
                 FROM documents)
         ),
         bal AS (
           SELECT doc_id, bit,
                  sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END)
                    AS bal
           FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
           GROUP BY doc_id, bit
         )
         SELECT doc_id,
                CAST(sum(CASE WHEN bal > 0
                              THEN (CAST(1 AS BIGINT) << bit)
                              ELSE 0 END) AS BIGINT) AS simhash
         FROM bal
         GROUP BY doc_id
         ORDER BY doc_id""",

    "llm_fingerprint_rolling" ->
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(text, ''),
                                   s -> CAST(ord(s) AS BIGINT))),
                  (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
         FROM documents
         ORDER BY doc_id""",

    "llm_sim_topk_lsh" ->
      s"""WITH bucketed AS (
           SELECT vec_id, embedding,
                  ${graft.functions.SignLsh.duckBucketSql("3")} AS bucket,
                  sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    AS nrm
           FROM embeddings
         ),
         pairs AS (
           SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
                  p.bucket AS bucket,
                  round(list_aggregate(
                          list_transform(list_zip(p.embedding, e.embedding),
                            z -> CAST(z[1] AS DOUBLE) *
                                 CAST(z[2] AS DOUBLE)), 'sum')
                        / (p.nrm * e.nrm), 4) + 0.0 AS cos_sim
           FROM bucketed p JOIN bucketed e
             ON p.bucket = e.bucket AND e.vec_id <> p.vec_id
           WHERE p.vec_id < 10
         )
         SELECT probe_id, neighbor_id, bucket, cos_sim,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cos_sim DESC, neighbor_id)
                  AS rnk
         FROM pairs
         QUALIFY rnk <= 3
         ORDER BY probe_id, rnk""",

    "llm_knn_graph_lsh" ->
      s"""WITH ${graft.ops.KnnEdges.duckEdgesCtes()}
         SELECT src_id, dst_id, cos_sim, rnk
         FROM knn_edges
         ORDER BY src_id, rnk""",

    "llm_lang_id" ->
      """WITH scored AS (
           SELECT doc_id, lang,
                  (length(text) - length(replace(text, 'sch', ''))) / 3 +
                  (length(text) - length(replace(text, 'ei', ''))) / 2 +
                  (length(text) - length(replace(text, 'ch', ''))) / 2
                    AS s_de,
                  (length(text) - length(replace(text, 'the', ''))) / 3 +
                  (length(text) - length(replace(text, 'er', ''))) / 2 +
                  (length(text) - length(replace(text, 'an', ''))) / 2
                    AS s_en,
                  (length(text) - length(replace(text, 'os', ''))) / 2 +
                  (length(text) - length(replace(text, 'la', ''))) / 2 +
                  (length(text) - length(replace(text, 'on', ''))) / 2
                    AS s_es,
                  (length(text) - length(replace(text, 'le', ''))) / 2 +
                  (length(text) - length(replace(text, 'ou', ''))) / 2 +
                  (length(text) - length(replace(text, 'es', ''))) / 2
                    AS s_fr,
                  (length(text) - length(replace(text, 'ng', ''))) / 2 +
                  (length(text) - length(replace(text, 'sh', ''))) / 2 +
                  (length(text) - length(replace(text, 'zh', ''))) / 2
                    AS s_zh
           FROM documents
         )
         SELECT doc_id, lang,
                CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                          AND s_de >= s_zh THEN 'de'
                     WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh
                       THEN 'en'
                     WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                     WHEN s_fr >= s_zh THEN 'fr'
                     ELSE 'zh' END AS pred_lang,
                lang = (CASE WHEN s_de >= s_en AND s_de >= s_es
                                  AND s_de >= s_fr AND s_de >= s_zh
                             THEN 'de'
                             WHEN s_en >= s_es AND s_en >= s_fr
                                  AND s_en >= s_zh THEN 'en'
                             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                             WHEN s_fr >= s_zh THEN 'fr'
                             ELSE 'zh' END) AS is_match
         FROM scored
         ORDER BY doc_id""",

    "llm_quality_score" ->
      """WITH t AS (
           SELECT doc_id, n_chars,
                  string_split(text, ' ') AS toks
           FROM documents
         ),
         m AS (
           SELECT doc_id,
                  len(toks) AS n_tokens,
                  CAST(len(list_filter(toks,
                    tok -> tok IN ('the', 'key', 'order', 'sort', 'scan')))
                    AS DOUBLE) / len(toks) AS stop_ratio,
                  CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
                    AS avg_tok_len
           FROM t
         )
         SELECT doc_id, n_tokens,
                CAST(floor(stop_ratio * 10000 + 0.5) AS BIGINT)
                  AS stop_ratio_x1e4,
                CAST(floor((least(1.0, n_tokens / 50.0) * 0.5 +
                            stop_ratio * 0.3 +
                            (1.0 - least(1.0, avg_tok_len / 10.0)) * 0.2)
                           * 10000 + 0.5) AS BIGINT)
                  AS quality_score_x1e4
         FROM m
         ORDER BY doc_id""",

    "llm_token_count" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_ws_tokens,
                len(regexp_extract_all(text, '[a-z]+|[0-9]+'))
                  AS n_re_tokens,
                CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
         FROM documents
         ORDER BY doc_id""",

    "llm_multimodal_meta" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN 'image'
                     WHEN doc_id % 3 = 1 THEN 'audio'
                     ELSE 'video' END AS media_type,
                n_chars AS n_bytes,
                n_chars % 640 AS fake_width,
                n_chars % 480 AS fake_height,
                CASE WHEN doc_id % 3 = 2 THEN n_chars % 120 + 1
                     ELSE 1 END AS n_frames
         FROM documents
         ORDER BY doc_id"""
  )
}
