package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Planted near-duplicate recall probe for the dedup families.
  *
  * The fixture-scale recall audits (`llm_dedup_lsh_recall`,
  * `llm_minhash_jaccard_audit`) measure each sketch against exact
  * ground truth on a sample — affordable because the corpus is small.
  * At probe scale the exact pair space is gone, so this probe turns
  * the construction around: it PLANTS the ground truth, as twin rows
  * whose ids are known by construction (twin id = id + 500000 inside
  * the copy's id block). A dedup key's PLANTED RECALL is the fraction
  * of twin pairs that survive its blocking — the at-scale answer to
  * "what does the candidate-generation stage actually lose?",
  * measured rather than argued.
  *
  * `emb` mode: the embeddings-iid corpus (signed-permutation isometry
  * per copy — see ScaleProbe) where each vector's twin negates the
  * coordinate at pmod(xxhash64(copy, vec_id), 64), so cos(v, twin) =
  * 1 − 2·v_j²/‖v‖² ≈ 0.94–0.97 on the fixture's coordinate mass —
  * the production τ ≈ 0.95 regime. Every planted pair clears the
  * declared τ = 0.35 by a wide margin (max coordinate mass ~3.3% of
  * ‖v‖²), so losses are attributable to routing alone; the exact
  * O(N²) key is the recall-1 control.
  *
  * `docs` mode: the docs-iid corpus (suffix-fused token renaming per
  * copy) where each document's twin appends "qq" to its FIRST token —
  * one token edit, so token-set Jaccard ≈ (T−1)/(T+1) over T distinct
  * tokens, and 3-gram shingle Jaccard = (S−1)/(S+1) over S shingles
  * (the first token appears in exactly one shingle). Both
  * similarities are computed EXACTLY per planted pair at generation
  * (N pairs, not N²), and each key's recall is reported against the
  * planted pairs that actually clear that key's own confirm threshold
  * in its own similarity universe (token J ≥ 0.5 for the minhash keys
  * and the exact `llm_dedup_near` control, shingle J ≥ 0.3 for the
  * ngram key, fingerprint hamming ≤ 3 for the simhash key — whose
  * pigeonhole banding claims EXACTNESS, so any recall under 1.0 on
  * its qualifying pairs falsifies the claim at scale).
  * `llm_dedup_prefix_filter` is NOT probed here: its
  * declared output is a pair-count histogram, not a pair list — its
  * exact-recall claim is held by the PPJoin position-bound proof plus
  * the quadratic DuckDB oracle at two fixture scales instead.
  *
  * Usage: runMain graft.tools.RecallProbe <sfDir> <outDir>
  *          [emb|docs] [xN] [reuse] key...
  * Keys must output pair rows (a_id, b_id); rows with a `kind` column
  * are filtered to kind='pair' (the minhash hub gate's labeled rows
  * are not pairs). The generated corpus AND the planted relation are
  * persisted under outDir; `reuse` skips generation and reads them
  * back, so one 100x gen serves many key runs.
  */
object RecallProbe {
  /** Qualifying-pair predicate per docs-mode key — each key's recall
    * is measured against planted pairs clearing ITS OWN confirm
    * threshold in its own similarity universe. */
  private val docQualifies: Map[String, String] = Map(
    "llm_dedup_minhash_lsh" -> "jtok >= 0.5",
    "llm_dedup_minhash_pairs" -> "jtok >= 0.5",
    "llm_dedup_near" -> "jtok >= 0.5",
    "llm_dedup_ngram" -> "jsh >= 0.3",
    "llm_dedup_simhash" -> "hsim <= 3")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val (mode, rest) = args.drop(2) match {
      case a if a.nonEmpty && Set("emb", "docs")(a.head) => (a.head, a.tail)
      case a => ("emb", a)
    }
    val (copies, rest2) = rest match {
      case a if a.nonEmpty && a.head.matches("x\\d+") =>
        (a.head.drop(1).toInt, a.tail)
      case a => (10, a)
    }
    val (reuse, keys) = rest2 match {
      case a if a.nonEmpty && a.head == "reuse" => (true, a.tail)
      case a => (false, a)
    }
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    val planted = if (reuse) spark.read.parquet(s"$outDir/planted.parquet")
      else {
        val p = if (mode == "emb") genEmb(spark, sfDir, outDir, copies)
                else genDocs(spark, sfDir, outDir, copies)
        p.write.mode("overwrite").parquet(s"$outDir/planted.parquet")
        spark.read.parquet(s"$outDir/planted.parquet")
      }
    val nPlanted = planted.count()
    val genTag = if (reuse) "reused" else "generated"
    println(f"RECALLPROBE gen-$mode ${copies}x ($genTag): $nPlanted " +
      f"planted twin pairs, ${(System.nanoTime() - t0) / 1e9}%.1f s")

    keys.foreach { k =>
      val t = System.nanoTime()
      val raw = graft.SparkEntry.queries(k)(spark, outDir)
      val gated = raw.columns.contains("kind")
      val out = if (gated) raw.filter(col("kind") === "pair") else raw
      val pairs = out.select(col("a_id"), col("b_id")).localCheckpoint()
      val sec = (System.nanoTime() - t) / 1e9
      val rows = pairs.count()
      val qual =
        if (mode == "emb") planted
        else docQualifies.get(k) match {
          case Some(pred) => planted.filter(expr(pred))
          case None => planted
        }
      val nQual = qual.count()
      val hit = qual.join(pairs,
          qual("a_id") === pairs("a_id") && qual("b_id") === pairs("b_id"))
        .count()
      // A gated key withholds hub-labeled docs from pair scanning BY
      // CONTRACT — those rows are visible, not lost. A planted pair is
      // ACCOUNTED for if it was emitted or either member is labeled:
      // the gate's honest recall is the accounted fraction, and the
      // gap between it and the raw pair recall is the quarantine's
      // measured size on this corpus.
      val acct = if (!gated) hit else {
        val hubs = raw.filter(col("kind") === "hub")
          .select(col("a_id").as("h")).localCheckpoint()
        qual.join(pairs,
            qual("a_id") === pairs("a_id") && qual("b_id") === pairs("b_id"),
            "left_semi")
          .unionByName(qual.join(hubs, qual("a_id") === hubs("h"), "left_semi"))
          .unionByName(qual.join(hubs, qual("b_id") === hubs("h"), "left_semi"))
          .select("a_id", "b_id").distinct().count()
      }
      // hit ∩ hub-touched = ∅ (a hub member never enters the band
      // source), so scanned pairs = nQual − (acct − hit) and the
      // conditional recall on pairs the gate actually scanned is
      // hit / scanned — the gate's banding loss net of the documented
      // quarantine.
      val scanned = nQual - (acct - hit)
      val extra = if (gated)
        f", accounted (pair or hub-labeled) $acct/$nQual = " +
        f"${acct.toDouble / nQual}%.3f, scanned-pair recall " +
        f"$hit/$scanned = ${hit.toDouble / scanned}%.3f"
        else ""
      println(f"RECALLPROBE $k $sec%.1f s, $rows rows, " +
        f"planted recall $hit/$nQual = ${hit.toDouble / nQual}%.3f$extra")
    }
    spark.stop()
  }

  /** Jittered-twin embeddings corpus; returns the planted (a_id, b_id)
    * relation. */
  private def genEmb(spark: SparkSession, sfDir: String, outDir: String,
                     copies: Int) = {
    // Two-stage copy explosion (round 18, same fix as ScaleProbe's
    // embeddings path): the single-stage form exploded all N copies
    // in the base file's 1–2 scan tasks and then shuffled the whole
    // corpus-sized exploded set to reach 32 workers — at x40000 a
    // ~21 GB shuffle written by 1–2 cores, then a SECOND corpus-sized
    // shuffle (the final repartition of orig ∪ twin, ~42 GB). Stage 1
    // explodes only ≤ 256 copy-GROUPS (≤ 512 k small rows), the
    // shuffle spreads THOSE, and stage 2 explodes each group's copies
    // — and the orig/twin pair — map-side inside its writer task:
    // same rows (all generated values are row-local hashes of
    // (vec_id, copy), so placement never changes content), full
    // parallelism, no corpus-sized shuffle.
    // perGroup first, THEN groups = ceil(copies/perGroup): this way
    // (groups-1)*perGroup < copies always holds, so the last group's
    // sequence() is non-empty AND ascending. (The groups-first form
    // descended when groups*perGroup overshot copies past the last
    // start — Spark's sequence(hi, lo) counts DOWN, which at x40000
    // duplicated copy 39999 and invented 36 out-of-range copies.)
    val perGroup = (copies + 255) / 256
    val groups = (copies + perGroup - 1) / perGroup
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("cgrp", explode(sequence(lit(0), lit(groups - 1))))
      .repartition(64)
      .withColumn("copy", explode(expr(
        s"""sequence(cgrp * $perGroup,
                     least(cgrp * $perGroup + ${perGroup - 1},
                           ${copies - 1}))""")))
      .select(col("vec_id"), col("copy"), col("label"),
        // signed coordinate permutation per copy (ScaleProbe's
        // embeddings-iid construction, verbatim)
        expr("""transform(
                  transform(
                    array_sort(transform(sequence(0, 63),
                      i -> struct(xxhash64(copy, i) AS h, i AS i))),
                    p -> p.i),
                  (src, j) ->
                    cast(if(xxhash64(copy, 64 + j) % 2 = 0, 1.0d, -1.0d)
                         * element_at(embedding, src + 1) AS float))""")
          .as("pe"))
    // kind = 0 → the copy's vector verbatim; kind = 1 → its planted
    // twin (one signed coordinate flipped at pmod(xxhash64(copy,
    // vec_id), 64), computed from the ORIGINAL vec_id exactly as the
    // retired two-branch union did).
    base.withColumn("kind", explode(array(lit(0L), lit(1L))))
      .select(
        (col("vec_id") + col("kind") * lit(500000L) +
         col("copy").cast("long") * lit(1000000L)).as("vec_id"),
        when(col("kind") === 1,
          expr("""transform(pe, (x, j) ->
                    cast(if(j = pmod(xxhash64(copy, vec_id), 64), -x, x)
                         AS float))"""))
          .otherwise(col("pe")).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    base.select(
      (col("vec_id") + col("copy").cast("long") * lit(1000000L))
        .as("a_id"))
      .select(col("a_id"), (col("a_id") + 500000L).as("b_id"))
  }

  /** Edited-twin documents corpus; returns the planted (a_id, b_id,
    * jtok, jsh) relation with EXACT per-pair similarities. */
  private def genDocs(spark: SparkSession, sfDir: String, outDir: String,
                      copies: Int) = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
      // Same placement shuffle as genEmb: spread the per-copy rename
      // work across the box instead of the base file's 1–2 scan tasks.
      .repartition(32, col("doc_id"), col("copy"))
      .select(col("doc_id"), col("copy"), col("lang"), col("source"),
        // docs-iid suffix-fused rename (ScaleProbe), then the twin's
        // one-token edit on top
        expr("""array_join(transform(split(text, ' '),
                  x -> concat(x, 'zz', copy)), ' ')""").as("text"))
      .withColumn("twin_text", expr(
        """array_join(transform(split(text, ' '),
             (x, i) -> if(i = 0, concat(x, 'qq'), x)), ' ')"""))
    val orig = base.select(
      (col("doc_id") + col("copy").cast("long") * lit(1000000L))
        .as("doc_id"),
      col("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val twin = base.select(
      (col("doc_id") + lit(500000L) + col("copy").cast("long") * lit(1000000L))
        .as("doc_id"),
      col("twin_text").as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    orig.unionAll(twin).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // Exact planted-pair similarities, one row per pair (never a join).
    // Tokens/shingles are xxhash64'd to longs before the set ops —
    // set cardinalities are preserved (injective on the corpus, same
    // assumption the minhash keys make, asserted in PropertySpec) and
    // long-array intersect/union beats string-array by a wide margin
    // at 500 k pairs.
    // Simhash per side with the key's own adaptive band width (same
    // md5-derived per-token vote chain and the same in-plan
    // w = least(15, greatest(8, bits((N−1) div 20))) that
    // llm_dedup_simhash derives from count(*) on THIS corpus — the
    // probe checks the key's BANDING finds the pairs, not the
    // fingerprint formula), so hsim is the exact hamming distance of
    // the planted pair's fingerprints and `hsim <= 3` is the key's
    // own qualifying predicate.
    val nDocs = 2L * copies *
      spark.read.parquet(s"$sfDir/documents.parquet").count()
    val w = math.min(15L, math.max(8L,
      64L - java.lang.Long.numberOfLeadingZeros((nDocs - 1) / 20)))
    val nbits = 4 * w
    val shift = 60 - nbits
    def simhashSql(thCol: String): String =
      s"""aggregate(sequence(0, $nbits - 1), cast(0 as bigint),
            (acc, b) -> acc + if(
              aggregate($thCol, 0,
                (s, h) -> s + if(((h >> ($shift + b)) & 1) = 1, 1, -1)) > 0,
              shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"""
    base
      .withColumn("mha", expr(
        """transform(array_distinct(split(text, ' ')),
             t -> cast(conv(substring(md5(cast(t as binary)), 1, 15),
                            16, 10) as bigint))"""))
      .withColumn("mhb", expr(
        """transform(array_distinct(split(twin_text, ' ')),
             t -> cast(conv(substring(md5(cast(t as binary)), 1, 15),
                            16, 10) as bigint))"""))
      .select(
        (col("doc_id") + col("copy").cast("long") * lit(1000000L))
          .as("a_id"),
        (col("doc_id") + lit(500000L) +
           col("copy").cast("long") * lit(1000000L)).as("b_id"),
        expr(s"bit_count((${simhashSql("mha")}) ^ (${simhashSql("mhb")}))")
          .as("hsim"),
        expr("array_distinct(transform(split(text, ' '), t -> xxhash64(t)))")
          .as("ta"),
        expr("""array_distinct(transform(split(twin_text, ' '),
                  t -> xxhash64(t)))""").as("tb"),
        expr("""if(size(split(text, ' ')) < 3, array(),
                array_distinct(transform(
                  sequence(1, size(split(text, ' ')) - 2),
                  i -> xxhash64(element_at(split(text, ' '), i),
                                element_at(split(text, ' '), i + 1),
                                element_at(split(text, ' '), i + 2)))))""")
          .as("sa"),
        expr("""if(size(split(twin_text, ' ')) < 3, array(),
                array_distinct(transform(
                  sequence(1, size(split(twin_text, ' ')) - 2),
                  i -> xxhash64(element_at(split(twin_text, ' '), i),
                                element_at(split(twin_text, ' '), i + 1),
                                element_at(split(twin_text, ' '), i + 2)))))""")
          .as("sb"))
      .select(col("a_id"), col("b_id"), col("hsim"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
         size(array_union(col("ta"), col("tb")))).as("jtok"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
         size(array_union(col("sa"), col("sb")))).as("jsh"))
  }
}
