package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe: how do the flagship operators behave at N× the bench
  * corpus? Three generation modes, one per probed fixture family —
  * each constructed so "more data" carries the ADVERSARIAL shape for
  * its operator family, not just more uniform rows:
  *
  *  - `docs` (default): N tag-INTERLEAVED copies of documents (a tag
  *    token between every original token). Within a copy every doc
  *    undergoes the same transformation, so each copy's internal
  *    duplicate structure is preserved exactly; every 3-gram shingle
  *    contains the copy tag, so SHINGLE spaces are disjoint across
  *    copies, while token SETS stay ~identical across copies
  *    (near-dup clusters grown N× — the hub regime for token-level
  *    keys). CAVEAT measured in round 11 (tools/PrefixProbe): the
  *    interleave also COLLAPSES 3-gram entropy to bigram entropy
  *    (every shingle is word-tag-word or tag-word-tag over a ~40-word
  *    vocab → 96 200 distinct shingles at 100× instead of the honest
  *    ~2.7 M), so for shingle-DF-driven keys this mode is a THIRD
  *    adversarial regime (dense shingle space / boilerplate corpus),
  *    not an iid scale-up — prefix filtering measured 938 M candidate
  *    pairs at 100× here vs 41 M under `docs-iid`.
  *
  *  - `docs-iid`: N tag-SUFFIXED copies (the tag fused onto every
  *    token: `word` → `wordzzN`). Bijective per-copy token renaming —
  *    shingle DF structure is preserved exactly, and both token sets
  *    and shingle sets are disjoint across copies: the honest
  *    "N× more of the same data" for BOTH token-level and
  *    shingle-level keys (no hub regime).
  *
  *  - `events`: N copies of events with globally unique event_ids;
  *    ~1% of users (user_id ≡ 0 mod 97) keep their ORIGINAL id in
  *    every copy — their per-user timelines grow N× (hub users: the
  *    skew regime for user-partitioned windows, sessionization and
  *    funnels) — while the rest shift per copy (uniform shard
  *    growth). Timestamps are unchanged, so the time axis densifies
  *    the way a higher-traffic day would.
  *
  *  - `embeddings`: N copies of embeddings with unique vec_ids and
  *    IDENTICAL vectors. Every LSH/IVF cell grows N×, so bucketed
  *    candidate volume Σ|cell|² grows N² — the ANN hub regime — and
  *    cross-copy exact duplicates give dedup keys a known-answer
  *    output to scale against.
  *
  *  - `embeddings-iid`: N copies of embeddings, each copy pushed
  *    through its own hash-derived SIGNED COORDINATE PERMUTATION
  *    (new_e[j] = ±e[perm_c(j)], perm_c = indices sorted by
  *    xxhash64(copy, i), sign from xxhash64(copy, 64+j)). A signed
  *    permutation is an isometry, so every within-copy pairwise
  *    cosine — the corpus's near-dup structure — is preserved
  *    EXACTLY, while cross-copy vectors decorrelate (random signs →
  *    expected cosine 0): the honest "N× more vectors from the same
  *    distribution", the embeddings analogue of `docs-iid`'s
  *    bijective token renaming. Under it, adaptive-np cells stay
  *    balanced and per-cell candidate volume stays ~target per
  *    vector, so the ANN family should scale ~linearly — the
  *    counterpart to the duplicated-vector mode's N² hub regime.
  *
  *  - `orders`: N copies of orders AND lineitem with consistent
  *    order keys (o_orderkey/l_orderkey shift together, so the
  *    orders⋈lineitem join shape is preserved); ~1% of customers
  *    (custkey ≡ 0 mod 97) keep their id across copies (hub
  *    customers for per-customer windows), the rest shift per copy.
  *    Dates are unchanged — the time axis densifies. For keys whose
  *    inputs are orders and/or lineitem only (merge upsert, backlog
  *    sweep, interpurchase, pareto, ...).
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> <outDir>
  *          [docs|docs-iid|events|embeddings|embeddings-iid|orders]
  *          [xN] [pN] <key...>
  * `pN` sets spark.sql.shuffle.partitions (default 32, the bench
  * pin). At 100×+ corpora the pin stops being representative: a
  * cluster sized for the data would never run 32 reducers, and on
  * one box 32 partitions of a 600 M-row aggregation mean ~19 M rows
  * of hash-agg state per task — measured spill-to-failure at the
  * 1000× orders/events probes. Scaling reducers with the corpus is
  * exactly the SCALE.md §9 knob story, so the probe exposes it.
  * (mode defaults to docs; optional `x<copies>` overrides the
  * default 10×). Only keys whose input is the probed table are
  * meaningful — the other fixture tables are not generated.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val (mode, rest) = args.drop(2) match {
      case a if a.nonEmpty &&
          Set("docs", "docs-iid", "events", "embeddings",
              "embeddings-iid", "orders")(a.head) =>
        (a.head, a.tail)
      case a => ("docs", a)
    }
    val (copies, rest2) = rest match {
      case a if a.nonEmpty && a.head.matches("x\\d+") =>
        (a.head.drop(1).toInt, a.tail)
      case a => (10, a)
    }
    val (parts, rest3) = rest2 match {
      case a if a.nonEmpty && a.head.matches("p\\d+") =>
        (a.head.drop(1).toInt, a.tail)
      case a => (32, a)
    }
    // `nogen`: reuse outDir's corpus from a previous run of the SAME
    // (mode, xN) — generation is deterministic, so re-timing keys
    // (e.g. after a plan change, or with a different pN) need not pay
    // the build again (37 min for the 1000× orders corpus).
    val (skipGen, keys) = rest3 match {
      case a if a.nonEmpty && a.head == "nogen" => (true, a.tail)
      case a => (false, a)
    }
    val spark = graft.Graft.session()
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    val withCopy = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
    if (skipGen) () else mode match {
      case "docs" | "docs-iid" =>
        val tagged =
          if (mode == "docs")
            array_join(
              transform(split(col("text"), " "),
                x => concat_ws(" ", x, concat(lit("zz"), col("copy")))),
              " ")
          else
            array_join(
              transform(split(col("text"), " "),
                x => concat(x, lit("zz"), col("copy"))),
              " ")
        withCopy(spark.read.parquet(s"$sfDir/documents.parquet"))
          .select(
            (col("doc_id") + col("copy").cast("long") * lit(1000000L))
              .as("doc_id"),
            tagged.as("text"),
            col("lang"),
            col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      case "events" =>
        withCopy(graft.Tables.events(spark, sfDir))
          .select(
            (col("event_id") + col("copy").cast("long") * lit(1000000000L))
              .as("event_id"),
            col("ts"),
            when(col("user_id") % 97 === 0, col("user_id"))
              .otherwise(col("user_id") +
                         col("copy").cast("long") * lit(10000000L))
              .as("user_id"),
            col("event_type"), col("value"), col("props"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      case "embeddings" | "embeddings-iid" =>
        val emb =
          if (mode == "embeddings") col("embedding")
          else
            // Signed coordinate permutation per copy (see scaladoc):
            // perm = dims sorted by xxhash64(copy, i); the float cast
            // keeps the column's element type identical to the
            // fixture's array<float>.
            expr("""transform(
                      transform(
                        array_sort(transform(sequence(0, 63),
                          i -> struct(xxhash64(copy, i) AS h, i AS i))),
                        p -> p.i),
                      (src, j) ->
                        cast(if(xxhash64(copy, 64 + j) % 2 = 0, 1.0d, -1.0d)
                             * element_at(embedding, src + 1) AS float))""")
        // Two-stage copy explosion (round 18 — the single-stage form
        // exploded all N copies in ONE map task, then round-robin
        // shuffled the whole corpus-sized result to reach 32 writers:
        // at x80000 that is a 42 GB shuffle written by one core,
        // measured ~3 MB/s — hours — and double the disk footprint).
        // Stage 1 explodes only ≤ 256 copy-GROUPS (tiny), the shuffle
        // spreads THOSE, and stage 2 explodes each group's copies
        // map-side in its writer task: full parallelism, no
        // corpus-sized shuffle. perGroup first, THEN groups =
        // ceil(copies/perGroup), so (groups-1)*perGroup < copies
        // always holds: the last group's sequence() is non-empty AND
        // ascending. (The groups-first form descended whenever
        // groups*perGroup overshot copies past the last start —
        // Spark's sequence(hi, lo) counts DOWN, which at x40000
        // duplicated a copy and invented 36 out-of-range ones; x80000
        // happened to divide cleanly, masking it.)
        val perGroup = (copies + 255) / 256
        val groups = (copies + perGroup - 1) / perGroup
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .withColumn("cgrp", explode(sequence(lit(0), lit(groups - 1))))
          .repartition(math.max(parts, 32))
          .withColumn("copy", explode(expr(
            s"""sequence(cgrp * $perGroup,
                         least(cgrp * $perGroup + ${perGroup - 1},
                               ${copies - 1}))""")))
          .select(
            (col("vec_id") + col("copy").cast("long") * lit(1000000L))
              .as("vec_id"),
            emb.as("embedding"), col("label"))
          .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      case "orders" =>
        val keyShift = col("copy").cast("long") * lit(1000000000L)
        withCopy(spark.read.parquet(s"$sfDir/orders.parquet"))
          .select(
            (col("o_orderkey") + keyShift).as("o_orderkey"),
            when(col("o_custkey") % 97 === 0, col("o_custkey"))
              .otherwise(col("o_custkey") +
                         col("copy").cast("long") * lit(10000000L))
              .as("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
        withCopy(spark.read.parquet(s"$sfDir/lineitem.parquet"))
          .select(
            (col("l_orderkey") + keyShift).as("l_orderkey"),
            col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax"), col("l_returnflag"), col("l_linestatus"),
            col("l_shipdate"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    }
    println(f"PROBE gen-$mode${copies}x p$parts" +
      (if (skipGen) " (corpus reused)"
       else f" ${(System.nanoTime() - t0) / 1e9}%.2f s"))

    keys.foreach { k =>
      val t = System.nanoTime()
      // noop sink, not count(): count() lets Catalyst prune unused
      // window/projection columns, so keys whose cost IS those
      // columns (win_*, join_asof_*) would measure only the scan.
      val df = graft.SparkEntry.queries(k)(spark, outDir)
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t) / 1e9
      // The row count is a SECOND, untimed execution — fine for pure
      // keys, but sink_*/stream_* keys re-run their side effects
      // (sinks rewritten, streams re-drained) and would report the
      // count of that second run, so skip it for them (round 12,
      // ADVICE r11).
      if (k.startsWith("sink_") || k.startsWith("stream_"))
        println(f"PROBE $k $sec%.2f s, rows not re-counted (side-effecting)")
      else
        println(f"PROBE $k $sec%.2f s, ${df.count()} rows")
    }
    spark.stop()
  }
}
