package graft.ops

import graft.functions.MinHashAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The hashing kit behind the text-dedup keys: the md5-prefix token
  * hash, the 16-slot MinHash signature, 4×4 LSH banding with the
  * first-collision emit, the pairless hub-degree pass and sorted
  * token-hash sets. Every dedup key builds its hashes here, so the
  * audit keys (`llm_minhash_jaccard_audit`, `llm_dedup_lsh_recall`)
  * measure the same chain the production keys run. The DuckDB oracles
  * restate the chain in SQL on purpose: they are the independent
  * reference these helpers are checked against.
  */
object Hashing {

  /** Cross-engine-stable hash of a SQL string expression: the first
    * `hexChars` hex digits of its md5 as a non-negative long. DuckDB
    * computes the same value as
    * `CAST('0x' || substring(md5(x), 1, hexChars) AS BIGINT)`. */
  def md5Prefix(sqlExpr: String, hexChars: Int = 8): String =
    s"cast(conv(substring(md5(cast($sqlExpr as binary)),1,$hexChars),16,10) as bigint)"

  /** 16-slot MinHash signature of a `(doc_id, tok)` frame: `hv` is the
    * 32-bit md5-prefix hash of `tok`, slot i is
    * `min((hv·A(i) + B(i)) mod P)` over the doc's tokens, with the
    * coefficient table of [[graft.functions.MinHashAgg]]. Output
    * columns: `doc_id, m0 .. m15`. */
  def signature(toks: DataFrame): DataFrame = {
    import MinHashAgg.{A, B, P}
    toks.withColumn("hv", expr(md5Prefix("tok")))
      .groupBy("doc_id")
      .agg(min((col("hv") * A(0) + B(0)) % P).as("m0"),
           (1 until MinHashAgg.K).map(i =>
             min((col("hv") * A(i) + B(i)) % P).as(s"m$i")): _*)
  }

  /** The 4×4 banding of a [[signature]]: band b is slots 4b .. 4b+3. */
  val bandCols: Seq[Seq[String]] =
    (0 until MinHashAgg.K).map(i => s"m$i").grouped(4).toSeq

  /** One row per (doc, band) of a [[signature]] with raw-slice band
    * keys (`array<bigint>`, no hash-collision gap): `doc_id`, every
    * band's slice as `k0 .. k3` (for [[firstCollision]]) and the
    * row's own `band_idx, band_key`. */
  def rawBands(sig: DataFrame): DataFrame = {
    val slices = bandCols.map(bc => s"array(${bc.mkString(",")})")
    sig.selectExpr(
      Seq("doc_id") ++ slices.zipWithIndex.map { case (a, i) => s"$a as k$i" } :+
        slices.zipWithIndex.map { case (a, i) => s"$i, $a" }
          .mkString(s"stack(${slices.size}, ", ", ", ") as (band_idx, band_key)"): _*)
  }

  /** First-collision emit for a band self-join aliased `x`/`y` whose
    * rows carry every band key as `<key>0 .. <key>(nBands-1)`: a pair
    * matched at band i passes only if no band j < i also collides, so
    * each colliding pair is emitted once, at its lowest colliding band,
    * without a distinct over the pair space. */
  def firstCollision(nBands: Int, key: String = "k"): Column =
    (1 until nBands).map(j =>
      col("x.band_idx") < j || col(s"x.$key${j - 1}") =!= col(s"y.$key${j - 1}"))
      .reduce(_ && _)

  /** Candidate degree at or above which a doc is a hub: quarantined
    * from the banded pair join. */
  val HubDegree = 150

  /** Per-doc LSH candidate degree without materializing pairs: the
    * number of other docs that agree with it on at least one band,
    * by inclusion–exclusion over the non-empty band subsets S,
    *   degree(x) = Σ_S (−1)^{|S|+1} · c_S(x) − 1,
    * where c_S(x) counts docs (x included) equal to x on every band in
    * S. `bands` names each band's columns in `sig`. Each doc explodes
    * into one (subset id, key) row per S; one (sid, key) count
    * aggregate gives every c_S, a shuffled-hash join-back attaches
    * them and one groupBy folds the signed sum. Not a
    * count-over-window: that sorts the exploded rows and buffers each
    * (sid, key) group, and a hub cluster makes those groups
    * unsplittable. Output columns: `doc_id, degree`. */
  def degree(sig: DataFrame, bands: Seq[Seq[String]]): DataFrame = {
    val subsetKeys = (1 until (1 << bands.size)).map { mask =>
      array(bands.indices.filter(b => (mask & (1 << b)) != 0)
        .flatMap(bands).map(col): _*)
    }
    val exploded = sig.select(col("doc_id"),
      posexplode(array(subsetKeys: _*)).as(Seq("sid", "key")))
    val cnt = exploded.groupBy("sid", "key")
      .agg(count(lit(1)).as("c"))
    exploded
      .join(cnt.hint("shuffle_hash"), Seq("sid", "key"))
      .groupBy("doc_id").agg(
        (sum(when(expr("bit_count(sid + 1) % 2 = 1"), col("c"))
               .otherwise(-col("c"))) - lit(1)).as("degree"))
  }

  /** Sorted distinct xxhash64 values of a string array: the operand of
    * the merge-walk intersect kernels (`graft_sorted_intersect_*`).
    * Hashing before the distinct keeps array_distinct on its primitive
    * long path. */
  def tokenHashSet(tokens: Column): Column =
    array_sort(array_distinct(transform(tokens, t => xxhash64(t))))
}
