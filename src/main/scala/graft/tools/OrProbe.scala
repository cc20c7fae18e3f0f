package graft.tools

import org.apache.spark.sql.functions._

/** Stage-volume diagnostic for the REJECTED skinny-first shape of
  * llm_dedup_embedding_lsh_or (dedup candidate ids before attaching
  * payload): times the raw candidate join, the cross-table distinct,
  * and the payload-re-join confirm separately. On the 10× recall
  * corpus it measured 362.5 M raw candidates, an 84.5 s distinct, and
  * a 180 M-row confirm re-join — the evidence for the shipped fused
  * form, which re-screens cross-table duplicates inside each table's
  * bucket join and dedups only confirmed (output-grain) pairs.
  * Usage: runMain graft.tools.OrProbe <dir>
  */
object OrProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.Tables

    val nv = Tables.embeddings(spark, d)
      .agg(count(lit(1)).as("n_vecs"))
      .select(least(lit(15), greatest(lit(3),
                length(expr("bin((n_vecs - 1) div 250)"))))
        .cast("int").as("np"))
    println(s"OR-PROBE np = ${nv.head.getInt(0)}")

    val tb = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .crossJoin(broadcast(nv))
      .withColumn("allb", graft.functions.SignLsh.bucketCol(spark, "4 * np"))
      .select(col("vec_id"), col("np"), col("allb"),
              explode(expr("sequence(0, 3)")).as("t"))
      .select(col("vec_id"), col("np"), col("t"),
              expr("""shiftright(allb, (3 - t) * np)
                      & (shiftleft(cast(1 as bigint), np) - 1)""")
                .as("bucket"))
      .localCheckpoint()

    var t0 = System.nanoTime()
    val cellStats = tb.groupBy("t", "bucket").count()
      .agg(sum(col("count") * col("count")).as("sumsq"),
           max("count").as("maxc"), count(lit(1)).as("ncells"))
      .head
    println(f"OR-PROBE cells: ncells=${cellStats.getLong(2)} " +
      f"max=${cellStats.getLong(1)} sum|c|^2=${cellStats.getLong(0)} " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")

    val probes = tb.withColumn("pbucket",
        explode(expr(
          """concat(array(bucket),
                    transform(sequence(0, np - 1),
                              j -> bucket ^ shiftleft(1L, j)))""")))
      .select("vec_id", "t", "pbucket")
    val rawCand = probes.as("a").join(
        tb.select(col("vec_id"), col("t"), col("bucket")).as("b"),
        col("a.t") === col("b.t") &&
        col("a.pbucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))

    t0 = System.nanoTime()
    val nRaw = rawCand.count()
    println(f"OR-PROBE raw candidates: $nRaw " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")

    t0 = System.nanoTime()
    val cand = rawCand.distinct().localCheckpoint()
    val nCand = cand.count()
    println(f"OR-PROBE distinct candidates: $nCand " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")

    val e = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .withColumn("nrm", sqrt(expr("graft_dot_f(embedding, embedding)")))
    t0 = System.nanoTime()
    val n = cand.join(e.as("a"), col("a_id") === col("a.vec_id"))
      .join(e.as("b"),
        col("b_id") === col("b.vec_id") &&
        expr("graft_dot_f(a.embedding, b.embedding)") >=
          lit(0.3498) * col("a.nrm") * col("b.nrm") &&
        round(expr("graft_cosine_sim(a.embedding, b.embedding)"), 4)
          >= 0.35)
      .count()
    println(f"OR-PROBE confirmed pairs: $n " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    spark.stop()
  }
}
