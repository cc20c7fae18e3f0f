package graft.tools

import org.apache.spark.sql.functions._

/** One-shot diagnostic behind the round-18 eighth-decade plateau:
  * `llm_sim_topk_lsh_or` pinned at 20/30 on the 160 M twin corpus for
  * budget ×1/×2/×4 AND the depth-6 domain — an invariance no
  * budget/depth story explains (a planted ~0.95-cos twin flips ~2 of
  * 20 sign bits in expectation; ten pairs needing ≥ 7 flips in all
  * four tables is statistically impossible). This prints, for every
  * EXACT top-3 pair, its cosine and the per-table bucket Hamming
  * distance at the in-plan np — the direct observable that separates
  * "probe set too shallow" from "truth changed shape at this N"
  * (e.g. non-twin neighbors entering the exact top-3 as the order
  * statistics of 160 M near-orthogonal cosines creep up).
  *
  * Usage: runMain graft.tools.OrDiag <dir>
  */
object OrDiag {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    val truth = graft.SparkEntry.queries("llm_sim_topk")(spark, dir)
      .select("probe_id", "neighbor_id", "cos_sim").localCheckpoint()

    val nv = graft.Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vecs"))
      .select(least(lit(31), greatest(lit(3),
                length(expr("bin((n_vecs - 1) div 250)"))))
        .cast("int").as("np"))
    val ids = truth.select(col("probe_id").as("vec_id"))
      .union(truth.select(col("neighbor_id").as("vec_id"))).distinct()
    val tb = graft.Tables.embeddings(spark, dir)
      .join(ids, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(nv))
      .withColumn("allbA", expr("graft_sign_lsh(embedding, 2 * np)"))
      .withColumn("allbB", expr("graft_sign_lsh(embedding, 2 * np, 2 * np)"))
      .select(col("vec_id"), col("np"), col("allbA"), col("allbB"),
              explode(expr("sequence(0, 3)")).as("t"))
      .select(col("vec_id"), col("np"), col("t"),
        expr("""if(t < 2, shiftright(allbA, (1 - t) * np),
                          shiftright(allbB, (3 - t) * np))
                & (shiftleft(cast(1 as bigint), np) - 1)""")
          .as("bucket"))
      .localCheckpoint()

    val pb = tb.select(col("vec_id").as("probe_id"), col("t"),
                       col("bucket").as("pbucket"))
    val nb = tb.select(col("vec_id").as("neighbor_id"), col("t"),
                       col("bucket").as("nbucket"), col("np"))
    val rows = truth.join(pb, Seq("probe_id")).join(nb, Seq("neighbor_id", "t"))
      .groupBy("probe_id", "neighbor_id", "cos_sim")
      .agg(min(expr("bit_count(pbucket ^ nbucket)")).as("min_flips"),
           collect_list(struct(col("t"),
             expr("bit_count(pbucket ^ nbucket)").as("h"))).as("per_t"),
           first("np").as("np"))
      .orderBy("probe_id", "cos_sim")
      .collect()
    rows.foreach { r =>
      val per = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("per_t")
        .sortBy(_.getInt(0)).map(x => x.get(1)).mkString(",")
      println(f"ORDIAG probe=${r.getLong(0)} nbr=${r.getLong(1)} " +
        f"cos=${r.getDouble(2)}%.4f np=${r.getAs[Int]("np")} " +
        f"flips/table=[$per] min=${r.getAs[Long]("min_flips")}")
    }
    spark.stop()
  }
}
