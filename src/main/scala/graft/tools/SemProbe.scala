package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probe tool for llm_dedup_semantic's cell geometry: reproduces the
  * key's two-level cosine routing on a corpus dir and prints the cell
  * size distribution plus the implied candidate-pair volume Σ|c|²/2 —
  * the quantity the SemDeDup blocking exists to bound. Used by the
  * round-12b probe program to adjudicate routing designs (euclidean
  * argmin vs signed-cos² argmax) before freezing one into the key.
  *
  * Usage: runMain graft.tools.SemProbe <dir> [stride]
  */
object SemProbe {
  def assignment(s: SparkSession, d: String): DataFrame = {
    val qarr = graft.Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> coalesce(cast(floor(cast(x as double) * 100 + 0.5) as bigint), 0L))")
          .as("qb"))
      .withColumn("nb2", expr("graft_long_dot(qb, qb)"))
      .localCheckpoint()
    val cents = qarr.filter(col("vec_id") % 50 === 0)
      .select(expr("vec_id div 50").as("c"), col("qb").as("qbc"),
              col("nb2").as("nbc2"))
    val km = cents.agg(count(lit(1)).as("k"))
      .select(expr(
        "if(k <= 64, 1L, shiftleft(1L, cast(length(bin(k)) as int) div 2))")
        .as("m"))
    val grp = cents.crossJoin(broadcast(km))
      .select(expr("c div m").as("g"), col("c"), col("qbc"), col("nbc2"))
    val supers = grp.groupBy("g").agg(min("c").as("c"))
      .join(grp.select("c", "qbc", "nbc2"), Seq("c"))
      .select(col("g"), col("qbc").as("sqb"), col("nbc2").as("snb2"))
    val route = qarr.join(broadcast(supers))
      .select(col("vec_id"), col("g"),
              expr("graft_long_dot(qb, sqb)").as("dt"), col("snb2"))
      .select(col("vec_id"), col("g"), expr(
        """CASE WHEN dt >= 0 THEN (dt * dt * 1000000L) div greatest(snb2, 1L)
                ELSE -((dt * dt * 1000000L) div greatest(snb2, 1L)) END""")
        .as("sc"))
      .groupBy("vec_id")
      .agg(max(struct(col("sc"), (-col("g")).as("ng"))).as("m1"))
      .select(col("vec_id"), (-col("m1.ng")).as("g"))
    qarr.join(route, Seq("vec_id"))
      .join(grp.select("g", "c", "qbc", "nbc2"), Seq("g"))
      .select(col("vec_id"), col("c"),
              expr("graft_long_dot(qb, qbc)").as("dt"), col("nbc2"))
      .select(col("vec_id"), col("c"), expr(
        """CASE WHEN dt >= 0 THEN (dt * dt * 1000000L) div greatest(nbc2, 1L)
                ELSE -((dt * dt * 1000000L) div greatest(nbc2, 1L)) END""")
        .as("sc"))
      .groupBy("vec_id")
      .agg(max(struct(col("sc"), (-col("c")).as("nc"))).as("m2"))
      .select(col("vec_id"), (-col("m2.nc")).as("c"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val cells = assignment(spark, dir).groupBy("c").count()
    val stats = cells.agg(
      count(lit(1)).as("n_cells"),
      sum("count").as("n_vecs"),
      max("count").as("max_cell"),
      expr("percentile_approx(count, 0.5)").as("p50"),
      expr("percentile_approx(count, 0.99)").as("p99"),
      sum(col("count") * col("count")).as("sum_sq")).collect()(0)
    println(s"SEMPROBE cells=${stats.getLong(0)} vecs=${stats.getLong(1)} " +
      s"max=${stats.getLong(2)} p50=${stats.getLong(3)} " +
      s"p99=${stats.getLong(4)} pair_candidates=${stats.getLong(5) / 2}")
    val top = cells.orderBy(desc("count")).limit(10).collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
    println(s"SEMPROBE top10 $top")
    spark.stop()
  }
}
