package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: A/B of insta_power_users' rank cut — the retired global
  * row_number window (single-partition sort of ALL |users| rows) vs
  * the round-18 bounded-histogram decomposition (rank = cum_before of
  * the (n_events → count) histogram + user_id rank within the tie
  * group; only values intersecting the top-k range join back).
  * Synthesizes a user-count table directly so |users| scales far past
  * the fixture. Asserts identical output rows, times both with the
  * noop sink.
  *
  * Usage: runMain graft.tools.UserRankProbe <nUsers> [dist] [reps]
  *   dist = zipf (heavy-tailed counts, the realistic shape) or
  *          const (every user the same count — the adversarial
  *          all-ties case where the boundary group is every user).
  */
object UserRankProbe {
  def main(args: Array[String]): Unit = {
    val nUsers = args(0).toLong
    val dist = if (args.length > 1) args(1) else "zipf"
    val reps = if (args.length > 2) args(2).toInt else 3
    val s = graft.Graft.session()
    s.sparkContext.setLogLevel("ERROR")

    val countExpr = dist match {
      case "const" => "cast(7 as bigint)"
      // deterministic zipf-ish: most users tiny, a hash-selected tail
      // of heavy hitters
      case _ =>
        "cast(greatest(1L, 100000 div (1 + pmod(xxhash64(user_id), 99999))) as bigint)"
    }
    val uc = s.range(nUsers).select(col("id").as("user_id"))
      .withColumn("n_events", expr(countExpr))

    def retired: DataFrame = {
      val tot = uc.agg(count(lit(1)).as("n_users"),
                       sum("n_events").as("n_total"))
      val w = Window.orderBy(desc("n_events"), asc("user_id"))
      uc.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= greatest(lit(1L),
          expr("cast(n_users div 100 as bigint)")))
        .select(col("rk"), col("user_id"), col("n_events"),
                (round(col("n_events") / col("n_total"), 4) + 0.0)
                  .as("share"))
    }

    def current: DataFrame = {
      val wv = Window.orderBy(desc("n_events"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val histX = uc.groupBy("n_events").agg(count(lit(1)).as("cnt"))
        .withColumn("cum_before", sum("cnt").over(wv) - col("cnt"))
        .withColumn("n_users", sum("cnt").over(wAll))
        .withColumn("n_total",
          sum(col("n_events") * col("cnt")).over(wAll))
        .withColumn("k", greatest(lit(1L), expr("n_users div 100")))
        .filter(col("cum_before") < col("k"))
        .select("n_events", "cum_before", "k", "n_total")
      val wt = Window.partitionBy("n_events").orderBy(asc("user_id"))
      uc.join(histX, Seq("n_events"))
        .withColumn("rk",
          (col("cum_before") + row_number().over(wt)).cast("long"))
        .filter(col("rk") <= col("k"))
        .select(col("rk"), col("user_id"), col("n_events"),
                (round(col("n_events") / col("n_total"), 4) + 0.0)
                  .as("share"))
    }

    println(s"UR users: $nUsers dist=$dist")
    val diff = retired.as("r")
      .join(current.as("c"), Seq("rk"), "full_outer")
      .filter(col("r.user_id").isNull || col("c.user_id").isNull ||
              col("r.user_id") =!= col("c.user_id") ||
              col("r.n_events") =!= col("c.n_events") ||
              col("r.share") =!= col("c.share")).count()
    println(s"UR row mismatches: $diff (must be 0)")
    require(diff == 0, "forms diverge")

    def bench(label: String, f: => DataFrame): Unit =
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        println(f"UR $label rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    bench("retired_global_window", retired)
    bench("current_histogram", current)
    s.stop()
  }
}
