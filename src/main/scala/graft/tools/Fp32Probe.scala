package graft.tools

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: A/B of llm_fingerprint_simhash — the retired 32-bit-row
  * explode form vs the round-18 32-static-sum form (the same re-plan
  * SimhashProbe measures for the dedup key's 60-column stage, here at
  * the fixed 32-bit width). Asserts identical fingerprints, times
  * both with the noop sink.
  *
  * Usage: runMain graft.tools.Fp32Probe <sfDir> [copies] [reps]
  */
object Fp32Probe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val copies = if (args.length > 1) args(1).toInt else 1
    val reps = if (args.length > 2) args(2).toInt else 3
    val s = graft.Graft.session()
    s.sparkContext.setLogLevel("ERROR")

    val base = Tables.documents(s, d).select("doc_id", "text")
    val docs0 =
      if (copies <= 1) base
      else base
        .select(explode(expr(s"sequence(0, ${copies - 1})")).as("i"),
                col("doc_id"), col("text"))
        .select((col("doc_id") * copies + col("i")).as("doc_id"),
                col("text"))
    val hvExpr =
      "cast(conv(substring(md5(cast(tok as binary)),1,8),16,10) as bigint)"
    def toks = docs0
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("hv", expr(hvExpr))

    def retired: DataFrame = toks
      .select(col("doc_id"), col("hv"),
              explode(expr("sequence(0, 31)")).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(when(expr("(hv >> bit) & 1") === 1, 1).otherwise(-1))
             .as("bal"))
      .groupBy("doc_id")
      .agg(sum(when(col("bal") > 0,
                    expr("shiftleft(cast(1 as bigint), bit)"))
             .otherwise(0L)).as("simhash"))
      .orderBy("doc_id")

    def current: DataFrame = {
      val balCols = (0 until 32).map(j =>
        sum(expr(s"2 * cast((hv >> $j) & 1 as int) - 1")).as(s"s$j"))
      toks
        .groupBy("doc_id")
        .agg(balCols.head, balCols.tail: _*)
        .select(col("doc_id"),
          (0 until 32).map(j =>
              when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
        .orderBy("doc_id")
    }

    println(s"FP corpus: ${docs0.count()} docs (copies=$copies)")
    val diff = current.as("c").join(retired.as("r"), Seq("doc_id"))
      .filter(col("c.simhash") =!= col("r.simhash")).count()
    println(s"FP fingerprint mismatches: $diff (must be 0)")
    require(diff == 0, "forms diverge")

    def bench(label: String, f: => DataFrame): Unit =
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        println(f"FP $label rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    bench("retired_bit_explode", retired)
    bench("current_32col", current)
    // The declared bench action is count(), which lets the optimizer
    // prune differently than the noop sink (guide §1.4) — time that
    // shape too, since the frozen mins were taken under it.
    def benchCount(label: String, f: => DataFrame): Unit =
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        f.count()
        println(f"FP $label(count) rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    benchCount("retired_bit_explode", retired)
    benchCount("current_32col", current)
    s.stop()
  }
}
