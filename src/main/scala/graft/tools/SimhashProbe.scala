package graft.tools

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: A/B of llm_dedup_simhash's fingerprint stage — the
  * retired bit-explode form (every token row exploded into 4·w
  * bit-rows before the first hash agg) vs the round-18 60-column
  * balance form (one pass over the E token rows, 60 static sum()
  * aggregates, fingerprint assembled from the balance array). The
  * declared key hides this stage behind its eager localCheckpoint, so
  * the plan evidence and the timing live here. Also asserts the two
  * forms produce identical fingerprints.
  *
  * Usage: runMain graft.tools.SimhashProbe <sfDir> [copies] [reps]
  *   copies > 1 synthesizes a copies× corpus (doc_id remapped, text
  *   reused) so the constant-factor claim is measured above fixture
  *   scale.
  */
object SimhashProbe {
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
    val wTab = docs0.agg(
      least(lit(15), greatest(lit(8),
          length(expr("bin((count(1) - 1) div 20)"))))
        .cast("int").as("w"))
    val hvExpr =
      "cast(conv(substring(md5(cast(tok as binary)),1,15),16,10) as bigint)"
    def toks = docs0
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .crossJoin(broadcast(wTab))
      .withColumn("hv", expr(hvExpr))

    def retired: DataFrame = toks
      .select(col("doc_id"), col("w"), col("hv"),
              explode(expr("sequence(0, 4 * w - 1)")).as("bit"))
      .groupBy("doc_id", "w", "bit")
      .agg(sum(when(expr("(hv >> (60 - 4 * w + bit)) & 1") === 1, 1)
                 .otherwise(-1)).as("bal"))
      .groupBy("doc_id", "w")
      .agg(sum(when(col("bal") > 0,
                    expr("shiftleft(cast(1 as bigint), bit)"))
             .otherwise(0L)).as("simhash"))
      .select("doc_id", "simhash")

    def current: DataFrame = {
      val balCols = (0 until 60).map(j =>
        sum(expr(s"2 * cast((hv >> $j) & 1 as int) - 1")).as(s"s$j"))
      toks
        .groupBy("doc_id", "w")
        .agg(balCols.head, balCols.tail: _*)
        .withColumn("sarr", array((0 until 60).map(j => col(s"s$j")): _*))
        .select(col("doc_id"),
          expr("""aggregate(sequence(0, 4 * w - 1), cast(0 as bigint),
                    (acc, bit) -> acc +
                      IF(element_at(sarr, 60 - 4 * w + bit + 1) > 0,
                         shiftleft(cast(1 as bigint), bit),
                         cast(0 as bigint)))""").as("simhash"))
    }

    println(s"SP corpus: ${docs0.count()} docs (copies=$copies)")
    val diff = current.as("c").join(retired.as("r"), Seq("doc_id"))
      .filter(col("c.simhash") =!= col("r.simhash")).count()
    println(s"SP fingerprint mismatches: $diff (must be 0)")
    require(diff == 0, "forms diverge")

    def bench(label: String, f: => DataFrame): Unit =
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = f.write.format("noop").mode("overwrite").save()
        println(f"SP $label rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    bench("retired_bit_explode", retired)
    bench("current_60col", current)

    println("SP === retired plan ===")
    println(retired.queryExecution.executedPlan.toString.take(8000))
    println("SP === current plan ===")
    println(current.queryExecution.executedPlan.toString.take(8000))
    s.stop()
  }
}
