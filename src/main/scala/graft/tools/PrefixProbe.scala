package graft.tools

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: stage-volume breakdown of llm_dedup_prefix_filter's
  * candidate pipeline — tuple counts before/after each pruning rule,
  * so the confirm-stage exchange volume can be sized instead of
  * guessed. Usage: runMain graft.tools.PrefixProbe <sfDir>
  */
object PrefixProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = graft.Graft.session()
    s.sparkContext.setLogLevel("ERROR")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PP $label ${(System.nanoTime() - t0) / 1e9}%.2f s  $n rows")
    }

    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        """transform(sequence(1, size(t) - 2),
             i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                            element_at(t, i + 2)))""")).as("sh"))
      .withColumn("n", size(col("sh")).cast("long"))
      .localCheckpoint()
    time("docs")(docs.count())
    val shDf = docs.select(explode(col("sh")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    time("shingle_df")(shDf.count())
    val byRarity = Window.partitionBy("doc_id").orderBy("df", "g")
    val prefix = docs.select(col("doc_id"), col("n"),
        explode(col("sh")).as("g"))
      .join(shDf, Seq("g"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("n") - ((col("n") + 1) / lit(2)).cast("long")
                + lit(1))
      .select("g", "doc_id", "n", "rk")
      .localCheckpoint()
    time("prefix_rows")(prefix.count())
    val joined = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") &&
        col("a.doc_id") < col("b.doc_id"))
    time("raw_tuples")(joined.count())
    val lenF = joined.filter(
      lit(3) * least(col("a.n"), col("b.n")) >= col("a.n") + col("b.n"))
    time("after_length_filter")(lenF.count())
    // PPJoin position bound via the FIRST common prefix element:
    // overlap <= min(na - rka + 1, nb - rkb + 1) for that element, so
    // a tuple may only seed a candidate if 3*bound >= na + nb. Keeping
    // a pair iff ANY of its tuples passes is recall-safe (the first
    // common element's tuple computes a valid bound).
    val posF = lenF.filter(
      lit(3) * least(col("a.n") - col("a.rk") + 1,
                     col("b.n") - col("b.rk") + 1) >=
        col("a.n") + col("b.n"))
    time("after_position_filter_TIGHT_unsound")(posF.count())
    // Sound stateless bound: overlap <= min(pa-1, pb-1) (commons
    // strictly before this element) + min(suffix_a, suffix_b).
    val posS = lenF.filter(
      lit(3) * (least(col("a.rk"), col("b.rk")) - 1 +
                least(col("a.n") - col("a.rk") + 1,
                      col("b.n") - col("b.rk") + 1)) >=
        col("a.n") + col("b.n"))
    time("after_position_filter_SOUND")(posS.count())
    time("distinct_sound_filters")(posS
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count())
    time("distinct_no_filters")(joined
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count())
    time("distinct_with_filters")(posF
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count())
    s.stop()
  }
}
