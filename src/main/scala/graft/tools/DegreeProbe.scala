package graft.tools

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: A/B of the pairless LSH degree pass shared by
  * llm_lsh_degree_hist / llm_dedup_hub_quarantine / minhashLsh — the
  * declared count-over-window form (Exchange(sid,key) + per-partition
  * SORT + WindowExec, which BUFFERS each (sid,key) group) vs a
  * two-level aggregate (groupBy(sid,key).count, then a shuffled-hash
  * join-back of the 1-row-per-key count table onto the exploded
  * stream — no sort, constant space per group). The at-scale question
  * is hub skew: a boilerplate cluster of H docs makes every one of
  * its 15 (sid,key) groups H rows, and WindowExec buffers/spills H
  * rows per group while count() needs O(1).
  *
  * Usage: runMain graft.tools.DegreeProbe <sfDir> [copies] [hubCopies] [reps]
  *   copies    > 1 synthesizes a copies× corpus (doc_id remapped,
  *               text reused — every fixture group scales by copies);
  *   hubCopies > 0 additionally clones the lexicographically first
  *               doc's text into hubCopies new docs (one mega-cluster,
  *               the adversarial regime the gate exists for).
  */
object DegreeProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val copies = if (args.length > 1) args(1).toInt else 1
    val hubCopies = if (args.length > 2) args(2).toInt else 0
    val reps = if (args.length > 3) args(3).toInt else 3
    val s = graft.Graft.session()
    s.sparkContext.setLogLevel("ERROR")

    val base = Tables.documents(s, d).select("doc_id", "text")
    val maxId = base.agg(max("doc_id")).head().getLong(0)
    val scaled =
      if (copies <= 1) base
      else base
        .select(explode(expr(s"sequence(0, ${copies - 1})")).as("i"),
                col("doc_id"), col("text"))
        .select((col("doc_id") * copies + col("i")).as("doc_id"),
                col("text"))
    val hub =
      if (hubCopies <= 0) scaled.limit(0)
      else base.orderBy("doc_id").limit(1)
        .select(explode(expr(s"sequence(1, $hubCopies)")).as("i"),
                col("text"))
        .select((lit((maxId + 1) * copies.max(1)) + col("i")).as("doc_id"),
                col("text"))
    val docs0 = scaled.unionByName(hub)

    // The minhashLsh signature shape (LlmScale): 16 minhashes over
    // distinct tokens, folded to 4 xxhash64 band keys, checkpointed.
    val P = 2147483647L
    val A = Seq(100003L, 122251L, 135637L, 161423L, 173431L, 188677L,
                199831L, 224737L, 350377L, 411637L, 467237L, 524287L,
                600011L, 700001L, 800011L, 900001L)
    val B = Seq(7L, 977L, 1847L, 2741L, 3581L, 4421L, 5281L, 6143L,
                7001L, 7919L, 8887L, 9733L, 10657L, 11677L, 12569L,
                13457L)
    val hvExpr =
      "cast(conv(substring(md5(cast(tok as binary)),1,8),16,10) as bigint)"
    val sigK = docs0
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("hv", expr(hvExpr))
      .groupBy("doc_id")
      .agg(min((col("hv") * A(0) + B(0)) % P).as("m0"),
           (1 until 16).map(i =>
             min((col("hv") * A(i) + B(i)) % P).as(s"m$i")): _*)
      .selectExpr("doc_id",
        "xxhash64(m0,  m1,  m2,  m3)  as k0",
        "xxhash64(m4,  m5,  m6,  m7)  as k1",
        "xxhash64(m8,  m9,  m10, m11) as k2",
        "xxhash64(m12, m13, m14, m15) as k3")
      .localCheckpoint()

    val subsetKeys = (1 until 16).map { mask =>
      array((0 until 4).filter(b => (mask & (1 << b)) != 0)
        .map(b => col(s"k$b")): _*)
    }
    def exploded = sigK.select(col("doc_id"),
      posexplode(array(subsetKeys: _*)).as(Seq("sid", "key")))

    def signedFold(df: DataFrame): DataFrame =
      df.groupBy("doc_id").agg(
        (sum(when(expr("bit_count(sid + 1) % 2 = 1"), col("c"))
               .otherwise(-col("c"))) - lit(1)).as("degree"))

    // Form W: the declared count-over-window.
    def formW: DataFrame = signedFold(
      exploded.withColumn("c",
        count(lit(1)).over(Window.partitionBy("sid", "key"))))

    // Form A: (sid,key) count aggregate + shuffled-hash join-back
    // (build side is the 1-row-per-key count table; no sort).
    def formA: DataFrame = {
      val cnt = exploded.groupBy("sid", "key")
        .agg(count(lit(1)).as("c"))
      signedFold(exploded.join(cnt.hint("shuffle_hash"), Seq("sid", "key")))
    }

    println(s"DP corpus: ${docs0.count()} docs " +
      s"(copies=$copies hubCopies=$hubCopies)")
    val diff = formW.as("w").join(formA.as("a"), Seq("doc_id"), "full_outer")
      .filter(col("w.degree").isNull || col("a.degree").isNull ||
              col("w.degree") =!= col("a.degree")).count()
    println(s"DP degree mismatches: $diff (must be 0)")
    require(diff == 0, "forms diverge")

    def bench(label: String, f: => DataFrame): Unit =
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        println(f"DP $label rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    bench("window_count", formW)
    bench("agg_joinback", formA)

    println("DP === window plan ===")
    println(formW.queryExecution.executedPlan.toString.take(6000))
    println("DP === agg_joinback plan ===")
    println(formA.queryExecution.executedPlan.toString.take(6000))
    s.stop()
  }
}
