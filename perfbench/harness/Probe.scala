package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.Encoders

import graft.functions._

/** Throughput of each graft custom expression, called only through its
  * public registration and SQL, over a fixed sample of the fixtures:
  * every fifth embedding (by a seeded hash of `vec_id`) against all
  * embeddings, and the `documents` texts. Each probe runs once to
  * compile and once timed; the result is units of work per second.
  */
object Probe {
  /** (metric name, SQL). */
  private val probes: Seq[(String, String)] = Seq(
    ("cosine_pairs_per_s", "SELECT sum(graft_cosine_sim(a.embedding, b.embedding)) FROM pl a CROSS JOIN pe b"),
    ("float_dot_pairs_per_s", "SELECT sum(graft_dot_f(a.embedding, b.embedding)) FROM pl a CROSS JOIN pe b"),
    ("sorted_intersect_pairs_per_s",
      "SELECT sum(graft_sorted_intersect_size(a.toks, b.toks)) FROM pdl a CROSS JOIN pdr b"),
    ("sign_lsh_rows_per_s", "SELECT sum(graft_sign_lsh(embedding, 16)) FROM pe CROSS JOIN range(64)"),
    ("ngrams_rows_per_s", "SELECT count(*) FROM (SELECT graft_ngrams(split(text, ' '), 3) FROM pd)"),
    ("minhash_docs_per_s",
      "SELECT count(*) FROM (SELECT doc_id, graft_minhash(tok) FROM pd " +
        "LATERAL VIEW explode(split(text, ' ')) t AS tok GROUP BY doc_id)"))

  /** Runs the probes; `around(name)(body)` lets the caller trace each. */
  def run(spark: SparkSession, sfDir: String,
          around: String => (=> Unit) => Unit): Seq[(String, Double)] = {
    var sizes = Map.empty[String, Long]
    around("prepare") {
      CosineSimilarity.register(spark)
      FloatDotProduct.register(spark)
      SortedIntersectSize.register(spark)
      SignLsh.register(spark)
      NGramsGenerator.register(spark)
      spark.udf.register("graft_minhash", udaf(MinHashAgg, Encoders.STRING))
      spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("pe")
      spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("pd")
      spark.sql("SELECT * FROM pe WHERE pmod(xxhash64(vec_id, 2026), 5) = 0")
        .createOrReplaceTempView("pl")
      spark.sql("SELECT doc_id, array_sort(array_distinct(transform(split(text, ' '), " +
        "t -> xxhash64(t)))) AS toks FROM pd").createOrReplaceTempView("pdt")
      spark.sql("SELECT * FROM pdt WHERE pmod(xxhash64(doc_id, 2026), 20) = 0")
        .createOrReplaceTempView("pdl")
      spark.sql("SELECT * FROM pdt WHERE pmod(xxhash64(doc_id, 2027), 5) = 0")
        .createOrReplaceTempView("pdr")
      def cnt(v: String) = spark.table(v).count()
      val e = cnt("pe"); val l = cnt("pl"); val d = cnt("pd")
      sizes = Map("cosine_pairs_per_s" -> l * e, "float_dot_pairs_per_s" -> l * e,
        "sorted_intersect_pairs_per_s" -> cnt("pdl") * cnt("pdr"),
        "sign_lsh_rows_per_s" -> e * 64, "ngrams_rows_per_s" -> d, "minhash_docs_per_s" -> d)
    }
    probes.map { case (name, sql) =>
      var sec = 0.0
      around(name) {
        spark.sql(sql).collect()
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        sec = (System.nanoTime() - t0) / 1e9
      }
      name -> sizes(name) / sec
    }
  }
}
