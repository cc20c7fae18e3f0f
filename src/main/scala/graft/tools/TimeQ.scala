package graft.tools
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    // Warm-up is best-effort: probe corpora (e.g. an embeddings-only
    // twin dir) don't carry the TPC-H tables.
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }
    args.drop(1).foreach { k =>
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(k)(spark, sfDir).count()
      println(f"TIMEQ $k: ${(System.nanoTime()-t0)/1e9}%.2f s, $n rows")
    }
    spark.stop()
  }
}
