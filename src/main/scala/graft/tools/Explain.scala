package graft.tools

import graft.SparkEntry

/** Plan inspector: prints the formatted physical plan of selected
  * queries (or all) so pushdown / broadcast / codegen quality can be
  * audited. Usage: runMain graft.tools.Explain <sfDir> [key ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = if (args.length > 1) args.drop(1).toSeq
               else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      println(s"\n===================== $k =====================")
      SparkEntry.queries(k)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
