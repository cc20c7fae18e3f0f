package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session()
    // ERROR, not WARN: log4j writes to stderr, and a WARN emitted
    // after the last query would interleave into the driver's captured
    // tail right where the summary JSON line must sit.
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the JVM/codegen/shuffle machinery once so the first timed
    // query doesn't absorb session startup (map iteration order would
    // otherwise charge it to an arbitrary key).
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    // Output protocol (round 1's single 4 KB JSON line was truncated
    // by the driver's tail-bytes capture, losing the round's number —
    // VERDICT r1 §wrong-4): per-query timings stream as minimal `BQ
    // <key> <sec>` lines as each query finishes, the full JSON
    // (timings at full precision) is written to BENCH_LOCAL.json, and
    // the LAST stdout line is a ~150-byte summary that any tail
    // capture parses whole. All 90+ keys plus the summary fit in
    // ~2.5 KB of trailing output.
    // A key that throws must surface as an ERROR, never as a fast
    // "success": in round 9 a fixture-schema change made 81 keys
    // fail at analysis time in ~0.06 s each and the silent catch let
    // them masquerade as timings (VERDICT r9 §bench). Each failure
    // now emits a `BQ <key> ERROR <class>` line, lands in an
    // `errors` object in both JSONs, and flips the summary's
    // `errors` count — the driver and a human tail alike see it.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        }
      val sec = (System.nanoTime() - t0) / 1e9
      err match {
        case None    => println(f"BQ $name $sec%.3f")
        case Some(m) => println(s"BQ $name ERROR ${m.replaceAll("[\\r\\n]+", " ")}")
      }
      (name, sec, err)
    }
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]+", " ") + "\""
    val ok = results.filter(_._3.isEmpty)
    val total = ok.map(_._2).sum
    val qs = ok.map { case (k, v, _) => f""""$k":$v%.6f""" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) => s""""$k":${jstr(m)}""" }
      .mkString("{", ",", "}")
    val nerr = results.count(_._3.nonEmpty)
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errs,"nerrors":$nerr,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), full + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","nqueries":${ok.size},"nerrors":$nerr,"queries_file":"BENCH_LOCAL.json","sf":"$sfDir"}""")
    if (nerr > 0) System.exit(1)
  }
}
