package graft

/** Focused micro-bench: run one (or a comma-list of) declared key(s)
  * REPS times in a warm JVM, print per-rep seconds. For plan iteration
  * only — the graded protocol is graft.Bench (one rep per key, map
  * order, shared session), which this mirrors config-for-config.
  *
  * Usage: SPARK_GRAFT_KEY=llm_dedup_minhash_lsh SPARK_GRAFT_REPS=3 \
  *        sbt "runMain graft.BenchOne"
  *
  * IN-SERIES MODE (round 13 — VERDICT r12 task 6): solo back-to-back
  * reps of a sub-0.3 s key are NOT comparable to the frozen in-series
  * mins — the r12 judge measured six unchanged control keys at
  * 0.86×–2.2× of their frozen mins under solo BenchOne on the same
  * box, because a key timed alone in an otherwise idle JVM sees
  * different JIT/GC/page-cache conditions than one timed mid-stream
  * of 288 heterogeneous plans. `SPARK_GRAFT_MIX=20` interleaves each
  * suspect rep with a deterministic warm mix of ~20 OTHER declared
  * keys (evenly spaced in the sorted key list, suspects excluded),
  * timing the mix keys too. The mix serves two purposes at once:
  * (a) the suspect is measured amid a warm mixed workload — the same
  * conditions its frozen in-series min was taken under; (b) the mix
  * keys' own ratios vs their frozen mins measure THIS RUN's ambient
  * inflation, so `tools/triage.py --benchone` can normalize the
  * suspect's ratio by the run's own ambient factor instead of
  * assuming the box is as quiet as it was at freeze time. Every line
  * keeps the `B1 <key> rep<r> <sec>` shape; triage separates
  * suspects from controls by the --suspect list.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val keys = sys.env.getOrElse("SPARK_GRAFT_KEY", "llm_dedup_minhash_lsh")
      .split(",").toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val nMix = sys.env.getOrElse("SPARK_GRAFT_MIX", "0").toInt
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    def timeOne(key: String, r: Int): Unit = {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(key)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"B1 $key rep$r $sec%.3f rows=$n")
    }
    // Deterministic control mix: every (total/nMix)-th key of the
    // sorted declared list, suspects excluded — stable across runs so
    // two re-measures of the same suspect share their controls.
    val mix: Seq[String] =
      if (nMix <= 0) Seq.empty
      else {
        val pool = SparkEntry.queries.keys.toSeq.sorted
          .filterNot(keys.contains)
        val step = math.max(1, pool.size / nMix)
        pool.zipWithIndex.collect { case (k, i) if i % step == 0 => k }
          .take(nMix)
      }
    for (r <- 1 to reps) {
      // Split the mix across the rep's head and the suspects so each
      // suspect observation sits mid-stream, not after an idle gap.
      val (before, after) = mix.splitAt(mix.size / 2)
      before.foreach(timeOne(_, r))
      keys.foreach(timeOne(_, r))
      after.foreach(timeOne(_, r))
    }
    spark.stop()
  }
}
