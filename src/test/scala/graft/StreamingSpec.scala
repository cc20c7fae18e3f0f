package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layer-4 tests (SURVEY §5): the declared batch formulations of the
  * stream_* queries produce the same results when the identical
  * expressions run under Structured Streaming, and watermarking drops
  * late data. Uses the public file-source streaming API only.
  */
class StreamingSpec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  test("tumbling window agg: streaming output equals batch output") {
    val events = Tables.events(spark, sf)
    val src = tempDir("stream-src")
    events.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(events.schema).parquet(src)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("cnt"), col("sum_value"))

    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling_out")
      .orderBy("window_start", "event_type").collect()
    val batch = SparkEntry.queries("stream_tumbling")(spark, sf).collect()
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("stream_topk_window aggregation stage: streaming equals batch") {
    // The declared key is agg + rank; the rank window is a batch-side
    // finisher (row_number over a streaming aggregate is unsupported
    // by design), so the streaming contract is the aggregation stage.
    val events = Tables.events(spark, sf)
    val src = tempDir("topk-src")
    events.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(events.schema).parquet(src)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("k"), col("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("topk_agg_out").start()
    try q.processAllAvailable() finally q.stop()

    val batchAgg = events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("k"), col("n"))
    val streamed = spark.table("topk_agg_out")
      .orderBy("window_start", "k").collect()
    val batch = batchAgg.orderBy("window_start", "k").collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("dropDuplicates dedup state spans micro-batches") {
    val src = tempDir("dedup-src")
    import spark.implicits._
    val part1 = Seq((1L, "click"), (2L, "view"), (3L, "click"))
      .toDF("event_id", "event_type")
    val part2 = Seq((2L, "view"), (4L, "view"), (1L, "click"))
      .toDF("event_id", "event_type") // 2 and 1 are cross-batch dupes
    part1.coalesce(1).write.parquet(s"$src/f1")
    Thread.sleep(20)
    part2.coalesce(1).write.parquet(s"$src/f2")

    val stream = spark.readStream.schema(part1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
      .dropDuplicates("event_id")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()

    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("watermark drops events later than the allowed lateness") {
    val src = tempDir("late-src")
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Batch 1 advances the watermark to 11:30 - 1h = 10:30.
    val onTime = Seq((ts("2024-01-01 10:05:00"), "a"),
                     (ts("2024-01-01 11:30:00"), "a"))
      .toDF("ts", "k")
    // Batch 2: 08:00 is far below the 10:30 watermark -> dropped;
    // 11:00 is within lateness -> kept.
    val lateMix = Seq((ts("2024-01-01 08:00:00"), "a"),
                      (ts("2024-01-01 11:00:00"), "a"))
      .toDF("ts", "k")
    // Write f1, drain it, then write f2: guarantees the watermark from
    // batch 1 is committed before the late file arrives, independent of
    // filesystem mtime granularity.
    onTime.coalesce(1).write.parquet(s"$src/f1")
    val stream = spark.readStream.schema(onTime.schema)
      .parquet(s"$src/*")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = stream.writeStream.outputMode("update")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      lateMix.coalesce(1).write.parquet(s"$src/f2")
      q.processAllAvailable()
    } finally q.stop()

    val windows = spark.table("late_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // The 08:00 window must never have been emitted.
    assert(!windows.keys.exists(_.startsWith("2024-01-01 08")),
           s"late event leaked: $windows")
    // The 11:00 window reflects both the on-time and the late-but-ok row.
    assert(windows.filter(_._1.startsWith("2024-01-01 11")).values.sum >= 2)
  }

  test("EventStream reads the raw ns-timestamp fixture under readStream") {
    // The file stream source needs a directory, not a bare file.
    val dir = tempDir("events-raw")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
               java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = sources.EventStream.open(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("cnt"), col("sum_value"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("raw_stream_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("raw_stream_out")
      .orderBy("window_start", "event_type").collect()
    val batch = SparkEntry.queries("stream_tumbling")(spark, sf).collect()
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("flatMapGroupsWithState keeps custom per-key state across batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = tempDir("state-src")
    Seq((1L, 10.0), (2L, 5.0), (1L, 2.5)).toDF("user_id", "value")
      .coalesce(1).write.parquet(s"$src/f1")

    val counts = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .parquet(s"$src/*")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          val batch = rows.toSeq
          val next = (n0 + batch.size, s0 + batch.map(_._2).sum)
          state.update(next)
          Iterator((user, next._1, next._2))
      }.toDF("user_id", "n", "total")

    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("state_out").start()
    try {
      q.processAllAvailable()
      // second batch: state for user 1 must carry over (2 events + 1)
      Seq((1L, 1.0)).toDF("user_id", "value")
        .coalesce(1).write.parquet(s"$src/f2")
      q.processAllAvailable()
    } finally q.stop()

    val last = spark.table("state_out")
      .groupBy("user_id").agg(max("n").as("n"), max("total").as("total"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(last(1L) == ((3L, 13.5)))
    assert(last(2L) == ((1L, 5.0)))
  }

  test("GraftExtensions injects the custom functions") {
    val injected = collection.mutable.ArrayBuffer.empty[Any]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
      override def injectOptimizerRule(b: RuleBuilder): Unit = injected += b(spark)
      override def injectPlannerStrategy(b: StrategyBuilder): Unit = injected += b(spark)
    }
    new GraftExtensions().apply(ext)
    val names = Graft.functions.map(_._1.funcName)
    assert(names.size == 9)
    assert(injected.toSeq == names ++ Graft.optimizerRules ++ Graft.strategies)
    // install on a fresh session: every name resolves and evaluates in SQL
    val s = spark.newSession()
    Graft.install(s)
    Graft.install(s) // idempotent
    assert(s.experimental.extraOptimizations == Graft.optimizerRules)
    assert(s.experimental.extraStrategies == Graft.strategies)
    val f = "array(cast(1.0 as float), cast(0.0 as float))"
    val l = "array(1L, 2L, 5L)"
    val calls = Seq(
      s"graft_cosine_sim($f, $f)", s"graft_cosine_once($f, $f)",
      s"graft_sorted_intersect_size($l, array(2L, 5L, 9L))",
      s"graft_sorted_intersect_once($l, array(2L, 5L, 9L))",
      s"graft_sign_lsh($f, 4)", s"graft_sign_lsh_margins($f, 4, 2)",
      s"graft_long_dot($l, $l)", s"graft_dot_f($f, $f)")
    assert(calls.map(_.takeWhile(_ != '(')) ++ Seq("graft_ngrams") == names)
    val r = s.sql(calls.mkString("SELECT ", ", ", "")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L)
    assert(r.getLong(4) == s.sql(s"SELECT graft_sign_lsh($f, 4, 0)").head().getLong(0))
    assert(r.getSeq[Long](5).size == 4)
    assert(r.getLong(6) == 30L)
    assert(r.getDouble(7) == 1.0)
    val grams = s.sql("SELECT graft_ngrams(array('a', 'b', 'c'), 2)").collect()
    assert(grams.map(_.getString(0)).toSeq == Seq("a b", "b c"))
  }

  test("session_window batch formulation matches gap-and-island semantics") {
    // Independent recomputation of sessions (30-min gap) on the driver
    // for a handful of users, compared against the declared query.
    // Timestamps carry microseconds; java.sql.Timestamp.getTime is
    // ms-precision, so do all arithmetic in microseconds.
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000) * 1000000L + t.getNanos / 1000
    val got = SparkEntry.queries("stream_session")(spark, sf).collect()
      .map(r => (r.getLong(0), micros(r.getTimestamp(1)),
                 micros(r.getTimestamp(2)), r.getLong(3)))
    val events = Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), micros(r.getTimestamp(1))))
      .groupBy(_._1)
    val gapUs = 30L * 60 * 1000000
    val expected = events.flatMap { case (uid, rows) =>
      val sorted = rows.map(_._2).sorted
      val sessions = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      for (t <- sorted) {
        if (sessions.nonEmpty && t - sessions.last.last < gapUs)
          sessions.last += t
        else sessions += scala.collection.mutable.ArrayBuffer(t)
      }
      sessions.map(ss => (uid, ss.head, ss.last + gapUs, ss.size.toLong))
    }.toSeq.sortBy(x => (x._1, x._2))
    assert(got.length == expected.length,
           s"session count ${got.length} != ${expected.length}")
    assert(got.toSeq == expected)
  }
}
