package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.streaming.TimeMode
import org.scalatest.funsuite.AnyFunSuite

/** `transformWithState` equivalence audit for the DECLARED key
  * `stream_transform_state` (round 11; the processor lives at
  * graft.streaming.SessionizeProcessor): a custom sessionizer whose
  * per-user ValueState survives a batch boundary must converge to
  * EXACTLY the batch `events_sessionize` answer — same 30-minute gap
  * rule, same (ts, event_id) ordering, same session ordinals. This
  * per-session check is finer-grained than the declared key's
  * per-user summary output.
  */
class TransformWithStateSpec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  test("transformWithState sessionization equals batch events_sessionize") {
    // Deterministic two-batch split on the day axis (the
    // stream_watermark_late recipe): batch 2 is strictly later than
    // batch 1 per user, so cross-batch sessions exercise the
    // ValueState handoff. transformWithState requires the RocksDB
    // state store; isolate it (and small state partitioning) on a
    // child session.
    val s2: SparkSession = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._

    val root = tempDir("tws")
    val ev = Tables.events(s2, sf)
      .select(col("user_id"),
              unix_timestamp(date_trunc("second", col("ts"))).as("ts_s"),
              col("event_id"),
              expr("unix_date(to_date(ts))").as("day_idx"))
    val bounds = ev.agg(min("day_idx").as("mn"), max("day_idx").as("mx"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("late", col("day_idx") >= (col("mn") + col("mx")) / 2)
      .select("user_id", "ts_s", "event_id", "late")
    tagged.filter(!col("late")).drop("late")
      .coalesce(1).write.mode("overwrite").parquet(root + "/f1")

    val sessions = s2.readStream
      .schema("user_id LONG, ts_s LONG, event_id LONG")
      .parquet(root + "/f*")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.SessionizeProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "session_id", "start_s", "last_s", "n_events")
    val qy = sessions.writeStream.outputMode("update")
      .format("memory").queryName("tws_sessions").start()
    try {
      qy.processAllAvailable()
      tagged.filter(col("late")).drop("late")
        .coalesce(1).write.mode("overwrite").parquet(root + "/f2")
      qy.processAllAvailable()
    } finally qy.stop()

    // Last emission per (user, session) is the converged state.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "session_id").orderBy(desc("n_events"))
    val got = s2.table("tws_sessions")
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("user_id"), col("session_id"), col("n_events"),
              col("start_s"), (col("last_s") - col("start_s")).as("dur_s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSet

    val expect = SparkEntry.queries("events_sessionize")(s2, sf)
      .select(col("user_id"), col("session_id"), col("n_events"),
              unix_timestamp(col("start_ts")).as("start_s"), col("dur_s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSet

    assert(got === expect)
    s2.catalog.dropTempView("tws_sessions")
  }
}
