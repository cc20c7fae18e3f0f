package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 streaming depth: stream-stream interval join with
  * watermarks on both sides, and the foreachBatch sink path — the two
  * Structured Streaming surfaces not yet exercised by StreamingSpec.
  */
class Streaming3Spec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  test("stream-stream interval join equals the batch range join") {
    // 'view' events joined to the same user's 'click' events within
    // the following 5 minutes — the canonical stream-stream join:
    // both sides watermarked, the range condition bounds state, and
    // late state is evicted. Batch truth: identical join on the
    // static table.
    val events = Tables.events(spark, sf)
    val src = tempDir("ssj-src")
    events.write.mode("overwrite").parquet(src)

    def stream = spark.readStream.schema(events.schema).parquet(src)
    val views = stream.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
              col("event_id").as("v_id"))
      .withWatermark("v_ts", "10 minutes")
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
      .withWatermark("c_ts", "10 minutes")
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
      col("c_ts") > col("v_ts") &&
      col("c_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"))
      .select("v_id", "c_id")

    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try q.processAllAvailable() finally q.stop()

    val batchViews = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
              col("event_id").as("v_id"))
    val batchClicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
    val batch = batchViews.join(batchClicks,
      col("v_user") === col("c_user") &&
      col("c_ts") > col("v_ts") &&
      col("c_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"))
      .select("v_id", "c_id")

    val streamed = spark.table("ssj_out").orderBy("v_id", "c_id").collect()
    val expected = batch.orderBy("v_id", "c_id").collect()
    assert(streamed.length == expected.length && expected.length > 0)
    assert(streamed.sameElements(expected))
  }

  test("foreachBatch sink preserves every row across micro-batches") {
    val events = Tables.events(spark, sf)
    val src = tempDir("feb-src")
    // Two source files → at least one micro-batch each under
    // maxFilesPerTrigger=1, proving cross-batch accumulation.
    events.filter(col("event_id") % 2 === 0).write.parquet(src + "/a")
    events.filter(col("event_id") % 2 === 1).write.parquet(src + "/b")
    val out = tempDir("feb-out")

    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(src + "/*")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          counts.synchronized { counts += batch.count() }
          batch.select("event_id", "event_type")
            .write.mode("append").parquet(out)
          ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    assert(counts.size >= 2, s"expected >=2 micro-batches, got $counts")
    val written = spark.read.parquet(out)
    assert(written.count() === events.count())
    assert(written.select("event_id").distinct().count() === events.count())
  }
}
