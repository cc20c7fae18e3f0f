package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-shaped semantics over the `events` table (SURVEY.md §2.10).
  *
  * Most declared queries use batch formulations whose expressions are
  * streaming-identical (`window(...)`, `session_window(...)`,
  * `dropDuplicates` run unchanged under `readStream`); true Structured
  * Streaming equivalence is asserted in ScalaTest (§5 layer 4), since
  * the driver's oracle is batch DuckDB. The exception is
  * `stream_watermark_late`, which RUNS a real two-micro-batch
  * Structured Streaming query inside the key (deterministic
  * write-drain-write scheduling) so the watermark late-data drop
  * itself is what the DuckDB oracle checks.
  */
object Streaming extends Module {

  /** Distinct memory-sink name per stream_watermark_late invocation —
    * a reused name would read rows accumulated by an earlier run in
    * the same session. */
  private val wmRunCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Publish one staged late_batch partition as a source batch dir:
    * an instant rename when the partition exists, an empty dir when it
    * doesn't (degenerate fixture — single-day range or all rows on one
    * side of the split — degrades to an empty batch instead of
    * throwing; round-12, ADVICE r11). */
  private def publishPartition(fs: org.apache.hadoop.fs.FileSystem,
                               stage: String, dst: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(stage)
    val d = new org.apache.hadoop.fs.Path(dst)
    if (fs.exists(src)) require(fs.rename(src, d), s"rename $stage failed")
    else fs.mkdirs(d)
  }

  def queries: Map[String, Q] = Map(
    "stream_tumbling" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
                col("cnt"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // At-least-once delivery cleanup: dedup by event_id, then count per
    // type. Same `dropDuplicates` runs stateful under readStream.
    "stream_dedup" -> ((s, d) =>
      Tables.events(s, d)
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // 1-hour windows sliding every 30 minutes: each event lands in two
    // windows; Spark's window() emits both, the oracle unions the two
    // 30-minute-aligned formulations.
    "stream_sliding" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("window_start"),
                col("cnt"), col("sum_value"))
        .orderBy("window_start")),

    // Stream-stream interval join: each 'view' matched to the same
    // user's 'click' events in the following 5 minutes. Declared in
    // batch form like the other stream_* keys; the identical join runs
    // under readStream with watermarks on both sides (asserted
    // equivalent in Streaming3Spec — the watermark+range condition is
    // what bounds the join state). The batch plan turns the range
    // predicate into an equi-join by binning the time axis at the
    // window width (the join_range_bin pattern): a click in
    // (t, t+300s] lives in the view's bin or the next, so the view
    // side probes exactly two bins and the shuffle key is
    // (user, bin) — never the per-user cross product.
    "stream_stream_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"),
                unix_micros(col("ts")).as("v_us"),
                col("event_id").as("v_id"))
        .withColumn("vbin", (col("v_us") / 300000000L).cast("long"))
        .withColumn("pbin",
          explode(array(col("vbin"), col("vbin") + 1)))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"),
                unix_micros(col("ts")).as("c_us"),
                col("event_id").as("c_id"))
        .withColumn("cbin", (col("c_us") / 300000000L).cast("long"))
      views.join(clicks,
          col("v_user") === col("c_user") &&
          col("pbin") === col("cbin") &&
          col("c_us") > col("v_us") &&
          col("c_us") <= col("v_us") + 300000000L)
        .select(col("v_id"), col("c_id"))
        .orderBy("v_id", "c_id")
    }),

    // Per-user sessions with a 30-minute inactivity gap. Spark's
    // session_window end = last event + gap; the gap-and-island oracle
    // reproduces that as max(ts) + 30 min.
    "stream_session" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
                col("session_window.start").as("session_start"),
                col("session_window.end").as("session_end"),
                col("n_events"))
        .orderBy("user_id", "session_start")),

    // REAL watermark semantics, oracle-checked (round 7 — previously
    // the one §2.10 surface with no declared key). The fixture is
    // split deterministically: batch 2 carries the earliest 3 days
    // (late by ~a month when it arrives) plus the final day (ahead of
    // the watermark); batch 1 carries everything else, including the
    // timestamp that sets the watermark. The streaming query runs a
    // 1-hour tumbling count with a 601 s watermark over a file source,
    // drained batch-by-batch (write f1 → processAllAvailable → write
    // f2 → drain), so the watermark committed after batch 1 is what
    // batch 2 is judged against — no mtime or scheduling dependence.
    // Outcome the oracle states: every early-3-day row sits ~27 days
    // below the watermark → dropped (their windows never appear);
    // every final-day row sits above it → kept. Rows are placed far
    // from the boundary on purpose, so strict-vs-inclusive boundary
    // conventions cannot matter. In update mode each window's last
    // emission is its final count (counts only grow) — max(cnt).
    "stream_watermark_late" -> ((s, d) => {
      val root = Sinks.sinkPath(s, "wm_late", d)
      // A re-run in the SAME session must not see the previous run's
      // f2: if both files exist when the stream starts they land in
      // one batch and no row is ever late. Wipe the source dir and
      // use a fresh memory-sink name per invocation.
      val hPath = new org.apache.hadoop.fs.Path(root)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(hPath)) fs.delete(hPath, true)
      val ev = Tables.events(s, d)
        .select(col("ts"), expr("unix_date(to_date(ts))").as("day_idx"))
      val bounds = ev.agg(min("day_idx").as("mn"), max("day_idx").as("mx"))
      // ONE write job for both batch files: partition by the
      // late_batch tag into a staging dir, expose the on-time
      // partition as f1 now, and hold the late partition back until
      // the batch-1 watermark is committed — then a filesystem rename
      // (instant) publishes it as f2. This replaces the previous
      // scan+agg+write ×2 prologue with a single scan and job. The
      // staging write shuffles on the tag (2 non-empty tasks) instead
      // of the previous coalesce(1), which funneled the whole table
      // through one task — at the 100× events probe that was 10 M
      // rows single-threaded before the stream even started (round
      // 12, VERDICT r11 item 2); batch membership is a row property,
      // so the per-directory file SETS stay deterministic.
      val ev2 = ev.crossJoin(broadcast(bounds))
        .withColumn("late_batch",
          col("day_idx") < col("mn") + 3 || col("day_idx") >= col("mx"))
      ev2.select(col("ts"), col("late_batch"))
        .repartition(col("late_batch")).write.partitionBy("late_batch")
        .parquet(root + "/stage")
      publishPartition(fs, root + "/stage/late_batch=false", root + "/f1")
      val qname = "graft_wm_out_" + wmRunCounter.incrementAndGet()
      // The streaming agg runs on an isolated session with ONE
      // shuffle partition: state-store partition count is fixed at
      // query start from shuffle.partitions, ~650 hour-windows of
      // state fit one store trivially, and every extra store is pure
      // per-micro-batch fixed overhead for a memory-sink fixture
      // stream (32 stores measured ~1.5 s of this key's ~4 s). At
      // cluster scale the state partition count is sized to the
      // stream's key space, not inherited from the batch default —
      // this mirrors that.
      val s2 = s.newSession()
      // ~650 1-hour windows of state: one store partition holds it
      // comfortably, and every extra store is pure per-micro-batch
      // fixed cost on this fixture-sized stream.
      s2.conf.set("spark.sql.shuffle.partitions", "1")
      val stream = s2.readStream
        .schema("ts TIMESTAMP")
        .parquet(root + "/f*")
        .withWatermark("ts", "601 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("cnt"))
      val q = stream.writeStream.outputMode("update")
        .format("memory").queryName(qname).start()
      try {
        q.processAllAvailable() // commits the batch-1 watermark
        publishPartition(fs, root + "/stage/late_batch=true", root + "/f2")
        q.processAllAvailable()
      } finally q.stop()
      // Hand the (tiny) result back through parquet on the PARENT
      // session and drop the memory-sink view: a long-lived driver
      // re-running this key must not accumulate per-run temp views or
      // keep the isolated s2 (and its state stores) reachable through
      // the returned DataFrame.
      s2.table(qname)
        .groupBy("window_start")
        .agg(max("cnt").as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(root + "/out")
      s2.catalog.dropTempView(qname)
      s.read.parquet(root + "/out").orderBy("window_start")
    }),

    // Arbitrary stateful streaming DECLARED (round 11 — previously
    // test-only, VERDICT r10 missing-item 3): a real
    // `transformWithState` run whose per-user ValueState crosses a
    // micro-batch boundary, reduced to an output a batch oracle CAN
    // check. The determinism argument lives on
    // graft.streaming.SessionizeProcessor: under the deterministic
    // two-batch file drain (batch 2 strictly later per user), the
    // converged LAST emission per (user, session) equals the fold
    // over the full input wherever the batch boundary fell — i.e.
    // exactly the batch gaps-and-islands sessionization, which the
    // DuckDB oracle recomputes. Output is the per-user session
    // summary (bounded by |users| at any scale).
    "stream_transform_state" -> ((s, d) => {
      val root = Sinks.sinkPath(s, "tws", d)
      val hPath = new org.apache.hadoop.fs.Path(root)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(hPath)) fs.delete(hPath, true)
      val ev = Tables.events(s, d)
        .select(col("user_id"),
                unix_timestamp(date_trunc("second", col("ts"))).as("ts_s"),
                col("event_id"),
                expr("unix_date(to_date(ts))").as("day_idx"))
      val bounds = ev.agg(min("day_idx").as("mn"), max("day_idx").as("mx"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("late_batch",
          col("day_idx") >= (col("mn") + col("mx")) / 2)
      // Staging shuffles on the batch tag (2 non-empty tasks) instead
      // of coalesce(1) — see stream_watermark_late; the processor
      // sorts rows per (user, batch), so within-batch file order is
      // immaterial.
      tagged.select(col("user_id"), col("ts_s"), col("event_id"),
                    col("late_batch"))
        .repartition(col("late_batch")).write.partitionBy("late_batch")
        .parquet(root + "/stage")
      // Row count BEFORE f1 is renamed out of the staging dir (parquet
      // footer metadata, not a second data scan) — sizes the state
      // partition count below.
      val nRows = s.read.parquet(root + "/stage").count()
      publishPartition(fs, root + "/stage/late_batch=false", root + "/f1")
      val qname = "graft_tws_out_" + wmRunCounter.incrementAndGet()
      // transformWithState requires the RocksDB state store; isolate
      // it on a child session, as stream_watermark_late does. The
      // STATE PARTITION COUNT is derived from the input size, not
      // pinned (the round-11 events probe measured the pinned form:
      // 1 store processing 10 M rows serially cost 150 s; the same
      // in-plan-knob lesson as the sign-LSH plane count): one store
      // per ~500 k rows, clamped to [1, 32]. The converged output is
      // partition-count-invariant — state is per user — so the knob
      // only moves cost.
      val stateParts = math.max(1L, math.min(32L, nRows / 500000L + 1))
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import s2.implicits._
      val sessions = s2.readStream
        .schema("user_id LONG, ts_s LONG, event_id LONG")
        .parquet(root + "/f*")
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.SessionizeProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "session_id", "start_s", "last_s", "n_events")
      val q = sessions.writeStream.outputMode("update")
        .format("memory").queryName(qname).start()
      try {
        q.processAllAvailable()
        publishPartition(fs, root + "/stage/late_batch=true", root + "/f2")
        q.processAllAvailable()
      } finally q.stop()
      // Converged state = last (largest-count) emission per session;
      // per-user summary through the parquet barrier (see
      // stream_watermark_late for why not the live memory table).
      val w = Window.partitionBy("user_id", "session_id")
        .orderBy(desc("n_events"))
      s2.table(qname)
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
             sum("n_events").as("n_events"),
             max("n_events").as("max_session_events"))
        .coalesce(1).write.mode("overwrite").parquet(root + "/out")
      s2.catalog.dropTempView(qname)
      s.read.parquet(root + "/out").orderBy("user_id")
    }),

    // Streaming FILE-SINK roundtrip (round 12 — VERDICT r11 missing
    // item 2): the production pattern the memory-sink keys abstract
    // away — a parquet file sink with a checkpoint dir, exactly-once
    // via the sink's _spark_metadata log, re-read batch-side. A file
    // sink only supports APPEND mode, where a window is written only
    // when the watermark passes its end, so the drain needs two
    // batches: batch 1 is the whole events table (the watermark is
    // unset while it runs — nothing is late, nothing emits); batch 2
    // is a single duplicate of the max-timestamp row, whose only job
    // is to run a batch under the committed batch-1 watermark
    // (max ts − 601 s), finalizing every window at or below it. The
    // nudge row lands in the final window, which sits above the
    // watermark by construction and is never emitted — so the sink
    // holds exactly the 1-hour windows with end ≤ max(ts) − 601 s,
    // which is what the oracle states (the fixtures place no window
    // end on the exact boundary, so the eviction convention cannot
    // matter). Unlike the memory-sink keys there is NO driver-side
    // result state: windows stream straight to parquet files, the
    // bounded-state story a 100 TB drain needs.
    "stream_file_sink_roundtrip" -> ((s, d) => {
      val root = Sinks.sinkPath(s, "fsink", d)
      val hPath = new org.apache.hadoop.fs.Path(root)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(hPath)) fs.delete(hPath, true)
      val ev = Tables.events(s, d).select(col("ts"))
      // Batch 1: parallel write, no coalesce — the scan is the whole
      // table and nothing about the drain depends on file count.
      ev.write.parquet(root + "/f1")
      // Footer-metadata count sizes the state-store partition count
      // (the stream_transform_state lesson: never pin it).
      val nRows = s.read.parquet(root + "/f1").count()
      val stateParts = math.max(1L, math.min(32L, nRows / 500000L + 1))
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      val stream = s2.readStream
        .schema("ts TIMESTAMP")
        .parquet(root + "/f*")
        .withWatermark("ts", "601 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("cnt"))
      val q = stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", root + "/out")
        .option("checkpointLocation", root + "/ckpt")
        .start()
      try {
        q.processAllAvailable() // commits the batch-1 watermark
        // Stage the nudge outside the f* glob, publish by rename so
        // the running source never lists a partial file.
        ev.agg(max("ts").as("ts")).coalesce(1)
          .write.parquet(root + "/nudge")
        require(fs.rename(
          new org.apache.hadoop.fs.Path(root + "/nudge"),
          new org.apache.hadoop.fs.Path(root + "/f2")),
          s"nudge rename failed under $root")
        q.processAllAvailable() // evicts windows under the watermark
      } finally q.stop()
      s.read.parquet(root + "/out").orderBy("window_start")
    })
  )

  def oracles: Map[String, String] = Map(
    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS cnt, round(sum(value), 2) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "stream_dedup" ->
      """SELECT event_type, count(*) AS n
         FROM (SELECT * FROM events
               QUALIFY row_number() OVER (PARTITION BY event_id
                                          ORDER BY ts) = 1)
         GROUP BY event_type
         ORDER BY event_type""",

    "stream_sliding" ->
      """WITH f AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts,
                  date_trunc('hour', ts) +
                    CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                         ELSE INTERVAL 0 MINUTE END AS s0,
                  value
           FROM events
         )
         SELECT window_start, count(*) AS cnt,
                round(sum(value), 2) AS sum_value
         FROM (SELECT s0 AS window_start, value FROM f
               UNION ALL
               SELECT s0 - INTERVAL 30 MINUTE, value FROM f)
         GROUP BY window_start
         ORDER BY window_start""",

    "stream_stream_join" ->
      """SELECT v.event_id AS v_id, c.event_id AS c_id
         FROM events v JOIN events c
           ON v.user_id = c.user_id
          AND v.event_type = 'view' AND c.event_type = 'click'
          AND epoch_us(CAST(c.ts AS TIMESTAMP)) >
                epoch_us(CAST(v.ts AS TIMESTAMP))
          AND epoch_us(CAST(c.ts AS TIMESTAMP)) <=
                epoch_us(CAST(v.ts AS TIMESTAMP)) + 300000000
         ORDER BY v_id, c_id""",

    "stream_session" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
           FROM events
         ),
         flagged AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_session
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ),
         sessions AS (
           SELECT user_id, ts,
                  sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS session_id
           FROM flagged
         )
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events
         FROM sessions
         GROUP BY user_id, session_id
         ORDER BY user_id, session_start""",

    // States the watermark outcome directly: kept rows are exactly
    // those outside the first 3 fixture days, because the late batch's
    // early rows sit far below the committed watermark and its
    // final-day rows far above it (see the Spark-side comment).
    "stream_watermark_late" ->
      """WITH b AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts,
                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS day_idx
           FROM events
         ),
         bounds AS (SELECT min(day_idx) AS mn FROM b)
         SELECT date_trunc('hour', ts) AS window_start,
                count(*) AS cnt
         FROM b, bounds
         WHERE day_idx >= mn + 3
         GROUP BY 1 ORDER BY 1""",

    // The converged transformWithState output IS the batch
    // gaps-and-islands sessionization (see SessionizeProcessor's
    // determinism argument), summarized per user.
    "stream_transform_state" ->
      """WITH e AS (
           SELECT user_id, event_id, date_trunc('second', ts) AS tss
           FROM events
         ),
         g AS (
           SELECT user_id, event_id, tss,
                  date_diff('second',
                            lag(tss) OVER (PARTITION BY user_id
                                           ORDER BY tss, event_id),
                            tss) AS gap
           FROM e
         ),
         s AS (
           SELECT user_id, tss,
                  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800
                                THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY tss, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS session_id
           FROM g
         ),
         sess AS (
           SELECT user_id, session_id, count(*) AS n
           FROM s GROUP BY 1, 2
         )
         SELECT user_id, count(*) AS n_sessions,
                CAST(sum(n) AS BIGINT) AS n_events,
                CAST(max(n) AS BIGINT) AS max_session_events
         FROM sess GROUP BY 1 ORDER BY 1""",

    // States the append-mode file-sink outcome directly: emitted
    // windows are exactly those whose end sits at or below the final
    // committed watermark, max(ts) − 601 s (the nudge row duplicates
    // max(ts), so it changes neither the watermark nor any emitted
    // window's count).
    "stream_file_sink_roundtrip" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
         mx AS (SELECT max(ts) AS mt FROM e)
         SELECT date_trunc('hour', ts) AS window_start,
                count(*) AS cnt
         FROM e, mx
         WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                 <= mt - INTERVAL 601 SECOND
         GROUP BY 1 ORDER BY 1"""
  )
}
