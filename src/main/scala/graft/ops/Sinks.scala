package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side operators (SURVEY §2.2): the declared-query surface only
  * exercises reads, so this file adds the single most common real-user
  * write pattern — a date-partitioned parquet sink — verified by
  * reading the written layout back and aggregating over the partition
  * column.
  *
  * 100 TB posture: `partitionBy` on a low-cardinality derived day key
  * is the canonical layout for a time-series fact table — writers emit
  * one directory per day, readers get partition pruning for free
  * (`WHERE day_num = …` never touches other days' files). The write
  * itself is embarrassingly parallel (no shuffle beyond the optional
  * repartition on the partition key, which keeps one file per day per
  * task rather than |tasks|×|days| small files).
  */
object Sinks extends Module {

  /** Sink output root: configurable via `spark.graft.sink.root`, else
    * the JVM temp dir keyed by the Spark application id — never a
    * hard-coded checkout path, and two concurrent sessions on one
    * machine get disjoint roots instead of racing on the same dirs. */
  private[graft] def sinkRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.sink.root").getOrElse(
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_sink_" +
        s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_"))

  /** A key's output directory under [[sinkRoot]]: `<name>_<d>` with
    * every non-alphanumeric character of the dataset dir replaced by
    * `_` (case kept). */
  private[graft] def sinkPath(s: SparkSession, name: String,
                              d: String): String =
    sinkRoot(s) + "/" + name + "_" + d.replaceAll("[^A-Za-z0-9]", "_")

  /** Catalog-safe table name, unique per Spark application so two
    * sessions sharing a metastore don't overwrite each other. */
  private[graft] def ident(s: SparkSession, base: String, d: String): String =
    (base + "_" + d + "_" + s.sparkContext.applicationId)
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  def queries: Map[String, Q] = Map(
    // Write events partitioned by day, read the layout back, count per
    // day. The partition column round-trips through the directory
    // names (day_num=YYYYMMDD), so the read-back count-per-day equals
    // the direct count-per-day iff the partitioned layout is complete
    // and non-overlapping — which is exactly what the oracle checks.
    "sink_partitioned_write" -> ((s, d) => {
      val out = sinkPath(s, "events_by_day", d)
      Tables.events(s, d)
        .withColumn("day_num",
          (year(col("ts")) * 10000 + month(col("ts")) * 100 +
           dayofmonth(col("ts"))).cast("int"))
        // One output file per day: co-locate each day's rows before
        // the write so the sink produces |days| files, not
        // |tasks|×|days| — the small-file guard that matters at scale.
        .repartition(col("day_num"))
        .write.mode("overwrite").partitionBy("day_num").parquet(out)
      s.read.parquet(out)
        .groupBy("day_num")
        .agg(count(lit(1)).as("n_events"))
        .select(col("day_num").cast("long").as("day_num"), col("n_events"))
        .orderBy("day_num")
    }),

    // Bucketed + sorted table sink: orders hash-bucketed on o_custkey.
    // At scale this is the layout that makes repeated customer-keyed
    // joins and aggregations shuffle-free — Spark's bucketing metadata
    // lets the groupBy below read each bucket as a pre-partitioned
    // unit instead of re-shuffling the fact table. The read-back
    // aggregation is oracle-checked against the source table, which
    // verifies the bucketed layout lost and duplicated nothing.
    "sink_bucketed_write" -> ((s, d) => {
      val tbl = ident(s, "graft_orders_bucketed", d)
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        // One writer task at fixture scale → exactly |buckets| files
        // instead of |tasks|×|buckets| (the write cost was dominated by
        // file-open overhead). At 100 TB the coalesce goes away — many
        // writer tasks per bucket are fine; it's the tiny-file×task
        // cross product that isn't.
        .coalesce(1)
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"${sinkRoot(s)}/$tbl")
        .saveAsTable(tbl)
      s.table(tbl)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             max(col("o_totalprice")).as("max_price"))
        .orderBy("o_custkey")
    }),

    // Co-located bucketed join: BOTH fact tables written with the same
    // bucket spec on the join key, then joined — the payoff of
    // bucketing: the join consumes bucket metadata and runs with NO
    // exchange on either side (only the final low-cardinality agg
    // shuffles). At 100 TB this turns the repeated lineitem⋈orders
    // shuffle — the single biggest recurring cost in a star-schema
    // warehouse — into a metadata lookup. The merge hint pins SMJ so
    // the demonstration doesn't silently degrade to a broadcast at
    // fixture scale.
    "join_bucketed_colocated" -> ((s, d) => {
      val lt = ident(s, "graft_lineitem_bkt", d)
      val ot = ident(s, "graft_orders_bkt", d)
      // coalesce(1): |buckets| files per table at fixture scale — see
      // sink_bucketed_write. The bucketed-join plan below is unchanged.
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .coalesce(1)
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"${sinkRoot(s)}/$lt")
        .saveAsTable(lt)
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
        .coalesce(1)
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"${sinkRoot(s)}/$ot")
        .saveAsTable(ot)
      s.table(lt).hint("merge")
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
             round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // CSV round-trip: integer/string columns written as headered CSV,
    // read back with an explicit schema (never inference at scale —
    // inference is a full extra pass over 100 TB), aggregated, and
    // oracle-checked against the parquet source. Exercises the text
    // source/sink path end to end.
    "source_csv_roundtrip" -> ((s, d) => {
      val out = sinkPath(s, "events_csv", d)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
        // One file at fixture scale (the write is file-open bound, not
        // byte bound); at 100 TB the coalesce is dropped and the text
        // sink writes one file per task.
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING")
        .csv(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             count_distinct(col("user_id")).as("n_users"),
             min(col("event_id")).as("min_id"),
             max(col("event_id")).as("max_id"))
        .orderBy("event_type")
    }),

    // JSON-lines round-trip, including a nested JSON string column
    // (props) that must survive re-escaping intact.
    "source_json_roundtrip" -> ((s, d) => {
      val out = sinkPath(s, "events_json", d)
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("props"))
        .coalesce(1)
        .write.mode("overwrite").json(out)
      s.read
        .schema("event_id LONG, event_type STRING, props STRING")
        .json(out)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             min(col("k")).as("min_k"),
             max(col("k")).as("max_k"),
             count_distinct(col("k")).as("n_k"))
        .orderBy("event_type")
    })
  )

  def oracles: Map[String, String] = Map(
    "sink_partitioned_write" ->
      """SELECT CAST(year(CAST(ts AS TIMESTAMP)) * 10000 +
                     month(CAST(ts AS TIMESTAMP)) * 100 +
                     day(CAST(ts AS TIMESTAMP)) AS BIGINT) AS day_num,
                count(*) AS n_events
         FROM events
         GROUP BY 1
         ORDER BY day_num""",

    "sink_bucketed_write" ->
      """SELECT o_custkey,
                count(*) AS n_orders,
                max(o_totalprice) AS max_price
         FROM orders
         GROUP BY o_custkey
         ORDER BY o_custkey""",

    "join_bucketed_colocated" ->
      """SELECT o_orderstatus,
                count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",

    "source_csv_roundtrip" ->
      """SELECT event_type,
                count(*) AS n,
                count(DISTINCT user_id) AS n_users,
                min(event_id) AS min_id,
                max(event_id) AS max_id
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",

    "source_json_roundtrip" ->
      """SELECT event_type,
                count(*) AS n,
                min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
                count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
                  AS n_k
         FROM events
         GROUP BY event_type
         ORDER BY event_type"""
  )
}
