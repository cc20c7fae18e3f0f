package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 fourth batch (SURVEY §2.11ab): SQL pipe syntax, `_metadata`
  * hidden file columns, printf formatting, URL-normalization dedup,
  * and SCD2 interval compression.
  */
object Pipelines26 extends Module {

  def queries: Map[String, Q] = Map(
    // Spark 4's SQL pipe syntax (|>): the linear FROM → WHERE → EXTEND
    // → AGGREGATE → ORDER BY form. Pure sugar — the analyzer lowers it
    // to the identical logical plan as nested SQL, so pushdown/codegen
    // are unchanged; the oracle states the classic form.
    "sql_pipe_syntax" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_pipe")
      s.sql(
        """FROM graft_li_pipe
          ||> WHERE l_quantity >= 30
          ||> EXTEND CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
          |                    + 0.5) AS BIGINT) AS rev_cents
          ||> AGGREGATE count(*) AS n_lines, sum(rev_cents) AS rev_cents
          |   GROUP BY l_returnflag, l_linestatus
          ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // `_metadata` hidden file columns over a partitioned layout: write
    // events partitioned by event_type (repartition by the partition
    // key first → exactly one file per partition), read back and roll
    // up per partition directory parsed OUT OF `_metadata.file_path`,
    // auditing file count and that `_metadata.file_size` is real.
    // The lakehouse-ops surface: per-file accounting without a manifest.
    "scan_metadata_cols" -> ((s, d) => {
      val dir = Sinks.sinkPath(s, "events_meta", d)
      Tables.events(s, d)
        .repartition(col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      s.read.parquet(dir)
        .select(regexp_extract(col("_metadata.file_path"),
                               "event_type=([^/]+)/", 1).as("etype"),
                col("_metadata.file_name").as("fname"),
                col("_metadata.file_size").as("fsize"))
        .groupBy("etype")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("fname")).as("n_files"),
             (min("fsize") > 0L).as("files_nonempty"))
        .orderBy("etype")
    }),

    // printf-style formatting via the codegen'd FormatString expression
    // (zero-padded decimal, string, lowercase hex — conventions shared
    // with DuckDB's printf): render a fixed-width document key, then
    // prove the rendering is lossless by grouping on the formatted
    // string alone and recovering per-group extremes.
    "str_printf_format" -> ((s, d) => {
      Tables.documents(s, d)
        .select(format_string("%s:%07d:%x", col("lang"), col("doc_id"),
                              col("n_chars")).as("doc_key"),
                col("doc_id"))
        .groupBy(substring(col("doc_key"), 1, 2).as("lang_prefix"))
        .agg(count(lit(1)).as("n_docs"),
             min("doc_key").as("min_key"),
             max("doc_key").as("max_key"))
        .orderBy("lang_prefix")
    }),

    // URL-normalization dedup — the web-corpus pattern: canonicalize
    // (lowercase host, strip utm_* tracking params) then exact-dedup on
    // the canonical URL. The host is FIXED (round-8 advice: a host
    // derived from `source` made 20×97 canonical combos — more than the
    // sf0.01 corpus — so no group ever exceeded n_dups=1 and the dedup
    // semantics went unexercised where hashes are checked); with one
    // host the canonical key is doc_id % 97, giving ~N/97 real dups per
    // group at every scale. The utm_* params still vary per doc, so the
    // strip step still does work. Keeper = min doc_id per canonical URL
    // (uniform hash shuffle on the canonical key).
    //
    // Fixture invariant (round-9 advice): `source` is concatenated
    // into the utm_source query param UNENCODED, so it must stay
    // URI-safe (current domain src0..src19 is). A value with
    // URI-illegal chars would make parse_url return NULL here while
    // the DuckDB oracle — which never parses the URL — kept counting
    // it, silently diverging. Same invariant as `k` in Pipelines24.
    "llm_url_normalize_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("url",
          concat(lit("https://WWW.Example.COM/p/"), col("doc_id") % 97,
                 lit("?utm_source="), col("source"),
                 lit("&utm_campaign=c"), col("doc_id") % 7,
                 lit("&id="), col("doc_id") % 97))
        .withColumn("canon",
          concat(lower(expr("parse_url(url, 'HOST')")),
                 expr("parse_url(url, 'PATH')"), lit("?id="),
                 expr("parse_url(url, 'QUERY', 'id')")))
        .groupBy(col("canon"))
        .agg(min("doc_id").as("keeper_doc_id"),
             count(lit(1)).as("n_dups"))
        .groupBy("n_dups")
        .agg(count(lit(1)).as("n_groups"),
             sum("keeper_doc_id").as("sum_keepers"))
        .orderBy("n_dups")
    }),

    // SCD2 interval compression: collapse each user's event-type run
    // into [valid_from, valid_to) intervals (change points via lag,
    // interval close via lead) — the dimension-history build every
    // warehouse runs. Open intervals close at a sentinel so the output
    // carries no NULL. Shuffle key is user_id; two window passes over
    // the same (user_id, ts) sort — Catalyst plans ONE sort+exchange.
    "events_scd2_intervals" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"))
        .withColumn("chg",
          when(lag("event_type", 1).over(byUser).isNull
                 .or(lag("event_type", 1).over(byUser) =!= col("event_type")),
               1).otherwise(0))
        .filter(col("chg") === 1)
        .withColumn("valid_to",
          coalesce(lead("ts", 1).over(byUser),
                   lit("9999-12-31 00:00:00").cast("timestamp")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
             sum(when(col("valid_to") ===
                        lit("9999-12-31 00:00:00").cast("timestamp"), 1L)
                   .otherwise(0L)).as("n_open"),
             sum(unix_micros(col("valid_to")) - unix_micros(col("ts")))
               .as("total_span_us"))
        .orderBy("user_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "sql_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                                    * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS rev_cents
         FROM lineitem WHERE l_quantity >= 30
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "scan_metadata_cols" ->
      """SELECT event_type AS etype, count(*) AS n_rows,
                CAST(1 AS BIGINT) AS n_files, TRUE AS files_nonempty
         FROM events GROUP BY event_type ORDER BY event_type""",

    "str_printf_format" ->
      """WITH k AS (
           SELECT lang, printf('%s:%07d:%x', lang, doc_id, n_chars)
                    AS doc_key
           FROM documents
         )
         SELECT substring(lang, 1, 2) AS lang_prefix,
                count(*) AS n_docs,
                min(doc_key) AS min_key, max(doc_key) AS max_key
         FROM k GROUP BY 1 ORDER BY 1""",

    "llm_url_normalize_dedup" ->
      """WITH canon AS (
           SELECT 'www.example.com/p/' || (doc_id % 97)
                    || '?id=' || (doc_id % 97) AS canon,
                  doc_id
           FROM documents
         ),
         g AS (
           SELECT canon, min(doc_id) AS keeper, count(*) AS n_dups
           FROM canon GROUP BY canon
         )
         SELECT n_dups, count(*) AS n_groups,
                CAST(sum(keeper) AS BIGINT) AS sum_keepers
         FROM g GROUP BY n_dups ORDER BY n_dups""",

    "events_scd2_intervals" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                  event_type
           FROM events
         ),
         chg AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ),
         iv AS (
           SELECT user_id, ts,
                  coalesce(lead(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id),
                           TIMESTAMP '9999-12-31 00:00:00') AS valid_to
           FROM chg WHERE chg = 1
         )
         SELECT user_id, count(*) AS n_intervals,
                CAST(sum(CASE WHEN valid_to =
                                TIMESTAMP '9999-12-31 00:00:00'
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                CAST(sum(epoch_us(valid_to) - epoch_us(ts)) AS BIGINT)
                  AS total_span_us
         FROM iv GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
