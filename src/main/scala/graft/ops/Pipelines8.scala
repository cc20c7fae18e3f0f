package graft.ops

import graft.Tables
import org.apache.spark.sql.functions._

/** Round-5 fifth batch — SURVEY.md §2.11j: the MinHash estimator
  * audit (completing the audited-sketch family beside count-min and
  * Bloom), partition-pruned reads over the date-partitioned layout,
  * z-score anomaly flagging over hourly series, and a token-length
  * histogram. SURVEY §2.0 determinism rules apply throughout.
  */
object Pipelines8 extends Module {

  def queries: Map[String, Q] = Map(
    // MinHash Jaccard audit: for banded candidate pairs on a fixed
    // probe subset (doc_id ≡ 0 mod 20, a_id < b_id), emit the 16-slot
    // signature estimate BESIDE the exact token Jaccard — the
    // estimator-quality measurement that justifies trusting the
    // signature table instead of the text at scale. Candidates come
    // from the same first-collision band emit as llm_dedup_minhash_lsh
    // (never all-pairs); the exact side runs the codegen'd merge walk
    // over hashed sorted token sets. The audit mirrors
    // agg_countmin_freq / join_bloom_screen: every sketch ships with
    // its measured error.
    "llm_minhash_jaccard_audit" -> ((s, d) => {
      val sig = Hashing.signature(Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(col("text"), " "))).as("tok")))
        .localCheckpoint() // both band sides + both est sides reuse it
      // Band keys are the RAW 4-slot signature slices (array<bigint>,
      // 32 bytes) — semantically identical to the oracle's raw-value
      // band comparison, no hash-collision gap. The production path
      // (llm_dedup_minhash_lsh) hashes the slice to one 8-byte key
      // for shuffle width and documents the accepted ~n²·4/2⁶⁴
      // collision bound; the AUDIT keys stay exact by construction so
      // the measured estimator error is attributable to MinHash alone.
      val probes = Hashing.rawBands(sig.filter(pmod(col("doc_id"), lit(20)) === 0))
      val all = Hashing.rawBands(sig)
      val cand = probes.as("x").join(all.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id") &&
          Hashing.firstCollision(4))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      val est = cand
        .join(sig.as("sa"), col("a_id") === col("sa.doc_id"))
        .join(sig.as("sb"), col("b_id") === col("sb.doc_id"))
        .select(col("a_id"), col("b_id"),
          (round((0 until 16).map(i =>
              when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
            .reduce(_ + _) / 16.0, 4) + 0.0).as("est_jaccard"))
      val tsets = Tables.documents(s, d)
        .select(col("doc_id"),
          Hashing.tokenHashSet(split(col("text"), " ")).as("th"))
        .withColumn("n", size(col("th")))
        .localCheckpoint()
      est
        .join(tsets.select(col("doc_id").as("a_id"), col("th").as("ta"),
                           col("n").as("na")), Seq("a_id"))
        .join(tsets.select(col("doc_id").as("b_id"), col("th").as("tb"),
                           col("n").as("nb")), Seq("b_id"))
        .withColumn("inter", expr("graft_sorted_intersect_size(ta, tb)"))
        .select(col("a_id"), col("b_id"), col("est_jaccard"),
                (round(col("inter") /
                   (col("na") + col("nb") - col("inter")), 4) + 0.0)
                  .as("exact_jaccard"))
        .withColumn("abs_err",
          round(abs(col("est_jaccard") - col("exact_jaccard")), 4) + 0.0)
        .orderBy("a_id", "b_id")
    }),

    // Partition-pruned read: write the date-partitioned layout once,
    // then read it back with a partition-key predicate — the plan's
    // PartitionFilters line (asserted in Round5eSpec) proves the scan
    // touches 5 directories, not 30. At 100 TB, partition pruning on
    // the layout key is THE difference between scanning a day and
    // scanning a lake; this key declares the read side of the
    // sink_partitioned_write layout.
    "scan_partition_pruned" -> ((s, d) => {
      val out = Sinks.sinkPath(s, "events_pruned", d)
      Tables.events(s, d)
        .withColumn("day_num",
          (year(col("ts")) * 10000 + month(col("ts")) * 100 +
           dayofmonth(col("ts"))).cast("int"))
        .repartition(col("day_num"))
        .write.mode("overwrite").partitionBy("day_num").parquet(out)
      s.read.parquet(out)
        .filter(col("day_num") >= 20240110 && col("day_num") <= 20240114)
        .groupBy("day_num")
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value").cast("decimal(30,10)")), 2)
               .cast("double").as("sum_value"))
        .select(col("day_num").cast("long").as("day_num"),
                col("n_events"), col("sum_value"))
        .orderBy("day_num")
    }),

    // Hourly z-score anomaly flags per event type: the per-type
    // mean/variance derive from EXACT integer sums (n, Σx, Σx²) so
    // both engines compute bit-identical statistics — no
    // stddev_samp(), whose partial-merge accumulation differs between
    // engines. Work is one uniform (type, hour) aggregate, a 5-row
    // stats aggregate, and a broadcast join back; anomalies are hours
    // with |z| ≥ 2 among OBSERVED hours (absent hours are absent, not
    // zero — documented).
    "events_anomaly_hours" -> ((s, d) => {
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"),
                 date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val stats = hc.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cnt").as("s1"),
             sum(col("cnt") * col("cnt")).as("s2"))
      val z = (col("cnt") - col("s1") / col("n")) /
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
             (col("n") - 1))
      // Degenerate guard (n=1 or zero variance ⇒ z is NaN): Spark's
      // `abs(NaN) >= 2` is true (NaN sorts high) while engines differ
      // on NaN ordering, so exclude the degenerate groups explicitly
      // with exact integer predicates — variance>0 ⟺ n·s2 > s1².
      // (Integer products: s1 ≤ events-per-type, safe in i64 until
      // ~3·10⁹ rows per type; cast to decimal beyond that.)
      hc.join(broadcast(stats), Seq("event_type"))
        .filter(col("n") > 1 &&
                col("s2") * col("n") > col("s1") * col("s1"))
        .withColumn("z", round(z, 2) + 0.0)
        .filter(abs(col("z")) >= 2)
        .select(col("event_type"), col("hr"), col("cnt"), col("z"))
        .orderBy("event_type", "hr")
    }),

    // Token-length histogram in exact decade buckets — the corpus
    // length profile every curation run starts from. Integer-only
    // arithmetic end to end; one uniform-key aggregate.
    "llm_length_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .select((size(split(col("text"), " ")).cast("long") / 10).cast("long")
                  .as("bucket10"),
                size(split(col("text"), " ")).cast("long").as("n"))
        .groupBy("bucket10")
        .agg(count(lit(1)).as("n_docs"), min("n").as("min_tokens"),
             max("n").as("max_tokens"))
        .orderBy("bucket10"))
  )

  def oracles: Map[String, String] = Map(
    "llm_minhash_jaccard_audit" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                    AS tok
           FROM documents
         ),
         h AS (
           SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS hv
           FROM toks
         ),
         sig AS (
           SELECT doc_id,
                  min((hv * 100003 + 7) % 2147483647)     AS m0,
                  min((hv * 122251 + 977) % 2147483647)   AS m1,
                  min((hv * 135637 + 1847) % 2147483647)  AS m2,
                  min((hv * 161423 + 2741) % 2147483647)  AS m3,
                  min((hv * 173431 + 3581) % 2147483647)  AS m4,
                  min((hv * 188677 + 4421) % 2147483647)  AS m5,
                  min((hv * 199831 + 5281) % 2147483647)  AS m6,
                  min((hv * 224737 + 6143) % 2147483647)  AS m7,
                  min((hv * 350377 + 7001) % 2147483647)  AS m8,
                  min((hv * 411637 + 7919) % 2147483647)  AS m9,
                  min((hv * 467237 + 8887) % 2147483647)  AS m10,
                  min((hv * 524287 + 9733) % 2147483647)  AS m11,
                  min((hv * 600011 + 10657) % 2147483647) AS m12,
                  min((hv * 700001 + 11677) % 2147483647) AS m13,
                  min((hv * 800011 + 12569) % 2147483647) AS m14,
                  min((hv * 900001 + 13457) % 2147483647) AS m15
           FROM h GROUP BY doc_id
         ),
         bands AS (
           SELECT doc_id, 0 AS band_idx,
                  CAST(m0 AS VARCHAR) || '-' || CAST(m1 AS VARCHAR) || '-' ||
                  CAST(m2 AS VARCHAR) || '-' || CAST(m3 AS VARCHAR) AS band_key
           FROM sig
           UNION ALL
           SELECT doc_id, 1,
                  CAST(m4 AS VARCHAR) || '-' || CAST(m5 AS VARCHAR) || '-' ||
                  CAST(m6 AS VARCHAR) || '-' || CAST(m7 AS VARCHAR)
           FROM sig
           UNION ALL
           SELECT doc_id, 2,
                  CAST(m8 AS VARCHAR) || '-' || CAST(m9 AS VARCHAR) || '-' ||
                  CAST(m10 AS VARCHAR) || '-' || CAST(m11 AS VARCHAR)
           FROM sig
           UNION ALL
           SELECT doc_id, 3,
                  CAST(m12 AS VARCHAR) || '-' || CAST(m13 AS VARCHAR) || '-' ||
                  CAST(m14 AS VARCHAR) || '-' || CAST(m15 AS VARCHAR)
           FROM sig
         ),
         cand AS (
           SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           FROM bands x JOIN bands y
             ON x.band_idx = y.band_idx AND x.band_key = y.band_key
            AND x.doc_id < y.doc_id
           WHERE x.doc_id % 20 = 0
         ),
         tsets AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
           FROM documents
         )
         SELECT a_id, b_id,
                round((CASE WHEN sa.m0  = sb.m0  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m1  = sb.m1  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m2  = sb.m2  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m3  = sb.m3  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m4  = sb.m4  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m5  = sb.m5  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m6  = sb.m6  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m7  = sb.m7  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m8  = sb.m8  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m9  = sb.m9  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m10 = sb.m10 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m11 = sb.m11 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m12 = sb.m12 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m13 = sb.m13 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m14 = sb.m14 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m15 = sb.m15 THEN 1 ELSE 0 END)
                      / 16.0, 4) + 0.0 AS est_jaccard,
                round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                      / (len(ta.toks) + len(tb.toks)
                         - len(list_intersect(ta.toks, tb.toks))), 4) + 0.0
                  AS exact_jaccard,
                round(abs((round((CASE WHEN sa.m0  = sb.m0  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m1  = sb.m1  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m2  = sb.m2  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m3  = sb.m3  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m4  = sb.m4  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m5  = sb.m5  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m6  = sb.m6  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m7  = sb.m7  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m8  = sb.m8  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m9  = sb.m9  THEN 1 ELSE 0 END +
                       CASE WHEN sa.m10 = sb.m10 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m11 = sb.m11 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m12 = sb.m12 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m13 = sb.m13 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m14 = sb.m14 THEN 1 ELSE 0 END +
                       CASE WHEN sa.m15 = sb.m15 THEN 1 ELSE 0 END)
                      / 16.0, 4) + 0.0)
                      - (round(CAST(len(list_intersect(ta.toks, tb.toks))
                                    AS DOUBLE)
                      / (len(ta.toks) + len(tb.toks)
                         - len(list_intersect(ta.toks, tb.toks))), 4) + 0.0)),
                      4) + 0.0 AS abs_err
         FROM cand
         JOIN sig sa ON sa.doc_id = a_id
         JOIN sig sb ON sb.doc_id = b_id
         JOIN tsets ta ON ta.doc_id = a_id
         JOIN tsets tb ON tb.doc_id = b_id
         ORDER BY a_id, b_id""",

    // Oracle computes directly over events — equality proves the
    // partitioned write+pruned read chain preserves exactly the
    // selected days.
    "scan_partition_pruned" ->
      """SELECT CAST(year(CAST(ts AS TIMESTAMP)) * 10000 +
                     month(CAST(ts AS TIMESTAMP)) * 100 +
                     day(CAST(ts AS TIMESTAMP)) AS BIGINT) AS day_num,
                count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
                  AS sum_value
         FROM events
         WHERE CAST(year(CAST(ts AS TIMESTAMP)) * 10000 +
                    month(CAST(ts AS TIMESTAMP)) * 100 +
                    day(CAST(ts AS TIMESTAMP)) AS BIGINT)
               BETWEEN 20240110 AND 20240114
         GROUP BY 1
         ORDER BY day_num""",

    "events_anomaly_hours" ->
      """WITH hc AS (
           SELECT event_type, date_trunc('hour', ts) AS hr,
                  count(*) AS cnt
           FROM events GROUP BY event_type, hr
         ),
         st AS (
           SELECT event_type, count(*) AS n,
                  CAST(sum(cnt) AS BIGINT) AS s1,
                  CAST(sum(cnt * cnt) AS BIGINT) AS s2
           FROM hc GROUP BY event_type
         )
         SELECT event_type, hr, cnt,
                round((cnt - s1 / n) /
                      sqrt((s2 - s1 * s1 / n) / (n - 1)), 2) + 0.0 AS z
         FROM hc JOIN st USING (event_type)
         WHERE n > 1 AND s2 * n > s1 * s1
           AND abs(round((cnt - s1 / n) /
                         sqrt((s2 - s1 * s1 / n) / (n - 1)), 2) + 0.0) >= 2
         ORDER BY event_type, hr""",

    "llm_length_histogram" ->
      """SELECT CAST(len(string_split(text, ' ')) AS BIGINT) // 10
                  AS bucket10,
                count(*) AS n_docs,
                CAST(min(len(string_split(text, ' '))) AS BIGINT)
                  AS min_tokens,
                CAST(max(len(string_split(text, ' '))) AS BIGINT)
                  AS max_tokens
         FROM documents GROUP BY bucket10
         ORDER BY bucket10"""
  )
}
