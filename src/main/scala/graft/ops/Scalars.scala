package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function surface: string / regex / date / math / array /
  * json / map (SURVEY.md §2.8).
  *
  * Dialect-parity notes baked into each pair:
  * - Spark `length`/`ceil`/`floor`/`year`/... return INT or LONG where
  *   DuckDB returns BIGINT or DOUBLE — casts pin both sides to BIGINT.
  * - Regex stays in the Java∩RE2 common subset (§2.0 rule 7).
  * - Array outputs are reduced to scalars (norms/sums) — list-valued
  *   result columns would compare unreliably across engines.
  * - Higher-order aggregate casts elements to double BEFORE multiply,
  *   on both sides, so accumulation precision matches.
  */
object Scalars extends Module {

  def queries: Map[String, Q] = Map(
    "str_funcs" -> ((s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          lower(col("p_type")).as("type_lower"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          length(col("p_name")).cast("long").as("name_len"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), lit(" "), lit("_")).as("name_snake"),
          trim(col("p_name")).as("name_trim"),
          lpad(col("p_size").cast("string"), 5, "0").as("size_pad"))
        .orderBy("p_partkey")),

    "str_regex" -> ((s, d) =>
      Tables.part(s, d)
        .select(regexp_extract(col("p_brand"), "([0-9]+)$", 1).as("brand_num"))
        .groupBy("brand_num")
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("brand_num")),

    "str_split_explode" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token"))
        .limit(20)),

    "dt_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month_start"))
        .agg(count(lit(1)).as("n_orders"))
        .select(
          col("month_start"),
          year(col("month_start")).cast("long").as("yr"),
          month(col("month_start")).cast("long").as("mo"),
          datediff(col("month_start"), lit("1995-01-01")).cast("long")
            .as("days_from_epoch"),
          date_add(col("month_start"), 7).cast("timestamp").as("week_later"),
          col("n_orders"))
        .orderBy("month_start")),

    "math_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("r_round"),
          round(abs(col("l_extendedprice") - 1000.0), 2).as("r_abs"),
          ceil(col("l_extendedprice")).as("r_ceil"),
          floor(col("l_extendedprice")).as("r_floor"),
          round(sqrt(col("l_extendedprice")), 4).as("r_sqrt"),
          round(log(col("l_extendedprice")), 4).as("r_ln"),
          round(pow(col("l_discount") + 1.0, 2.0), 6).as("r_pow"),
          round(col("l_extendedprice") % 100.0, 2).as("r_mod"))
        .orderBy("l_orderkey", "l_linenumber")),

    "arr_funcs" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          element_at(col("embedding"), 1).cast("double").as("first_elem"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
            .as("l2_norm"),
          // + 0.0 normalizes IEEE -0.0 (the house pattern): a slice
          // summing to a tiny negative rounds to -0.0 in DuckDB but
          // +0.0 through Spark's BigDecimal round — observed at
          // sf0.001 vec_id 241 (round-18 green-tree check).
          (round(aggregate(slice(col("embedding"), 1, 4), lit(0.0),
            (acc, x) => acc + x.cast("double")), 4) + 0.0).as("slice4_sum"))
        .orderBy("vec_id")),

    "json_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .select(expr("cast(get_json_object(props, '$.k') as int) div 10")
                  .as("k_bucket"))
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("k_bucket")),

    "str_funcs2" -> ((s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          translate(col("p_name"), "ae", "xy").as("name_trans"),
          reverse(col("p_type")).as("type_rev"),
          expr("left(p_name, 4)").as("name_left4"),
          expr("right(p_name, 3)").as("name_right3"),
          expr("repeat('*', cast(p_size % 5 as int))").as("stars"),
          col("p_name").contains("al").as("has_al"))
        .orderBy("p_partkey")),

    "arr_funcs2" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          array_min(col("embedding")).cast("double").as("emb_min"),
          array_max(col("embedding")).cast("double").as("emb_max"),
          array_position(col("embedding"), element_at(col("embedding"), 5))
            .as("pos_of_5th"),
          array_contains(col("embedding"), element_at(col("embedding"), 1))
            .as("has_first"))
        .orderBy("vec_id")),

    "cond_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)), 2)
            .as("disc_or_neg1"),
          round(greatest(col("l_quantity"), col("l_discount") * 100), 2)
            .as("max_qd"),
          round(least(col("l_quantity"), col("l_tax") * 100), 2)
            .as("min_qt"),
          expr("if(l_discount > 0.04, 'hi', 'lo')").as("disc_band"))
        .orderBy("l_orderkey", "l_linenumber")),

    "math_bitwise" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                expr("cast(get_json_object(props, '$.k') as bigint)").as("k"))
        .select(col("event_id"),
                expr("k & 63").as("k_and"),
                expr("k | 8").as("k_or"),
                expr("k ^ 21").as("k_xor"),
                expr("shiftleft(k, 2)").as("k_shl"),
                expr("shiftright(k, 1)").as("k_shr"),
                expr("bit_count(k)").cast("long").as("k_bits"))
        .orderBy("event_id")),

    "dt_extract_extended" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          // Spark weekday(): Monday=0 — matches DuckDB isodow-1
          weekday(col("o_orderdate")).cast("long").as("dow_mon0"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          last_day(col("o_orderdate")).cast("timestamp").as("month_end"))
        .orderBy("o_orderkey")),

    "str_posexplode" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
                posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
                col("col").as("token"))
        .orderBy("doc_id", "pos")),

    "json_struct_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                expr("cast(from_json(props, 'k INT').k as bigint)").as("k"),
                expr("to_json(named_struct('k', from_json(props, 'k INT').k))")
                  .as("rebuilt"))
        .orderBy("event_id")),

    "str_distance" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
                levenshtein(col("p_type"), lit("STANDARD")).cast("long")
                  .as("lev_type"),
                levenshtein(expr("left(p_name, 8)"), lit("standard"))
                  .cast("long").as("lev_prefix"))
        .orderBy("p_partkey")),

    "dt_make_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
                make_date(year(col("o_orderdate")),
                          month(col("o_orderdate")),
                          dayofmonth(col("o_orderdate")))
                  .cast("timestamp").as("rebuilt_date"),
                expr("""make_timestamp(year(o_orderdate),
                                       month(o_orderdate),
                                       day(o_orderdate), 12, 0, 0)""")
                  .as("noon_ts"))
        .orderBy("o_orderkey")),

    // explode sits directly over the map expression: exploding an
    // aliased map lets InferFiltersFromGenerate re-evaluate the
    // get_json_object chain in a pushed-down size()>0 filter.
    "map_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                explode(map(lit("k"),
                  get_json_object(col("props"), "$.k").cast("int"))))
        .withColumnRenamed("key", "map_key")
        .withColumnRenamed("value", "map_value")
        .orderBy("event_id"))
  )

  def oracles: Map[String, String] = Map(
    "str_funcs" ->
      """SELECT p_partkey,
                upper(p_name) AS name_upper,
                lower(p_type) AS type_lower,
                substring(p_name, 1, 5) AS name_pfx,
                length(p_name) AS name_len,
                p_brand || '-' || p_type AS brand_type,
                replace(p_name, ' ', '_') AS name_snake,
                trim(p_name) AS name_trim,
                lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_pad
         FROM part
         ORDER BY p_partkey""",

    "str_regex" ->
      """SELECT regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num,
                count(*) AS n_parts
         FROM part
         GROUP BY 1
         ORDER BY brand_num""",

    "str_split_explode" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS token
               FROM documents)
         GROUP BY token
         ORDER BY n DESC, token
         LIMIT 20""",

    "dt_funcs" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                  AS month_start,
                year(date_trunc('month', o_orderdate)) AS yr,
                month(date_trunc('month', o_orderdate)) AS mo,
                date_diff('day', DATE '1995-01-01',
                          date_trunc('month', o_orderdate))
                  AS days_from_epoch,
                CAST(CAST(date_trunc('month', o_orderdate) AS DATE) + 7
                     AS TIMESTAMP) AS week_later,
                count(*) AS n_orders
         FROM orders
         GROUP BY date_trunc('month', o_orderdate)
         ORDER BY month_start""",

    "math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                round(l_extendedprice, 1) AS r_round,
                round(abs(l_extendedprice - 1000.0), 2) AS r_abs,
                CAST(ceil(l_extendedprice) AS BIGINT) AS r_ceil,
                CAST(floor(l_extendedprice) AS BIGINT) AS r_floor,
                round(sqrt(l_extendedprice), 4) AS r_sqrt,
                round(ln(l_extendedprice), 4) AS r_ln,
                round(pow(l_discount + 1.0, 2.0), 6) AS r_pow,
                round(l_extendedprice % 100.0, 2) AS r_mod
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber""",

    "arr_funcs" ->
      """SELECT vec_id,
                len(embedding) AS n_dims,
                CAST(embedding[1] AS DOUBLE) AS first_elem,
                round(sqrt(list_aggregate(
                  list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  'sum')), 4) AS l2_norm,
                round(list_aggregate(
                  list_transform(embedding[1:4], x -> CAST(x AS DOUBLE)),
                  'sum'), 4) + 0.0 AS slice4_sum
         FROM embeddings
         ORDER BY vec_id""",

    "json_funcs" ->
      """SELECT CAST(CAST(json_extract(props, '$.k') AS INT) // 10
                     AS BIGINT) AS k_bucket,
                count(*) AS n
         FROM events
         GROUP BY 1
         ORDER BY k_bucket""",

    "str_funcs2" ->
      """SELECT p_partkey,
                translate(p_name, 'ae', 'xy') AS name_trans,
                reverse(p_type) AS type_rev,
                left(p_name, 4) AS name_left4,
                right(p_name, 3) AS name_right3,
                repeat('*', CAST(p_size % 5 AS INT)) AS stars,
                contains(p_name, 'al') AS has_al
         FROM part
         ORDER BY p_partkey""",

    "arr_funcs2" ->
      """SELECT vec_id,
                CAST(list_min(embedding) AS DOUBLE) AS emb_min,
                CAST(list_max(embedding) AS DOUBLE) AS emb_max,
                CAST(list_position(embedding, embedding[5]) AS BIGINT)
                  AS pos_of_5th,
                list_contains(embedding, embedding[1]) AS has_first
         FROM embeddings
         ORDER BY vec_id""",

    "cond_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                round(coalesce(nullif(l_discount, 0.0), -1.0), 2)
                  AS disc_or_neg1,
                round(greatest(l_quantity, l_discount * 100), 2) AS max_qd,
                round(least(l_quantity, l_tax * 100), 2) AS min_qt,
                CASE WHEN l_discount > 0.04 THEN 'hi' ELSE 'lo' END
                  AS disc_band
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber""",

    "math_bitwise" ->
      """SELECT event_id,
                k & 63 AS k_and,
                k | 8 AS k_or,
                xor(k, 21) AS k_xor,
                k << 2 AS k_shl,
                k >> 1 AS k_shr,
                CAST(bit_count(k) AS BIGINT) AS k_bits
         FROM (SELECT event_id,
                      CAST(json_extract(props, '$.k') AS BIGINT) AS k
               FROM events)
         ORDER BY event_id""",

    "dt_extract_extended" ->
      """SELECT o_orderkey,
                isodow(o_orderdate) - 1 AS dow_mon0,
                weekofyear(o_orderdate) AS iso_week,
                quarter(o_orderdate) AS qtr,
                dayofyear(o_orderdate) AS doy,
                CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end
         FROM orders
         ORDER BY o_orderkey""",

    "str_posexplode" ->
      """SELECT doc_id, u.pos AS pos, u.tok AS token
         FROM (SELECT doc_id,
                      unnest(list_transform(range(1, len(t) + 1),
                        i -> {'pos': i - 1, 'tok': t[i]})) AS u
               FROM (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents WHERE doc_id < 20))
         ORDER BY doc_id, pos""",

    "json_struct_funcs" ->
      """SELECT event_id,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                to_json({'k': CAST(json_extract(props, '$.k') AS INT)})
                  AS rebuilt
         FROM events
         ORDER BY event_id""",

    "str_distance" ->
      """SELECT p_partkey,
                levenshtein(p_type, 'STANDARD') AS lev_type,
                levenshtein(left(p_name, 8), 'standard') AS lev_prefix
         FROM part
         ORDER BY p_partkey""",

    "dt_make_funcs" ->
      """SELECT o_orderkey,
                CAST(make_date(CAST(year(o_orderdate) AS INT),
                               CAST(month(o_orderdate) AS INT),
                               CAST(day(o_orderdate) AS INT))
                     AS TIMESTAMP) AS rebuilt_date,
                make_timestamp(CAST(year(o_orderdate) AS BIGINT),
                               CAST(month(o_orderdate) AS BIGINT),
                               CAST(day(o_orderdate) AS BIGINT),
                               12, 0, 0.0) AS noon_ts
         FROM orders
         ORDER BY o_orderkey""",

    "map_funcs" ->
      """SELECT event_id, 'k' AS map_key,
                CAST(json_extract(props, '$.k') AS INT) AS map_value
         FROM events
         ORDER BY event_id"""
  )
}
