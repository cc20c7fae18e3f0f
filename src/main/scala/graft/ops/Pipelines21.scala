package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 sixth batch (SURVEY §2.11w): Spark-4 API surface —
  * collation-aware grouping, ordered LISTAGG, union-by-name schema
  * reconciliation, parameterized SQL, and the standard-SQL
  * EXCLUDE-CURRENT-ROW frame semantic in integer form.
  */
object Pipelines21 extends Module {

  def queries: Map[String, Q] = Map(
    // Collation-aware grouping (Spark 4 collations): group event types
    // case-insensitively via UTF8_LCASE collation — the engine-level
    // answer to ad-hoc lower() normalization (collation survives into
    // joins/sorts and keeps the original strings available). The mixed
    // case is synthesized deterministically from event_id parity so
    // the fixture actually exercises the merge. Output key is
    // lower-cased for cross-engine comparison.
    "str_collation_group" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("etype_mixed",
          when(col("event_id") % 2 === 0, upper(col("event_type")))
            .otherwise(col("event_type")))
        .groupBy(collate(col("etype_mixed"), "UTF8_LCASE").as("etype_ci"))
        .agg(count(lit(1)).as("n"),
             count_distinct(col("user_id")).as("n_users"))
        .select(lower(col("etype_ci")).as("event_type"), col("n"),
                col("n_users"))
        .orderBy("event_type")),

    // Ordered LISTAGG (Spark 4 listagg ≡ SQL:2023 LISTAGG ... WITHIN
    // GROUP): per-nation roster of the top suppliers by account
    // balance as one delimited string. The aggregate runs per nation
    // (uniform bounded key); the roster is capped at 5 names so the
    // output cell is bounded at any corpus scale.
    "agg_listagg" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("graft_supp_lagg")
      s.sql(
        """WITH ranked AS (
             SELECT s_nationkey, s_name,
                    row_number() OVER (PARTITION BY s_nationkey
                                       ORDER BY s_acctbal DESC, s_suppkey)
                      AS rnk
             FROM graft_supp_lagg
           )
           SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
                  listagg(s_name, ',') WITHIN GROUP (ORDER BY rnk)
                    AS top_names,
                  count(*) AS n_top
           FROM ranked WHERE rnk <= 5
           GROUP BY s_nationkey ORDER BY s_nationkey""")
    }),

    // unionByName with allowMissingColumns — the schema-reconciling
    // union two pipeline generations need (new column on one side
    // only): early orders (no priority tier) unioned with late orders
    // carrying a derived tier; missing side surfaces as NULL, counted
    // per tier. DuckDB states the same with UNION ALL BY NAME.
    "set_union_byname" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val early = ord.filter(year(col("o_orderdate")) <= 1995)
        .select(col("o_orderkey"), col("o_totalprice"))
      val late = ord.filter(year(col("o_orderdate")) > 1995)
        .select(col("o_orderkey"), col("o_totalprice"),
                when(col("o_totalprice") >= 200000, "high")
                  .otherwise("normal").as("tier"))
      early.unionByName(late, allowMissingColumns = true)
        .groupBy(coalesce(col("tier"), lit("pre_tier")).as("tier"))
        .agg(count(lit(1)).as("n_orders"),
             sum(round(col("o_totalprice") * 100).cast("long"))
               .as("sum_cents"))
        .orderBy("tier")
    }),

    // Parameterized SQL (spark.sql(text, args)) — the injection-safe
    // templated-query API: the quantity band and priority arrive as
    // named parameters, never string-spliced. Otherwise a plain
    // pushed-down filter + agg.
    "filter_param_sql" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_param")
      s.sql(
        """SELECT l_returnflag, count(*) AS n_items,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                    AS sum_qty
           FROM graft_li_param
           WHERE l_quantity BETWEEN :qlo AND :qhi
           GROUP BY l_returnflag
           ORDER BY l_returnflag""",
        Map("qlo" -> 5, "qhi" -> 15))
    }),

    // Standard-SQL EXCLUDE CURRENT ROW frame semantic, integer form:
    // each order's ±2-neighbor price mass within its customer's
    // ordered history, excluding the order itself (the leave-one-out
    // frame a point-anomaly baseline needs). Spark lacks frame
    // EXCLUDE, so it is re-expressed algebraically — sum(frame)−self,
    // count(frame)−1 — which is exactly what EXCLUDE computes; the
    // DuckDB oracle states it with the native EXCLUDE clause. Window
    // partitions on custkey (uniform), all outputs integer cents.
    "win_neighbor_excl_sum" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 2)
      Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("nb_sum", sum("cents").over(w) - col("cents"))
        .withColumn("nb_n", (count(lit(1)).over(w) - 1).cast("long"))
        .select(col("o_orderkey"), col("nb_sum"), col("nb_n"))
        .orderBy("o_orderkey")
    })
  )

  def oracles: Map[String, String] = Map(
    "str_collation_group" ->
      """WITH m AS (
           SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                       ELSE event_type END AS etype_mixed,
                  user_id
           FROM events
         )
         SELECT lower(etype_mixed) AS event_type, count(*) AS n,
                count(DISTINCT user_id) AS n_users
         FROM m GROUP BY 1 ORDER BY 1""",

    "agg_listagg" ->
      """WITH ranked AS (
           SELECT s_nationkey, s_name,
                  row_number() OVER (PARTITION BY s_nationkey
                                     ORDER BY s_acctbal DESC, s_suppkey)
                    AS rnk
           FROM supplier
         )
         SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
                string_agg(s_name, ',' ORDER BY rnk) AS top_names,
                count(*) AS n_top
         FROM ranked WHERE rnk <= 5
         GROUP BY 1 ORDER BY 1""",

    "set_union_byname" ->
      """WITH u AS (
           SELECT o_orderkey, o_totalprice, NULL AS tier
           FROM orders WHERE year(o_orderdate) <= 1995
           UNION ALL BY NAME
           SELECT o_orderkey, o_totalprice,
                  CASE WHEN o_totalprice >= 200000 THEN 'high'
                       ELSE 'normal' END AS tier
           FROM orders WHERE year(o_orderdate) > 1995
         )
         SELECT coalesce(tier, 'pre_tier') AS tier,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents
         FROM u GROUP BY 1 ORDER BY 1""",

    "filter_param_sql" ->
      """SELECT l_returnflag, count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_quantity BETWEEN 5 AND 15
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "win_neighbor_excl_sum" ->
      """SELECT o_orderkey,
                -- sum over an empty EXCLUDE frame is NULL in DuckDB
                -- where the algebraic Spark form yields 0
                CAST(coalesce(
                       sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                               EXCLUDE CURRENT ROW), 0)
                     AS BIGINT) AS nb_sum,
                CAST(count(*) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey
                                    ROWS BETWEEN 2 PRECEDING
                                         AND 2 FOLLOWING
                                    EXCLUDE CURRENT ROW)
                     AS BIGINT) AS nb_n
         FROM orders
         ORDER BY o_orderkey"""
  )
}
