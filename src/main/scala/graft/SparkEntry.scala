package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (operator inventory)
  * and §7 (build plan). Queries are grouped by category under
  * `graft.ops`; this object is the single registry the driver reads.
  */
object SparkEntry {
  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("insta_engagement_by_user")(spark, "/root/testdata/sf0.001")

  /** Every module of declared keys, each named once. */
  private def modules: Seq[ops.Module] = {
    import ops._
    Seq(Relational, Windows, Scalars, Streaming, Social, LlmPipeline, LlmScale, Sinks,
      Pipelines2, Pipelines3, Pipelines4, Pipelines5, Pipelines6, Pipelines7, Pipelines8,
      Pipelines9, Pipelines10, Pipelines11, Pipelines12, Pipelines13, Pipelines14,
      Pipelines15, Pipelines16, Pipelines17, Pipelines18, Pipelines19, Pipelines20,
      Pipelines21, Pipelines22, Pipelines23, Pipelines24, Pipelines25, Pipelines26,
      Pipelines27, Pipelines28, Pipelines29, Pipelines30, Pipelines31, Pipelines32, Tpch)
  }

  /** The queries and oracles of `modules`, merged. A key declared by
    * two modules, or an oracle without a query, is an error. Each query
    * installs [[Graft]] into its session before it builds. */
  private[graft] def registry(modules: Seq[ops.Module])
      : (Map[String, Query], Map[String, String]) = {
    def merge[V](part: ops.Module => Map[String, V]): Map[String, V] = {
      val owner = collection.mutable.Map.empty[String, ops.Module]
      modules.flatMap { m =>
        part(m).map { case (k, v) =>
          owner.put(k, m).foreach { o =>
            throw new IllegalStateException(s"query key '$k' is declared by both " +
              s"${o.getClass.getSimpleName.stripSuffix("$")} and " +
              s"${m.getClass.getSimpleName.stripSuffix("$")}")
          }
          k -> v
        }
      }.toMap
    }
    val qs = merge(_.queries)
    val os = merge(_.oracles)
    val orphans = os.keySet -- qs.keySet
    require(orphans.isEmpty, s"oracles without queries: ${orphans.toSeq.sorted.mkString(", ")}")
    val installed: Map[String, Query] = qs.map { case (k, q) =>
      k -> ((s: SparkSession, d: String) => { Graft.install(s); q(s, d) })
    }
    (installed, os)
  }

  private lazy val built = registry(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = built._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = built._2
}
