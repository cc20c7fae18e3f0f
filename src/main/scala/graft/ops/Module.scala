package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A group of declared query keys. [[graft.SparkEntry]] lists every
  * module once and merges them into its registry. */
trait Module {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q]

  /** For keys of [[queries]]: equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracles: Map[String, String]
}
