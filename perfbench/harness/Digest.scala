package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action: row count plus an order-independent digest over
  * every output column, computed in one aggregate so that Catalyst
  * cannot prune any column the key produces (a bare `.count()` can).
  *
  * Each row hashes to a 64-bit `xxhash64` over all its columns; the
  * digest is the row-multiset sum of the low and high 32-bit halves,
  * which is exact in a long for fewer than 2^31 rows and does not
  * depend on row order or partitioning. Map-typed columns are hashed
  * through `to_json`, because Spark refuses to hash maps.
  */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType              => true
    case ArrayType(e, _)         => hasMap(e)
    case StructType(fields)      => fields.exists(f => hasMap(f.dataType))
    case _                       => false
  }

  /** The one-row aggregate (rows, sum of low halves, sum of high
    * halves) over `df`. Planning and running it are separate phases of
    * a traced key, so both work on this one DataFrame. */
  def apply(df: DataFrame): DataFrame = {
    // Positional names: joins can yield duplicate or dotted names.
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
  }

  /** Runs the aggregate built by [[apply]]; returns (rows, digest). */
  def collect(agg: DataFrame): (Long, String) = {
    val row = agg.collect()(0)
    (row.getLong(0), f"${row.getLong(1)}%x.${row.getLong(2)}%x")
  }
}
