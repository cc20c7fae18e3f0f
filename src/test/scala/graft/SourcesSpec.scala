package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source-format coverage beyond parquet: CSV and JSON round-trips
  * with explicit schemas (the reference capability class ingests CSV
  * exports; the engine reads all three through the same DataFrame
  * surface, so every operator works unchanged on any of them). */
class SourcesSpec extends AnyFunSuite with TestSpark.TempDirs {
  import TestSpark._

  test("CSV round-trip preserves the nation table exactly") {
    val nation = Tables.nation(spark, sf)
    val dir = tempDir("csv-src")
    nation.write.option("header", "true").mode("overwrite").csv(dir)
    val back = spark.read
      .schema(nation.schema)
      .option("header", "true")
      .csv(dir)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
           nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("JSON round-trip preserves values and re-runs a declared query") {
    val cust = Tables.customer(spark, sf)
    val dir = tempDir("json-src")
    cust.write.mode("overwrite").json(dir)
    val back = spark.read.schema(cust.schema).json(dir)
    assert(back.count() == cust.count())
    // the same agg logic over the JSON-sourced frame gives identical
    // results — operators are source-agnostic
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("c_mktsegment")
        .agg(round(avg("c_acctbal"), 2).as("avg_bal"),
             count(lit(1)).as("n"))
        .orderBy("c_mktsegment").collect().toSeq
    assert(stats(back) == stats(cust))
  }

  test("schema-on-read rejects malformed rows rather than corrupting") {
    val dir = tempDir("badcsv")
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad.csv"),
      "n_nationkey,n_name,n_regionkey\n1,OK,2\nnot_an_int,BAD,9\n")
    val schema = Tables.nation(spark, sf).schema
    val read = spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .csv(dir)
    val rows = read.collect()
    assert(rows.length == 1 && rows(0).getString(1) == "OK")
  }
}
