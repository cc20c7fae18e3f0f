package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.session()
    s.sparkContext.setLogLevel("WARN")
    removeAtExit(new File(ops.Sinks.sinkRoot(s)))
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Dirs still to delete when the JVM exits. */
  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
  sys.addShutdownHook(atExit.forEach(f => ops.Pipelines31.rmRf(f)))
  private def removeAtExit(f: File): Unit = atExit.add(f)

  /** Per-test temp dirs: `tempDir` makes one under `java.io.tmpdir`,
    * and it is deleted recursively when its test ends. Each test
    * stops its streaming queries in its own `finally`, so they have
    * stopped by then. A dir that does not delete is left to the
    * shutdown hook. */
  trait TempDirs extends TestSuiteMixin { this: TestSuite =>
    private val dirs = collection.mutable.Buffer[File]()

    def tempDir(prefix: String): String = {
      val f = Files.createTempDirectory(prefix).toFile
      dirs += f
      removeAtExit(f)
      f.getAbsolutePath
    }

    abstract override def withFixture(test: NoArgTest): Outcome =
      try super.withFixture(test)
      finally {
        dirs.foreach { f =>
          ops.Pipelines31.rmRf(f)
          if (!f.exists()) atExit.remove(f)
        }
        dirs.clear()
      }
  }
}

/** Two modules that both declare key `k`. */
object ClashFirst extends ops.Module {
  def queries: Map[String, Q] = Map("k" -> ((s, _) => s.range(1).toDF()))
  def oracles: Map[String, String] = Map.empty
}
object ClashSecond extends ops.Module {
  def queries: Map[String, Q] = Map("k" -> ((s, _) => s.range(2).toDF()))
  def oracles: Map[String, String] = Map.empty
}

/** Layer-2 unit tests (SURVEY §5): every declared query runs on
  * sf0.001 and returns a sane shape; spot values checked against
  * fixture domains (FIXTURES.md).
  */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query key has runnable plan and rows on sf0.001") {
    // Keys whose correct result is empty on the small fixtures (every
    // customer has orders, so anti/except legitimately yield nothing).
    val mayBeEmpty = Set("join_anti", "set_except")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every oracle key is a declared query") {
    val undeclared = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(undeclared.isEmpty, s"oracles without queries: $undeclared")
  }

  test("registry rejects a key that two modules declare") {
    val e = intercept[IllegalStateException](SparkEntry.registry(Seq(ClashFirst, ClashSecond)))
    assert(e.getMessage == "query key 'k' is declared by both ClashFirst and ClashSecond")
  }

  test("scan_count equals fixture row count") {
    val n = SparkEntry.queries("scan_count")(spark, sf).collect()(0).getLong(0)
    assert(n == 6000L)
  }

  test("agg_pricing_summary has 6 flag/status groups") {
    val rows = SparkEntry.queries("agg_pricing_summary")(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getString(0)).toSet == Set("A", "N", "R"))
  }

  test("win_rank_topk yields exactly 5 per returnflag (unique tiebreak)") {
    val rows = SparkEntry.queries("win_rank_topk")(spark, sf).collect()
    assert(rows.length == 15)
  }

  test("insta_engagement_by_user per-type counts sum to n_events") {
    SparkEntry.queries("insta_engagement_by_user")(spark, sf).collect()
      .foreach { r =>
        val total = r.getLong(1)
        val parts = (2 to 6).map(r.getLong).sum
        assert(parts == total, s"row $r")
      }
  }

  test("events loader converts ns ts to microsecond timestamps in 2024-01") {
    val ts = Tables.events(spark, sf).selectExpr("min(ts)", "max(ts)").collect()(0)
    assert(ts.getTimestamp(0).toString.startsWith("2024-01-01"))
    assert(ts.getTimestamp(1).toString.startsWith("2024-01-3"))
  }
}
