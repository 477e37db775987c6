package graft.operators

import graft.{Session, SparkEntry, TestSpark}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant + determinism tests for the core batch slice (SURVEY.md §5.2).
  * The value-level gate is the driver's DuckDB oracle; these cover the
  * properties the oracle can't see: partition-order invariance and
  * semantic invariants of the pinned-order aggregates.
  */
class CoreBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String, s: SparkSession = spark) =
    SparkEntry.queries(name)(s, TestSpark.Sf001)

  test("q02 daily bars: OHLC invariants hold (low <= open/close <= high)") {
    val bad = run("q02_daily_bars")
      .filter(col("open") > col("high") || col("close") > col("high") ||
        col("open") < col("low") || col("close") < col("low") ||
        col("low") > col("high"))
      .count()
    assert(bad === 0)
  }

  test("q08 latest-per-key: exactly one row per customer") {
    val df = run("q08_latest_per_key")
    assert(df.count() === df.select("o_custkey").distinct().count())
  }

  test("q01 is partition-count invariant (exact decimal aggregation)") {
    val a = run("q01_pricing_summary").collect().toSeq
    val b = run("q01_pricing_summary",
      Session.withConfs(spark, "spark.sql.shuffle.partitions" -> "7")).collect().toSeq
    assert(a === b)
  }

  test("q03 gold pipeline: left join preserves every bar and fills nulls") {
    val gold = run("q03_gold_daily").cache()
    assert(gold.filter(col("post_count").isNull).count() === 0)
    // bars grain: one row per (event_type, date)
    assert(gold.count() === gold.select("event_type", "date").distinct().count())
    gold.unpersist()
  }

  test("every registered query has a distinct name and every oracle key exists") {
    val qs = SparkEntry.queries
    // deferred oracles read the dir being dumped, as graft.Verify sets it
    graft.OracleContext.dir = TestSpark.Sf001
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }
}
