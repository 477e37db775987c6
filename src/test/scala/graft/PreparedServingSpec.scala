package graft

import graft.sources.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The prepared serving path of `SparkEntry.queries`: a repeated request
  * over unchanged inputs reuses its analyzed plan and starts no job while
  * building, a query whose plan reads an unversioned output (a stream or
  * materialize dir) runs its build again, and a plan is served on the
  * session that asked for it. A served plan over inputs below the AQE
  * coalescing size runs as one partition: no shuffle, the same scans.
  */
class PreparedServingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import TestSpark.Sf001

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  private def shuffles(df: DataFrame) =
    collectWithSubqueries(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }

  /** Each file scan's root paths, `ReadSchema` and `PushedFilters`. */
  private def scans(df: DataFrame) =
    collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.mkString(","), s.metadata("ReadSchema"),
        s.metadata.getOrElse("PushedFilters", ""))
    }.distinct.sorted

  private def repartitions(df: DataFrame) =
    df.queryExecution.analyzed.collectWithSubqueries { case r: Repartition => r }

  test("q102's second request starts no job and answers as a fresh build") {
    val q = "q102_model_artifact_score"
    SparkEntry.queries(q)(spark, Sf001)
    val (served, rec) = PlanRecorder.record(SparkEntry.queries(q)(spark, Sf001))
    assert(rec.jobs === 0)
    assert(rows(served) === rows(SparkEntry.coldQueries(q)(spark, Sf001)))
  }

  test("a stream query and a materialize query run their side effects on every call") {
    for (_ <- 1 to 2) {
      val (_, rec) = PlanRecorder.record(
        SparkEntry.queries("q41_stream_features_15m")(spark, Sf001))
      assert(rec.progress.nonEmpty, "q41 ran no stream")
    }
    for (_ <- 1 to 2) {
      val (_, rec) = PlanRecorder.record(
        SparkEntry.queries("q118_substring_dedup")(spark, Sf001))
      assert(rec.materialized.nonEmpty, "q118 wrote no materialize dir")
    }
  }

  test("a withConfs clone is served a plan on itself") {
    val q = "q03_gold_daily"
    val clone = Session.withConfs(spark, "spark.sql.shuffle.partitions" -> "3")
    val first = SparkEntry.queries(q)(clone, Sf001)
    val served = SparkEntry.queries(q)(clone, Sf001)
    assert(served.sparkSession eq clone)
    assert(first.sparkSession eq clone)
    assert(SparkEntry.queries(q)(clone, Sf001).queryExecution.analyzed eq
      served.queryExecution.analyzed)
    assert(SparkEntry.queries(q)(spark, Sf001).sparkSession eq spark)
    assert(rows(served) === rows(SparkEntry.queries(q)(spark, Sf001)))
  }

  test("a build that throws leaves no entry behind") {
    var builds = 0
    val boom = Prepared("boom", (_, _) => {
      builds += 1
      throw new IllegalStateException("boom")
    })
    val entries = Memo.size
    intercept[IllegalStateException](boom(spark, Sf001))
    assert(Memo.size === entries)
    intercept[IllegalStateException](boom(spark, Sf001))
    assert(builds === 2)
  }

  test("every servable query's served request answers as a cold build") {
    val servable = SparkEntry.queries.keys.toSeq.sorted.filter { q =>
      val first = SparkEntry.queries(q)(spark, Sf001)
      Prepared.servable(spark, first.queryExecution.analyzed, Sf001) && {
        val served = SparkEntry.queries(q)(spark, Sf001)
        assert(rows(served) === rows(SparkEntry.coldQueries(q)(spark, Sf001)), q)
        true
      }
    }
    assert(TestSpark.Dashboard.forall(servable.contains))
  }

  test("a served dashboard plan has no shuffle and scans as its cold build does") {
    TestSpark.Dashboard.foreach { q =>
      val cold = SparkEntry.queries(q)(spark, Sf001)
      val served = SparkEntry.queries(q)(spark, Sf001)
      assert(shuffles(served).isEmpty, s"$q served:\n${served.queryExecution.executedPlan}")
      assert(scans(served) === scans(cold), q)
    }
  }

  test("a plan above the session's minPartitionSize is served unchanged") {
    val clone = Session.withConfs(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    Seq("q03_gold_daily", "q20_rolling_mean", "q94_asof_native").foreach { q =>
      val first = SparkEntry.queries(q)(clone, Sf001)
      val served = SparkEntry.queries(q)(clone, Sf001)
      assert(served.queryExecution.analyzed eq first.queryExecution.analyzed, q)
      assert(repartitions(served).isEmpty, q)
      assert(shuffles(served).nonEmpty, q)
    }
  }
}
