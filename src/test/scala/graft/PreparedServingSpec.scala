package graft

import graft.sources.Memo
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The prepared serving path of `SparkEntry.queries`: a repeated request
  * over unchanged inputs reuses its analyzed plan and starts no job while
  * building, a query whose plan reads an unversioned output (a stream or
  * materialize dir) runs its build again, and a plan is served on the
  * session that asked for it.
  */
class PreparedServingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.Sf001

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

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
    assert(served.queryExecution.analyzed eq first.queryExecution.analyzed)
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
}
