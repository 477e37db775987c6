package graft

import graft.sources.Memo
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived serving session has a bounded footprint: repeating the
  * dashboard's queries over unchanged inputs creates no temp dir and no
  * memo entry after the first round.
  */
class ServingFootprintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The serving queries of the benchmark's dashboard workload. */
  private val dashboard = Seq(
    "q03_gold_daily", "q08_latest_per_key", "q14_topk", "q18_lead_lag_labels",
    "q19_returns", "q20_rolling_mean", "q25_direction_accuracy",
    "q31_sentiment_score", "q33_prediction_docs", "q94_asof_native",
    "q101_asof_left", "q102_model_artifact_score", "q153_vwap", "q154_macd",
    "q155_max_drawdown", "q176_rolling_corr", "q294_expected_shortfall",
    "q05_stream_static_join")

  private def liveTempDirs: Int =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .count(_.startsWith("graft_"))

  test("five dashboard rounds leave as many temp dirs and memo entries as the first") {
    def round(): Unit = dashboard.foreach(q =>
      SparkEntry.queries(q)(spark, TestSpark.Sf001)
        .write.format("noop").mode("overwrite").save())
    round()
    val (dirs, entries) = (liveTempDirs, Memo.size)
    for (r <- 2 to 5) {
      round()
      assert(liveTempDirs === dirs, s"temp dirs after round $r")
      assert(Memo.size === entries, s"memo entries after round $r")
    }
  }
}
