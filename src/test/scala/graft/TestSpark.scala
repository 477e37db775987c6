package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (Test/parallelExecution=false),
  * on a fixed 4 cores so partition counts do not depend on the host.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)

  val Sf001 = "/root/testdata/sf0.001"
  val Sf01 = "/root/testdata/sf0.01"

  /** The serving queries of the benchmark's dashboard workload. */
  val Dashboard = Seq(
    "q03_gold_daily", "q08_latest_per_key", "q14_topk", "q18_lead_lag_labels",
    "q19_returns", "q20_rolling_mean", "q25_direction_accuracy",
    "q31_sentiment_score", "q33_prediction_docs", "q94_asof_native",
    "q101_asof_left", "q102_model_artifact_score", "q153_vwap", "q154_macd",
    "q155_max_drawdown", "q176_rolling_corr", "q294_expected_shortfall",
    "q05_stream_static_join")
}
