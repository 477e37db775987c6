package graft.streaming

import graft.{PlanRecorder, SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** The streaming-state census CI: every declared StateBound re-runs its
  * query on the fixture and asserts the MEASURED final state rows
  * (Σ numRowsTotal of the query's last streaming progress, recorded off
  * the listener bus by PlanRecorder) sit
  * within the declared limit recomputed from the input tables — the
  * WindowBounds discipline applied to the other unbounded-growth class.
  * Coverage: every stateful streaming query in the surface must carry a
  * declaration.
  */
class StateBoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf001

  test("registry covers every runToParquet streaming query in the surface") {
    // the streaming surface routed through runToParquet (q43 runs its
    // own inline bronze sink with no stateful operator; q103 is the
    // BATCH kafka scan)
    val streaming = Set(
      "q41_stream_features_15m", "q42_stream_static_join",
      "q55_stateful_user_state", "q74_stream_session_window",
      "q77_stream_dedup", "q86_stream_stream_join",
      "q104_kafka_stream_features", "q128_transform_with_state",
      "q136_stream_kmv_sketch", "q147_stream_outer_join",
      "q157_stream_sliding_windows", "q173_stream_hll",
      "q206_stream_heavy_users", "q223_stream_triple_barrier",
      "q235_stream_dollar_bars", "q240_stream_cusum_events",
      "q244_stream_imbalance_bars", "q253_stream_priority_sample",
      "q265_stream_drift_monitor", "q268_stream_session_timeout",
      "q271_stream_vpin", "q281_stream_kyle", "q290_stream_drawdown")
    val undeclared = streaming -- StateBounds.names.toSet
    assert(undeclared.isEmpty, s"stateful queries without a StateBound: $undeclared")
    StateBounds.names.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"StateBound for unknown query $n")
    }
    assert(StateBounds.names.distinct.size === StateBounds.names.size)
  }

  test("measured final state rows respect every declared bound") {
    val failures = StateBounds.declared.flatMap { sb =>
      val measured = PlanRecorder.record(
        SparkEntry.queries(sb.query)(spark, dir).collect())._2.stateRows
      val limit = sb.limit(spark, dir)
      // a stateless query reports no stateOperators rows (census 0)
      if (measured < 0) Some(s"${sb.query}: no progress recorded")
      else if (measured > limit)
        Some(s"${sb.query}: state rows $measured exceed declared bound" +
          s" $limit (${sb.bound})")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("tight '=' bounds really are tight on the fixture") {
    // per-key ValueState: exactly one row per key, not merely ≤
    Seq("q55_stateful_user_state" -> StateBounds.declared
          .find(_.query == "q55_stateful_user_state").get,
        "q223_stream_triple_barrier" -> StateBounds.declared
          .find(_.query == "q223_stream_triple_barrier").get,
        "q235_stream_dollar_bars" -> StateBounds.declared
          .find(_.query == "q235_stream_dollar_bars").get)
      .foreach { case (n, sb) =>
        val measured = PlanRecorder.record(
          SparkEntry.queries(n)(spark, dir).collect())._2.stateRows
        assert(measured === sb.limit(spark, dir), n)
      }
  }
}
