package graft.streaming

import graft.{QueryDef, QueryModule, Session}
import graft.operators.Scoped
import graft.sources.{Memo, Parquet, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming layer (SURVEY.md §2.10 T1–T6, §3.1/§3.2): the
  * reference's Kafka micro-batch pipelines re-built on the file source so
  * the same plans run hermetically over the fixture tables. In production
  * the source swaps to `readStream.format("kafka")` — the downstream plan
  * (JSON-decode → watermark → windowed agg → sink) is IDENTICAL; that swap
  * is configuration, not code (SURVEY.md §7.1).
  *
  * The transformation builders are shared between the streaming queries
  * here and their batch twins in CoreBatch (q04), so streaming/batch
  * equivalence holds by construction and the driver's batch DuckDB oracle
  * legitimately checks the streaming plan's semantics.
  *
  * Scale notes: the windowed agg is Spark's incremental stateful
  * aggregation — partial aggregation map-side, state keyed by
  * (window, event_type) in the state store, watermark (T1) bounding state
  * growth. The stream–static join broadcasts the dim side per micro-batch
  * — the stream side never shuffles (§3.2's BroadcastHashJoin).
  */
object Streams extends QueryModule {

  /** Session clone for a streaming query run (same SparkContext, isolated
    * SQLConf). Two reasons, both scale-facing:
    *   - stateful operators pay a fixed state-store cost per shuffle
    *     partition per micro-batch (open + commit + maintenance, per
    *     store), so streaming state is planned at 8 partitions instead of
    *     the batch default that is sized for shuffle VOLUME — a real
    *     deployment sizes this once at query start, which is also the only
    *     time Spark reads it;
    *   - the override lives on the clone, so a batch query planned
    *     concurrently on the shared session can never observe it (conf
    *     mutation on a shared session is not thread-safe scoping).
    */
  private def streamSession(spark: SparkSession): SparkSession =
    Session.withConfs(spark, "spark.sql.shuffle.partitions" -> "8")

  /** [[streamSession]] on the RocksDB state-store provider: the session
    * of every transformWithState query (the API requires RocksDB). The
    * provider is set on the clone only, so batch queries and the other
    * streaming queries keep the default HDFS-backed provider.
    */
  private[graft] def statefulSession(spark: SparkSession): SparkSession =
    Session.withConfs(spark, "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Streaming scan of the events fixture (S2 as file source). Schema is
    * declared, never inferred (§1.2): the fixture stores `ts` as parquet
    * TIMESTAMP(MICROS) without UTC adjustment, declared here as NTZ and
    * cast to session-zoned TimestampType — sessions pin UTC, so the cast
    * is value-identity and matches the batch reader (Tables.events) and
    * the DuckDB oracle exactly.
    */
  private[graft] def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = new StructType()
      .add("event_id", LongType).add("ts", TimestampNTZType).add("user_id", LongType)
      .add("event_type", StringType).add("value", DoubleType)
      .add("props", StringType)
    // the file source wants a directory: scan the fixture dir filtered to
    // the events table file
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** The §3.1 silver transform: watermark (T1) + 15-min tumbling window
    * (T2) feature agg. Works on a streaming OR batch events frame.
    */
  private[graft] def features15m(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .filter($"ts".isNotNull)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "15 minutes"), $"event_type")
      .agg(
        count(lit(1)).as("post_count"),
        sum($"value".cast(DecimalType(28, 2))).cast("double").as("total_score"),
        max($"value").as("max_score"))
      .select($"window.start".as("window_start"), $"window.end".as("window_end"),
        $"event_type", $"post_count", $"total_score", $"max_score")
  }

  /** Replay feeds, one [[Memo]] entry per (canonical source plan, its
    * sorted input files, key column, chunk count), versioned on those
    * files: five Series queries replay the identical tick tape and two
    * WindowFeatures queries the identical bars feed. The canonical plan
    * normalizes exprIds across the per-query cloned sessions but renders
    * a file relation without its path, hence the file list. Feed dirs are
    * plain files, readable from any session.
    */
  private val feeds = new Memo[String](Scoped.dropTempDir)

  /** Replay feed: write `df` as `nChunks` parquet files over contiguous
    * ranges of the distinct `keyCol` values, with STRICTLY INCREASING
    * mtimes, so the file stream source (maxFilesPerTrigger=1) consumes
    * them in key order — the kafka-replay stand-in. The key is a date
    * (market tapes, event days) or a long (doc ingestion, where the
    * natural arrival order is the id sequence). The distinct-key collect
    * is bounded driver model state (P12: ≤ |trading days| or ≤ |ids| of
    * a dimension-sized table). Memoized per (plan, input files, key,
    * chunks); returns the feed directory.
    */
  private[graft] def replayFeed(
      df: DataFrame, keyCol: String, nChunks: Int): String = {
    val files = df.inputFiles.toSeq.sorted
    feeds(s"$keyCol|$nChunks|${files.mkString(",")}|" +
        df.queryExecution.analyzed.canonicalized,
      Parquet.inputVersion(df.sparkSession, files))(
      writeChunkedFeed(df, keyCol, nChunks,
        df.select(col(keyCol)).distinct().orderBy(col(keyCol))
          .collect().map(r => lit(r.get(0)))))
  }

  /** The replay harness of the stateful-replay queries: builds `src` on a
    * [[statefulSession]] clone, writes it as a [[replayFeed]] over
    * `keyCol`, and returns the stream reading that feed one file per
    * trigger, so each chunk is one micro-batch, in key order. The
    * returned frame's `sparkSession` is the clone.
    *
    * The replay QueryDefs feed 2 chunks: per micro-batch every stateful
    * operator pays a fixed per-partition state-store open/commit, and
    * the replay results are batch-boundary-independent BY CONTRACT (each
    * family's spec re-proves equality at chunkings 4/6/7/9; the DuckDB
    * oracle gates the values). Two chunks still cross a real batch
    * boundary, so cross-batch state is exercised; the chunk count is a
    * replay-harness parameter, not operator semantics.
    */
  private[graft] def replay(outer: SparkSession, keyCol: String, nChunks: Int)(
      src: SparkSession => DataFrame): DataFrame = {
    val spark = statefulSession(outer)
    val df = src(spark)
    spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(replayFeed(df, keyCol, nChunks))
  }

  /** ONE-PASS chunked feed writer (r13 optimization). The original form
    * ran `nChunks` separate filter+coalesce(1) write jobs — each a full
    * scan of the source frame, each funneled through a single task — so
    * building a 4-chunk feed cost five scans of the tape (distinct-keys
    * collect + 4 filtered writes). This writes every chunk in one job:
    * route rows to their chunk id (same contiguous key ranges as before —
    * `sortedKeyLits` is the ascending distinct key list, chunk bounds are
    * identical), hash-repartition on the id so a chunk lands wholly in
    * one task, and `partitionBy` one file per chunk, flattened back to
    * the feed root with the strictly-increasing mtimes the file-source
    * ordering contract requires.
    *
    * Batch COMPOSITION is unchanged (same rows in the same chunk file);
    * row order WITHIN a chunk file is shuffle-arrival order rather than
    * scan order — safe because every replay consumer re-sorts (or folds
    * order-insensitively) inside `handleInputRows`/the windowed agg, and
    * StreamingSpec's batch-boundary-independence tests re-prove it per
    * query at multiple chunkings.
    */
  private def writeChunkedFeed(
      df: DataFrame, keyCol: String, nChunks: Int,
      sortedKeyLits: Array[Column]): String = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val feed = Scoped.newTempDir("graft_replay_feed_")
    if (sortedKeyLits.isEmpty) return feed // empty source ⇒ empty feed
    val per = math.max(1, math.ceil(sortedKeyLits.length.toDouble / nChunks).toInt)
    // upper bound (inclusive) of each chunk's contiguous key range
    val uppers = sortedKeyLits.grouped(per).map(_.last).toArray
    val chunkOf = uppers.init.zipWithIndex.foldRight(
      lit(uppers.length - 1): Column) { case ((u, i), acc) =>
      when(col(keyCol) <= u, i).otherwise(acc)
    }
    df.withColumn("_chunk", chunkOf)
      .repartition(uppers.length, col("_chunk"))
      .write.partitionBy("_chunk").mode("overwrite").parquet(feed)
    val base = new java.io.File(feed)
    base.listFiles().filter(d => d.isDirectory && d.getName.startsWith("_chunk="))
      .foreach { d =>
        val i = d.getName.stripPrefix("_chunk=").toInt
        d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
          .foreach { case (p, j) =>
            val dst = new java.io.File(base, f"chunk-$i%05d-$j.parquet")
            require(p.renameTo(dst), s"feed flatten failed: $p")
            dst.setLastModified(1600000000000L + i * 60000L)
          }
        d.listFiles().foreach(_.delete())
        d.delete()
      }
    feed
  }

  /** Run a bounded streaming frame to completion through a FILE sink and
    * re-read the result as a batch frame with the stream's own schema, so
    * the re-read infers nothing (the q43 round-trip pattern,
    * generalized). The memory sink materializes the whole result on the
    * driver — at 100× the q42 join output that is a driver OOM — so every
    * query-path capture goes through foreachBatch → parquet instead;
    * `MemoryStream`/memory sinks survive only inside StreamingSpec.
    * "complete" mode re-emits the full result each micro-batch ⇒ overwrite
    * per batch; "append"/"update" emit deltas ⇒ append per batch.
    * Scratch dirs follow one policy: the checkpoint dies with the query,
    * the output dir (read by the returned frame) lives until JVM exit in
    * [[Scoped]]'s temp-dir registry, like the replay feeds.
    */
  private[graft] def runToParquet(df: DataFrame, mode: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = df.sparkSession
    val out = Scoped.newTempDir("graft_stream_out_")
    val ckpt = Scoped.newTempDir("graft_stream_ckpt_")
    val saveMode = if (mode == "complete") "overwrite" else "append"
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (saveMode == "append") {
          // r13 optimization: append mode writes UNCONDITIONALLY — one
          // action per micro-batch instead of three (persist
          // materialization + isEmpty probe + write). An empty batch
          // appends an empty parquet file, which the re-read unions
          // harmlessly; with a single action there is nothing to
          // double-execute, so the persist guard is unnecessary too
          // (and state metrics are counted once by construction).
          batch.write.mode(saveMode).parquet(out)
        } else {
          // complete mode must NOT overwrite prior output with an empty
          // final batch — keep the probe, and persist before the two
          // actions: an unpersisted batch would EXECUTE THE MICRO-BATCH
          // PLAN TWICE — wasted work, and the task-summed state metrics
          // (numRowsTotal) would double-count, which is exactly what the
          // StateBounds census would mis-read.
          batch.persist()
          try {
            if (!batch.isEmpty) batch.write.mode(saveMode).parquet(out)
          } finally batch.unpersist()
        }
      }
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    try q.awaitTermination()
    finally { q.stop(); Scoped.dropTempDir(ckpt) }
    // a stream that yielded no rows wrote no files — return an empty frame
    // with the stream's schema instead of letting parquet schema inference
    // throw on the empty directory
    val wrote = Option(new java.io.File(out).listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (wrote) Parquet.read(spark, out, Some(df.schema))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
  }

  // ---------------------------------------------------------------------
  // q41 — the §3.1 streaming feature pipeline end-to-end: streaming scan →
  // watermark → windowed agg, run as a real StreamingQuery into a parquet
  // foreachBatch sink and re-read (complete mode emits every window
  // regardless of watermark, which is what a bounded replay needs;
  // append-mode emission timing is covered by StreamingSpec). Result
  // equals the batch plan — checked by DuckDB.
  // ---------------------------------------------------------------------
  private val q41 = QueryDef(
    "q41_stream_features_15m",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      runToParquet(features15m(eventsStream(spark, dir)), "complete")
        .orderBy($"window_start", $"event_type")
    },
    Some("""
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
             time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' AS window_end,
             event_type, count(*) AS post_count,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_score,
             max(value) AS max_score
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY window_start, event_type"""))

  // ---------------------------------------------------------------------
  // q42 — stream–static join (§3.2, J1): streaming events inner-join the
  // static customer dim on user_id; the static side is broadcast every
  // micro-batch. Stateless ⇒ append mode.
  // ---------------------------------------------------------------------
  private val q42 = QueryDef(
    "q42_stream_static_join",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
      val joined = eventsStream(spark, dir)
        .join(broadcast(cust), $"user_id" === $"c_custkey", "inner")
        .select($"event_id", $"user_id", $"event_type", $"value", $"c_name", $"c_mktsegment")
      runToParquet(joined, "append").orderBy($"event_id")
    },
    Some("""
      SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_name, c.c_mktsegment
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      ORDER BY e.event_id"""))

  // ---------------------------------------------------------------------
  // q43 — foreachBatch micro-batch sink (S6: the reference's Mongo append
  // sink, here a parquet append per batch) then a batch re-read of the
  // sunk bronze table — the full bronze round-trip of §3.1's RAW branch.
  // ---------------------------------------------------------------------
  private val q43 = QueryDef(
    "q43_stream_sink_roundtrip",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val out = Scoped.newTempDir("graft_bronze_")
      val ckpt = Scoped.newTempDir("graft_ckpt_")
      val q = eventsStream(spark, dir).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        // T3/T4: explicit trigger + checkpointed progress, as the
        // reference configures per query (reddit_pipeline.py:148-149)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      // AvailableNow terminates when caught up
      try q.awaitTermination()
      finally { q.stop(); Scoped.dropTempDir(ckpt) }
      // plain inference: reading the sunk bronze files back is the test
      spark.read.parquet(out)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(28, 2))).cast("double").as("total_value"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value,
             count(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q44→q55 — arbitrary stateful processing (T9: mapGroupsWithState —
  // "available if the J5 enrichment is redesigned as streaming state",
  // SURVEY.md §2.10): per-user running state (event count, exact cents
  // sum, last event by (ts, event_id)) maintained in a keyed GroupState
  // and emitted in update mode. State merge is commutative/associative in
  // the right places and order-insensitive (max-by on a total order), so
  // the final per-key state is deterministic however the stream batches.
  // ---------------------------------------------------------------------
  private[graft] case class EventRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  private[graft] case class UserState(
      user_id: Long, n: Long, cents: Long,
      last_event_id: Long, last_ts: java.sql.Timestamp, last_type: String)

  private[graft] def emptyState(key: Long): UserState =
    UserState(key, 0L, 0L, Long.MinValue, new java.sql.Timestamp(Long.MinValue), "")

  /** The state fold shared by BOTH arbitrary-state APIs (q55's
    * mapGroupsWithState and q128's transformWithState): commutative/
    * associative counts + exact cents, last-event by the (ts, event_id)
    * total order — batching-independent by construction.
    */
  private[graft] def foldEvents(prev: UserState, rows: Iterator[EventRow]): UserState =
    rows.foldLeft(prev) { (s, e) =>
      val cents = math.round(e.value * 100) // value has a 2-decimal grid
      val newer = e.ts.after(s.last_ts) ||
        (e.ts.equals(s.last_ts) && e.event_id > s.last_event_id)
      UserState(s.user_id, s.n + 1, s.cents + cents,
        if (newer) e.event_id else s.last_event_id,
        if (newer) e.ts else s.last_ts,
        if (newer) e.event_type else s.last_type)
    }

  private[graft] def mergeState(
      key: Long, rows: Iterator[EventRow],
      state: org.apache.spark.sql.streaming.GroupState[UserState]): UserState = {
    val next = foldEvents(state.getOption.getOrElse(emptyState(key)), rows)
    state.update(next)
    next
  }

  private val q55 = QueryDef(
    "q55_stateful_user_state",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      val updates = eventsStream(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[EventRow]
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(mergeState)
        .toDF()
      // update mode emits one row per key per batch; keep the final state
      // (n grows monotonically) so the result is batching-independent
      runToParquet(updates, "update")
        .groupBy($"user_id")
        .agg(max_by(struct($"n", $"cents", $"last_event_id", $"last_type"), $"n").as("s"))
        .select($"user_id", $"s.n".as("n"), $"s.cents".as("cents"),
          $"s.last_event_id".as("last_event_id"), $"s.last_type".as("last_type"))
        .orderBy($"user_id")
    },
    // oracle tie-break matches the engine's pinned (ts, event_id) total
    // order exactly — arg_max(x, ts) alone is nondeterministic when a user
    // has two events in the same microsecond (latent flake at higher SF)
    Some("""
      WITH last AS (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      agg AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id)
      SELECT a.user_id, a.n, a.cents,
             l.event_id AS last_event_id, l.event_type AS last_type
      FROM agg a JOIN last l ON a.user_id = l.user_id AND l.rn = 1
      ORDER BY a.user_id"""))

  // ---------------------------------------------------------------------
  // q128 — transformWithState (T9 on the NEW Spark 4 arbitrary-state
  // API): the same per-user running state as q55, held in a typed
  // ValueState through a StatefulProcessor. This is the API Spark is
  // moving arbitrary stateful processing to (SPARK-43563); it requires
  // the RocksDB state-store provider, so the query also exercises T7's
  // provider swap on its session clone. The state fold is SHARED with
  // q55 (foldEvents), so both APIs provably compute identical semantics
  // and the same DuckDB oracle checks both. At scale the processor holds
  // one small fixed-size value per user in the keyed store — state is
  // O(users), batch cost O(events in batch).
  // ---------------------------------------------------------------------
  private[graft] class UserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, UserState] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("user_stats",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[EventRow], tv: TimerValues): Iterator[UserState] = {
      val next = foldEvents(if (st.exists()) st.get() else emptyState(key), rows)
      st.update(next)
      Iterator.single(next)
    }
  }

  private val q128 = QueryDef(
    "q128_transform_with_state",
    (outer, dir) => {
      val spark = statefulSession(outer)
      import spark.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val updates = eventsStream(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[EventRow]
        .groupByKey(_.user_id)
        .transformWithState(new UserStatsProcessor, TimeMode.None(), OutputMode.Update())
        .toDF()
      // same final-state rollup as q55: update mode emits one row per key
      // per batch, n grows monotonically
      runToParquet(updates, "update")
        .groupBy($"user_id")
        .agg(max_by(struct($"n", $"cents", $"last_event_id", $"last_type"), $"n").as("s"))
        .select($"user_id", $"s.n".as("n"), $"s.cents".as("cents"),
          $"s.last_event_id".as("last_event_id"), $"s.last_type".as("last_type"))
        .orderBy($"user_id")
    },
    Some("""
      WITH last AS (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      agg AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id)
      SELECT a.user_id, a.n, a.cents,
             l.event_id AS last_event_id, l.event_type AS last_type
      FROM agg a JOIN last l ON a.user_id = l.user_id AND l.rn = 1
      ORDER BY a.user_id"""))

  // ---------------------------------------------------------------------
  // q74 — streaming session windows (T2's session variant, the streaming
  // twin of q63's batch sessionization): per-user sessions that merge
  // while events arrive within a 30-minute gap, as Spark's native
  // `session_window` stateful aggregation. State is keyed by (user,
  // session) and windows merge incrementally as batches arrive — the
  // engine-managed version of q63's lag/prefix-sum plan. Bounded replay ⇒
  // complete mode through the file-sink round-trip, like q41.
  //
  // Semantics pinned by the oracle: an event at exactly session_end
  // (prev + 30 min) MERGES (Spark starts a new session only when
  // start > current end), so the oracle breaks on gap > 30 min, same as
  // q63 — boundary equality asserted in StreamingSpec.
  // ---------------------------------------------------------------------
  private val SessionGap = "30 minutes"
  private val q74 = QueryDef(
    "q74_stream_session_window",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      val sessions = eventsStream(spark, dir)
        .filter($"ts".isNotNull)
        .groupBy(session_window($"ts", SessionGap), $"user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum($"value".cast(DecimalType(28, 2))).cast("double").as("total_value"))
        .select(
          $"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"),
          $"user_id", $"n_events", $"total_value")
      runToParquet(sessions, "complete")
        .orderBy($"user_id", $"session_start")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, ts, epoch_us(ts) AS tus, event_id, value
        FROM events WHERE ts IS NOT NULL),
      flagged AS (
        SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                         OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      sid AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             user_id, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
      FROM sid GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  // ---------------------------------------------------------------------
  // q77 — streaming deduplication (P8's streaming twin): at-least-once
  // sources redeliver messages on recovery, and the standard guard is
  // dropDuplicatesWithinWatermark on the message key — state holds one
  // entry per key only until the watermark passes it, so it is bounded
  // (plain streaming dropDuplicates grows state forever). The fixture
  // replay has no redelivery, so the oracle checks the pass-through
  // plumbing end-to-end; the actual dropping of a redelivered event is
  // asserted in StreamingSpec with an injected duplicate.
  // ---------------------------------------------------------------------
  private val q77 = QueryDef(
    "q77_stream_dedup",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      val deduped = eventsStream(spark, dir)
        .filter($"ts".isNotNull)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      runToParquet(deduped, "append")
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          sum($"value".cast(DecimalType(28, 2))).cast("double").as("total_value"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q86 — stream–stream interval join (the J-family's fully-streaming
  // form, completing the join surface beyond q42's stream–static): each
  // purchase joined to the same user's clicks in the trailing 10 minutes,
  // both sides live streams. Spark's stateful symmetric hash join keeps
  // both sides' state keyed by user; the event-time range condition plus
  // the two watermarks bound state eviction (a click older than
  // purchase-watermark − 10 min can never match again and is dropped) —
  // without the range constraint state grows unboundedly, which is the
  // 100 TB failure mode this operator exists to avoid. Inner join ⇒
  // append mode; matched pairs emit as soon as both sides arrive.
  // ---------------------------------------------------------------------
  private val q86 = QueryDef(
    "q86_stream_stream_join",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      val purchases = eventsStream(spark, dir)
        .filter($"ts".isNotNull && $"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"ts".as("p_ts"),
          $"user_id".as("p_user"), $"value".as("p_value"))
        .withWatermark("p_ts", "10 minutes")
      val clicks = eventsStream(spark, dir)
        .filter($"ts".isNotNull && $"event_type" === "click")
        .select($"event_id".as("c_id"), $"ts".as("c_ts"),
          $"user_id".as("c_user"), $"value".as("c_value"))
        .withWatermark("c_ts", "10 minutes")
      val joined = purchases.join(clicks,
        $"p_user" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") &&
          $"c_ts" <= $"p_ts")
      // the symmetric join keeps state on BOTH sides — the streamSession
      // clone's 8-partition setting is what prices the per-partition
      // store cost here (2 stores per partition per micro-batch)
      runToParquet(
          joined.select($"p_id", $"p_ts", $"c_id", $"c_value"), "append")
        .groupBy(to_date($"p_ts").as("date"))
        .agg(
          count(lit(1)).as("n_pairs"),
          countDistinct($"p_id").as("n_purchases"),
          sum(($"c_value".cast(DecimalType(28, 2)) * 100).cast("long")).as("click_cents"))
        .orderBy($"date")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, ts, user_id, event_type, value
        FROM events WHERE ts IS NOT NULL),
      j AS (
        SELECT p.event_id AS p_id, p.ts AS p_ts, c.value AS c_value
        FROM ev p JOIN ev c
          ON p.event_type = 'purchase' AND c.event_type = 'click'
         AND p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts)
      SELECT CAST(p_ts AS DATE) AS date, count(*) AS n_pairs,
             count(DISTINCT p_id) AS n_purchases,
             CAST(sum(CAST(CAST(c_value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS click_cents
      FROM j GROUP BY 1 ORDER BY date"""))

  // ---------------------------------------------------------------------
  // q157 — streaming SLIDING (hop) windows: 15-minute windows every 5
  // minutes — each event lands in exactly 3 overlapping windows, the
  // smoothing shape dashboards want that q41's tumbling windows can't
  // give. Spark plans the hop as ONE stateful aggregate whose grouping
  // expands each row to its ⌈len/slide⌉ windows (state scales with
  // windows-per-slide × keys, bounded by the watermark); complete-mode
  // replay emits every window for the bounded fixture. The oracle states
  // the same expansion declaratively: 3 candidate starts from the 5-min
  // epoch grid, filtered to containment.
  // ---------------------------------------------------------------------
  private val q157 = QueryDef(
    "q157_stream_sliding_windows",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      val agg = eventsStream(spark, dir)
        .filter($"ts".isNotNull)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "15 minutes", "5 minutes"), $"event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum($"value".cast(DecimalType(28, 2))).cast("double").as("total_value"))
        .select($"window.start".as("window_start"), $"window.end".as("window_end"),
          $"event_type", $"n_events", $"total_value")
      runToParquet(agg, "complete")
        .orderBy($"window_start", $"event_type")
    },
    Some("""
      WITH hops AS (
        SELECT event_type, value,
               make_timestamp((epoch_us(ts) // 300000000) * 300000000
                              - k.k * 300000000) AS window_start
        FROM events
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
        WHERE ts IS NOT NULL
          AND ts >= make_timestamp((epoch_us(ts) // 300000000) * 300000000
                                   - k.k * 300000000)
          AND ts <  make_timestamp((epoch_us(ts) // 300000000) * 300000000
                                   - k.k * 300000000) + INTERVAL 15 MINUTE)
      SELECT window_start,
             window_start + INTERVAL 15 MINUTE AS window_end,
             event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
      FROM hops GROUP BY 1, 2, 3
      ORDER BY window_start, event_type"""))

  // ---------------------------------------------------------------------
  // q147 — stream–stream LEFT OUTER interval join: q86's inner join also
  // EMITS the unmatched purchases (null click side) once the watermark
  // proves no future click can match — the state-eviction semantics that
  // make outer streaming joins production-viable (without the event-time
  // bound, null-side rows could never be emitted at all). A left row is
  // provably unmatchable once the watermark passes p_ts (clicks satisfy
  // c_ts ≤ p_ts, and future rows arrive above the watermark), so with a
  // 10-min delay every purchase below max_ts − 10 min has flushed —
  // matched or null — by end of replay. The post-stream filter pins the
  // comparison to that provably-flushed region with margin (the
  // watermark-tail rows whose emission depends on micro-batch timing are
  // excluded on BOTH engines, so the gate stays exact); at 100 TB the
  // stream never ends and the tail is perpetually in-flight state.
  // ---------------------------------------------------------------------
  private val q147 = QueryDef(
    "q147_stream_outer_join",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      val purchases = eventsStream(spark, dir)
        .filter($"ts".isNotNull && $"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"ts".as("p_ts"),
          $"user_id".as("p_user"), $"value".as("p_value"))
        .withWatermark("p_ts", "10 minutes")
      val clicks = eventsStream(spark, dir)
        .filter($"ts".isNotNull && $"event_type" === "click")
        .select($"event_id".as("c_id"), $"ts".as("c_ts"),
          $"user_id".as("c_user"), $"value".as("c_value"))
        .withWatermark("c_ts", "10 minutes")
      val joined = purchases.join(clicks,
        $"p_user" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") &&
          $"c_ts" <= $"p_ts",
        "leftOuter")
      val emitted = runToParquet(
        joined.select($"p_id", $"p_ts", $"c_id", $"c_value"), "append")
      // cutoff from the BATCH table (same definition as the oracle) — the
      // emitted set itself can't define it, since whether the max-ts
      // purchase appears depends on its own match state. The GLOBAL
      // watermark is the min over both inputs' per-stream watermarks, so
      // the provably-flushed bound keys off the EARLIER of the two maxima.
      val cutoff = graft.sources.Tables.events(spark, dir)
        .filter($"ts".isNotNull &&
          ($"event_type" === "purchase" || $"event_type" === "click"))
        .groupBy($"event_type").agg(max($"ts").as("m"))
        .agg(min($"m")).first().getTimestamp(0)
      emitted
        .filter($"p_ts" <= lit(cutoff) - expr("INTERVAL 20 MINUTES"))
        .groupBy(to_date($"p_ts").as("date"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"p_id").as("n_purchases"),
          countDistinct(when($"c_id".isNull, $"p_id")).as("n_unmatched"),
          sum(($"c_value".cast(DecimalType(28, 2)) * 100).cast("long"))
            .as("click_cents"))
        .orderBy($"date")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, ts, user_id, event_type, value
        FROM events WHERE ts IS NOT NULL),
      j AS (
        SELECT p.event_id AS p_id, p.ts AS p_ts, c.event_id AS c_id,
               c.value AS c_value
        FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM ev WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts),
      f AS (
        SELECT * FROM j
        WHERE p_ts <= (SELECT min(m) FROM (
                        SELECT event_type, max(ts) AS m FROM ev
                        WHERE event_type IN ('purchase', 'click')
                        GROUP BY event_type))
                      - INTERVAL 20 MINUTE)
      SELECT CAST(p_ts AS DATE) AS date, count(*) AS n_rows,
             count(DISTINCT p_id) AS n_purchases,
             count(DISTINCT CASE WHEN c_id IS NULL THEN p_id END) AS n_unmatched,
             CAST(sum(CAST(CAST(c_value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS click_cents
      FROM f GROUP BY 1 ORDER BY date"""))

  // ---------------------------------------------------------------------
  // q103/q104 — the Kafka-SHAPED scan path, executed (S1/S2): the
  // `kafka-replay` DSv2 connector (graft.sources.KafkaReplay) emits the
  // exact spark-sql-kafka record schema from the events fixture, so the
  // full production plan — `.load()` → value bytes → `from_json` decode →
  // transforms — runs end-to-end with real per-partition offsets and
  // admission control. Swapping in real Kafka changes the format string
  // and the source options (bootstrap servers, topic subscription); every
  // line downstream of `.load()` is shared.
  // ---------------------------------------------------------------------
  /** The producers' JSON wire schema (value bytes decode to this; `ts` is
    * epoch micros).
    */
  private val eventWireSchema = new StructType()
    .add("event_id", LongType).add("ts", LongType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType)
    .add("props", StringType)

  private def replayReaderOptions(dir: String) = Map(
    "path" -> s"$dir/events.parquet",
    "topic" -> "events",
    "numPartitions" -> "3")

  /** value bytes → decoded event frame (shared by q103/q104 — identical to
    * what the production Kafka reader's downstream would run).
    */
  private def decodeKafkaValue(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    raw.select(from_json($"value".cast("string"), eventWireSchema).as("d"))
      .select($"d.*")
      .withColumn("ts", timestamp_micros($"ts"))
  }

  // q103 — Kafka BATCH scan (S1: spark_consumer.py:69-74 reads the topic
  // from earliest with spark.read.format("kafka")): full-topic batch read
  // through the connector, decode, aggregate. The oracle sees only the
  // events table — a decode defect (bad escaping, wrong ts unit, dropped
  // partition) breaks the hash.
  private val q103 = QueryDef(
    "q103_kafka_batch_scan",
    (spark, dir) => {
      import spark.implicits._
      val raw = replayReaderOptions(dir)
        .foldLeft(spark.read.format("kafka-replay")) {
          case (r, (k, v)) => r.option(k, v) }
        .load()
      decodeKafkaValue(raw)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          sum($"value".cast(DecimalType(28, 2))).cast("double").as("total_value"),
          max($"ts").as("max_ts"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value,
             max(CAST(ts AS TIMESTAMP)) AS max_ts
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // q104 — Kafka STREAMING scan (S2): readStream through the connector
  // with the reference's rate limiting (maxOffsetsPerTrigger → admission
  // control → multiple micro-batches), decode, then the §3.1 silver
  // transform — the full reddit_pipeline.py shape, executed. Result must
  // equal q41's (same transform, file-source twin) and the batch oracle.
  private val q104 = QueryDef(
    "q104_kafka_stream_features",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      // sized to TWO micro-batches per partition at the bench SF — enough
      // to exercise multi-batch offset progression; the ≥4-batch
      // admission-control invariant is KafkaReplaySpec's job (at sf0.001).
      // Each micro-batch re-parses the backing file up to its slice bound
      // (replay-harness cost, see KafkaReplay scaladoc), so batch count is
      // the cost knob.
      val raw = (replayReaderOptions(dir) + ("maxOffsetsPerTrigger" -> "60000"))
        .foldLeft(spark.readStream.format("kafka-replay")) {
          case (r, (k, v)) => r.option(k, v) }
        .load()
      runToParquet(features15m(decodeKafkaValue(raw)), "complete")
        .orderBy($"window_start", $"event_type")
    },
    Some("""
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
             time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' AS window_end,
             event_type, count(*) AS post_count,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_score,
             max(value) AS max_score
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY window_start, event_type"""))

  // ---------------------------------------------------------------------
  // q136 — CUSTOM aggregate under streaming state: the KMV distinct
  // sketch (functions.KmvSketchAgg, a TypedImperativeAggregate) running
  // inside an incremental stateful aggregation. Each micro-batch updates
  // the per-type sketch buffer THROUGH the state store — the aggregate's
  // serialize/deserialize is exercised on every batch commit, which is
  // the contract a custom sketch must honor to be usable in streaming at
  // all. Complete mode over the bounded replay means the final sketch
  // equals the batch sketch over all events, so q65's direct-corpus
  // oracle shape gates it (distinct-user estimate next to the sketch
  // internals). Scale: state per (event_type) key is ≤ k longs, the
  // whole point of a bounded sketch.
  // ---------------------------------------------------------------------
  private val KmvK = 64
  private val KmvEstConst: Double = (KmvK - 1).toDouble * 1152921504606846976.0
  private val q136 = QueryDef(
    "q136_stream_kmv_sketch",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      import graft.functions.{KmvSketchAgg, Portable}
      val sketched = eventsStream(spark, dir)
        .filter($"user_id".isNotNull)
        .groupBy($"event_type")
        .agg(KmvSketchAgg.sketch(
          Portable.md5Hash64($"user_id".cast("string")), KmvK).as("kmv"))
        .select($"event_type", $"kmv.n_kept".as("n_kept"), $"kmv.kth".as("kth"),
          when($"kmv.kth".isNull, $"kmv.n_kept".cast("double"))
            .otherwise(lit(KmvEstConst) / $"kmv.kth".cast("double"))
            .as("est_distinct"))
      runToParquet(sketched, "complete").orderBy($"event_type")
    },
    Some(s"""
      WITH h AS (
        SELECT DISTINCT event_type,
               ${graft.functions.Portable.md5Hash64Sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events WHERE user_id IS NOT NULL),
      ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_distinct
        FROM h)
      SELECT event_type,
             CAST(least(max(n_distinct), $KmvK) AS BIGINT) AS n_kept,
             max(CASE WHEN rn = $KmvK THEN h END) AS kth,
             CASE WHEN max(CASE WHEN rn = $KmvK THEN h END) IS NULL
                  THEN CAST(least(max(n_distinct), $KmvK) AS DOUBLE)
                  ELSE ${KmvEstConst} / CAST(max(CASE WHEN rn = $KmvK THEN h END) AS DOUBLE)
             END AS est_distinct
      FROM ranked GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q173 — STREAMING HLL registers (q161's batch sketch under streaming
  // state, the way q136 streams the KMV): per-(event_type, bucket) max
  // register maintained incrementally through the state store — ONE long
  // of state per key, merged by max on every micro-batch, which is
  // exactly how a production streaming distinct-counter holds a billion
  // users in 64 registers per group. The harmonic fold + estimate run
  // BATCH-side on the complete-mode sink output (chained stateful
  // aggregations are the one shape streaming doesn't allow; the fold is
  // over ≤ 64·|groups| rows, so it costs nothing). Bounded replay ⇒ the
  // final registers equal the batch registers, so q161's oracle (minus
  // the exact-count audit column, which would need a second unbounded
  // state) gates it.
  // ---------------------------------------------------------------------
  private val HllW = 54
  private val HllRCap = 41
  private val HllEstConst: Double = 2903.0 * 2199023255552.0
  private val q173 = QueryDef(
    "q173_stream_hll",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      import graft.functions.Portable
      val reg = eventsStream(spark, dir)
        .filter($"user_id".isNotNull)
        .select($"event_type",
          Portable.md5Hash64($"user_id".cast("string")).as("h"))
        .withColumn("bkt", expr("h % 64"))
        .withColumn("w", expr("h div 64"))
        .withColumn("rho",
          when($"w" === 0, lit(HllW + 1L))
            .otherwise(lit(HllW + 1L) - length(conv($"w", 10, 2)).cast("long")))
        .groupBy($"event_type", $"bkt")
        .agg(max(least($"rho", lit(HllRCap.toLong))).as("r"))
      val regs = runToParquet(reg, "complete")
      val grid = regs.select($"event_type").distinct()
        .select($"event_type", explode(sequence(lit(0L), lit(63L))).as("bkt"))
      grid.join(regs, Seq("event_type", "bkt"), "left")
        .na.fill(0L, Seq("r"))
        .groupBy($"event_type")
        .agg(
          expr(s"sum(shiftleft(CAST(1 AS BIGINT), CAST($HllRCap - r AS INT)))")
            .as("s_int"),
          sum(when($"r" === 0, 1L).otherwise(0L)).as("n_zero"))
        .select($"event_type", $"s_int", $"n_zero",
          (lit(HllEstConst) / $"s_int".cast("double")).as("est_distinct"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH h AS (
        SELECT event_type,
               ${graft.functions.Portable.md5Hash64Sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events WHERE user_id IS NOT NULL),
      rows_r AS (
        SELECT event_type, h % 64 AS bkt,
               least(CASE WHEN h // 64 = 0 THEN ${HllW + 1}
                     ELSE ${HllW + 1} - length(format('{:b}', h // 64)) END,
                 $HllRCap) AS r0
        FROM h),
      reg AS (
        SELECT event_type, bkt, max(r0) AS r
        FROM rows_r GROUP BY 1, 2),
      grid AS (
        SELECT t.event_type, CAST(b AS BIGINT) AS bkt
        FROM (SELECT DISTINCT event_type FROM h) t
        CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
      dense AS (
        SELECT g.event_type, g.bkt, COALESCE(reg.r, 0) AS r
        FROM grid g LEFT JOIN reg
          ON reg.event_type = g.event_type AND reg.bkt = g.bkt)
      SELECT event_type,
             CAST(sum(CAST(1 AS BIGINT) << ($HllRCap - r)) AS BIGINT) AS s_int,
             CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
             $HllEstConst / CAST(sum(CAST(1 AS BIGINT) << ($HllRCap - r)) AS DOUBLE)
               AS est_distinct
      FROM dense GROUP BY 1 ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q206 — STREAMING Misra–Gries heavy hitters (q85's batch sketch-then-
  // verify discipline under streaming state, completing the sketch/stream
  // matrix next to KMV q136 and HLL q173): the per-event_type Misra–Gries
  // candidate buffer (functions.FreqSketchAgg) folds incrementally
  // through the state store — merged sketches keep the frequency
  // guarantee (combined undercount ≤ n/(k+1)), so with k = 256 every
  // user above the 1% threshold survives the stream phase regardless of
  // micro-batch boundaries or merge order. Because the CANDIDATE SET is
  // order-dependent (only the guarantee is not), the deterministic answer
  // comes from the batch-side exact recount of candidates only — the
  // same verify the batch q85 runs, here over the sunk complete-mode
  // candidates. State per key is ≤ k (user, count) entries — bounded —
  // and the recount scans the corpus once filtered by a broadcast
  // semi-join. Oracle: exact per-type heavy users straight off the
  // events table (the sketch phase must not change the answer).
  // ---------------------------------------------------------------------
  private val MgK = 256
  private val q206 = QueryDef(
    "q206_stream_heavy_users",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      import graft.functions.FreqSketchAgg
      val cands = eventsStream(spark, dir)
        .filter($"user_id".isNotNull)
        .groupBy($"event_type")
        .agg(FreqSketchAgg.sketch($"user_id".cast("string"), MgK).as("cands"))
      val candX = runToParquet(cands, "complete")
        .select($"event_type", explode($"cands").as("uk"))
      val ev = graft.sources.Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .select($"event_type", $"user_id".cast("string").as("uk"))
      val totals = ev.groupBy($"event_type").agg(count(lit(1)).as("n_events"))
      ev.join(broadcast(candX), Seq("event_type", "uk"), "leftsemi")
        .groupBy($"event_type", $"uk")
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(totals), "event_type")
        .filter($"cnt" * 100 >= $"n_events")
        .select($"event_type", $"uk".as("user_key"), $"cnt", $"n_events")
        .orderBy($"event_type", $"cnt".desc, $"user_key")
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(user_id AS VARCHAR) AS uk
        FROM events WHERE user_id IS NOT NULL),
      t AS (SELECT event_type, count(*) AS n_events FROM ev GROUP BY 1)
      SELECT ev.event_type, uk AS user_key, count(*) AS cnt,
             CAST(max(t.n_events) AS BIGINT) AS n_events
      FROM ev JOIN t USING (event_type)
      GROUP BY 1, 2
      HAVING 100 * count(*) >= max(t.n_events)
      ORDER BY event_type, cnt DESC, user_key"""))

  // ---------------------------------------------------------------------
  // q317 — STREAMING QUANTILE SKETCH (q311's bottom-k sampler under
  // streaming state, completing the sketch/stream matrix next to KMV
  // q136, HLL q173 and Misra–Gries q206): the per-event_type bottom-k
  // (hash, value) buffer folds incrementally through the state store —
  // ≤ k pairs + one count per key, merged by the canonical
  // k-smallest-of-union rule on every micro-batch, so micro-batch
  // boundaries and merge order can never change the state (the same
  // property that makes the batch aggregate partitioning-proof).
  // Bounded replay + complete mode ⇒ the final sketch equals the batch
  // sketch over all events, so the batch DIRECT-corpus SQL (q311's
  // sample CTEs) gates it; percentile extraction runs batch-side on
  // the sink output (≤ |types| rows — the q173 fold discipline).
  // ---------------------------------------------------------------------
  private val q317 = QueryDef(
    "q317_stream_quantile_sketch",
    (outer, dir) => {
      val spark = streamSession(outer)
      import spark.implicits._
      import graft.functions.{Portable, QuantileSketchAgg}
      import graft.operators.ScalePatterns.{QskK, QskPcts}
      val sketched = eventsStream(spark, dir)
        .filter($"value".isNotNull && $"event_id".isNotNull)
        .withColumn("cents",
          ($"value".cast(org.apache.spark.sql.types.DecimalType(28, 2)) * 100)
            .cast("long"))
        .groupBy($"event_type")
        .agg(QuantileSketchAgg.sketch(
          Portable.md5Hash64(concat(lit("qsk|"), $"event_id".cast("string"))),
          $"cents", QskK).as("sk"))
        .select($"event_type", $"sk.n".as("n"), $"sk.sample".as("sample"))
      runToParquet(sketched, "complete")
        .withColumn("sample_n", size($"sample").cast("long"))
        .withColumn("p_pct", explode(typedLit(QskPcts)))
        .withColumn("est_cents", element_at($"sample",
          expr("(p_pct * sample_n + 99) div 100").cast("int")))
        .select($"event_type", $"p_pct", $"n", $"sample_n", $"est_cents")
        .orderBy($"event_type", $"p_pct")
    },
    Some(s"""
      WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
               ${graft.functions.Portable.md5Hash64Sql(
                 "'qsk|' || CAST(event_id AS VARCHAR)")} AS h
        FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      dist AS (SELECT event_type, h, min(cents) AS cents
               FROM c GROUP BY 1, 2),
      hranked AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM dist),
      samp AS (SELECT event_type, cents FROM hranked
               WHERE rn <= ${graft.operators.ScalePatterns.QskK}),
      sstat AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sample_n
                FROM samp GROUP BY 1),
      nstat AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                FROM c GROUP BY 1),
      sorted AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY cents) AS vr
        FROM samp),
      pcts AS (SELECT CAST(unnest([${
        graft.operators.ScalePatterns.QskPcts.mkString(", ")}]) AS BIGINT)
                 AS p_pct)
      SELECT s.event_type, p.p_pct, ns.n, ss.sample_n,
             s.cents AS est_cents
      FROM sorted s
      JOIN sstat ss ON ss.event_type = s.event_type
      JOIN nstat ns ON ns.event_type = s.event_type
      CROSS JOIN pcts p
      WHERE s.vr = (p.p_pct * ss.sample_n + 99) // 100
      ORDER BY s.event_type, p.p_pct"""))

  // ---------------------------------------------------------------------
  // q265 — STREAMING DISTRIBUTION-DRIFT MONITOR: the production shape of
  // q197 — the χ² homogeneity readout is maintained WHILE events stream
  // in, not in a nightly batch compare. Per event_type, ValueState
  // holds the (band, parity-side) count cells (≤ |value bands| × 2
  // longs — value-domain-bounded model state, never event-bounded) plus
  // a monotone n_seen; every batch emits the type's refreshed cells,
  // the final emission wins (max n_seen, the q128 discipline), and the
  // χ² terms are computed AFTER the stream from the final exact counts
  // with q197's own fixed-order expressions. Counts are commutative, so
  // stream ≡ batch exactly and the oracle IS q197's SQL, verbatim
  // (Series.driftOracleSql — one SQL string checks both engines' batch
  // and streaming paths). Cents quantize through the SAME decimal cast
  // both engines use, replayed in Scala via BigDecimal HALF_UP.
  // ---------------------------------------------------------------------
  private[graft] final case class DriftEv(
      event_id: Long, event_type: String, value: Double)
  private[graft] final case class DriftCell(band: Long, oA: Long, oB: Long)
  private[graft] final case class DriftSt(nSeen: Long, cells: Seq[DriftCell])
  private[graft] final case class DriftOut(
      event_type: String, band: Long, o_a: Long, o_b: Long, n_seen: Long)

  private[graft] class DriftProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DriftEv, DriftOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[DriftSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DriftSt]("drift_cells",
        org.apache.spark.sql.Encoders.product[DriftSt], TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[DriftEv],
        tv: TimerValues): Iterator[DriftOut] = {
      val s = if (st.exists()) st.get() else DriftSt(0L, Nil)
      val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      s.cells.foreach(c => acc(c.band) = (c.oA, c.oB))
      var seen = s.nSeen
      rows.foreach { e =>
        // the exact decimal-cast cents both engines' batch paths use
        val cents = new java.math.BigDecimal(e.value)
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .movePointRight(2).longValueExact()
        val band = if (cents >= 0) cents / 5000L else -((-cents) / 5000L)
        val (a, b) = acc.getOrElse(band, (0L, 0L))
        if (e.event_id % 2 == 0) acc(band) = (a + 1L, b)
        else acc(band) = (a, b + 1L)
        seen += 1L
      }
      val cells = acc.toSeq.sortBy(_._1)
        .map { case (band, (a, b)) => DriftCell(band, a, b) }
      st.update(DriftSt(seen, cells))
      cells.iterator.map(c => DriftOut(key, c.band, c.oA, c.oB, seen))
    }
  }

  /** The q265 build, chunking exposed for the replay-independence spec
    * (the q235 contract). Null-ts events ride a sentinel day so the
    * replay covers EXACTLY the batch q197 population (which filters on
    * event_id/value only).
    */
  private[graft] def streamDriftCells(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ev = replay(outer, "day", nChunks)(Tables.events(_, dir)
      .filter(col("event_id").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"),
        coalesce(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01")))
          .as("day")))
    import ev.sparkSession.implicits._
    val updates = ev
      .select(col("event_id"), col("event_type"), col("value"))
      .as[DriftEv]
      .groupByKey(_.event_type)
      .transformWithState(new DriftProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
    val all = runToParquet(updates, "update")
    val last = all.groupBy(col("event_type"))
      .agg(max(col("n_seen")).as("n_seen"))
    val cells = all
      .join(org.apache.spark.sql.functions.broadcast(last),
        Seq("event_type", "n_seen"))
      .select(col("event_type"), col("band"), col("o_a"), col("o_b"))
    val marg = cells.groupBy(col("event_type"))
      .agg(sum(col("o_a")).as("n_a"), sum(col("o_b")).as("n_b"))
    cells.join(marg, Seq("event_type"))
      .withColumn("e_a",
        ((col("o_a") + col("o_b")) * col("n_a")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      .withColumn("e_b",
        ((col("o_a") + col("o_b")) * col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      .withColumn("chi2_term",
        (col("o_a").cast("double") - col("e_a")) *
          (col("o_a").cast("double") - col("e_a")) / col("e_a") +
          (col("o_b").cast("double") - col("e_b")) *
            (col("o_b").cast("double") - col("e_b")) / col("e_b"))
      .select(col("event_type"), col("band"), col("o_a"), col("o_b"),
        col("chi2_term"))
      .orderBy(col("event_type"), col("band"))
  }

  private val q265 = QueryDef(
    "q265_stream_drift_monitor",
    (outer, dir) => streamDriftCells(outer, dir, 2),
    Some(graft.operators.Series.driftOracleSql))

  // ---------------------------------------------------------------------
  // q268 — SESSION-TIMEOUT CLOSURE via EVENT-TIME TIMERS: the last
  // un-exercised corner of the Spark 4 arbitrary-state API (T9) —
  // every prior transformWithState query is input-driven; this one
  // emits on TIME PASSING. Per user, ValueState holds the single open
  // session; an in-batch successor event beyond the 30-minute gap
  // closes it immediately (emit + reopen), and the TIMER closes it
  // when the event-time watermark passes last_event + 30 min with no
  // successor — handleExpiredTimer is the only place a final session
  // can be emitted from. The emitted set is therefore EXACTLY: every
  // non-final session (closed by its successor) plus each user's final
  // session iff its timeout precedes the terminal watermark (= the
  // tape's max event time at delay 0) — which is what the batch SQL
  // oracle states declaratively (q63's gap rule + the watermark-proof
  // filter): the q235 completed-bars discipline with time, not data,
  // as the completer. Timers are re-armed per batch (delete + register
  // — ≤ 1 pending per user, the state bound declares 2 rows/user for
  // value + timer).
  // ---------------------------------------------------------------------
  private[graft] final case class SessEv(
      user_id: Long, tus: Long, event_id: Long, cents: Long)
  private[graft] final case class SessSt(
      startUs: Long, lastUs: Long, n: Long, cents: Long, timerMs: Long)
  private[graft] final case class SessOut(
      user_id: Long, session_start_us: Long, session_end_us: Long,
      n_events: Long, value_cents: Long)

  private val SessGapUs = 30L * 60 * 1000000

  private[graft] class SessionTimeoutProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessEv, SessOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[SessSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessSt]("open_session",
        org.apache.spark.sql.Encoders.product[SessSt], TTLConfig.NONE)
    private def emit(key: Long, s: SessSt): SessOut =
      SessOut(key, s.startUs, s.lastUs, s.n, s.cents)
    override def handleInputRows(
        key: Long, rows: Iterator[SessEv],
        tv: TimerValues): Iterator[SessOut] = {
      val out = scala.collection.mutable.ListBuffer.empty[SessOut]
      var s = if (st.exists()) st.get() else null
      rows.toArray.sortBy(e => (e.tus, e.event_id)).foreach { e =>
        if (s == null) s = SessSt(e.tus, e.tus, 1L, e.cents, 0L)
        else if (e.tus - s.lastUs <= SessGapUs)
          s = s.copy(lastUs = e.tus, n = s.n + 1L, cents = s.cents + e.cents)
        else {
          out += emit(key, s) // closed by its in-stream successor
          s = SessSt(e.tus, e.tus, 1L, e.cents, 0L)
        }
      }
      if (s != null) {
        if (s.timerMs > 0L) getHandle.deleteTimer(s.timerMs)
        val timerMs = (s.lastUs + SessGapUs) / 1000L
        getHandle.registerTimer(timerMs)
        st.update(s.copy(timerMs = timerMs))
      }
      out.iterator
    }
    override def handleExpiredTimer(
        key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessOut] =
      if (st.exists()) {
        val s = st.get()
        if (info.getExpiryTimeInMs >= (s.lastUs + SessGapUs) / 1000L) {
          st.clear()
          Iterator.single(emit(key, s)) // closed by time passing
        } else Iterator.empty
      } else Iterator.empty
  }

  /** The q268 build, chunking exposed for the replay spec. */
  private[graft] def streamSessionTimeouts(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ev = replay(outer, "day", nChunks)(Tables.events(_, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"),
        expr("CAST(round(coalesce(value, 0) * 100) AS BIGINT)").as("cents"),
        to_date(col("ts")).as("day")))
    import ev.sparkSession.implicits._
    val closed = ev
      .withColumn("ts", timestamp_micros(col("tus")))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("tus"), col("event_id"), col("cents"))
      .as[SessEv]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
    runToParquet(closed, "append")
      .select(col("user_id"),
        timestamp_micros(col("session_start_us")).as("session_start"),
        timestamp_micros(col("session_end_us")).as("session_end"),
        col("n_events"), col("value_cents"))
      .orderBy(col("user_id"), col("session_start"))
  }

  private val q268 = QueryDef(
    "q268_stream_session_timeout",
    // 4 chunks, not the 2 of the other replay queries: the driver-contract
    // run keeps one query whose state (sessions + event-time timers)
    // crosses more than one micro-batch boundary
    (outer, dir) => streamSessionTimeouts(outer, dir, 4),
    Some("""
      WITH ev AS (
        SELECT user_id, ts, event_id,
               CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      w AS (
        SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY
                   user_id ORDER BY ts, event_id)) > 1800000000
                 THEN 1 ELSE 0 END AS brk
        FROM ev),
      s AS (
        SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS sid
        FROM w),
      sess AS (
        SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, sid),
      wm AS (SELECT max(ts) AS max_ts FROM ev)
      SELECT user_id, session_start, session_end, n_events, value_cents
      FROM sess, wm
      WHERE epoch_us(session_end) + 1800000000 <= epoch_us(max_ts)
      ORDER BY user_id, session_start"""))

  override val defs: Seq[QueryDef] = Seq(q41, q42, q43, q55, q74, q77, q86, q103, q104, q128, q136, q147, q157, q173, q206, q265, q268, q317)
}
