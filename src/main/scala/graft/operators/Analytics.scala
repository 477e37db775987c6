package graft.operators

import graft.{QueryDef, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-analytics and governance operators over the events table — the
  * product-analytics layer a pipeline like the reference's dashboard
  * (orchestration/app.py) grows into: cohort retention, conversion
  * funnels, data-quality auditing, and CDC-style changeset merge.
  *
  * Scale notes: retention and funnel are each ONE shuffle on user_id —
  * the per-user window/aggregate reuses that partitioning for every
  * subsequent step; cohort sizes are a tiny broadcast. The DQ audit is a
  * single full-scan aggregate (every metric computed in one pass, then
  * unpivoted — never one scan per metric). The merge is a key-partitioned
  * full-outer join; at operating scale the changeset side is typically
  * small enough to broadcast, which drops even that shuffle.
  *
  * Determinism: counts and integer date arithmetic throughout; every
  * rate is exact-int / exact-int in one double division.
  */
object Analytics extends QueryModule {

  // ---------------------------------------------------------------------
  // q88 — weekly retention cohorts: users grouped by first-seen week;
  // for each (cohort, week-offset k) the distinct users still active.
  // week_k is pure integer date arithmetic (days div 7) — no float, no
  // interval ambiguity; both engines truncate weeks to Monday.
  // ---------------------------------------------------------------------
  private val q88 = QueryDef(
    "q88_retention_cohorts",
    (spark, dir) => {
      import spark.implicits._
      val active = Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .select($"user_id", to_date(date_trunc("week", $"ts")).as("week"))
        .distinct()
      val cohort = active.groupBy($"user_id")
        .agg(min($"week").as("cohort_week"))
      val sizes = cohort.groupBy($"cohort_week")
        .agg(count(lit(1)).as("cohort_size"))
      active.join(cohort, "user_id")
        .withColumn("week_k",
          expr("CAST(datediff(week, cohort_week) div 7 AS BIGINT)"))
        .groupBy($"cohort_week", $"week_k")
        .agg(countDistinct($"user_id").as("n_active"))
        .join(broadcast(sizes), "cohort_week")
        .withColumn("retention",
          $"n_active".cast("double") / $"cohort_size".cast("double"))
        .orderBy($"cohort_week", $"week_k")
    },
    Some("""
      WITH a AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events WHERE ts IS NOT NULL),
      c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1),
      s AS (SELECT cohort_week, count(*) AS cohort_size FROM c GROUP BY 1),
      r AS (
        SELECT c.cohort_week,
               CAST((a.week - c.cohort_week) // 7 AS BIGINT) AS week_k,
               count(DISTINCT a.user_id) AS n_active
        FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2)
      SELECT r.cohort_week, r.week_k, r.n_active, s.cohort_size,
             CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
      FROM r JOIN s ON r.cohort_week = s.cohort_week
      ORDER BY r.cohort_week, r.week_k"""))

  // ---------------------------------------------------------------------
  // q89 — ordered conversion funnel (view → click → purchase, strictly
  // increasing event time per user): each stage's timestamp is a
  // conditional min over the user's partition referencing the previous
  // stage — three chained window projections, ONE shuffle total. The
  // per-user frame then collapses to corpus-level stage counts and
  // conversion rates.
  // ---------------------------------------------------------------------
  private val q89 = QueryDef(
    "q89_funnel",
    (spark, dir) => {
      import spark.implicits._
      // staged AGGREGATES, not per-user windows: each stage's conditional
      // min is a map-side-combined groupBy joined back onto the events
      // (the user_id exchange is planned once and reused). Unlike a
      // whole-partition window, the SMJ shape is AQE-skew-splittable, so
      // a bot user owning half the tape cannot serialize one task — the
      // r10 "declared user_id contract" fix for the unordered-window
      // funnel family.
      val ev = Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .select($"user_id", $"event_type", $"ts")
      // null-safe joins: a NULL user_id is one partition cell under the
      // oracle's window semantics, so it must stay one group here too
      val g1 = ev.groupBy($"user_id".as("u1"))
        .agg(min(when($"event_type" === "view", $"ts")).as("v"))
      val g2 = ev.join(g1, $"user_id" <=> $"u1")
        .groupBy($"user_id", $"v")
        .agg(min(when($"event_type" === "click" && $"ts" > $"v", $"ts")).as("c"))
        .withColumnRenamed("user_id", "u2")
      val perUser = ev.join(g2, $"user_id" <=> $"u2")
        .groupBy($"user_id", $"v", $"c")
        .agg(min(when($"event_type" === "purchase" && $"ts" > $"c", $"ts")).as("p"))
      perUser.agg(
          count(lit(1)).as("n_users"),
          sum(when($"v".isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when($"c".isNotNull, 1L).otherwise(0L)).as("n_view_click"),
          sum(when($"p".isNotNull, 1L).otherwise(0L)).as("n_full_funnel"))
        .withColumn("click_through",
          $"n_view_click".cast("double") / $"n_view".cast("double"))
        .withColumn("purchase_through",
          $"n_full_funnel".cast("double") / $"n_view_click".cast("double"))
    },
    Some("""
      WITH staged AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS v_ts,
               ts, event_type
        FROM events WHERE ts IS NOT NULL),
      staged2 AS (
        SELECT user_id, v_ts,
               min(CASE WHEN event_type = 'click' AND ts > v_ts THEN ts END)
                 OVER (PARTITION BY user_id) AS c_ts,
               ts, event_type
        FROM staged),
      staged3 AS (
        SELECT user_id, v_ts, c_ts,
               min(CASE WHEN event_type = 'purchase' AND ts > c_ts THEN ts END)
                 OVER (PARTITION BY user_id) AS p_ts
        FROM staged2),
      per_user AS (
        SELECT user_id, max(v_ts) AS v, max(c_ts) AS c, max(p_ts) AS p
        FROM staged3 GROUP BY 1),
      agg AS (
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
               CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        FROM per_user)
      SELECT n_users, n_view, n_view_click, n_full_funnel,
             CAST(n_view_click AS DOUBLE) / CAST(n_view AS DOUBLE) AS click_through,
             CAST(n_full_funnel AS DOUBLE) / CAST(n_view_click AS DOUBLE) AS purchase_through
      FROM agg"""))

  // ---------------------------------------------------------------------
  // q90 — data-quality audit (the Deequ-style constraint report a
  // production table carries): completeness, range, uniqueness and
  // freshness metrics for lineitem, ALL computed in one full-scan
  // aggregate and unpivoted with stack() — an audit must never cost one
  // scan per metric. Values are integers (dates as days-since-epoch), so
  // the report is exact.
  // ---------------------------------------------------------------------
  private val q90 = QueryDef(
    "q90_dq_audit",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .agg(
          count(lit(1)).as("row_count"),
          sum(when($"l_shipdate".isNull, 1L).otherwise(0L)).as("null_shipdate"),
          sum(when($"l_extendedprice".isNull, 1L).otherwise(0L)).as("null_price"),
          sum(when($"l_extendedprice" <= 0, 1L).otherwise(0L)).as("nonpositive_price"),
          sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L).otherwise(0L))
            .as("qty_out_of_range"),
          countDistinct($"l_orderkey", $"l_linenumber").as("distinct_line_keys"),
          countDistinct($"l_orderkey").as("distinct_orders"),
          datediff(max(to_date($"l_shipdate")), lit("1992-01-01").cast("date"))
            .cast("long").as("freshness_days"))
        .withColumn("dup_line_keys", $"row_count" - $"distinct_line_keys")
        .select(expr("""stack(9,
          'dup_line_keys', dup_line_keys,
          'distinct_line_keys', distinct_line_keys,
          'distinct_orders', distinct_orders,
          'freshness_days', freshness_days,
          'nonpositive_price', nonpositive_price,
          'null_price', null_price,
          'null_shipdate', null_shipdate,
          'qty_out_of_range', qty_out_of_range,
          'row_count', row_count) AS (metric, value)"""))
        .orderBy($"metric")
    },
    Some("""
      WITH m AS (
        SELECT count(*) AS row_count,
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
               CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price,
               CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
               CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_out_of_range,
               CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS distinct_line_keys,
               count(DISTINCT l_orderkey) AS distinct_orders,
               CAST(max(CAST(l_shipdate AS DATE)) - DATE '1992-01-01' AS BIGINT) AS freshness_days
        FROM lineitem)
      SELECT metric, value FROM (
        SELECT 'dup_line_keys' AS metric, row_count - distinct_line_keys AS value FROM m
        UNION ALL SELECT 'distinct_line_keys', distinct_line_keys FROM m
        UNION ALL SELECT 'distinct_orders', distinct_orders FROM m
        UNION ALL SELECT 'freshness_days', freshness_days FROM m
        UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM m
        UNION ALL SELECT 'null_price', null_price FROM m
        UNION ALL SELECT 'null_shipdate', null_shipdate FROM m
        UNION ALL SELECT 'qty_out_of_range', qty_out_of_range FROM m
        UNION ALL SELECT 'row_count', row_count FROM m)
      ORDER BY metric"""))

  // ---------------------------------------------------------------------
  // q91 — CDC changeset merge (MERGE INTO semantics without a table
  // format): a deterministic changeset (updates: id%10=3 doubled;
  // deletes: id%10=7; inserts: id%10=1 cloned above the id space) applied
  // to the base snapshot through one key-partitioned full-outer join —
  // update wins over base, delete drops the row, insert survives the
  // null-base side. Doubling a 2-decimal double is exact (×2 is a power
  // of two), so the verification cents stay oracle-exact. At operating
  // scale the changeset is usually broadcast-sized, turning the merge
  // into a map-side operation; the full-outer form shown is the
  // worst-case (changeset ~ table) shape.
  // ---------------------------------------------------------------------
  private val q91 = QueryDef(
    "q91_merge_changeset",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .select($"event_id", $"event_type", $"value")
      val changes = base.filter($"event_id" % 10 === 3)
        .withColumn("value", $"value" * 2)
        .withColumn("op", lit("update"))
        .unionByName(
          base.filter($"event_id" % 10 === 7).withColumn("op", lit("delete")))
        .unionByName(
          base.filter($"event_id" % 10 === 1)
            .withColumn("event_id", $"event_id" + lit(1000000000L))
            .withColumn("op", lit("insert")))
      base.as("b")
        .join(changes.as("ch"), Seq("event_id"), "full_outer")
        .filter(coalesce($"ch.op", lit("keep")) =!= "delete")
        .select($"event_id",
          coalesce($"ch.event_type", $"b.event_type").as("event_type"),
          coalesce($"ch.value", $"b.value").as("value"))
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(($"value".cast(DecimalType(28, 2)) * 100).cast("long")).as("value_cents"))
        .orderBy($"event_type")
    },
    Some("""
      WITH base AS (
        SELECT event_id, event_type, value FROM events WHERE ts IS NOT NULL),
      merged AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 10 = 3 THEN value * 2 ELSE value END AS value
        FROM base WHERE event_id % 10 <> 7
        UNION ALL
        SELECT event_id + 1000000000, event_type, value
        FROM base WHERE event_id % 10 = 1)
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
      FROM merged GROUP BY 1 ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q95 — DAU / trailing-30-day MAU / stickiness per day. The naive MAU
  // (per-day distinct over a 30-day range) rescans each row 30× inside a
  // window; the scalable rewrite explodes each DISTINCT (user, day) into
  // the ≤ 30 window-days it contributes to — a bounded ×30 fan-out of the
  // already-deduplicated activity table, then one (user, window-day)
  // dedup. The DuckDB oracle states the same semantics as a range join,
  // checking the rewrite against the declarative form.
  // ---------------------------------------------------------------------
  private val q95 = QueryDef(
    "q95_active_users",
    (spark, dir) => {
      import spark.implicits._
      val a = Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .select($"user_id", to_date($"ts").as("day"))
        .distinct()
      val days = a.select($"day").distinct()
      val dau = a.groupBy($"day").agg(count(lit(1)).as("dau"))
      val mau = a
        .select($"user_id",
          explode(sequence($"day", date_add($"day", 29))).as("day"))
        .join(broadcast(days), Seq("day"), "leftsemi")
        .distinct()
        .groupBy($"day").agg(count(lit(1)).as("mau"))
      dau.join(mau, "day")
        .withColumn("stickiness",
          $"dau".cast("double") / $"mau".cast("double"))
        .orderBy($"day")
    },
    Some("""
      WITH a AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE ts IS NOT NULL),
      days AS (SELECT DISTINCT day FROM a),
      dau AS (SELECT day, count(*) AS dau FROM a GROUP BY 1),
      m AS (
        SELECT DISTINCT a.user_id, d.day
        FROM a JOIN days d ON d.day BETWEEN a.day AND a.day + 29),
      mau AS (SELECT day, count(*) AS mau FROM m GROUP BY 1)
      SELECT dau.day, dau.dau, mau.mau,
             CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
      FROM dau JOIN mau ON dau.day = mau.day
      ORDER BY dau.day"""))

  // ---------------------------------------------------------------------
  // q124 — batch sessionization (gaps-and-islands): the batch twin of
  // q74's streaming session_window. A session breaks after 30 min of
  // per-user inactivity; session ids are a running sum of break flags
  // over the (user_id) partition ordered by (ts, event_id) — the unique
  // ordering key makes lag/sum frames identical on both engines. Scale
  // shape: ONE shuffle (partition by user_id), two window passes over the
  // same partitioning (Catalyst plans them in a single sort), then a
  // partial-aggregated groupBy on (user_id, session_seq) that reuses the
  // partitioning — no second exchange. Gap arithmetic is integer epoch
  // micros end-to-end; money is exact cents.
  // ---------------------------------------------------------------------
  /** Session gap: a >30-minute idle period starts a new session (shared
    * by q63/q124/q132/q184 — one rule, one constant).
    */
  private[graft] val SessionGapUs = 1800L * 1000000L

  /** Segmented per-user ordered scan — the chunkedTicks discipline
    * applied to the EVENTS tape (r10 verdict "What's wrong" #1: the
    * `user_id` window bound was a declared input contract, not a
    * construction guarantee; a bot user with 10⁸ events was a straggler
    * window no CI could see). Every per-user sequential primitive the
    * engine needs decomposes associatively:
    *
    *   - the global lag of any column is a last-value fold,
    *   - the gaps-and-islands ids (session id, SCD2 version) are prefix
    *     sums of break flags, where only the CHUNK-HEAD flag depends on
    *     cross-chunk state (the prior chunk's last row).
    *
    * So: (1) rangepartition the tape on (user_id, tus, event_id) —
    * chunks are contiguous ranges, a hot user splits across chunks,
    * localCheckpoint pins the chunk ids (the chunkedTicks hazard: two
    * consumptions must see identical boundaries); (2) chunk-local lags,
    * flags and running sums per (user_id, _pid) — bounded by chunk size
    * by construction; (3) per-(user, chunk) summaries (first/last row,
    * flag sums) — the `cu`-grain window over them sees ≤ |partitions|
    * rows per user; (4) summaries stitch back via a SHUFFLE join on
    * (user_id, _pid) — never a broadcast: |users| is corpus-scaled, and
    * the composite key spreads a hot user's rows across chunks anyway.
    *
    * Input: any frame with non-null `tus` (epoch micros) and a unique
    * `event_id` tiebreak; `event_type` non-null where `version` is
    * consumed (the fixture contract — all call sites filter upstream).
    * Output: input columns + `_pid`, `has_prev` (a strictly prior row
    * exists for this user), `prev_tus`, `prev_type` (global per-user
    * lag), `sid` (1-based >30-min-gap session id) and `version`
    * (1-based event_type run id). Exact at ANY chunking by
    * associativity; the hot-user ScaleBehaviorSpec replays a user
    * owning half the tape against the naive global window.
    */
  private[graft] def chunkedUserScan(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val parted = ev
      .repartitionByRange(col("user_id"), col("tus"), col("event_id"))
      .localCheckpoint(false)
      .withColumn("_pid", spark_partition_id())
    val wC = Window.partitionBy("user_id", "_pid").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCrow = Window.partitionBy("user_id", "_pid").orderBy("tus", "event_id")
    val local = parted
      .withColumn("_rn", row_number().over(wCrow))
      .withColumn("_ltus", lag($"tus", 1).over(wCrow))
      .withColumn("_ltype", lag($"event_type", 1).over(wCrow))
      // local break flags: head rows (no in-chunk prev) contribute 0 here
      // and resolve at summary grain against the prior chunk's last row
      .withColumn("_gbrk",
        when($"_rn" === 1, 0L)
          .when($"tus" - $"_ltus" > SessionGapUs, 1L).otherwise(0L))
      .withColumn("_vbrk",
        when($"_rn" === 1, 0L)
          .when($"_ltype" =!= $"event_type", 1L).otherwise(0L))
      .withColumn("_gcum", sum($"_gbrk").over(wC))
      .withColumn("_vcum", sum($"_vbrk").over(wC))
    // per-(user, chunk) summaries: ≤ |partitions| rows per user by
    // construction — (tus, event_id) is unique, so struct min/max pick
    // the chunk's head/tail rows exactly
    val sums = local
      .groupBy($"user_id".as("cu"), $"_pid".as("cpid"))
      .agg(
        min(struct($"tus", $"event_id", $"event_type")).as("first_r"),
        max(struct($"tus", $"event_id", $"event_type")).as("last_r"),
        sum($"_gbrk").as("gbrks"),
        sum($"_vbrk").as("vbrks"))
    val wCu = Window.partitionBy("cu").orderBy("cpid")
    val info = sums
      .withColumn("prev_last", lag($"last_r", 1).over(wCu))
      .withColumn("head_gbrk",
        when($"prev_last".isNull, 1L) // the user's very first row
          .when($"first_r.tus" - $"prev_last.tus" > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("head_vbrk",
        when($"prev_last".isNull, 1L)
          .when($"prev_last.event_type" =!= $"first_r.event_type", 1L)
          .otherwise(0L))
      .withColumn("g_off", coalesce(
        sum($"gbrks" + $"head_gbrk")
          .over(wCu.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("v_off", coalesce(
        sum($"vbrks" + $"head_vbrk")
          .over(wCu.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"cu", $"cpid", $"prev_last", $"head_gbrk", $"head_vbrk",
        $"g_off", $"v_off")
    local
      .join(info,
        local("user_id") <=> info("cu") && local("_pid") === info("cpid"))
      .withColumn("has_prev", $"_rn" > 1 || $"prev_last".isNotNull)
      .withColumn("prev_tus",
        when($"_rn" === 1, $"prev_last.tus").otherwise($"_ltus"))
      .withColumn("prev_type",
        when($"_rn" === 1, $"prev_last.event_type").otherwise($"_ltype"))
      .withColumn("sid", $"g_off" + $"head_gbrk" + $"_gcum")
      .withColumn("version", $"v_off" + $"head_vbrk" + $"_vcum")
      .drop("cu", "cpid", "prev_last", "head_gbrk", "head_vbrk", "g_off",
        "v_off", "_rn", "_ltus", "_ltype", "_gbrk", "_vbrk", "_gcum", "_vcum")
  }

  /** The scanned-events SILVER table ([[Silver]] registry: `user_scan`):
    * the chunk-stitched event tape — global per-user lags + session and
    * version islands — materializes ONCE per input dir and the whole
    * per-user-sequence family (q63/q124 sessions, q139/q181 SCD2, q150
    * transitions, q184 concurrency) reads it back.
    */
  private[operators] def userScan(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Scoped.shared(spark, "user_scan", dir)(
      (Nil, chunkedUserScan(
        Tables.events(spark, dir)
          .filter($"ts".isNotNull)
          .withColumn("tus", unix_micros($"ts")))))
  }

  /** Session roll-up from a [[chunkedUserScan]] frame, keeping the raw
    * min/max epoch-micros columns so callers (q124's report, q132's
    * boundary merge) can do exact integer arithmetic on session extents.
    */
  private def sessionsFrom(scanned: DataFrame): DataFrame = {
    import scanned.sparkSession.implicits._
    scanned
      .groupBy($"user_id", $"sid".as("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        min($"tus").as("min_tus"),
        max($"tus").as("max_tus"),
        sum(($"value".cast(DecimalType(28, 2)) * 100).cast("long")).as("value_cents"))
  }

  /** Gaps-and-islands sessionization of an arbitrary events frame (q132's
    * base/delta subsets). The full-corpus path should read the
    * [[userScan]] silver instead.
    */
  private[operators] def sessionize(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import ev.sparkSession.implicits._
    sessionsFrom(chunkedUserScan(
      ev.filter($"ts".isNotNull).withColumn("tus", unix_micros($"ts"))))
  }

  /** The q124 report shape: derived seconds, raw extents dropped. */
  private def sessionReport(sessions: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import sessions.sparkSession.implicits._
    sessions
      // integer floor-div, never float: a double quotient can land an
      // ulp below the true integer and flip the truncation
      .withColumn("session_secs", expr("(max_tus - min_tus) div 1000000"))
      .drop("min_tus", "max_tus")
      .orderBy($"user_id", $"session_seq")
  }

  /** Full-recompute sessionization oracle — q124's check, and, unchanged,
    * q132's: the incremental merge must be INDISTINGUISHABLE from
    * sessionizing everything from scratch, so both queries share it.
    */
  private val sessionizeOracle = """
      WITH e AS (
        SELECT user_id, event_id, ts, value, epoch_us(ts) AS tus
        FROM events WHERE ts IS NOT NULL),
      g AS (
        SELECT *,
               tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS gap_us
        FROM e),
      s AS (
        SELECT *,
               sum(CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY tus, event_id) AS session_seq
        FROM g)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
             count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST((max(tus) - min(tus)) // 1000000 AS BIGINT) AS session_secs,
             CAST(sum(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
      FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq"""

  private val q124 = QueryDef(
    "q124_batch_sessionize",
    (spark, dir) => sessionReport(sessionsFrom(userScan(spark, dir))),
    Some(sessionizeOracle))

  // ---------------------------------------------------------------------
  // q132 — INCREMENTAL sessionization (the q114 incremental-dedup
  // discipline applied to q124): events split at a corpus-derived cutoff
  // (min + 80% of the span, exact integer micros) into a BASE — the
  // session table a production pipeline has already materialized — and a
  // DELTA, the newly arrived batch. Only the delta is sessionized; the
  // base's per-user BOUNDARY session (its last) merges with the delta's
  // first when the cross-cutoff gap is ≤ 30 min, and delta session ids
  // shift by the user's base count (minus the absorbed one). The oracle
  // is q124's FULL-RECOMPUTE SQL, unchanged — the hash gate proves the
  // incremental merge indistinguishable from sessionizing from scratch.
  // Scale shape: the base is never re-windowed (at scale it is a stored
  // table; here it is recomputed only because fixtures are immutable
  // inputs); the merge needs just each user's LAST base session and
  // FIRST delta session — two skinny keyed frames, broadcastable.
  // ---------------------------------------------------------------------
  private val q132 = QueryDef(
    "q132_incremental_sessionize",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).filter($"ts".isNotNull)
      val ext = ev.agg(
        min(unix_micros($"ts")).as("mn"), max(unix_micros($"ts")).as("mx"))
      val evx = ev.crossJoin(broadcast(ext)) // 1-row extents
        .withColumn("cut", expr("mn + ((mx - mn) * 4) div 5"))
      val cols = ev.columns.map(col)
      val base = evx.filter(unix_micros($"ts") < $"cut").select(cols: _*)
      val delta = evx.filter(unix_micros($"ts") >= $"cut").select(cols: _*)
      // r13 OPTIMIZATION (guide §2.4): incrementalMerge references its
      // base table 3× (last-session pick, kept-rows anti, offsets) and
      // the delta 2× — as lineage copies each re-executed the whole
      // chunk-scan sessionize (the before-plan holds 168 Exchanges).
      // Materialize both session tables once; the merge then reads two
      // tiny parquets. Values unchanged; hash-gated.
      sessionReport(incrementalMerge(
        Scoped.materialize()(sessionize(base)),
        Scoped.materialize()(sessionize(delta))))
    },
    Some(sessionizeOracle))

  /** Merge a DELTA's sessions into a BASE session table: the per-user
    * boundary pair (base's last, delta's first) fuses when its gap is
    * ≤ 30 min, delta ids shift into the global numbering. Exposed so the
    * merge branch is spec-testable with synthetic boundary data — the
    * fixture's users are too sparse to ever merge naturally (asserted in
    * GraphFormatsSpec with a constructed cross-boundary session).
    */
  private[operators] def incrementalMerge(
      b: org.apache.spark.sql.DataFrame,
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import b.sparkSession.implicits._
    val GapUs = 1800L * 1000000L
    val bN = b.groupBy($"user_id").agg(max($"session_seq").as("b_n"))
    val bLast = b.join(bN, Seq("user_id")).filter($"session_seq" === $"b_n")
      .select($"user_id", $"b_n", $"n_events".as("b_nev"),
        $"session_start".as("b_start"), $"min_tus".as("b_min"),
        $"max_tus".as("b_max"), $"value_cents".as("b_cents"))
    val dFirst = d.filter($"session_seq" === 1)
      .select($"user_id", $"n_events".as("d_nev"),
        $"session_end".as("d_end"), $"min_tus".as("d_min"),
        $"max_tus".as("d_max"), $"value_cents".as("d_cents"))
    val mergedRows = bLast.join(dFirst, Seq("user_id"))
      .filter($"d_min" - $"b_max" <= GapUs)
    // base sessions minus the absorbed boundary, plus the merged rows
    val bKept = b
      .join(broadcast(mergedRows.select($"user_id", $"b_n".as("mseq"))),
        Seq("user_id"), "left")
      .filter($"mseq".isNull || $"session_seq" =!= $"mseq")
      .drop("mseq")
    val mergedOut = mergedRows.select(
      $"user_id", $"b_n".as("session_seq"),
      ($"b_nev" + $"d_nev").as("n_events"),
      $"b_start".as("session_start"), $"d_end".as("session_end"),
      $"b_min".as("min_tus"), $"d_max".as("max_tus"),
      (coalesce($"b_cents", lit(0L)) + coalesce($"d_cents", lit(0L)))
        .as("value_cents"))
    // delta sessions shifted into the global numbering
    val offsets = bN
      .join(mergedRows.select($"user_id", lit(1L).as("m")), Seq("user_id"), "left")
      .select($"user_id", $"b_n", coalesce($"m", lit(0L)).as("m"))
    val dShifted = d.join(broadcast(offsets), Seq("user_id"), "left")
      .withColumn("b_n", coalesce($"b_n", lit(0L)))
      .withColumn("m", coalesce($"m", lit(0L)))
      .filter(!($"m" === 1L && $"session_seq" === 1L))
      .withColumn("session_seq", $"session_seq" + $"b_n" - $"m")
      .drop("b_n", "m")
    bKept.unionByName(mergedOut).unionByName(dShifted)
  }

  // ---------------------------------------------------------------------
  // q150 — first-order Markov transition matrix over per-user event
  // sequences: P(next event type | current) estimated from adjacent
  // pairs in (ts, event_id) order — the behavioral-model counterpart of
  // q89's fixed funnel. One user_id shuffle for the lead() pass, one
  // (from, to) roll-up; the probability is exact-int / exact-int in a
  // single double division. Unique event_id tie-break keeps adjacent
  // pairs engine-identical under timestamp collisions.
  // ---------------------------------------------------------------------
  private val q150 = QueryDef(
    "q150_markov_transitions",
    (spark, dir) => {
      import spark.implicits._
      // adjacent pairs come from the chunk-stitched GLOBAL lag on the
      // user_scan silver: (prev_type → event_type) over rows with a
      // predecessor is the same pair multiset as lead()'s (type → next)
      val pairs = userScan(spark, dir)
        .filter($"user_id".isNotNull && $"has_prev")
        .groupBy($"prev_type".as("from_type"), $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
      val fromTot = pairs.groupBy($"from_type").agg(sum($"n").as("n_from"))
      pairs.join(broadcast(fromTot), "from_type")
        .withColumn("p", $"n".cast("double") / $"n_from".cast("double"))
        .withColumn("self_loop", when($"from_type" === $"to_type", 1).otherwise(0))
        .select($"from_type", $"to_type", $"n", $"n_from", $"p", $"self_loop")
        .orderBy($"from_type", $"to_type")
    },
    Some("""
      WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS next_type
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      ft AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
             FROM pairs GROUP BY 1)
      SELECT p.from_type, p.to_type, p.n, ft.n_from,
             CAST(p.n AS DOUBLE) / CAST(ft.n_from AS DOUBLE) AS p,
             CAST(CASE WHEN p.from_type = p.to_type THEN 1 ELSE 0 END AS INT)
               AS self_loop
      FROM pairs p JOIN ft ON p.from_type = ft.from_type
      ORDER BY p.from_type, p.to_type"""))

  // ---------------------------------------------------------------------
  // q178 — MERKLE-STYLE TABLE DIFF: reconcile two versions of a table
  // without comparing every row — the rsync/Merkle idea as a relational
  // plan. Version B is planted deterministically from A (value bumped
  // for id % 97 = 0, rows id % 101 = 0 deleted, shifted-id inserts for
  // id % 103 = 0). Both sides roll up to BLOCK digests (id div 1024:
  // row-hash sum mod P + count); only blocks whose digests disagree are
  // drilled — the row-level full-outer join is SEMI-JOINED down to the
  // mismatched block list first, so its cost is O(changed blocks), not
  // O(table). That pruning is the operator: at 100 TB, version diff
  // against yesterday touches the few blocks that changed plus one
  // digest pass per side, vs a full-table join every naive diff pays.
  // Output: per diff class (added/removed/changed), row count + id
  // extent, plus the blocks-touched audit the pruning claim rides on.
  // ---------------------------------------------------------------------
  private val DiffBlock = 1024L
  private val q178 = QueryDef(
    "q178_merkle_diff",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      // typ is nullable: an unguarded concat would NULL the row hash and
      // make NULL-typed rows invisible to block digests (a change confined
      // to them would never be drilled) — coalesce keeps them in the sum
      def rowHash(value: Column, typ: Column, id: Column): Column =
        Portable.md5Hash64(concat(id.cast("string"), lit("|"),
          value.cast("string"), lit("|"), coalesce(typ, lit("<null>")))) %
          Portable.P
      val a = Tables.events(spark, dir)
        .filter($"event_id".isNotNull && $"value".isNotNull)
        .select($"event_id".as("id"),
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long").as("cents"),
          $"event_type".as("typ"))
      val b = a.filter($"id" % 101 =!= 0) // deletes
        .withColumn("cents",
          when($"id" % 97 === 0, $"cents" + 1).otherwise($"cents")) // updates
        .unionByName(a.filter($"id" % 103 === 0)
          .select(($"id" + 1000000000L).as("id"), $"cents", $"typ")) // inserts
      def digests(t: DataFrame) = t
        .groupBy(expr(s"id div $DiffBlock").as("blk"))
        .agg(sum(rowHash($"cents", $"typ", $"id")).as("digest"),
          count(lit(1)).as("n"))
      val da = digests(a).select($"blk", $"digest".as("dig_a"), $"n".as("n_a"))
      val db = digests(b).select($"blk", $"digest".as("dig_b"), $"n".as("n_b"))
      val badBlocks = da.join(db, Seq("blk"), "full_outer")
        .filter($"dig_a".isNull || $"dig_b".isNull || $"dig_a" =!= $"dig_b" ||
          $"n_a" =!= $"n_b")
        .select($"blk")
      val aIn = a.withColumn("blk", expr(s"id div $DiffBlock"))
        .join(badBlocks, Seq("blk"), "left_semi")
      val bIn = b.withColumn("blk", expr(s"id div $DiffBlock"))
        .join(badBlocks, Seq("blk"), "left_semi")
      val rowDiff = aIn.select($"id", $"cents".as("c_a"), $"typ".as("t_a"))
        .join(bIn.select($"id", $"cents".as("c_b"), $"typ".as("t_b")),
          Seq("id"), "full_outer")
        .withColumn("class",
          when($"c_a".isNull, "added")
            .when($"c_b".isNull, "removed")
            .when($"c_a" =!= $"c_b" || $"t_a" =!= $"t_b", "changed"))
        .filter($"class".isNotNull)
      val nBlocks = badBlocks.agg(count(lit(1)).as("n_blocks_touched"))
      rowDiff.groupBy($"class")
        .agg(count(lit(1)).as("n_rows"),
          min($"id").as("min_id"), max($"id").as("max_id"))
        .crossJoin(broadcast(nBlocks))
        .orderBy($"class")
    },
    Some {
      val rowHashSql = (id: String, cents: String, typ: String) =>
        s"${graft.functions.Portable.md5Hash64Sql(
          s"CAST($id AS VARCHAR) || '|' || CAST($cents AS VARCHAR) || '|' || coalesce($typ, '<null>')")} % ${graft.functions.Portable.P}"
      s"""
      WITH a AS (
        SELECT event_id AS id,
               CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
               event_type AS typ
        FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
      b AS (
        SELECT id,
               CASE WHEN id % 97 = 0 THEN cents + 1 ELSE cents END AS cents,
               typ
        FROM a WHERE id % 101 <> 0
        UNION ALL
        SELECT id + 1000000000, cents, typ FROM a WHERE id % 103 = 0),
      da AS (
        SELECT id // $DiffBlock AS blk,
               CAST(sum(${rowHashSql("id", "cents", "typ")}) AS BIGINT) AS dig_a,
               count(*) AS n_a
        FROM a GROUP BY 1),
      db AS (
        SELECT id // $DiffBlock AS blk,
               CAST(sum(${rowHashSql("id", "cents", "typ")}) AS BIGINT) AS dig_b,
               count(*) AS n_b
        FROM b GROUP BY 1),
      bad AS (
        SELECT COALESCE(da.blk, db.blk) AS blk
        FROM da FULL OUTER JOIN db ON da.blk = db.blk
        WHERE da.blk IS NULL OR db.blk IS NULL OR da.dig_a <> db.dig_b
           OR da.n_a <> db.n_b),
      rowdiff AS (
        SELECT COALESCE(aa.id, bb.id) AS id,
               CASE WHEN aa.id IS NULL THEN 'added'
                    WHEN bb.id IS NULL THEN 'removed'
                    WHEN aa.cents <> bb.cents OR aa.typ <> bb.typ THEN 'changed'
               END AS class
        FROM (SELECT * FROM a WHERE id // $DiffBlock IN (SELECT blk FROM bad)) aa
        FULL OUTER JOIN
             (SELECT * FROM b WHERE id // $DiffBlock IN (SELECT blk FROM bad)) bb
          ON aa.id = bb.id),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks_touched FROM bad)
      SELECT class, CAST(count(*) AS BIGINT) AS n_rows,
             min(id) AS min_id, max(id) AS max_id, nb.n_blocks_touched
      FROM rowdiff, nb WHERE class IS NOT NULL
      GROUP BY class, nb.n_blocks_touched ORDER BY class"""
    })

  // ---------------------------------------------------------------------
  // q179 — K-ANONYMITY AUDIT: the governance gate before any event-level
  // dataset leaves the pipeline — every (event_type, day, value-band)
  // cell must cover at least K distinct users, else the cell is
  // re-identifiable. Value bands are integer cents div 5000 (portable
  // bucketing, no quantile dependence). Output per event_type: cell
  // census, sub-K cells, the at-risk exposure mass (Σ distinct users
  // over sub-K cells), the minimum cell population, and the suppression
  // fraction in exact millis — the numbers a privacy review actually
  // asks for. One rollup to cells + one rollup to types; both
  // map-side-combinable, the cell table is |types|×|days|×|bands|
  // bounded however large the event log.
  // ---------------------------------------------------------------------
  private val AnonK = 5L
  private val q179 = QueryDef(
    "q179_k_anonymity",
    (spark, dir) => {
      import spark.implicits._
      val cells = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull)
        .groupBy($"event_type", to_date($"ts").as("day"),
          expr(graft.functions.Portable.bandSql(
            "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)", 5000L, "div"))
            .as("band"))
        .agg(countDistinct($"user_id").as("k"))
      cells.groupBy($"event_type")
        .agg(
          count(lit(1)).as("n_cells"),
          sum(when($"k" < AnonK, 1L).otherwise(0L)).as("n_small_cells"),
          sum(when($"k" < AnonK, $"k").otherwise(0L)).as("exposures_at_risk"),
          min($"k").as("min_k"))
        .withColumn("suppress_milli",
          expr("(1000 * n_small_cells) div n_cells"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH cells AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ${graft.functions.Portable.bandSql(
                 "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)",
                 5000L, "//")} AS band,
               count(DISTINCT user_id) AS k
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2, 3)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(CASE WHEN k < $AnonK THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_cells,
             CAST(sum(CASE WHEN k < $AnonK THEN k ELSE 0 END) AS BIGINT)
               AS exposures_at_risk,
             CAST(min(k) AS BIGINT) AS min_k,
             CAST((1000 * sum(CASE WHEN k < $AnonK THEN 1 ELSE 0 END)) // count(*)
               AS BIGINT) AS suppress_milli
      FROM cells GROUP BY 1 ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q233 — L-DIVERSITY AUDIT (Machanavajjhala et al., ICDE'06): the
  // complement to q179's k-anonymity — a cell can cover K distinct users
  // yet still leak if they all share one SENSITIVE value (the
  // homogeneity attack). Same quasi-identifier cells (event_type, day,
  // value-band); sensitive attribute = props.k div 10 (ten classes).
  // Per cell: distinct-l (sensitive classes present), the mode share in
  // exact millis (the recursive-(c,l) disclosure proxy). Per type: cell
  // census, cells below L=3, min l, worst mode share, majority-class
  // cells. Two map-side-combinable rollups — the (cell, class) table is
  // |types|×|days|×|bands|×10 bounded however large the event log; no
  // user-level data survives the first aggregate.
  // ---------------------------------------------------------------------
  private val DivL = 3L
  private val q233 = QueryDef(
    "q233_l_diversity",
    (spark, dir) => {
      import spark.implicits._
      val sv = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull
          && $"props".isNotNull)
        .withColumn("j", from_json($"props",
          new org.apache.spark.sql.types.StructType()
            .add("k", org.apache.spark.sql.types.StringType)))
        .withColumn("sens", expr("try_cast(j.k AS BIGINT) div 10"))
        .filter($"sens".isNotNull)
        .groupBy($"event_type", to_date($"ts").as("day"),
          expr(graft.functions.Portable.bandSql(
            "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)", 5000L, "div"))
            .as("band"), $"sens")
        .agg(count(lit(1)).as("c"))
      val cells = sv.groupBy($"event_type", $"day", $"band")
        .agg(count(lit(1)).as("l"), sum($"c").as("n"), max($"c").as("mode"))
      cells.groupBy($"event_type")
        .agg(
          count(lit(1)).as("n_cells"),
          sum(when($"l" < DivL, 1L).otherwise(0L)).as("n_low_div"),
          min($"l").as("min_l"),
          max(expr("(1000 * mode) div n")).as("max_mode_milli"),
          sum(when(expr("(1000 * mode) div n") > 500, 1L).otherwise(0L))
            .as("n_majority_cells"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH sv AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ${graft.functions.Portable.bandSql(
                 "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)",
                 5000L, "//")} AS band,
               TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) // 10
                 AS sens,
               count(*) AS c
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
          AND props IS NOT NULL
          AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)
            IS NOT NULL
        GROUP BY 1, 2, 3, 4),
      cells AS (
        SELECT event_type, day, band,
               count(*) AS l, sum(c) AS n, max(c) AS mode
        FROM sv GROUP BY 1, 2, 3)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(CASE WHEN l < $DivL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_div,
             CAST(min(l) AS BIGINT) AS min_l,
             CAST(max((1000 * mode) // n) AS BIGINT) AS max_mode_milli,
             CAST(sum(CASE WHEN (1000 * mode) // n > 500 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_majority_cells
      FROM cells GROUP BY 1 ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q182 — RIGHT-TO-BE-FORGOTTEN CASCADE: a deletion-request batch
  // (customers with custkey ≡ 0 mod 53 — the deterministic stand-in for
  // the request queue) propagated through the referential chain
  // customer → orders → lineitem, plus the event log by user key. Each
  // table's audit row carries rows-before / rows-dropped / rows-after
  // and a checksum over the SURVIVING rows — the erasure evidence a
  // compliance review wants is about what REMAINS, not what left.
  // Mechanics: one anti-join per table, each keyed on the parent's
  // dropped-key set (broadcast-sized at operating scale — deletion
  // batches are small); the lineitem stage semi-joins the DROPPED
  // orders, never re-deriving from customers (single-parent chains keep
  // the cascade linear in depth, not fan-out).
  // ---------------------------------------------------------------------
  private val q182 = QueryDef(
    "q182_forget_cascade",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val P = Portable.P
      // ONE pass per table: mark dropped keys with a left join, then a
      // single aggregate carries before/dropped/after/checksum — no
      // driver-side counts, no second scan
      def audit(name: String, before: DataFrame, dropKeys: DataFrame,
          keyCol: Column): DataFrame =
        // distinct: the fixture's lineitem carries duplicate composite
        // keys, and a duplicated key in the marker set would fan the
        // left join out and inflate every count
        before.join(dropKeys.distinct(), keyCol === col("_dk"), "left")
          .agg(
            lit(name).as("table_name"),
            count(lit(1)).as("rows_before"),
            sum(when(col("_dk").isNotNull, 1L).otherwise(0L)).as("rows_dropped"),
            sum(when(col("_dk").isNull, 1L).otherwise(0L)).as("rows_after"),
            sum(when(col("_dk").isNull,
              Portable.md5Hash64(keyCol.cast("string")) % P).otherwise(0L))
              .as("survivor_checksum"))
      val cust = Tables.customer(spark, dir)
      val custDrop = cust.filter($"c_custkey" % 53 === 0)
      val orders = Tables.orders(spark, dir)
      val ordDrop = orders.join(
        custDrop.select($"c_custkey".as("o_custkey")), Seq("o_custkey"), "left_semi")
      val li = Tables.lineitem(spark, dir)
      val liDrop = li.join(
        ordDrop.select($"o_orderkey".as("l_orderkey")), Seq("l_orderkey"), "left_semi")
      val ev = Tables.events(spark, dir).filter($"event_id".isNotNull)
      val evDrop = ev.filter($"user_id".isNotNull && $"user_id" % 53 === 0)
      audit("customer", cust,
          custDrop.select($"c_custkey".as("_dk")), col("c_custkey"))
        .unionByName(audit("orders", orders,
          ordDrop.select($"o_orderkey".as("_dk")), col("o_orderkey")))
        .unionByName(audit("lineitem", li,
          // *100 keeps the packed key collision-free for any linenumber
          // < 100 (TPC-H caps at 7; FixtureCanarySpec pins the bound)
          liDrop.select(($"l_orderkey" * 100 + $"l_linenumber").as("_dk")),
          (col("l_orderkey") * 100 + col("l_linenumber"))))
        .unionByName(audit("events", ev,
          evDrop.select($"event_id".as("_dk")), col("event_id")))
        .orderBy($"table_name")
    },
    Some {
      val P = graft.functions.Portable.P
      def ck(e: String) =
        s"CAST(sum(${graft.functions.Portable.md5Hash64Sql(s"CAST($e AS VARCHAR)")} % $P) AS BIGINT)"
      s"""
      WITH custdrop AS (SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0),
      orddrop AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM custdrop)),
      lidrop AS (
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orddrop)),
      evdrop AS (
        SELECT event_id FROM events
        WHERE user_id IS NOT NULL AND user_id % 53 = 0 AND event_id IS NOT NULL)
      SELECT 'customer' AS table_name,
             (SELECT count(*) FROM customer) AS rows_before,
             (SELECT count(*) FROM custdrop) AS rows_dropped,
             CAST(count(*) AS BIGINT) AS rows_after,
             ${ck("c_custkey")} AS survivor_checksum
      FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM custdrop)
      UNION ALL
      SELECT 'events',
             (SELECT count(*) FROM events WHERE event_id IS NOT NULL),
             (SELECT count(*) FROM evdrop),
             CAST(count(*) AS BIGINT),
             ${ck("event_id")}
      FROM events WHERE event_id IS NOT NULL
        AND event_id NOT IN (SELECT event_id FROM evdrop)
      UNION ALL
      SELECT 'lineitem',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lidrop),
             CAST(count(*) AS BIGINT),
             ${ck("l_orderkey * 100 + l_linenumber")}
      FROM lineitem
      WHERE l_orderkey * 100 + l_linenumber NOT IN (
        SELECT l_orderkey * 100 + l_linenumber FROM lidrop)
      UNION ALL
      SELECT 'orders',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orddrop),
             CAST(count(*) AS BIGINT),
             ${ck("o_orderkey")}
      FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orddrop)
      ORDER BY table_name"""
    })

  // ---------------------------------------------------------------------
  // q184 — CONCURRENCY SWEEP-LINE (peak concurrent sessions per day):
  // the capacity-planning number behind every "how many workers do we
  // need" question. Sessions are the q124 gaps-and-islands (30-min
  // inactivity), then the classic sweep: +1 at start, −1 at end,
  // running sum, max. Two scale moves compose:
  //   (1) DAY SPLIT — a session crossing midnight is exploded into
  //       per-day segments FIRST, turning the inherently-sequential
  //       global sweep into |days| independent day-local sweeps;
  //   (2) HIERARCHICAL PREFIX SUM — a day-local sweep is STILL one
  //       window partition, and the hottest day's boundary points
  //       (2× that day's segments) would sort in ONE task at event
  //       scale. So the running sum decomposes over rangepartition
  //       chunks (the q22/q23 withGlobalRn discipline): range-shuffle
  //       on (day, ts, delta desc), chunk-local running sum + max in
  //       parallel windows bounded by chunk size, then a per-day
  //       exclusive prefix of chunk sums over the ≤|shuffle-partitions|
  //       per-chunk rows; day peak = max over chunks of
  //       (chunk offset + chunk-local max). Exact at any chunking
  //       because prefix sums compose associatively.
  // Tie rule: at equal instants +1 sorts before −1 (a session ending
  // exactly when another starts overlaps at that instant), pinned in
  // both engines — and rows with identical (day, ts, delta) land in ONE
  // chunk (RangePartitioner is a pure function of the key), so the
  // chunk boundary never cuts a tie group in an order-sensitive way.
  // ---------------------------------------------------------------------

  /** Per-(day, chunk) partial sweep state over boundary points
    * (day, ts, delta): chunk_sum, chunk-local running max, segment
    * starts, and chunk row count (the bound ScaleBehaviorSpec asserts).
    * Exposed for the hot-day spec; [[sweepPeaks]] is the consumer.
    */
  private[graft] def sweepChunks(points: DataFrame): DataFrame = {
    val parted = points
      .repartitionByRange(col("day"), col("ts"), col("delta").desc)
      .withColumn("_pid", spark_partition_id())
    val wChunk = Window.partitionBy(col("day"), col("_pid"))
      .orderBy(col("ts"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      .withColumn("running", sum(col("delta")).over(wChunk))
      .groupBy(col("day"), col("_pid"))
      .agg(
        sum(col("delta")).as("chunk_sum"),
        max(col("running")).as("chunk_max"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("chunk_starts"),
        count(lit(1)).as("chunk_rows"))
  }

  /** Day-level sweep peaks from [[sweepChunks]] partials: the per-day
    * offset window runs over ≤|shuffle-partitions| chunk rows per day —
    * never over the points themselves.
    */
  private[graft] def sweepPeaks(points: DataFrame): DataFrame = {
    // the offsets window runs over CHUNK-SUMMARY rows — `chunk_day` (the
    // WindowBounds-declared key) names that grain: ≤ |shuffle partitions|
    // rows per day, never the boundary points themselves
    val wOff = Window.partitionBy(col("chunk_day")).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sweepChunks(points)
      .withColumnRenamed("day", "chunk_day")
      .withColumn("_offset",
        coalesce(sum(col("chunk_sum")).over(wOff), lit(0L)))
      .groupBy(col("chunk_day").as("day"))
      .agg(
        max(col("_offset") + col("chunk_max")).as("peak_concurrent"),
        sum(col("chunk_starts")).as("n_segments"))
  }

  private val q184 = QueryDef(
    "q184_concurrency_sweep",
    (spark, dir) => {
      import spark.implicits._
      // sessions ride the chunk-stitched user_scan silver (construction-
      // bounded windows; same 30-min gap islands) — the raw per-user
      // window this query carried through r10 was the last sessionization
      // not on the segmented scan
      val sessions = userScan(spark, dir)
        .filter($"user_id".isNotNull)
        .groupBy($"user_id", $"sid".as("island"))
        .agg(min($"ts").as("s_start"), max($"ts").as("s_end"))
      // explode cross-midnight sessions into day-local segments
      val segs = sessions
        .withColumn("day", explode(expr(
          "sequence(to_date(s_start), to_date(s_end), interval 1 day)")))
        .withColumn("seg_start",
          greatest($"s_start", $"day".cast("timestamp")))
        .withColumn("seg_end",
          least($"s_end", expr("CAST(date_add(day, 1) AS TIMESTAMP) - interval 1 microsecond")))
      val points = segs.select($"day", $"seg_start".as("ts"), lit(1L).as("delta"))
        .unionByName(segs.select($"day", $"seg_end".as("ts"), lit(-1L).as("delta")))
      sweepPeaks(points).orderBy($"day")
    },
    Some("""
      WITH r AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS gap
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      isl AS (
        SELECT *, CAST(sum(gap) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        FROM r),
      sess AS (
        SELECT user_id, island, min(ts) AS s_start, max(ts) AS s_end
        FROM isl GROUP BY 1, 2),
      segs AS (
        SELECT CAST(d AS DATE) AS day,
               greatest(s_start, CAST(CAST(d AS DATE) AS TIMESTAMP)) AS seg_start,
               least(s_end, CAST(CAST(d AS DATE) + 1 AS TIMESTAMP)
                 - INTERVAL 1 MICROSECOND) AS seg_end
        FROM (SELECT *, unnest(generate_series(CAST(CAST(s_start AS DATE) AS TIMESTAMP),
                CAST(CAST(s_end AS DATE) AS TIMESTAMP), INTERVAL 1 DAY)) AS d
              FROM sess)),
      pts AS (
        SELECT day, seg_start AS ts, CAST(1 AS BIGINT) AS delta FROM segs
        UNION ALL
        SELECT day, seg_end, CAST(-1 AS BIGINT) FROM segs),
      sweep AS (
        SELECT day, delta,
               CAST(sum(delta) OVER (
                 PARTITION BY day ORDER BY ts, delta DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS running
        FROM pts)
      SELECT day, max(running) AS peak_concurrent,
             CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_segments
      FROM sweep GROUP BY 1 ORDER BY day"""))

  // ---------------------------------------------------------------------
  // q185 — USER-JOURNEY PATH MINING: the top opening paths (first 4
  // event types in (ts, event_id) order per user) with frequencies —
  // the "what do users actually do first" table behind q89's FIXED
  // funnel (q89 asks about one path; this discovers which paths are
  // worth asking about). Determinism: the path is rebuilt from a
  // collect_list SORTED by the unique (ts, event_id) key — never raw
  // collect_list order, which is partition-dependent; top-20 ties
  // break on the path string. One user rollup + one path rollup.
  // ---------------------------------------------------------------------
  private val q185 = QueryDef(
    "q185_journey_paths",
    (spark, dir) => {
      import spark.implicits._
      val paths = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull)
        .groupBy($"user_id")
        .agg(collect_list(struct($"ts", $"event_id", $"event_type")).as("evs"))
        .select($"user_id",
          array_join(
            transform(slice(array_sort($"evs"), 1, 4), e => e("event_type")),
            ">").as("path"))
      paths.groupBy($"path")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"n_users".desc, $"path")
        .limit(20)
    },
    Some("""
      WITH p AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS full_path
        FROM (
          SELECT user_id, ts, event_id, event_type,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
        WHERE rn <= 4 GROUP BY 1)
      SELECT full_path AS path, CAST(count(*) AS BIGINT) AS n_users
      FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20"""))

  // ---------------------------------------------------------------------
  // q187 — TIME-TO-CONVERT distribution (the latency histogram behind
  // q89's conversion RATE): for every user who completes view→purchase,
  // hours from first view to first subsequent purchase, bucketed
  // hourly and capped at 48h, with the cumulative conversion share per
  // bucket in exact millis — the "how long do we wait before calling a
  // user lost" curve. Same single user_id exchange as q89 (conditional
  // window mins), then one |buckets|-row rollup + a tiny running-sum
  // window over ≤ 49 rows.
  // ---------------------------------------------------------------------
  private val q187 = QueryDef(
    "q187_convert_latency",
    (spark, dir) => {
      import spark.implicits._
      // staged aggregates + join-back, not per-user windows (the q89
      // skew-splittable funnel shape)
      val ev = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull)
        .select($"user_id", $"event_type", $"ts")
      val g1 = ev.groupBy($"user_id".as("u1"))
        .agg(min(when($"event_type" === "view", $"ts")).as("v"))
      val lat = ev.join(g1, $"user_id" === $"u1")
        .groupBy($"user_id", $"v")
        .agg(min(when($"event_type" === "purchase" && $"ts" > $"v", $"ts")).as("p"))
        .filter($"p".isNotNull)
        .select($"user_id",
          expr("(unix_micros(p) - unix_micros(v)) div 3600000000L").as("hrs"))
        .select($"user_id", least($"hrs", lit(48L)).as("bucket_h"))
      val total = lat.agg(count(lit(1)).as("n_total"))
      val wCum = Window.orderBy($"bucket_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lat.groupBy($"bucket_h").agg(count(lit(1)).as("n_users"))
        .withColumn("cum_users", sum($"n_users").over(wCum))
        .crossJoin(broadcast(total))
        .withColumn("cum_milli", expr("(1000 * cum_users) div n_total"))
        .select($"bucket_h", $"n_users", $"cum_users", $"cum_milli")
        .orderBy($"bucket_h")
    },
    Some("""
      WITH staged AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS v_ts
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      staged2 AS (
        SELECT user_id, v_ts,
               min(CASE WHEN event_type = 'purchase' AND ts > v_ts THEN ts END)
                 OVER (PARTITION BY user_id) AS p_ts
        FROM staged),
      lat AS (
        SELECT user_id,
               least((epoch_us(max(p_ts)) - epoch_us(max(v_ts))) // 3600000000, 48)
                 AS bucket_h
        FROM staged2 GROUP BY 1
        HAVING max(p_ts) IS NOT NULL),
      hist AS (
        SELECT bucket_h, CAST(count(*) AS BIGINT) AS n_users
        FROM lat GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lat)
      SELECT bucket_h, n_users,
             CAST(sum(n_users) OVER (ORDER BY bucket_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users,
             CAST((1000 * sum(n_users) OVER (ORDER BY bucket_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // tot.n_total
               AS BIGINT) AS cum_milli
      FROM hist, tot ORDER BY bucket_h"""))

  // ---------------------------------------------------------------------
  // q196 — ASSOCIATION RULES over per-user event-type baskets (market-
  // basket analysis at the grain this schema supports): for every
  // ordered type pair A→B, support (users with both), confidence
  // (1000·n_AB div n_A) and lift (1000·n_AB·N div (n_A·n_B)) — all
  // exact integer millis, no probability ever divided as a float. The
  // basket table is distinct (user, type) — one rollup; pair supports
  // come from the type-key self-join of that table, bounded by
  // |types|² per user. Rules are emitted in BOTH directions because
  // confidence is asymmetric (lift is not — visible in the output).
  // ---------------------------------------------------------------------
  private val q196 = QueryDef(
    "q196_association_rules",
    (spark, dir) => {
      import spark.implicits._
      val basket = Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .select($"user_id", $"event_type").distinct()
      val nTotal = basket.select($"user_id").distinct()
        .agg(count(lit(1)).as("n_users"))
      val supp = basket.groupBy($"event_type").agg(count(lit(1)).as("n"))
      val pair = basket.as("a").join(basket.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("antecedent"),
          col("b.event_type").as("consequent"))
        .agg(count(lit(1)).as("n_both"))
      pair
        .join(supp.select($"event_type".as("antecedent"), $"n".as("n_a")),
          Seq("antecedent"))
        .join(supp.select($"event_type".as("consequent"), $"n".as("n_c")),
          Seq("consequent"))
        .crossJoin(broadcast(nTotal))
        .withColumn("conf_milli", expr("(1000 * n_both) div n_a"))
        .withColumn("lift_milli", expr("(1000 * n_both * n_users) div (n_a * n_c)"))
        .select($"antecedent", $"consequent", $"n_both", $"n_a", $"n_c",
          $"conf_milli", $"lift_milli")
        .orderBy($"antecedent", $"consequent")
    },
    Some("""
      WITH basket AS (
        SELECT DISTINCT user_id, event_type
        FROM events WHERE user_id IS NOT NULL),
      tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM basket),
      supp AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM basket GROUP BY 1),
      pair AS (
        SELECT a.event_type AS antecedent, b.event_type AS consequent,
               CAST(count(*) AS BIGINT) AS n_both
        FROM basket a JOIN basket b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2)
      SELECT p.antecedent, p.consequent, p.n_both,
             sa.n AS n_a, sc.n AS n_c,
             CAST((1000 * p.n_both) // sa.n AS BIGINT) AS conf_milli,
             CAST((1000 * p.n_both * tot.n_users) // (sa.n * sc.n) AS BIGINT)
               AS lift_milli
      FROM pair p
      JOIN supp sa ON sa.event_type = p.antecedent
      JOIN supp sc ON sc.event_type = p.consequent
      CROSS JOIN tot
      ORDER BY p.antecedent, p.consequent"""))

  // ---------------------------------------------------------------------
  // q183 — A/B EXPERIMENT READOUT (two-proportion z-test): users hashed
  // into arms, conversion = "ever purchased", and the readout every
  // experimentation platform prints — per-arm rates plus the pooled
  // two-proportion z statistic. Portability: counts are exact integers;
  // the float tail is p̂₁−p̂₂ over sqrt(p̂(1−p̂)(1/n₁+1/n₂)) — divisions,
  // multiplies and ONE IEEE sqrt in a pinned order, so the z value
  // hash-matches DuckDB to the bit (the q176/q188/q194 sqrt rule).
  // Distinct from q152's jackknife: that estimates a mean's SE by
  // resampling; this tests a PROPORTION difference in closed form.
  // One user rollup + one arm rollup + a 2-row self-join.
  // ---------------------------------------------------------------------
  private val q183 = QueryDef(
    "q183_ab_readout",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val perUser = Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .groupBy($"user_id")
        // conversion = ABOVE-EXPECTED purchase share (>20%, the uniform
        // prior of 5 types) — scale-robust where "ever purchased"
        // saturates to p=1 on a dense event log (z's denominator would
        // be exactly 0)
        .agg(
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("np"),
          count(lit(1)).as("ne"))
        .withColumn("converted",
          when(expr("(1000 * np) div ne") > 200, 1L).otherwise(0L))
        .withColumn("arm",
          when(Portable.md5Hash64(concat(lit("ab|"), $"user_id".cast("string")))
            % 2 === 0, "control").otherwise("treatment"))
      val arms = perUser.groupBy($"arm")
        .agg(count(lit(1)).as("n_users"), sum($"converted").as("n_converted"))
        .withColumn("rate", $"n_converted".cast("double") / $"n_users".cast("double"))
      val a = arms.filter($"arm" === "control")
        .select($"n_users".as("n1"), $"n_converted".as("c1"), $"rate".as("r1"))
      val b = arms.filter($"arm" === "treatment")
        .select($"n_users".as("n2"), $"n_converted".as("c2"), $"rate".as("r2"))
      a.crossJoin(b)
        .withColumn("p_pool",
          ($"c1" + $"c2").cast("double") / ($"n1" + $"n2").cast("double"))
        .withColumn("se",
          sqrt($"p_pool" * (lit(1.0) - $"p_pool") *
            (lit(1.0) / $"n1".cast("double") + lit(1.0) / $"n2".cast("double"))))
        .withColumn("z", when($"se" > 0, ($"r1" - $"r2") / $"se"))
        .select($"n1", $"c1", $"r1", $"n2", $"c2", $"r2", $"p_pool", $"se", $"z")
    },
    Some(s"""
      WITH per_user AS (
        SELECT user_id,
               CASE WHEN (1000 * sum(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END)) // count(*) > 200
                 THEN 1 ELSE 0 END AS converted,
               CASE WHEN ${graft.functions.Portable.md5Hash64Sql(
                 "'ab|' || CAST(user_id AS VARCHAR)")} % 2 = 0
                 THEN 'control' ELSE 'treatment' END AS arm
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      arms AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted
        FROM per_user GROUP BY 1),
      a AS (SELECT n_users AS n1, n_converted AS c1,
                   CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS r1
            FROM arms WHERE arm = 'control'),
      b AS (SELECT n_users AS n2, n_converted AS c2,
                   CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) AS r2
            FROM arms WHERE arm = 'treatment')
      , se AS (
        SELECT n1, c1, r1, n2, c2, r2,
               CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS p_pool,
               sqrt(
                 (CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                 * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                 * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) AS se
        FROM a CROSS JOIN b)
      SELECT n1, c1, r1, n2, c2, r2, p_pool, se,
             CASE WHEN se > 0 THEN (r1 - r2) / se END AS z
      FROM se"""))

  // ---------------------------------------------------------------------
  // q296 — CUPED VARIANCE-REDUCED EXPERIMENT READOUT (Deng, Xu, Kohavi &
  // Walker 2013, "Improving the Sensitivity of Online Controlled
  // Experiments by Utilizing Pre-Experiment Data"): the same A/B arms as
  // q183, but the metric (a user's post-period milli purchase-share) is
  // adjusted by its pre-period value — Y′ = Y − θ·(X − X̄), θ = cov(Y,X)/
  // var(X) — which removes the between-user variance X predicts and
  // shrinks the SE without biasing the treatment effect (θ is pooled
  // across arms; randomization makes X ⟂ arm). THE standard sensitivity
  // upgrade every experimentation platform runs.
  //
  // No float accumulation anywhere: per-user Y and X are integer millis
  // (one truncating division each), X̄ is the integer milli mean, the
  // centered covariate x_c = X − X̄ (0 where the user has no pre-period
  // — the CUPED missing-covariate convention: no adjustment), and ALL
  // arm/θ statistics are exact BIGINT moments (n, Σy, Σx_c, Σy², Σx_c²,
  // Σy·x_c); the adjusted means, variances (Σ(y−θx_c)² expanded through
  // the exact moments), SEs and both z statistics are ONE fixed-order
  // double expression over them. Arm assignment is q183's md5 hash.
  //
  // Scale: one conditional-sum user rollup (single events pass), one
  // 1-row covariate-moment broadcast, one 2-row arm rollup — the q183
  // envelope with a second exact-moment set.
  // ---------------------------------------------------------------------
  private val CupedSplit = "2024-01-16 00:00:00"

  private val q296 = QueryDef(
    "q296_cuped",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val perUser = Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .groupBy($"user_id")
        .agg(
          sum(when($"ts" >= lit(CupedSplit).cast("timestamp") &&
            $"event_type" === "purchase", 1L).otherwise(0L)).as("np_post"),
          sum(when($"ts" >= lit(CupedSplit).cast("timestamp"), 1L)
            .otherwise(0L)).as("ne_post"),
          sum(when($"ts" < lit(CupedSplit).cast("timestamp") &&
            $"event_type" === "purchase", 1L).otherwise(0L)).as("np_pre"),
          sum(when($"ts" < lit(CupedSplit).cast("timestamp"), 1L)
            .otherwise(0L)).as("ne_pre"))
        .filter($"ne_post" > 0L)
        .withColumn("y", expr("(1000 * np_post) div ne_post"))
        .withColumn("x",
          when($"ne_pre" > 0L, expr("(1000 * np_pre) div ne_pre")))
        .withColumn("arm",
          when(Portable.md5Hash64(
            concat(lit("ab|"), $"user_id".cast("string"))) % 2 === 0,
            "control").otherwise("treatment"))
      val xbar = perUser.filter($"x".isNotNull)
        .agg(count(lit(1)).as("m"), sum($"x").as("sx"), sum($"y").as("sy2"),
          sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
        .withColumn("xbar_milli", expr("sx div m"))
        .withColumn("theta",
          when($"m" * $"sxx" - $"sx" * $"sx" > 0L,
            ($"m" * $"sxy" - $"sx" * $"sy2").cast("double") /
              ($"m" * $"sxx" - $"sx" * $"sx").cast("double"))
            .otherwise(lit(0.0)))
        .select($"xbar_milli", $"theta")
      val cu = perUser.crossJoin(broadcast(xbar))
        .withColumn("xc",
          coalesce($"x" - $"xbar_milli", lit(0L)))
      val arms = cu.groupBy($"arm", $"theta")
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
          sum($"xc").as("sxc"), sum($"y" * $"y").as("syy"),
          sum($"xc" * $"xc").as("sxcxc"), sum($"y" * $"xc").as("syxc"))
      def stats(pfx: String, df: DataFrame) = df.select(
        $"theta",
        $"n".as(s"n$pfx"), $"sy".as(s"sy$pfx"), $"sxc".as(s"sxc$pfx"),
        $"syy".as(s"syy$pfx"), $"sxcxc".as(s"sxcxc$pfx"),
        $"syxc".as(s"syxc$pfx"))
      stats("1", arms.filter($"arm" === "control"))
        .join(stats("2", arms.filter($"arm" === "treatment")), "theta")
        .withColumn("m1_adj",
          ($"sy1".cast("double") - $"theta" * $"sxc1".cast("double")) /
            $"n1".cast("double"))
        .withColumn("m2_adj",
          ($"sy2".cast("double") - $"theta" * $"sxc2".cast("double")) /
            $"n2".cast("double"))
        .withColumn("v1_adj",
          ($"syy1".cast("double") -
            lit(2.0) * $"theta" * $"syxc1".cast("double") +
            $"theta" * $"theta" * $"sxcxc1".cast("double") -
            ($"sy1".cast("double") - $"theta" * $"sxc1".cast("double")) *
              ($"sy1".cast("double") - $"theta" * $"sxc1".cast("double")) /
              $"n1".cast("double")) / ($"n1" - 1L).cast("double"))
        .withColumn("v2_adj",
          ($"syy2".cast("double") -
            lit(2.0) * $"theta" * $"syxc2".cast("double") +
            $"theta" * $"theta" * $"sxcxc2".cast("double") -
            ($"sy2".cast("double") - $"theta" * $"sxc2".cast("double")) *
              ($"sy2".cast("double") - $"theta" * $"sxc2".cast("double")) /
              $"n2".cast("double")) / ($"n2" - 1L).cast("double"))
        .withColumn("m1_raw", $"sy1".cast("double") / $"n1".cast("double"))
        .withColumn("m2_raw", $"sy2".cast("double") / $"n2".cast("double"))
        .withColumn("v1_raw",
          ($"syy1".cast("double") - $"sy1".cast("double") *
            $"sy1".cast("double") / $"n1".cast("double")) /
            ($"n1" - 1L).cast("double"))
        .withColumn("v2_raw",
          ($"syy2".cast("double") - $"sy2".cast("double") *
            $"sy2".cast("double") / $"n2".cast("double")) /
            ($"n2" - 1L).cast("double"))
        .withColumn("z_adj",
          ($"m1_adj" - $"m2_adj") /
            sqrt($"v1_adj" / $"n1".cast("double") +
              $"v2_adj" / $"n2".cast("double")))
        .withColumn("z_raw",
          ($"m1_raw" - $"m2_raw") /
            sqrt($"v1_raw" / $"n1".cast("double") +
              $"v2_raw" / $"n2".cast("double")))
        .select($"theta", $"n1", $"n2", $"m1_raw", $"m2_raw", $"m1_adj",
          $"m2_adj", $"v1_raw", $"v1_adj", $"z_raw", $"z_adj")
    },
    Some(s"""
      WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN ts >= TIMESTAMP '$CupedSplit'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS np_post,
               sum(CASE WHEN ts >= TIMESTAMP '$CupedSplit'
                   THEN 1 ELSE 0 END) AS ne_post,
               sum(CASE WHEN ts < TIMESTAMP '$CupedSplit'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS np_pre,
               sum(CASE WHEN ts < TIMESTAMP '$CupedSplit'
                   THEN 1 ELSE 0 END) AS ne_pre
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      u AS (
        SELECT user_id,
               (1000 * np_post) // ne_post AS y,
               CASE WHEN ne_pre > 0 THEN (1000 * np_pre) // ne_pre END AS x,
               CASE WHEN ${graft.functions.Portable.md5Hash64Sql(
                 "'ab|' || CAST(user_id AS VARCHAR)")} % 2 = 0
                 THEN 'control' ELSE 'treatment' END AS arm
        FROM per_user WHERE ne_post > 0),
      xb AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy2,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM u WHERE x IS NOT NULL),
      th AS (
        SELECT sx // m AS xbar_milli,
               CASE WHEN m * sxx - sx * sx > 0
                 THEN CAST(m * sxy - sx * sy2 AS DOUBLE)
                   / CAST(m * sxx - sx * sx AS DOUBLE)
                 ELSE 0.0 END AS theta
        FROM xb),
      cu AS (
        SELECT u.arm, th.theta, u.y,
               COALESCE(u.x - th.xbar_milli, 0) AS xc
        FROM u, th),
      arms AS (
        SELECT arm, theta, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(xc) AS BIGINT) AS sxc,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(xc * xc) AS BIGINT) AS sxcxc,
               CAST(sum(y * xc) AS BIGINT) AS syxc
        FROM cu GROUP BY 1, 2),
      j AS (
        SELECT a.theta,
               a.n AS n1, a.sy AS sy1, a.sxc AS sxc1, a.syy AS syy1,
               a.sxcxc AS sxcxc1, a.syxc AS syxc1,
               b.n AS n2, b.sy AS sy2, b.sxc AS sxc2, b.syy AS syy2,
               b.sxcxc AS sxcxc2, b.syxc AS syxc2
        FROM arms a JOIN arms b ON a.theta = b.theta
        WHERE a.arm = 'control' AND b.arm = 'treatment'),
      e AS (
        SELECT theta, n1, n2,
               CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1_raw,
               CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2_raw,
               (CAST(sy1 AS DOUBLE) - theta * CAST(sxc1 AS DOUBLE))
                 / CAST(n1 AS DOUBLE) AS m1_adj,
               (CAST(sy2 AS DOUBLE) - theta * CAST(sxc2 AS DOUBLE))
                 / CAST(n2 AS DOUBLE) AS m2_adj,
               (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
                 * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 / CAST(n1 - 1 AS DOUBLE) AS v1_raw,
               (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE)
                 * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                 / CAST(n2 - 1 AS DOUBLE) AS v2_raw,
               (CAST(syy1 AS DOUBLE)
                 - 2.0 * theta * CAST(syxc1 AS DOUBLE)
                 + theta * theta * CAST(sxcxc1 AS DOUBLE)
                 - (CAST(sy1 AS DOUBLE) - theta * CAST(sxc1 AS DOUBLE))
                   * (CAST(sy1 AS DOUBLE) - theta * CAST(sxc1 AS DOUBLE))
                   / CAST(n1 AS DOUBLE))
                 / CAST(n1 - 1 AS DOUBLE) AS v1_adj,
               (CAST(syy2 AS DOUBLE)
                 - 2.0 * theta * CAST(syxc2 AS DOUBLE)
                 + theta * theta * CAST(sxcxc2 AS DOUBLE)
                 - (CAST(sy2 AS DOUBLE) - theta * CAST(sxc2 AS DOUBLE))
                   * (CAST(sy2 AS DOUBLE) - theta * CAST(sxc2 AS DOUBLE))
                   / CAST(n2 AS DOUBLE))
                 / CAST(n2 - 1 AS DOUBLE) AS v2_adj
        FROM j)
      SELECT theta, n1, n2, m1_raw, m2_raw, m1_adj, m2_adj, v1_raw, v1_adj,
             (m1_raw - m2_raw) / sqrt(v1_raw / CAST(n1 AS DOUBLE)
               + v2_raw / CAST(n2 AS DOUBLE)) AS z_raw,
             (m1_adj - m2_adj) / sqrt(v1_adj / CAST(n1 AS DOUBLE)
               + v2_adj / CAST(n2 AS DOUBLE)) AS z_adj
      FROM e"""))

  // ---------------------------------------------------------------------
  // q309 — TIME-OF-DAY ACTIVITY SEASONALITY with a χ² uniformity test:
  // the "volume clock" diagnostic — per event type, the 24-hour count
  // profile and Pearson's χ² against the uniform clock, ENTIRELY in
  // exact integers: with E = n/24 the statistic collapses to
  // χ² = (24·ΣO² − n²)/n, so chi2_milli = (1000·(24·ΣO² − n²)) div n
  // is one integer division (no grid fill needed — an absent hour cell
  // contributes O = 0 through ΣO² automatically). The peak hour rides
  // the integer ENCODE max (cnt·100 + (23 − h), ties to the earlier
  // hour), the q229 max-of-struct discipline without a struct. The
  // rejection compares the milli statistic against the truncated
  // χ²(23) 95% quantile (35172 milli) — integer versus integer.
  // Scale: one (type, hour) rollup (≤ |types|·24 cells) + one per-type
  // rollup. Companion to q295 (day-of-week returns, value-domain KW).
  // ---------------------------------------------------------------------
  private val Chi2Df23Milli = 35172L // χ²(23) at 0.95 = 35.172462

  private val q309 = QueryDef(
    "q309_hour_seasonality",
    (spark, dir) => {
      import spark.implicits._
      val cells = Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .select($"event_type", hour($"ts").cast("long").as("h"))
        .groupBy($"event_type", $"h")
        .agg(count(lit(1)).as("cnt"))
      cells.groupBy($"event_type")
        .agg(
          sum($"cnt").as("n_events"),
          count(lit(1)).as("n_hours_active"),
          sum($"cnt" * $"cnt").as("so2"),
          max($"cnt" * 100L + (lit(23L) - $"h")).as("peak_code"))
        .withColumn("chi2_milli",
          expr("(1000 * (24 * so2 - n_events * n_events)) div n_events"))
        .withColumn("peak_hour", lit(23L) - $"peak_code" % 100L)
        .withColumn("peak_cnt", expr("peak_code div 100"))
        .withColumn("nonuniform", $"chi2_milli" > Chi2Df23Milli)
        .select($"event_type", $"n_events", $"n_hours_active",
          $"chi2_milli", $"peak_hour", $"peak_cnt", $"nonuniform")
        .orderBy($"event_type")
    },
    Some(s"""
      WITH cells AS (
        SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2),
      agg AS (
        SELECT event_type,
               CAST(sum(cnt) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_hours_active,
               CAST(sum(cnt * cnt) AS BIGINT) AS so2,
               CAST(max(cnt * 100 + (23 - h)) AS BIGINT) AS peak_code
        FROM cells GROUP BY 1)
      SELECT event_type, n_events, n_hours_active,
             (1000 * (24 * so2 - n_events * n_events)) // n_events
               AS chi2_milli,
             23 - peak_code % 100 AS peak_hour,
             peak_code // 100 AS peak_cnt,
             (1000 * (24 * so2 - n_events * n_events)) // n_events
               > $Chi2Df23Milli AS nonuniform
      FROM agg ORDER BY event_type"""))

  override val defs: Seq[QueryDef] =
    Seq(q88, q89, q90, q91, q95, q124, q132, q150, q178, q179, q182, q183,
      q184, q185, q187, q196, q233, q296, q309)
}
