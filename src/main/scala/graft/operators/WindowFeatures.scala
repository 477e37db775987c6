package graft.operators

import graft.{QueryDef, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Window / time-series feature operators (SURVEY.md §2.5 W1–W9 and §2.11
  * M1–M3): the notebook feature-engineering surface (pandas grouped
  * shift/rolling/pct_change — 01…06_*.ipynb) re-expressed as Spark window
  * specs over the daily-bars roll-up of the lineitem fact.
  *
  * Scale notes: every query here is ONE shuffle on the partition key
  * (ticker) — the window functions then run sorted within partitions with
  * no further exchange. At 100 TB the bars table would be bucketed by
  * ticker so even that shuffle disappears. No driver-side collection
  * anywhere; the "fit" side of the scaler (M3) is a tiny per-key aggregate
  * that broadcast-joins back onto the rows.
  *
  * Determinism: double values flow through lead/lag/arithmetic unchanged
  * (bit-identical on any engine); frame averages use exact DECIMAL sums
  * (never float accumulation); ratios divide exact ints. See QueryDef.
  */
object WindowFeatures extends QueryModule {

  /** Daily close bars per ticker — pinned-order first/last semantics
    * (min_by/max_by over a deterministic intra-day sequence; SURVEY.md §7.4
    * on the reference's order-dependence bug at build_training_dataset.py:31).
    * (l_orderkey, l_linenumber) is not unique in the fixtures, so the
    * sequence is tie-broken by the price cents (CoreBatch q02 note).
    */
  private[operators] def bars(spark: SparkSession, dir: String): DataFrame =
    // materialized derived table (the reference's own architecture: the
    // gold daily table is written once and read by every notebook —
    // build_training_dataset.py:70-79). Nine queries consume these rows;
    // build once per dir, read parquet after.
    Scoped.shared(spark, "daily_bars", dir)((Nil, barsBuild(spark, dir)))

  private def barsBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .withColumn("seq",
        ($"l_orderkey" * 16 + $"l_linenumber") * 100000000L
          + ($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
      .groupBy($"l_suppkey".as("ticker"), to_date($"l_shipdate").as("date"))
      .agg(
        max_by($"l_extendedprice", $"seq").as("close"),
        count(lit(1)).as("volume"))
  }

  private[operators] val barsSql = """
      bars AS (
        SELECT l_suppkey AS ticker, CAST(l_shipdate AS DATE) AS date,
               arg_max(l_extendedprice, (l_orderkey * 16 + l_linenumber) * 100000000 + CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS close,
               count(*) AS volume
        FROM lineitem GROUP BY 1, 2)"""

  private def wTicker = Window.partitionBy("ticker").orderBy("date")

  /** Exact frame average: DECIMAL sum over the frame, one double division.
    * Plain `avg(...) over frame` is float-accumulation-order-dependent.
    */
  private def frameAvg(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(c.cast(DecimalType(28, 2))).over(w).cast("double") /
      count(c).over(w).cast("double")

  // ---------------------------------------------------------------------
  // q18 — lead/lag label engineering (W1/W2/W3): next-day close label,
  // direction label, previous-day lag features (01/02/03/05 notebooks).
  // ---------------------------------------------------------------------
  private val q18 = QueryDef(
    "q18_lead_lag_labels",
    (spark, dir) => {
      import spark.implicits._
      bars(spark, dir)
        .withColumn("close_next", lead($"close", 1).over(wTicker))
        .withColumn("close_prev", lag($"close", 1).over(wTicker))
        .withColumn("direction",
          when($"close_next".isNull, lit(null).cast("int"))
            .otherwise(($"close_next" > $"close").cast("int")))
        .select($"ticker", $"date", $"close", $"close_next", $"close_prev", $"direction")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $barsSql
      SELECT ticker, date, close,
             lead(close, 1) OVER (PARTITION BY ticker ORDER BY date) AS close_next,
             lag(close, 1)  OVER (PARTITION BY ticker ORDER BY date) AS close_prev,
             CAST(lead(close, 1) OVER (PARTITION BY ticker ORDER BY date) > close AS INT) AS direction
      FROM bars ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q19 — returns (W4/W5): pct_change daily return and next-day return
  // (app.py:86, 06 · cell 4). Pure double arithmetic over lag/lead values
  // — bit-identical across engines, no rounding needed.
  // ---------------------------------------------------------------------
  private val q19 = QueryDef(
    "q19_returns",
    (spark, dir) => {
      import spark.implicits._
      val prev = lag($"close", 1).over(wTicker)
      val nxt = lead($"close", 1).over(wTicker)
      bars(spark, dir)
        .withColumn("daily_return", ($"close" - prev) / prev)
        .withColumn("next_return", (nxt - $"close") / $"close")
        .select($"ticker", $"date", $"close", $"daily_return", $"next_return")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $barsSql
      SELECT ticker, date, close,
             (close - lag(close,1) OVER w) / lag(close,1) OVER w AS daily_return,
             (lead(close,1) OVER w - close) / close AS next_return
      FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY date)
      ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q20 — rolling means (W6): 3-row rolling mean in both pandas variants —
  // min_periods=1 (Spark's default frame semantics) and strict rolling(3)
  // (null until the frame is full). Exact decimal frame sums.
  // ---------------------------------------------------------------------
  private val q20 = QueryDef(
    "q20_rolling_mean",
    (spark, dir) => {
      import spark.implicits._
      val w3 = wTicker.rowsBetween(-2, 0)
      val ma = frameAvg($"close", w3)
      bars(spark, dir)
        .withColumn("ma3", ma)
        .withColumn("ma3_strict",
          when(count($"close").over(w3) === 3, ma))
        .select($"ticker", $"date", $"close", $"ma3", $"ma3_strict")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $barsSql
      SELECT ticker, date, close,
             CAST(sum(CAST(close AS DECIMAL(28,2))) OVER w3 AS DOUBLE)
               / CAST(count(close) OVER w3 AS DOUBLE) AS ma3,
             CASE WHEN count(close) OVER w3 = 3 THEN
               CAST(sum(CAST(close AS DECIMAL(28,2))) OVER w3 AS DOUBLE)
                 / CAST(count(close) OVER w3 AS DOUBLE) END AS ma3_strict
      FROM bars WINDOW w3 AS (PARTITION BY ticker ORDER BY date
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q21 — LSTM sequence windows (W8): per ticker, the sliding array of the
  // last 5 closes (03 · cell 3, SEQ_LEN=5), only full windows kept. The
  // array is serialized as exact integer cents so the hash compare is
  // representation-independent.
  // ---------------------------------------------------------------------
  private val q21 = QueryDef(
    "q21_sequence_windows",
    (spark, dir) => {
      import spark.implicits._
      val w5 = wTicker.rowsBetween(-4, 0)
      bars(spark, dir)
        .withColumn("seq_closes", collect_list($"close").over(w5))
        .withColumn("n", count($"close").over(w5))
        .filter($"n" === 5)
        .withColumn("seq_cents", concat_ws(",",
          transform($"seq_closes",
            c => (c.cast(DecimalType(28, 2)) * 100).cast("long"))))
        .select($"ticker", $"date", $"seq_cents")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $barsSql,
      seq AS (
        SELECT ticker, date,
               list(close) OVER (PARTITION BY ticker ORDER BY date
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS seq_closes,
               count(close) OVER (PARTITION BY ticker ORDER BY date
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n
        FROM bars)
      SELECT ticker, date,
             array_to_string(list_transform(seq_closes,
               c -> CAST(CAST(c AS DECIMAL(28,2)) * 100 AS BIGINT)), ',') AS seq_cents
      FROM seq WHERE n = 5 ORDER BY ticker, date"""))

  /** Global row number + total count WITHOUT a single-partition sort.
    *
    * `row_number() OVER (ORDER BY …)` funnels the whole table through one
    * task — the canonical scale killer for sequential-split semantics. The
    * distributed equivalent: range-repartition on the sort key (so
    * partition i's keys all precede partition i+1's), sort within each
    * partition in parallel, then add a per-partition row_number to the
    * exclusive running sum of partition counts (a ≤-shuffle-partitions-row
    * side table, broadcast back). (date, ticker) is unique in `bars`, so
    * the resulting `rn` is exactly the global row_number — deterministic
    * regardless of where the sampled range boundaries fall.
    */
  /** The numbered-rows build, exposed for the PlanSpec assertion that the
    * sort is a rangepartitioning exchange, never a global single-partition
    * window. Caller owns unpersisting the returned frames.
    */
  private[graft] def globalRnBuild(
      spark: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
    // referenced by both the offsets side table and the main branch —
    // materialize the range-shuffled rows once instead of re-aggregating
    // the fact table for each
    val parted = bars(spark, dir)
      .repartitionByRange(col("date"), col("ticker"))
      .withColumn("_pid", spark_partition_id())
      .persist()
    val offsets = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_offset",
        coalesce(sum(col("_cnt")).over(
          Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val total = offsets.agg(sum(col("_cnt")).as("n_total"))
    val numbered = parted
      .join(broadcast(offsets.select(col("_pid"), col("_offset"))), Seq("_pid"))
      .withColumn("rn",
        col("_offset") + row_number().over(
          Window.partitionBy(col("_pid")).orderBy(col("date"), col("ticker"))))
      .crossJoin(broadcast(total))
      .drop("_pid", "_offset")
    (Seq(parted), numbered)
  }

  private[operators] def withGlobalRn(spark: SparkSession, dir: String): DataFrame =
    // materialized derived table: both split queries (q22, q23) consume
    // the same numbered rows — build once per dir, read parquet after
    Scoped.shared(spark, "bars_global_rn", dir)(globalRnBuild(spark, dir))

  // ---------------------------------------------------------------------
  // q22 — sequential train/test split (M1): 80/20 by global row_number
  // (shuffle=False semantics of 01 · cell 5), summarized per split.
  // ---------------------------------------------------------------------
  private val q22 = QueryDef(
    "q22_train_test_split",
    (spark, dir) => {
      import spark.implicits._
      withGlobalRn(spark, dir)
        .withColumn("split",
          when($"rn" <= ($"n_total" * 8) / 10, "train").otherwise("test"))
        .groupBy($"split")
        .agg(
          count(lit(1)).as("n"),
          min($"date").as("min_date"),
          max($"date").as("max_date"),
          sum(($"close".cast(DecimalType(28, 2)) * 100).cast("long")).as("close_cents"))
        .orderBy($"split")
    },
    Some(s"""
      WITH $barsSql,
      rn AS (
        SELECT *, row_number() OVER (ORDER BY date, ticker) AS rn,
               count(*) OVER () AS n_total
        FROM bars)
      SELECT CASE WHEN rn <= (n_total * 8) // 10 THEN 'train' ELSE 'test' END AS split,
             count(*) AS n, min(date) AS min_date, max(date) AS max_date,
             CAST(sum(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS close_cents
      FROM rn GROUP BY 1 ORDER BY split"""))

  // ---------------------------------------------------------------------
  // q23 — rolling-origin cross-validation folds (M2: TimeSeriesSplit
  // n_splits=5, 05 · cell 6): fold i trains on the first i/6 of rows,
  // tests on the next 1/6 — five (train, test) ranges from one pass.
  // ---------------------------------------------------------------------
  private val q23 = QueryDef(
    "q23_timeseries_cv",
    (spark, dir) => {
      import spark.implicits._
      val rows = withGlobalRn(spark, dir)
      val folds = spark.range(1, 6).toDF("fold")
      rows.join(broadcast(folds),
          $"rn" <= (($"fold" + 1) * $"n_total") / 6)
        .withColumn("role",
          when($"rn" <= ($"fold" * $"n_total") / 6, "train").otherwise("test"))
        .groupBy($"fold", $"role")
        .agg(count(lit(1)).as("n"),
             min($"rn").as("min_rn"), max($"rn").as("max_rn"))
        .orderBy($"fold", $"role")
    },
    Some(s"""
      WITH $barsSql,
      rows_rn AS (
        SELECT *, row_number() OVER (ORDER BY date, ticker) AS rn,
               count(*) OVER () AS n_total
        FROM bars)
      SELECT fold, CASE WHEN rn <= (fold * n_total) // 6 THEN 'train' ELSE 'test' END AS role,
             count(*) AS n, min(rn) AS min_rn, max(rn) AS max_rn
      FROM rows_rn JOIN (SELECT unnest(range(1, 6)) AS fold) f
        ON rn <= ((fold + 1) * n_total) // 6
      GROUP BY 1, 2 ORDER BY fold, role"""))

  // ---------------------------------------------------------------------
  // q24 — standard scaler (M3: fit on per-ticker stats, apply per row —
  // 01 · cell 6). Mean/variance from exact DECIMAL sums so μ/σ are
  // bit-identical across engines and partitionings; the tiny per-ticker
  // stats side broadcast-joins back onto the rows (no second shuffle of
  // the fact side at scale).
  // ---------------------------------------------------------------------
  private val q24 = QueryDef(
    "q24_standard_scaler",
    (spark, dir) => {
      import spark.implicits._
      val b = bars(spark, dir)
      // exact integer cents: decimal×decimal precision-capping differs
      // between engines, bigint cents² summed into DECIMAL(38,0) does not
      val cents = ($"close".cast(DecimalType(28, 2)) * 100).cast("long")
      val stats = b.groupBy($"ticker").agg(
        (sum(cents).cast("double") / 1e2).as("s1"),
        (sum((cents * cents).cast(DecimalType(38, 0))).cast("double") / 1e4).as("s2"),
        count(lit(1)).cast("double").as("n"))
        .withColumn("mu", $"s1" / $"n")
        .withColumn("sigma", sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)))
        .select($"ticker", $"mu", $"sigma")
      b.join(broadcast(stats), Seq("ticker"))
        .withColumn("z", ($"close" - $"mu") / $"sigma")
        .select($"ticker", $"date", $"close", $"mu", $"sigma", $"z")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $barsSql,
      cents AS (
        SELECT ticker, date, close,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS c
        FROM bars),
      stats AS (
        SELECT ticker,
               CAST(sum(c) AS DOUBLE) / 1e2 AS s1,
               CAST(sum(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS s2,
               CAST(count(*) AS DOUBLE) AS n
        FROM cents GROUP BY ticker)
      SELECT b.ticker, b.date, b.close, s1 / n AS mu,
             sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sigma,
             (b.close - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
      FROM bars b JOIN stats s ON b.ticker = s.ticker
      ORDER BY b.ticker, b.date"""))

  // ---------------------------------------------------------------------
  // q25 — direction accuracy (W7 + A6: app.py:411-415): does yesterday's
  // move predict today's? sign(diff) agreement ratio per ticker, the
  // boolean mean as an exact int/int division.
  // ---------------------------------------------------------------------
  private val q25 = QueryDef(
    "q25_direction_accuracy",
    (spark, dir) => {
      import spark.implicits._
      val prev = lag($"close", 1).over(wTicker)
      val prev2 = lag($"close", 2).over(wTicker)
      bars(spark, dir)
        .withColumn("move", signum($"close" - prev))
        .withColumn("move_prev", signum(prev - prev2))
        .filter($"move".isNotNull && $"move_prev".isNotNull)
        .groupBy($"ticker")
        .agg(
          count(lit(1)).as("n"),
          sum(($"move" === $"move_prev").cast("long")).as("n_agree"))
        .withColumn("accuracy", $"n_agree".cast("double") / $"n".cast("double"))
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $barsSql,
      moves AS (
        SELECT ticker,
               sign(close - lag(close,1) OVER w) AS move,
               sign(lag(close,1) OVER w - lag(close,2) OVER w) AS move_prev
        FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY date))
      SELECT ticker, count(*) AS n,
             CAST(sum(CAST(move = move_prev AS BIGINT)) AS BIGINT) AS n_agree,
             CAST(sum(CAST(move = move_prev AS BIGINT)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS accuracy
      FROM moves WHERE move IS NOT NULL AND move_prev IS NOT NULL
      GROUP BY ticker ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q73 — min-max scaler (M3's second variant: the reference's LSTM path
  // fits MinMaxScaler, not StandardScaler — 01 · cell 6, 03 · cell 5).
  // Same broadcast-stats shape as q24: per-ticker extents are a tiny
  // aggregate broadcast back onto the rows, so the fact side is scanned
  // once and never re-shuffled. min/max of doubles are exact (no
  // accumulation-order sensitivity), and (x − mn)/(mx − mn) is the same
  // IEEE double arithmetic on both engines — bit-identical output.
  // ---------------------------------------------------------------------
  private val q73 = QueryDef(
    "q73_minmax_scaler",
    (spark, dir) => {
      import spark.implicits._
      val b = bars(spark, dir)
      val stats = b.groupBy($"ticker")
        .agg(min($"close").as("mn"), max($"close").as("mx"))
      b.join(broadcast(stats), Seq("ticker"))
        .withColumn("scaled", ($"close" - $"mn") / ($"mx" - $"mn"))
        .select($"ticker", $"date", $"close", $"mn", $"mx", $"scaled")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $barsSql,
      stats AS (
        SELECT ticker, min(close) AS mn, max(close) AS mx
        FROM bars GROUP BY ticker)
      SELECT b.ticker, b.date, b.close, s.mn, s.mx,
             (b.close - s.mn) / (s.mx - s.mn) AS scaled
      FROM bars b JOIN stats s ON b.ticker = s.ticker
      ORDER BY b.ticker, b.date"""))

  // ---------------------------------------------------------------------
  // q97 — grouped top-k (top-3 volume days per ticker): the rank-filter
  // form, which Catalyst rewrites to WindowGroupLimit — each partition
  // keeps only k rows per group BEFORE the full window sort materializes
  // (asserted in PlanSpec). The fully-tied-broken ordering (volume desc,
  // date) makes row_number deterministic.
  // ---------------------------------------------------------------------
  private val q97 = QueryDef(
    "q97_grouped_topk",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy("ticker").orderBy($"volume".desc, $"date")
      bars(spark, dir)
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"ticker", $"date", $"volume", $"rank",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long").as("close_cents"))
        .orderBy($"ticker", $"rank")
    },
    Some(s"""
      WITH $barsSql,
      ranked AS (
        SELECT ticker, date, volume,
               row_number() OVER (PARTITION BY ticker
                                  ORDER BY volume DESC, date) AS rank,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS close_cents
        FROM bars)
      SELECT ticker, date, volume, rank, close_cents
      FROM ranked WHERE rank <= 3 ORDER BY ticker, rank"""))

  // ---------------------------------------------------------------------
  // q135 — equi-depth (quantile) feature binning (the GBDT/feature-store
  // discretization step): every event value lands in one of 16
  // equal-population bins, bin = ⌊(rn−1)·K / n⌋ over the GLOBAL
  // (cents, event_id) order. The global order uses q22's discipline — a
  // rangepartitioning exchange + per-partition row_number + broadcast
  // partition offsets — never a single-partition window (the plan that
  // serializes a 100 TB sort through one task). Same formula on both
  // engines (DuckDB mirrors with row_number, not ntile, so the extras
  // distribution is pinned rather than engine-defined); exact cents.
  // ---------------------------------------------------------------------
  private val NBins = 16
  private val q135 = QueryDef(
    "q135_equidepth_bins",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .filter($"value".isNotNull)
        .select($"event_id",
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long").as("cents"))
      val parted = ev.repartitionByRange($"cents", $"event_id")
        .withColumn("_pid", spark_partition_id())
        .persist()
      val offsets = parted.groupBy($"_pid").agg(count(lit(1)).as("_cnt"))
        .withColumn("_offset",
          coalesce(sum($"_cnt").over(
            Window.orderBy($"_pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val total = offsets.agg(sum($"_cnt").as("n_total"))
      val binned = parted
        .join(broadcast(offsets.select($"_pid", $"_offset")), Seq("_pid"))
        .withColumn("rn",
          $"_offset" + row_number().over(
            Window.partitionBy($"_pid").orderBy($"cents", $"event_id")))
        .crossJoin(broadcast(total))
        .withColumn("bin", expr(s"((rn - 1) * $NBins) div n_total"))
        .groupBy($"bin")
        .agg(
          count(lit(1)).as("n_rows"),
          min($"cents").as("lo_cents"),
          max($"cents").as("hi_cents"),
          sum($"cents").as("sum_cents"))
      Scoped.materialize(parted)(binned).orderBy($"bin")
    },
    Some(s"""
      WITH e AS (
        SELECT event_id,
               CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
      r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, event_id) AS rn,
               count(*) OVER () AS n
        FROM e)
      SELECT ((rn - 1) * $NBins) // n AS bin,
             count(*) AS n_rows,
             min(cents) AS lo_cents, max(cents) AS hi_cents,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM r GROUP BY 1 ORDER BY bin"""))

  // ---------------------------------------------------------------------
  // q218 — PURGED K-FOLD CV WITH EMBARGO (the de Prado financial-ML
  // split q23's plain TimeSeriesSplit can't express): when labels look
  // forward in time (q219's barriers, q18's next-day labels), rows
  // adjacent to the test block leak label information into training.
  // The purge is ASYMMETRIC, per de Prado: BEFORE the test block,
  // exactly the H rows whose label horizon (q219's TbHorizon) reaches
  // into it are purged — their labels are functions of test-period
  // prices; AFTER the block, an EMBARGO of E rows covers serial
  // correlation leaking backwards (test labels peeking at post-test
  // training features). Per (fold, role ∈ train/test/purged): row and
  // ticker census, with the integer fold boundaries of q23
  // ((f·n) div K exclusive → ((f+1)·n) div K inclusive) so both engines
  // cut identically. Per-ticker indexes come from per-ticker windows
  // (|dates|-bounded partitions, the indicator-family discipline);
  // the fold fan-out is a broadcast of K rows.
  // ---------------------------------------------------------------------
  private val CvFolds = 5
  private val CvEmbargo = 3
  // the pre-test purge depth IS the label horizon; TbHorizon initializes
  // later in this object, so the tie is asserted at build time below
  private val CvPurgeH = 5
  private val q218 = QueryDef(
    "q218_purged_cv",
    (spark, dir) => {
      import spark.implicits._
      require(CvPurgeH == TbHorizon,
        "purge depth must equal the label horizon it guards against")
      val b = bars(spark, dir)
        .withColumn("rn", row_number().over(wTicker).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy($"ticker")))
      val folds = spark.range(0, CvFolds).toDF("fold")
      b.crossJoin(broadcast(folds))
        .withColumn("lo", expr(s"(fold * n) div $CvFolds + 1"))
        .withColumn("hi", expr(s"((fold + 1) * n) div $CvFolds"))
        .withColumn("role",
          when($"rn" >= $"lo" && $"rn" <= $"hi", "test")
            .when($"rn" >= $"lo" - CvPurgeH && $"rn" < $"lo", "purged")
            .when($"rn" > $"hi" && $"rn" <= $"hi" + CvEmbargo, "purged")
            .otherwise("train"))
        .groupBy($"fold", $"role")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"ticker").as("n_tickers"))
        .orderBy($"fold", $"role")
    },
    Some(s"""
      WITH $barsSql,
      r AS (
        SELECT ticker, date,
               row_number() OVER (PARTITION BY ticker ORDER BY date) AS rn,
               count(*) OVER (PARTITION BY ticker) AS n
        FROM bars),
      f AS (SELECT unnest(range(0, $CvFolds)) AS fold),
      roled AS (
        SELECT r.ticker, f.fold,
               CASE WHEN rn >= (fold * n) // $CvFolds + 1
                     AND rn <= ((fold + 1) * n) // $CvFolds THEN 'test'
                    WHEN rn >= (fold * n) // $CvFolds + 1 - $CvPurgeH
                     AND rn < (fold * n) // $CvFolds + 1 THEN 'purged'
                    WHEN rn > ((fold + 1) * n) // $CvFolds
                     AND rn <= ((fold + 1) * n) // $CvFolds + $CvEmbargo
                    THEN 'purged'
                    ELSE 'train' END AS role
        FROM r, f)
      SELECT fold, role, count(*) AS n_rows,
             CAST(count(DISTINCT ticker) AS BIGINT) AS n_tickers
      FROM roled GROUP BY 1, 2 ORDER BY fold, role"""))

  // ---------------------------------------------------------------------
  // q241 — COMBINATORIAL PURGED CV (CPCV, AFML ch.12): q218 tests each
  // block once, so one backtest path exists and its variance is
  // unknowable. CPCV partitions each series into N=6 sequential groups
  // and tests every PAIR — C(6,2)=15 splits — giving each group N−1=5
  // test appearances and therefore 5 complete backtest paths to
  // estimate path variance from. Per split the purge/embargo discipline
  // is q218's applied around BOTH test blocks (test wins where an
  // adjacent group's purge zone overlaps it; between-adjacent-groups
  // rows can be purged by one block's embargo AND the other's
  // pre-purge — counted once). Same integer boundaries as q218
  // ((g·n) div N), the split fan-out is a 15-row broadcast; output is
  // the per-(split, role) census. The N−1 appearances-per-group
  // identity is spec-asserted.
  // ---------------------------------------------------------------------
  private val CpcvN = 6
  private val q241 = QueryDef(
    "q241_cpcv",
    (spark, dir) => {
      import spark.implicits._
      require(CvPurgeH == TbHorizon,
        "purge depth must equal the label horizon it guards against")
      val b = bars(spark, dir)
        .withColumn("rn", row_number().over(wTicker).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy($"ticker")))
      val g = spark.range(0, CpcvN).toDF("g")
      val pairs = g.toDF("g1").crossJoin(g.toDF("g2"))
        .filter($"g1" < $"g2")
      def lo(c: String) = expr(s"($c * n) div $CpcvN + 1")
      def hi(c: String) = expr(s"(($c + 1) * n) div $CpcvN")
      b.crossJoin(broadcast(pairs))
        .withColumn("lo1", lo("g1")).withColumn("hi1", hi("g1"))
        .withColumn("lo2", lo("g2")).withColumn("hi2", hi("g2"))
        .withColumn("role",
          when(($"rn" >= $"lo1" && $"rn" <= $"hi1") ||
            ($"rn" >= $"lo2" && $"rn" <= $"hi2"), "test")
            .when(($"rn" >= $"lo1" - CvPurgeH && $"rn" < $"lo1") ||
              ($"rn" > $"hi1" && $"rn" <= $"hi1" + CvEmbargo) ||
              ($"rn" >= $"lo2" - CvPurgeH && $"rn" < $"lo2") ||
              ($"rn" > $"hi2" && $"rn" <= $"hi2" + CvEmbargo), "purged")
            .otherwise("train"))
        .groupBy($"g1", $"g2", $"role")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"ticker").as("n_tickers"))
        .orderBy($"g1", $"g2", $"role")
    },
    Some(s"""
      WITH $barsSql,
      r AS (
        SELECT ticker, date,
               row_number() OVER (PARTITION BY ticker ORDER BY date) AS rn,
               count(*) OVER (PARTITION BY ticker) AS n
        FROM bars),
      p AS (
        SELECT f1.g AS g1, f2.g AS g2
        FROM (SELECT unnest(range(0, $CpcvN)) AS g) f1,
             (SELECT unnest(range(0, $CpcvN)) AS g) f2
        WHERE f1.g < f2.g),
      roled AS (
        SELECT r.ticker, p.g1, p.g2,
               CASE WHEN (rn >= (g1 * n) // $CpcvN + 1
                          AND rn <= ((g1 + 1) * n) // $CpcvN)
                      OR (rn >= (g2 * n) // $CpcvN + 1
                          AND rn <= ((g2 + 1) * n) // $CpcvN) THEN 'test'
                    WHEN (rn >= (g1 * n) // $CpcvN + 1 - $CvPurgeH
                          AND rn < (g1 * n) // $CpcvN + 1)
                      OR (rn > ((g1 + 1) * n) // $CpcvN
                          AND rn <= ((g1 + 1) * n) // $CpcvN + $CvEmbargo)
                      OR (rn >= (g2 * n) // $CpcvN + 1 - $CvPurgeH
                          AND rn < (g2 * n) // $CpcvN + 1)
                      OR (rn > ((g2 + 1) * n) // $CpcvN
                          AND rn <= ((g2 + 1) * n) // $CpcvN + $CvEmbargo)
                    THEN 'purged'
                    ELSE 'train' END AS role
        FROM r, p)
      SELECT g1, g2, role, count(*) AS n_rows,
             CAST(count(DISTINCT ticker) AS BIGINT) AS n_tickers
      FROM roled GROUP BY 1, 2, 3 ORDER BY g1, g2, role"""))

  // ---------------------------------------------------------------------
  // q272 — WALK-FORWARD PURGED BACKTEST (r9 verdict "Next round" #4):
  // closes the AFML loop in-engine by COMPOSING the pieces that already
  // exist — triple-barrier labels (q219's silver), the purge discipline
  // (q218: a training row whose label horizon reaches into the test
  // block is contaminated), and the q122 batch-perceptron trainer (the
  // one classical trainer with no transcendentals — every update is an
  // order-independent exact-integer sum, so training is partitioning-
  // independent and the oracle can RE-TRAIN bit-exactly as chained
  // MATERIALIZED CTEs).
  //
  // Protocol: each ticker's bar series is cut into WfFolds sequential
  // blocks at q218's integer boundaries ((k·n) div K). For every fold
  // k ≥ 1, the model trains on the EXPANDING window of rows strictly
  // before the test block minus the H-row purge zone (rn + H ≤ lo − 1:
  // those labels are functions of test-period prices), pooled across
  // tickers (the cross-sectional AFML setup); WfRounds perceptron
  // rounds over SIGN features (bias, sign of the 1-day and of the
  // 5-day close change — ±1/0, so gradients are bounded by row count
  // and weights by rounds·rows: margins stay ≤ 3·R·n ≪ int64 at ANY
  // corpus scale, where cents-scale features overflowed round-2
  // margins already at sf0.1) against the binarized triple-barrier
  // label (+1 = up-barrier touch, −1 = down/timeout); then the fold's
  // test block is scored OUT-OF-FOLD and exact-integer metrics
  // reported (sign convention pinned: margin > 0 ⇒ up). No embargo is
  // needed: the walk-forward train set ends before the test block, so
  // no post-test rows ever train.
  //
  // Scale shape: the feature frame is one linear pass (persisted across
  // folds); each training round is ONE map-side-combined aggregate with
  // the weights inlined as literals (the q122/k-means discipline — the
  // per-round driver collect is the 1-row model state), each fold's
  // metrics ONE more. (WfFolds−1)·WfRounds + folds tiny collects total;
  // plans stay flat, nothing corpus-sized leaves the executors.
  // ---------------------------------------------------------------------
  private val WfFolds = 4
  private val WfRounds = 5

  private val q272 = QueryDef.deferred(
    "q272_walkforward_backtest",
    (spark, dir) => {
      import spark.implicits._
      require(CvPurgeH == TbHorizon,
        "purge depth must equal the label horizon it guards against")
      def sgn(c: org.apache.spark.sql.Column) =
        when(c > 0L, 1L).when(c < 0L, -1L).otherwise(0L)
      val f = tripleBarrier(spark, dir)
        .withColumn("d1", $"cents" - lag($"cents", 1).over(wTicker))
        .withColumn("d5", $"cents" - lag($"cents", 5).over(wTicker))
        .filter($"d1".isNotNull && $"d5".isNotNull) // rn ≥ 6: full features
        .withColumn("y", when($"label" === 1L, 1L).otherwise(-1L))
        .select($"ticker", $"rn", $"n", $"y", lit(1L).as("x0"),
          sgn($"d1").as("x1"), sgn($"d5").as("x5"))
        .persist()
      try {
        // r14 (guide §2.6/§1): the fold loop ran 21 sequential 1-row
        // collect jobs ((WfFolds−1) × (WfRounds grads + count + metrics))
        // over the cached feature frame — pure per-job scheduler overhead
        // at this SF. Folds are independent given the round index, and
        // every fold's weights are literals, so ALL folds' round-r
        // gradients fuse into ONE conditional-sum aggregate per round
        // (WfRounds + 2 jobs total). Same filters, same sums, same
        // update — bit-identical weights; rounds stay sequential (each
        // round's margin screen needs the previous round's weights).
        val folds = (1 until WfFolds).toArray
        // purge: a train row at rn labels off rows rn+1..rn+H, so any
        // rn with rn + H ≥ lo peeks at test prices — excluded
        def trainPred(k: Int) =
          $"rn" + CvPurgeH <= expr(s"($k * n) div $WfFolds")
        val ws = folds.map(_ => Array(0L, 0L, 0L))
        for (_ <- 1 to WfRounds) {
          val gradCols = folds.flatMap { k =>
            val w = ws(k - 1)
            val active = trainPred(k) &&
              $"y" * (lit(w(0)) * $"x0" + lit(w(1)) * $"x1" +
                lit(w(2)) * $"x5") <= 0L
            Seq(
              coalesce(sum(when(active, $"y" * $"x0")), lit(0L)),
              coalesce(sum(when(active, $"y" * $"x1")), lit(0L)),
              coalesce(sum(when(active, $"y" * $"x5")), lit(0L)))
          }
          val g = f.agg(gradCols.head, gradCols.tail: _*).collect()(0)
          folds.foreach { k =>
            val w = ws(k - 1); val b = 3 * (k - 1)
            ws(k - 1) = Array(w(0) + g.getLong(b), w(1) + g.getLong(b + 1),
              w(2) + g.getLong(b + 2))
          }
        }
        val trainCols = folds.map(k =>
          coalesce(sum(when(trainPred(k), 1L)), lit(0L)))
        val nTrains = f.agg(trainCols.head, trainCols.tail: _*).collect()(0)
        val metricCols = folds.flatMap { k =>
          val w = ws(k - 1)
          val inTest =
            $"rn" >= expr(s"($k * n) div $WfFolds + 1") &&
              $"rn" <= expr(s"(($k + 1) * n) div $WfFolds")
          val margin = lit(w(0)) * $"x0" + lit(w(1)) * $"x1" +
            lit(w(2)) * $"x5"
          val pred = when(margin > 0L, 1L).otherwise(-1L)
          Seq(
            coalesce(sum(when(inTest, 1L)), lit(0L)),
            coalesce(sum(when(inTest && $"y" === 1L, 1L)), lit(0L)),
            coalesce(sum(when(inTest && pred === 1L, 1L)), lit(0L)),
            coalesce(sum(when(inTest && pred === $"y", 1L)), lit(0L)))
        }
        val m = f.agg(metricCols.head, metricCols.tail: _*).collect()(0)
        val rows = folds.toSeq.map { k =>
          val w = ws(k - 1); val b = 4 * (k - 1)
          (k.toLong, w(0), w(1), w(2), nTrains.getLong(k - 1),
            m.getLong(b), m.getLong(b + 1), m.getLong(b + 2),
            m.getLong(b + 3))
        }
        // empty test blocks (possible only on degenerate tiny fixtures)
        // emit no row, matching the oracle's GROUP BY over zero joined
        // rows — an n_test=0 fold row would be a row-count mismatch
        rows.filter(_._6 > 0L)
          .toDF("fold", "w_bias", "w_d1", "w_d5", "n_train",
            "n_test", "n_up_true", "n_up_pred", "n_correct")
          .withColumn("acc_milli", expr("(1000 * n_correct) div n_test"))
          .orderBy($"fold")
      } finally f.unpersist()
    }) {
      // DEFERRED oracle (the q113/q226 pattern) — q272 is declared before
      // tripleBarrierSql/TbHorizon in this object, so eager interpolation
      // at object init would read null/0; dump-time generation sees the
      // fully-initialized object
      def fold(k: Int): String = {
        val chain = (1 to WfRounds).map { r =>
          s"""r${k}_$r AS MATERIALIZED (
          SELECT w0 + coalesce(sum(y * x0), 0) AS w0,
                 w1 + coalesce(sum(y * x1), 0) AS w1,
                 w2 + coalesce(sum(y * x5), 0) AS w2
          FROM r${k}_${r - 1} LEFT JOIN t$k
            ON y * (w0 * x0 + w1 * x1 + w2 * x5) <= 0
          GROUP BY w0, w1, w2)"""
        }.mkString(",\n      ")
        s"""t$k AS (
        SELECT * FROM f WHERE rn + $CvPurgeH <= ($k * n) // $WfFolds),
      r${k}_0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                         CAST(0 AS BIGINT) AS w2),
      $chain,
      m$k AS (
        SELECT CAST($k AS BIGINT) AS fold,
               CAST(r.w0 AS BIGINT) AS w_bias, CAST(r.w1 AS BIGINT) AS w_d1,
               CAST(r.w2 AS BIGINT) AS w_d5,
               (SELECT count(*) FROM t$k) AS n_train,
               count(*) AS n_test,
               CAST(sum(CASE WHEN f.y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_up_true,
               CAST(sum(CASE WHEN r.w0 * f.x0 + r.w1 * f.x1 + r.w2 * f.x5 > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_up_pred,
               CAST(sum(CASE WHEN (CASE WHEN r.w0 * f.x0 + r.w1 * f.x1
                                             + r.w2 * f.x5 > 0
                                        THEN 1 ELSE -1 END) = f.y
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM r${k}_$WfRounds r CROSS JOIN f
        WHERE f.rn >= ($k * n) // $WfFolds + 1
          AND f.rn <= (($k + 1) * n) // $WfFolds
        GROUP BY r.w0, r.w1, r.w2)"""
      }
      val folds = (1 until WfFolds).map(fold).mkString(",\n      ")
      val emit = (1 until WfFolds).map(k => s"SELECT * FROM m$k")
        .mkString("\n      UNION ALL ")
      // f is MATERIALIZED: DuckDB inlines a CTE into each of its ~20 uses
      s"""
      WITH $tripleBarrierSql,
      f AS MATERIALIZED (
        SELECT ticker, rn, n,
               CASE WHEN label = 1 THEN CAST(1 AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS y,
               CAST(1 AS BIGINT) AS x0,
               CAST(CASE WHEN d1 > 0 THEN 1 WHEN d1 < 0 THEN -1 ELSE 0 END
                 AS BIGINT) AS x1,
               CAST(CASE WHEN d5 > 0 THEN 1 WHEN d5 < 0 THEN -1 ELSE 0 END
                 AS BIGINT) AS x5
        FROM (
          SELECT ticker, rn, n, label,
                 cents - lag(cents, 1) OVER w AS d1,
                 cents - lag(cents, 5) OVER w AS d5
          FROM tb WINDOW w AS (PARTITION BY ticker ORDER BY date))
        WHERE d1 IS NOT NULL AND d5 IS NOT NULL),
      $folds
      SELECT fold, w_bias, w_d1, w_d5, n_train, n_test, n_up_true,
             n_up_pred, n_correct,
             (1000 * n_correct) // n_test AS acc_milli
      FROM ($emit) ORDER BY fold"""
    }

  // ---------------------------------------------------------------------
  // q219 — TRIPLE-BARRIER LABELING (de Prado): the label engineering
  // that replaces q18's naive next-day direction for financial training
  // data — per (ticker, entry day), the FIRST of three events within an
  // H-day horizon decides the label: upper barrier touch (+2%, label 1),
  // lower barrier touch (−2%, label −1), or horizon expiry (label 0).
  // Exact integer price arithmetic: close in cents (DECIMAL-scaled), a
  // touch is 100·c_future ≥ 102·c_entry (resp. ≤ 98·c_entry) — no float
  // thresholds. The horizon expansion is an EXPLODE of H offsets + one
  // equi-join on (ticker, rn) — never an inequality/window self-join —
  // so pair work is exactly H rows per entry at any scale; first-touch
  // selection is a per-(entry) min over ≤ H candidates with up-barrier
  // priority on same-day double touches (deterministic tiebreak,
  // mirrored in SQL via min(struct)). Time-barrier entries report
  // min(H, remaining days) as days_to_event.
  // ---------------------------------------------------------------------
  private[operators] val TbHorizon = 5
  private[operators] val TbUpPct = 102L   // +2% barrier: 100·cf ≥ 102·c0
  private[operators] val TbDownPct = 98L  // −2% barrier: 100·cf ≤ 98·c0

  /** Per-entry triple-barrier outcome table (ticker, date, rn, n, cents,
    * label, days_to_event) — a Scoped.shared derived table (Silver
    * "triple_barrier_labels") consumed by q219 and the label-downstream
    * operators (q220 meta-labels, q221 uniqueness weights).
    */
  private[operators] def tripleBarrier(
      spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "triple_barrier_labels", dir)((Nil, {
      import spark.implicits._
      val b = bars(spark, dir)
        .withColumn("cents",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("rn", row_number().over(wTicker).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"ticker")))
      val probes = b
        .select($"ticker", $"rn", $"cents",
          explode(sequence(lit(1), lit(TbHorizon))).as("off"))
        .withColumn("frn", $"rn" + $"off")
      val touches = probes
        .join(b.select($"ticker", $"rn".as("frn"), $"cents".as("fcents")),
          Seq("ticker", "frn"))
        .withColumn("tt",
          when(lit(100L) * $"fcents" >= lit(TbUpPct) * $"cents", 0L)
            .when(lit(100L) * $"fcents" <= lit(TbDownPct) * $"cents", 1L))
        .filter($"tt".isNotNull)
        .groupBy($"ticker", $"rn")
        .agg(min(struct($"off", $"tt")).as("first"))
        .select($"ticker", $"rn", $"first.off".as("t_off"),
          $"first.tt".as("t_tt"))
      b.join(touches, Seq("ticker", "rn"), "left")
        .withColumn("label",
          when($"t_tt" === 0L, 1L).when($"t_tt" === 1L, -1L).otherwise(0L))
        .withColumn("days_to_event",
          coalesce($"t_off", least(lit(TbHorizon.toLong), $"n" - $"rn")))
        .select($"ticker", $"date", $"rn", $"n", $"cents", $"label",
          $"days_to_event")
    }))

  /** Oracle CTE prefix shared by q219/q220/q221: bars → `tb` (ticker,
    * date, rn, n, cents, label, days_to_event).
    */
  // lazy: q272 (declared earlier in this object) interpolates this into
  // its oracle at object init — a plain val would still be null there
  private lazy val tripleBarrierSql = s"""
      $barsSql,
      b AS (
        SELECT ticker, date,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY ticker ORDER BY date) AS rn,
               count(*) OVER (PARTITION BY ticker) AS n
        FROM bars),
      probes AS (
        SELECT ticker, rn, cents, u.off AS off, rn + u.off AS frn
        FROM (SELECT *, unnest([{'off': o} for o in range(1, $TbHorizon + 1)])
                AS u FROM b)),
      touches AS (
        SELECT p.ticker, p.rn,
               min({'off': p.off,
                    'tt': CASE WHEN 100 * f.cents >= $TbUpPct * p.cents
                               THEN 0 ELSE 1 END}) AS first
        FROM probes p
        JOIN b f ON f.ticker = p.ticker AND f.rn = p.frn
        WHERE 100 * f.cents >= $TbUpPct * p.cents
           OR 100 * f.cents <= $TbDownPct * p.cents
        GROUP BY 1, 2),
      tb AS (
        SELECT b.ticker, b.date, b.rn, b.n, b.cents,
               CAST(CASE WHEN t.first['tt'] = 0 THEN 1
                         WHEN t.first['tt'] = 1 THEN -1
                         ELSE 0 END AS BIGINT) AS label,
               CAST(coalesce(t.first['off'],
                 least($TbHorizon, b.n - b.rn)) AS BIGINT) AS days_to_event
        FROM b LEFT JOIN touches t ON t.ticker = b.ticker AND t.rn = b.rn)"""

  private val q219 = QueryDef(
    "q219_triple_barrier",
    (spark, dir) => {
      import spark.implicits._
      tripleBarrier(spark, dir)
        .select($"ticker", $"date", $"cents", $"label", $"days_to_event")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $tripleBarrierSql
      SELECT ticker, date, cents, label, days_to_event
      FROM tb ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q220 — META-LABELING (de Prado's second model): given a cheap
  // PRIMARY signal (here 1-day momentum: yesterday's close-to-close
  // direction), the meta-label is whether the primary call AGREED with
  // the realized triple-barrier outcome — the training target for a
  // secondary model that sizes (or vetoes) the primary's bets. Only
  // decided entries participate (label ≠ 0, primary defined at rn ≥ 2).
  // Output per ticker: signal census, agreement count, the long/short
  // split of agreements, and precision in exact millis — the per-ticker
  // diagnostic that says where the primary is worth sizing up. One
  // |dates|-bounded lag window + one map-combinable rollup.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // q222 — VOLATILITY-SCALED BARRIERS (the dynamic form q219's fixed ±2%
  // approximates): de Prado's actual recipe sizes each entry's barriers
  // by the instrument's CURRENT volatility — here the exact-integer
  // proxy mean |Δclose| in cents over the last VolWin deltas (strict
  // window: entries without full history are excluded, the production
  // choice), barriers at entry ± KVol·vol. Same explode-H + equi-join
  // pipeline and min(struct) first-touch as q219 — the only change is
  // the per-entry threshold, which is exactly why the barrier logic is
  // a join predicate and not a constant: at scale the threshold column
  // rides the same shuffle, no extra pass. Per-ticker delta/vol windows
  // are |dates|-bounded (the indicator discipline).
  // ---------------------------------------------------------------------
  private val VolWin = 10
  private val KVol = 2L
  private val q222 = QueryDef(
    "q222_vol_scaled_barriers",
    (spark, dir) => {
      import spark.implicits._
      val wv = wTicker.rowsBetween(-(VolWin - 1), 0)
      val b = bars(spark, dir)
        .withColumn("cents",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("rn", row_number().over(wTicker).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"ticker")))
        .withColumn("d", abs($"cents" - lag($"cents", 1).over(wTicker)))
        .withColumn("vol",
          when(count($"d").over(wv) === VolWin,
            expr(s"(sum(d) OVER (PARTITION BY ticker ORDER BY date" +
              s" ROWS BETWEEN ${VolWin - 1} PRECEDING AND CURRENT ROW))" +
              s" div $VolWin")))
        .persist()
      val entries = b.filter($"vol".isNotNull)
      val probes = entries
        .select($"ticker", $"rn", $"cents", $"vol",
          explode(sequence(lit(1), lit(TbHorizon))).as("off"))
        .withColumn("frn", $"rn" + $"off")
      val touches = probes
        .join(b.select($"ticker", $"rn".as("frn"), $"cents".as("fcents")),
          Seq("ticker", "frn"))
        .withColumn("tt",
          when($"fcents" >= $"cents" + lit(KVol) * $"vol", 0L)
            .when($"fcents" <= $"cents" - lit(KVol) * $"vol", 1L))
        .filter($"tt".isNotNull)
        .groupBy($"ticker", $"rn")
        .agg(min(struct($"off", $"tt")).as("first"))
        .select($"ticker", $"rn", $"first.off".as("t_off"),
          $"first.tt".as("t_tt"))
      val out = entries.join(touches, Seq("ticker", "rn"), "left")
        .withColumn("label",
          when($"t_tt" === 0L, 1L).when($"t_tt" === 1L, -1L).otherwise(0L))
        .withColumn("days_to_event",
          coalesce($"t_off", least(lit(TbHorizon.toLong), $"n" - $"rn")))
        .select($"ticker", $"date", $"cents", $"vol".as("vol_cents"),
          $"label", $"days_to_event")
      Scoped.materialize(b)(out).orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH $barsSql,
      b0 AS (
        SELECT ticker, date,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY ticker ORDER BY date) AS rn,
               count(*) OVER (PARTITION BY ticker) AS n
        FROM bars),
      b AS (
        SELECT *,
               CASE WHEN count(d) OVER wv = $VolWin
                    THEN sum(d) OVER wv // $VolWin END AS vol
        FROM (
          SELECT *, abs(cents - lag(cents)
                 OVER (PARTITION BY ticker ORDER BY date)) AS d
          FROM b0)
        WINDOW wv AS (PARTITION BY ticker ORDER BY date
                      ROWS BETWEEN ${VolWin - 1} PRECEDING AND CURRENT ROW)),
      probes AS (
        SELECT ticker, rn, cents, vol, u.off AS off, rn + u.off AS frn
        FROM (SELECT *, unnest([{'off': o} for o in range(1, $TbHorizon + 1)])
                AS u FROM b WHERE vol IS NOT NULL)),
      touches AS (
        SELECT p.ticker, p.rn,
               min({'off': p.off,
                    'tt': CASE WHEN f.cents >= p.cents + $KVol * p.vol
                               THEN 0 ELSE 1 END}) AS first
        FROM probes p
        JOIN b f ON f.ticker = p.ticker AND f.rn = p.frn
        WHERE f.cents >= p.cents + $KVol * p.vol
           OR f.cents <= p.cents - $KVol * p.vol
        GROUP BY 1, 2)
      SELECT e.ticker, e.date, e.cents, CAST(e.vol AS BIGINT) AS vol_cents,
             CAST(CASE WHEN t.first['tt'] = 0 THEN 1
                       WHEN t.first['tt'] = 1 THEN -1
                       ELSE 0 END AS BIGINT) AS label,
             CAST(coalesce(t.first['off'],
               least($TbHorizon, e.n - e.rn)) AS BIGINT) AS days_to_event
      FROM b e LEFT JOIN touches t ON t.ticker = e.ticker AND t.rn = e.rn
      WHERE e.vol IS NOT NULL
      ORDER BY e.ticker, e.date"""))

  private val q220 = QueryDef(
    "q220_meta_labels",
    (spark, dir) => {
      import spark.implicits._
      val tb = tripleBarrier(spark, dir)
      val withPrimary = tb
        .withColumn("prev", lag($"cents", 1).over(wTicker))
        .filter($"prev".isNotNull && $"cents" =!= $"prev" && $"label" =!= 0L)
        .withColumn("prim", when($"cents" > $"prev", 1L).otherwise(-1L))
        .withColumn("meta", when($"prim" === $"label", 1L).otherwise(0L))
      withPrimary.groupBy($"ticker")
        .agg(count(lit(1)).as("n_signals"),
          sum($"meta").as("n_agree"),
          sum(when($"meta" === 1L && $"prim" === 1L, 1L).otherwise(0L))
            .as("n_agree_long"),
          sum(when($"meta" === 1L && $"prim" === -1L, 1L).otherwise(0L))
            .as("n_agree_short"))
        .withColumn("precision_milli", expr("(1000 * n_agree) div n_signals"))
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $tripleBarrierSql,
      pr AS (
        SELECT ticker, rn, cents, label,
               lag(cents) OVER (PARTITION BY ticker ORDER BY rn) AS prev
        FROM tb),
      sig AS (
        SELECT ticker,
               CASE WHEN cents > prev THEN 1 ELSE -1 END AS prim,
               label
        FROM pr WHERE prev IS NOT NULL AND cents <> prev AND label <> 0)
      SELECT ticker,
             count(*) AS n_signals,
             CAST(sum(CASE WHEN prim = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
             CAST(sum(CASE WHEN prim = label AND prim = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_long,
             CAST(sum(CASE WHEN prim = label AND prim = -1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_short,
             CAST((1000 * sum(CASE WHEN prim = label THEN 1 ELSE 0 END))
               // count(*) AS BIGINT) AS precision_milli
      FROM sig GROUP BY ticker ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q221 — LABEL UNIQUENESS WEIGHTS (de Prado sample weights): entries
  // whose horizons overlap share information, so training weights each
  // entry by its average label uniqueness — mean over its event span of
  // 1/(concurrent open labels on that day). Exact integer form: per
  // (ticker, day) concurrency c from one explode + count, per-entry
  // weight Σ (10⁶ div c) over the span, uniqueness in millis =
  // weight div (1000·span). Span explode is ≤ H rows per entry (the
  // q219 bound); concurrency is one map-combinable count; no windows
  // beyond the |dates|-bounded ticker index. Per-ticker rollup emits
  // the weight mass and the min/mean uniqueness — what an overlapping-
  // label dataset loses versus independent sampling.
  // ---------------------------------------------------------------------
  private val q221 = QueryDef(
    "q221_uniqueness_weights",
    (spark, dir) => {
      import spark.implicits._
      val tb = tripleBarrier(spark, dir)
        .filter($"days_to_event" >= 1L)
        .persist()
      val span = tb.select($"ticker", $"rn", $"days_to_event",
          explode(sequence(lit(1L), $"days_to_event")).as("off"))
        .withColumn("day_rn", $"rn" + $"off")
      val conc = span.groupBy($"ticker", $"day_rn")
        .agg(count(lit(1)).as("c"))
      val wPerEntry = span.join(conc, Seq("ticker", "day_rn"))
        .groupBy($"ticker", $"rn")
        .agg(sum(expr("1000000L div c")).as("w_micro"),
          max($"days_to_event").as("span_days"))
        .withColumn("uniq_milli", expr("w_micro div (1000 * span_days)"))
      wPerEntry.groupBy($"ticker")
        .agg(count(lit(1)).as("n_entries"),
          sum($"w_micro").as("sum_w_micro"),
          min($"uniq_milli").as("min_uniq_milli"),
          expr("sum(uniq_milli) div count(1)").as("mean_uniq_milli"))
        .orderBy($"ticker")
        // tb is a shared silver table; only the local persist closes here
        .transform(df => Scoped.materialize(tb)(df))
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $tripleBarrierSql,
      sp AS (
        SELECT ticker, rn, days_to_event, rn + u.off AS day_rn
        FROM (SELECT *, unnest([{'off': o}
                for o in range(1, $TbHorizon + 1)]) AS u
              FROM tb WHERE days_to_event >= 1) t
        WHERE u.off <= days_to_event),
      conc AS (
        SELECT ticker, day_rn, count(*) AS c FROM sp GROUP BY 1, 2),
      w AS (
        SELECT sp.ticker, sp.rn,
               CAST(sum(1000000 // c.c) AS BIGINT) AS w_micro,
               max(sp.days_to_event) AS span_days
        FROM sp JOIN conc c ON c.ticker = sp.ticker AND c.day_rn = sp.day_rn
        GROUP BY 1, 2)
      SELECT ticker,
             count(*) AS n_entries,
             CAST(sum(w_micro) AS BIGINT) AS sum_w_micro,
             CAST(min(w_micro // (1000 * span_days)) AS BIGINT)
               AS min_uniq_milli,
             CAST(sum(w_micro // (1000 * span_days)) // count(*) AS BIGINT)
               AS mean_uniq_milli
      FROM w GROUP BY ticker ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q223 — STREAMING TRIPLE-BARRIER LABELER (VERDICT r8 "Next round" #3):
  // the production shape of q219 — an entry's label is decided the moment
  // the deciding bar ARRIVES (barrier touch, or the H-th following bar),
  // not in a nightly batch recompute. Built on transformWithState (the
  // q128 surface): per-ticker ValueState holds the bar counter plus the
  // OPEN entries, and every incoming bar (a) resolves any open entry it
  // touches (up-barrier checked first — the min(struct(off, tt)) priority
  // of the batch labeler), (b) expires entries reaching the H-bar
  // horizon with label 0, (c) opens itself as a new entry. Horizon expiry
  // is BAR-COUNT-driven, so it needs no event-time timers — the H-th
  // future bar is itself the expiry signal.
  //
  // Stream ≡ batch: the emitted set is EXACTLY q219's label table minus
  // the undecided tail (entries with no touch and fewer than H following
  // bars — those stay open awaiting data, which is the honest streaming
  // semantics), so the DuckDB oracle is the q219 CTE with that filter —
  // the batch SQL is the streaming query's correctness oracle, the
  // q136/q173 equivalence discipline. WindowFeaturesSpec additionally
  // replays the feed at different chunkings and asserts batch-boundary
  // independence.
  //
  // Scale shape: state is ≤ H+1 open entries + one counter per ticker
  // (an entry lives at most H bars); per-batch work is O(bars·H). The
  // replay feed is the bar stream chunked into date-range parquet files
  // consumed in order (maxFilesPerTrigger=1 under AvailableNow — the
  // kafka-replay stand-in); within a micro-batch a ticker's bars are
  // sorted locally (bounded by the chunk's date span — the replay
  // contract; a production feed delivers bars event-time-ordered). The
  // |dates| collect for chunk bounds is bounded driver model state (the
  // P12 discipline: ≤ |trading days| rows).
  // ---------------------------------------------------------------------
  private[operators] final case class TbBar(
      ticker: Long, date: java.sql.Date, cents: Long)
  private[operators] final case class TbOpen(
      rn: Long, date: java.sql.Date, cents: Long)
  private[operators] final case class TbSt(nSeen: Long, open: Seq[TbOpen])
  private[operators] final case class TbLabel(
      ticker: Long, date: java.sql.Date, cents: Long,
      label: Long, days_to_event: Long)

  private[operators] class TbProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TbBar, TbLabel] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[TbSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TbSt]("tb_open",
        org.apache.spark.sql.Encoders.product[TbSt], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[TbBar],
        tv: TimerValues): Iterator[TbLabel] = {
      var s = if (st.exists()) st.get() else TbSt(0L, Nil)
      val out = scala.collection.mutable.ListBuffer.empty[TbLabel]
      rows.toArray.sortBy(_.date.getTime).foreach { b =>
        val rn = s.nSeen + 1
        val still = scala.collection.immutable.List.newBuilder[TbOpen]
        s.open.foreach { e =>
          val off = rn - e.rn
          if (100L * b.cents >= TbUpPct * e.cents)
            out += TbLabel(key, e.date, e.cents, 1L, off)
          else if (100L * b.cents <= TbDownPct * e.cents)
            out += TbLabel(key, e.date, e.cents, -1L, off)
          else if (off >= TbHorizon)
            out += TbLabel(key, e.date, e.cents, 0L, TbHorizon.toLong)
          else still += e
        }
        still += TbOpen(rn, b.date, b.cents)
        s = TbSt(rn, still.result())
      }
      st.update(s)
      out.iterator
    }
  }

  /** Distinct tickers in the bars table — the q223 per-key state
    * cardinality StateBounds declares.
    */
  private[graft] def tickersOf(spark: SparkSession, dir: String): Long =
    bars(spark, dir).select("ticker").distinct().count()

  /** The (ticker, date, close cents) bar stream replayed as `nChunks`
    * date-range files — the shared q223/q240 feed.
    */
  private def barCentsReplay(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame =
    graft.streaming.Streams.replay(outer, "date", nChunks)(bars(_, dir)
      .withColumn("cents",
        (col("close").cast(DecimalType(28, 2)) * 100).cast("long"))
      .select(col("ticker"), col("date"), col("cents")))

  /** The q223 build, chunking exposed for the batch-boundary-independence
    * spec: the bar stream is replayed as `nChunks` date-range files.
    */
  private[operators] def streamTripleBarrier(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val b = barCentsReplay(outer, dir, nChunks)
    import b.sparkSession.implicits._
    val labels = b.as[TbBar]
      .groupByKey(_.ticker)
      .transformWithState(new TbProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
    graft.streaming.Streams.runToParquet(labels, "append")
      .orderBy($"ticker", $"date")
  }

  private val q223 = QueryDef(
    "q223_stream_triple_barrier",
    (outer, dir) => streamTripleBarrier(outer, dir, 2),
    Some(s"""
      WITH $tripleBarrierSql
      SELECT ticker, date, cents, label, days_to_event
      FROM tb
      WHERE label <> 0 OR n - rn >= $TbHorizon
      ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q240 — STREAMING CUSUM FILTER (AFML ch.2.5: event-based sampling):
  // sample the bar stream only when cumulative relative drift since the
  // last event exceeds ±H — the symmetric reset CUSUM
  // S⁺ = max(0, S⁺ + δ), S⁻ = min(0, S⁻ + δ), δ = floor-div relative
  // move in millis, event + reset at |S| ≥ H. Unlike the prefix
  // recurrences (q229/q230) the RESET makes this genuinely sequential —
  // max(0,·) doesn't factor through day partials — so the engine runs
  // it where sequential-per-key is natural: transformWithState, one
  // (lastClose, S⁺, S⁻) ValueState row per ticker.
  //
  // The ORACLE is a DuckDB RECURSIVE CTE stepping the per-ticker day
  // rank — the first oracle in the suite that replays a true nonlinear
  // recurrence in SQL (bounded: recursion depth = |trading days|, each
  // step joins |tickers| rows). Integer millis via TRUNCATING division
  // on both engines (Scala `/` ≡ DuckDB `//`) keep every state value
  // exact.
  // ---------------------------------------------------------------------
  private val CuH = 200L // event threshold: 20% cumulative drift, millis
  private[operators] final case class CuSt(lastC: Long, sPos: Long, sNeg: Long)
  private[operators] final case class CuEvent(
      ticker: Long, date: java.sql.Date, side: Long, s_milli: Long)

  private[operators] class CuProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TbBar, CuEvent] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[CuSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CuSt]("cusum",
        org.apache.spark.sql.Encoders.product[CuSt], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[TbBar],
        tv: TimerValues): Iterator[CuEvent] = {
      var s = if (st.exists()) st.get() else null
      val out = scala.collection.mutable.ListBuffer.empty[CuEvent]
      rows.toArray.sortBy(_.date.getTime).foreach { b =>
        if (s == null) s = CuSt(b.cents, 0L, 0L)
        else {
          // TRUNCATING division, deliberately: DuckDB's `//` truncates
          // toward zero on negatives (−7//2 = −3), so Scala's `/` is the
          // matching operator — floorDiv would drift the S⁻ path 1 milli
          val d = 1000L * (b.cents - s.lastC) / s.lastC
          var up = math.max(0L, s.sPos + d)
          var dn = math.min(0L, s.sNeg + d)
          if (up >= CuH) { out += CuEvent(key, b.date, 1L, up); up = 0L }
          if (dn <= -CuH) { out += CuEvent(key, b.date, -1L, dn); dn = 0L }
          s = CuSt(b.cents, up, dn)
        }
      }
      st.update(s)
      out.iterator
    }
  }

  private[operators] def streamCusum(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val b = barCentsReplay(outer, dir, nChunks)
    import b.sparkSession.implicits._
    val events = b.as[TbBar]
      .groupByKey(_.ticker)
      .transformWithState(new CuProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
    graft.streaming.Streams.runToParquet(events, "append")
      .orderBy($"ticker", $"date", $"side")
  }

  private val q240 = QueryDef(
    "q240_stream_cusum_events",
    (outer, dir) => streamCusum(outer, dir, 2),
    Some(s"""
      WITH RECURSIVE $barsSql,
      bc AS (
        SELECT ticker, date,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY ticker ORDER BY date) AS rn
        FROM bars),
      walk AS (
        SELECT ticker, rn, date, cents,
               CAST(0 AS BIGINT) AS spos, CAST(0 AS BIGINT) AS sneg,
               CAST(0 AS BIGINT) AS side, CAST(0 AS BIGINT) AS s_milli
        FROM bc WHERE rn = 1
        UNION ALL
        SELECT b.ticker, b.rn, b.date, b.cents,
               CASE WHEN greatest(0, w.spos
                      + (1000 * (b.cents - w.cents)) // w.cents) >= $CuH
                    THEN 0
                    ELSE greatest(0, w.spos
                      + (1000 * (b.cents - w.cents)) // w.cents) END,
               CASE WHEN least(0, w.sneg
                      + (1000 * (b.cents - w.cents)) // w.cents) <= -$CuH
                    THEN 0
                    ELSE least(0, w.sneg
                      + (1000 * (b.cents - w.cents)) // w.cents) END,
               CASE WHEN greatest(0, w.spos
                      + (1000 * (b.cents - w.cents)) // w.cents) >= $CuH
                    THEN 1
                    WHEN least(0, w.sneg
                      + (1000 * (b.cents - w.cents)) // w.cents) <= -$CuH
                    THEN -1 ELSE 0 END,
               CASE WHEN greatest(0, w.spos
                      + (1000 * (b.cents - w.cents)) // w.cents) >= $CuH
                    THEN greatest(0, w.spos
                      + (1000 * (b.cents - w.cents)) // w.cents)
                    WHEN least(0, w.sneg
                      + (1000 * (b.cents - w.cents)) // w.cents) <= -$CuH
                    THEN least(0, w.sneg
                      + (1000 * (b.cents - w.cents)) // w.cents)
                    ELSE 0 END
        FROM walk w JOIN bc b ON b.ticker = w.ticker AND b.rn = w.rn + 1)
      SELECT ticker, date, side, s_milli
      FROM walk WHERE side <> 0
      ORDER BY ticker, date, side"""))

  override val defs: Seq[QueryDef] =
    Seq(q18, q19, q20, q21, q22, q23, q24, q25, q73, q97, q135, q218, q219,
      q220, q221, q222, q223, q240, q241, q272)
}
