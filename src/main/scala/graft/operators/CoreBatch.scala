package graft.operators

import graft.{QueryDef, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core batch relational slice (SURVEY.md §7.2 step 1).
  *
  * Re-expresses the reference's bronze→silver→gold dataflow
  * (reference: data_processing/reddit_pipeline.py, stock_pipeline.py,
  * build_training_dataset.py) over the fixture catalog:
  *   - `events` plays the reddit/stock message stream (ts, value, props-JSON);
  *   - `lineitem`/`orders` play the large price-series fact tables;
  *   - dims (`customer`…) play broadcast-join sides.
  *
  * Scale notes (100 TB stance): every query here is a declarative
  * DataFrame plan — filters/projections reach the parquet scan, aggregations
  * are partial+final hash aggs (map-side combine), joins against dims are
  * broadcast, and nothing ever collects to the driver. Money sums go through
  * an exact DECIMAL cast so results are partition-order invariant (the
  * correctness gate hash-compares against DuckDB).
  */
object CoreBatch extends QueryModule {

  /** Exact, order-invariant sum of a double column: per-row cast to decimal
    * (per-row doubles are bitwise identical on any engine), exact decimal
    * accumulation, then back to double. Avoids float accumulation-order
    * nondeterminism across partitionings (SURVEY.md §7.4).
    */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")
  private def dsumSql(expr: String, scale: Int = 4): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(28,$scale))) AS DOUBLE)"

  /** Deterministic rounded mean. Plain `round(avg(x), s)` is NOT
    * engine-reproducible: accumulation order differs, and at exact
    * round-half points Spark rounds the shortest decimal repr while DuckDB
    * rounds the binary value. Instead: exact integer sum at `inScale`
    * (inScale must capture the input's exact decimal grid), one
    * integer/integer double division (exact-half-representable, so
    * `floor(q + 0.5)` is an unambiguous half-up for the magnitudes here),
    * then division by a power of ten. Every step is bit-identical across
    * engines. Semantics: mean rounded half-toward-+∞ at `outScale`.
    */
  private def davg(c: Column, inScale: Int = 2, outScale: Int = 2): Column = {
    val I = (sum(c.cast(DecimalType(28, inScale))) * pow10(inScale)).cast("long")
    val n = count(c)
    val q =
      if (outScale >= inScale)
        (I * pow10(outScale - inScale)).cast("double") / n.cast("double")
      else
        I.cast("double") / (n * pow10(inScale - outScale)).cast("double")
    floor(q + lit(0.5)).cast("double") / lit(pow10(outScale).toDouble)
  }
  private def davgSql(expr: String, inScale: Int = 2, outScale: Int = 2): String = {
    val i = s"CAST(sum(CAST(($expr) AS DECIMAL(28,$inScale))) * ${pow10(inScale)} AS BIGINT)"
    val q =
      if (outScale >= inScale)
        s"CAST($i * ${pow10(outScale - inScale)} AS DOUBLE) / CAST(count($expr) AS DOUBLE)"
      else
        s"CAST($i AS DOUBLE) / CAST(count($expr) * ${pow10(inScale - outScale)} AS DOUBLE)"
    s"floor($q + 0.5) / ${pow10(outScale)}.0"
  }
  private def pow10(s: Int): Long = math.pow(10, s).toLong

  // ---------------------------------------------------------------------
  // q01 — pricing summary (A4/A6/F3: multi-agg with arithmetic, the
  // reference's daily multi-agg shape at build_training_dataset.py:50-56
  // scaled to the big fact table). TPC-H Q1-shaped.
  // ---------------------------------------------------------------------
  private val q01 = QueryDef(
    "q01_pricing_summary",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity", 2).as("sum_qty"),
          dsum($"l_extendedprice", 2).as("sum_base_price"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 6).as("sum_disc_price"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax"), 6).as("sum_charge"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_extendedprice").as("avg_price"),
          davg($"l_discount", 4, 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${dsumSql("l_quantity", 2)} AS sum_qty,
             ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
             ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
             ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
             ${davgSql("l_quantity")} AS avg_qty,
             ${davgSql("l_extendedprice")} AS avg_price,
             ${davgSql("l_discount", 4, 4)} AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------------
  // q02 — daily OHLCV roll-up (A2) with PINNED first/last semantics:
  // reference relies on Mongo insertion order (build_training_dataset.py:31,34
  // — a latent bug, SURVEY.md §7.4); we pin open/close to min_by/max_by over
  // a deterministic intra-day sequence. (l_orderkey, l_linenumber) is NOT
  // unique in the fixtures (duplicate line numbers exist at sf0.1), so the
  // sequence is extended with the price cents — remaining ties then carry
  // equal arg values and any winner yields the same answer on any engine.
  // ticker := l_suppkey, price := l_extendedprice, volume := l_quantity.
  // Scale: single shuffle on (ticker, date); partial aggregation map-side.
  // ---------------------------------------------------------------------
  private val q02 = QueryDef(
    "q02_daily_bars",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .withColumn("seq",
          ($"l_orderkey" * 16 + $"l_linenumber") * 100000000L
            + ($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
        .groupBy($"l_suppkey".as("ticker"), to_date($"l_shipdate").as("date"))
        .agg(
          min_by($"l_extendedprice", $"seq").as("open"),
          max($"l_extendedprice").as("high"),
          min($"l_extendedprice").as("low"),
          max_by($"l_extendedprice", $"seq").as("close"),
          dsum($"l_quantity", 2).as("volume"),
          count(lit(1)).as("n_trades"))
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      SELECT l_suppkey AS ticker, CAST(l_shipdate AS DATE) AS date,
             arg_min(l_extendedprice, (l_orderkey * 16 + l_linenumber) * 100000000 + CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS open,
             max(l_extendedprice) AS high,
             min(l_extendedprice) AS low,
             arg_max(l_extendedprice, (l_orderkey * 16 + l_linenumber) * 100000000 + CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS close,
             ${dsumSql("l_quantity", 2)} AS volume,
             count(*) AS n_trades
      FROM lineitem
      GROUP BY 1, 2
      ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q03 — FLAGSHIP: the gold-table build (§3.3) end-to-end over events.
  // bronze: JSON-decode props (S3/F5), null-reject (P3);
  // silver: 15-min tumbling window agg per event_type (A1, batch form);
  // daily re-agg of pre-aggregates (A3);
  // daily OHLCV bars from the same stream (A2);
  // gold: left join + fill nulls + ordered output (J2/P7/O1).
  // ---------------------------------------------------------------------
  private[graft] def goldDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posts = Tables.events(spark, dir)
      .withColumn("j", from_json($"props", new StructType().add("k", LongType)))
      .select($"event_id", $"ts", $"event_type", $"value",
        coalesce($"j.k", lit(0L)).as("num_comments"))
      .filter($"ts".isNotNull)

    val f15 = posts
      .groupBy(window($"ts", "15 minutes"), $"event_type")
      .agg(
        count(lit(1)).as("post_count"),
        davg($"value").as("avg_score"),
        dsum($"value", 2).as("total_score"),
        davg($"num_comments", 0).as("avg_comments"),
        max($"value").as("max_score"))
      .select($"window.start".as("window_start"), $"event_type",
        $"post_count", $"avg_score", $"total_score", $"avg_comments", $"max_score")

    val daily = f15
      .groupBy(to_date($"window_start").as("date"), $"event_type")
      .agg(
        sum($"post_count").as("post_count"),
        davg($"avg_score").as("avg_score"),
        dsum($"total_score", 2).as("total_score"),
        davg($"avg_comments").as("avg_comments"),
        max($"max_score").as("max_score"))

    val bars = posts
      .groupBy($"event_type", to_date($"ts").as("date"))
      .agg(
        min_by($"value", $"event_id").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", $"event_id").as("close"),
        count(lit(1)).as("volume"))

    bars.join(daily, Seq("event_type", "date"), "left")
      .na.fill(0)
      .select($"event_type", $"date", $"open", $"high", $"low", $"close",
        $"volume", $"post_count", $"avg_score", $"total_score",
        $"avg_comments", $"max_score")
      .orderBy($"event_type", $"date")
  }

  private[operators] val goldOracle = s"""
      WITH posts AS (
        SELECT event_id, ts, event_type, value,
               coalesce(CAST(json_extract(props, '$$.k') AS BIGINT), 0) AS num_comments
        FROM events WHERE ts IS NOT NULL),
      f15 AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start, event_type,
               count(*) AS post_count,
               ${davgSql("value")} AS avg_score,
               ${dsumSql("value", 2)} AS total_score,
               ${davgSql("num_comments", 0)} AS avg_comments,
               max(value) AS max_score
        FROM posts GROUP BY 1, 2),
      daily AS (
        SELECT CAST(window_start AS DATE) AS date, event_type,
               CAST(sum(post_count) AS BIGINT) AS post_count,
               ${davgSql("avg_score")} AS avg_score,
               ${dsumSql("total_score", 2)} AS total_score,
               ${davgSql("avg_comments")} AS avg_comments,
               max(max_score) AS max_score
        FROM f15 GROUP BY 1, 2),
      bars AS (
        SELECT event_type, CAST(ts AS DATE) AS date,
               arg_min(value, event_id) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, event_id) AS close,
               count(*) AS volume
        FROM posts GROUP BY 1, 2)
      SELECT b.event_type, b.date, b.open, b.high, b.low, b.close, b.volume,
             coalesce(d.post_count, 0) AS post_count,
             coalesce(d.avg_score, 0) AS avg_score,
             coalesce(d.total_score, 0) AS total_score,
             coalesce(d.avg_comments, 0) AS avg_comments,
             coalesce(d.max_score, 0) AS max_score
      FROM bars b LEFT JOIN daily d ON b.event_type = d.event_type AND b.date = d.date
      ORDER BY b.event_type, b.date"""

  private val q03 = QueryDef("q03_gold_daily", goldDaily, Some(goldOracle))

  // ---------------------------------------------------------------------
  // q04 — 15-min windowed feature agg alone (A1/T2 batch-equivalent of the
  // streaming plan in §3.1; the streaming form runs in StreamingSpec).
  // ---------------------------------------------------------------------
  private val q04 = QueryDef(
    "q04_features_15m",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .groupBy(window($"ts", "15 minutes"), $"event_type")
        .agg(
          count(lit(1)).as("post_count"),
          davg($"value").as("avg_score"),
          dsum($"value", 2).as("total_score"),
          max($"value").as("max_score"))
        .select($"window.start".as("window_start"), $"window.end".as("window_end"),
          $"event_type", $"post_count", $"avg_score", $"total_score", $"max_score")
        .orderBy($"window_start", $"event_type")
    },
    Some(s"""
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
             time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' AS window_end,
             event_type,
             count(*) AS post_count,
             ${davgSql("value")} AS avg_score,
             ${dsumSql("value", 2)} AS total_score,
             max(value) AS max_score
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY window_start, event_type"""))

  // ---------------------------------------------------------------------
  // q05 — stream–static equi-join (J1, batch form of §3.2): events joined
  // to the small customer dim. The dim side is explicitly broadcast — at
  // 100 TB the fact side never shuffles for this join.
  // ---------------------------------------------------------------------
  private val q05 = QueryDef(
    "q05_stream_static_join",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
      ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"), "inner")
        .select($"event_id", $"user_id", $"event_type", $"value", $"c_name", $"c_mktsegment")
        .orderBy($"event_id")
    },
    Some("""
      SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_name, c.c_mktsegment
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      ORDER BY e.event_id"""))

  // ---------------------------------------------------------------------
  // q06 — big equi-join + agg (J2 at fact scale): lineitem ⋈ orders on
  // orderkey, revenue per order priority. Shuffle join on the natural key;
  // AQE handles skew at scale.
  // ---------------------------------------------------------------------
  private val q06 = QueryDef(
    "q06_fact_join_agg",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 6).as("revenue"),
          count(lit(1)).as("n_items"),
          countDistinct($"o_orderkey").as("n_orders"))
        .orderBy($"o_orderpriority")
    },
    Some(s"""
      SELECT o_orderpriority,
             ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
             count(*) AS n_items,
             count(DISTINCT o_orderkey) AS n_orders
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** SILVER: the per-(event_type, day) rollup of the events fact — exact
    * count plus exact decimal value sum, the "daily bars" every
    * events-derived time series starts from. Promoted by the
    * SharedSubtreeSpec audit (r9 verdict #5): seven queries (q07, q54,
    * q62, q94, q101, q158, q234, q237) planned this fact aggregate
    * independently — at 100 TB that is seven full fact scans for one
    * derived table. `close_cents` consumers derive exact cents as
    * (y·100)::long — equal to Σ(per-row cents) because every decimal(28,2)
    * term ·100 is integral and decimal accumulation is exact.
    */
  private[operators] def dailyEvents(
      spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "daily_events", dir)({
      import spark.implicits._
      (Nil, Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(
          count(lit(1)).as("volume"),
          sum($"value".cast(DecimalType(28, 2))).as("y")))
    })

  // ---------------------------------------------------------------------
  // q07 — interval/range join (J5): the reference's per-row 24 h Mongo
  // lookup (stock_pipeline.py:159-179) rewritten set-based. A naive
  // equi-prefix join on event_type alone has 5 distinct keys — total skew
  // at scale. Since bar dates are midnights, ts ∈ [date−1d, date+1d) holds
  // EXACTLY when date ∈ {floor(ts), floor(ts)+1}: each raw event explodes
  // to its two candidate bar dates and the join becomes a pure equi-join
  // on (event_type, date) — well-distributed keys, no range residual, no
  // skew (the bucketed-by-day rewrite of SURVEY.md §2.3/§7.3). The bar
  // side reads the daily_events silver table, not a fresh fact rollup.
  // ---------------------------------------------------------------------
  private val q07 = QueryDef(
    "q07_interval_join",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).filter($"ts".isNotNull)
      val bars = dailyEvents(spark, dir)
        .select($"event_type", $"day".as("date"), $"volume")
      val cand = ev.select($"event_type", $"ts", $"value",
          explode(array(to_date($"ts"), date_add(to_date($"ts"), 1))).as("date"))
      bars.join(cand, Seq("event_type", "date"), "left")
        .groupBy($"event_type", $"date", $"volume")
        .agg(
          count($"ts").as("nearby_events"),
          davg($"value").as("nearby_avg"))
        .orderBy($"event_type", $"date")
    },
    Some(s"""
      WITH bars AS (
        SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS volume
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
      SELECT b.event_type, b.date, b.volume,
             count(e.ts) AS nearby_events,
             ${davgSql("e.value")} AS nearby_avg
      FROM bars b LEFT JOIN events e
        ON e.event_type = b.event_type
       AND e.ts >= CAST(b.date AS TIMESTAMP) - INTERVAL '1 day'
       AND e.ts <  CAST(b.date AS TIMESTAMP) + INTERVAL '1 day'
      GROUP BY b.event_type, b.date, b.volume
      ORDER BY b.event_type, b.date"""))

  // ---------------------------------------------------------------------
  // q08 — latest-row-per-key (W9/J6: predictor_service.py:38-43) as a
  // window top-1, not sort+limit per key.
  // ---------------------------------------------------------------------
  private val q08 = QueryDef(
    "q08_latest_per_key",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      Tables.orders(spark, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
        .orderBy($"o_custkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
      ORDER BY o_custkey"""))

  // ---------------------------------------------------------------------
  // q09 — deduplication by key (P8) with pinned survivor semantics:
  // dropDuplicates keeps an arbitrary row, so we pin "keep the lowest
  // sequence" via min_by (same shape the oracle can express).
  // ---------------------------------------------------------------------
  private val q09 = QueryDef(
    "q09_dedup_keys",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .groupBy($"user_id", $"event_type")
        .agg(
          min($"event_id").as("first_event_id"),
          min_by($"value", $"event_id").as("first_value"),
          count(lit(1)).as("n_dupes"))
        .orderBy($"user_id", $"event_type")
    },
    Some("""
      SELECT user_id, event_type,
             min(event_id) AS first_event_id,
             arg_min(value, event_id) AS first_value,
             count(*) AS n_dupes
      FROM events GROUP BY 1, 2
      ORDER BY user_id, event_type"""))

  // ---------------------------------------------------------------------
  // q10 — range/between filter (P5) + projection/rename (P1/P2): the
  // partition-prunable access pattern. Filter + projection reach the scan
  // (PushedFilters in .explain).
  // ---------------------------------------------------------------------
  private val q10 = QueryDef(
    "q10_range_filter",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .filter($"l_shipdate".between(lit("1996-01-01").cast("timestamp"),
                                      lit("1996-12-31").cast("timestamp")))
        .filter($"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        .select($"l_orderkey", $"l_linenumber",
          ($"l_extendedprice" * $"l_discount").as("disc_revenue"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice * l_discount AS disc_revenue
      FROM lineitem
      WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      ORDER BY l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------------
  // q11 — horizontal split + union-all round trip (U1/U3: split_data.py's
  // train/sim threshold split, then pd.concat). Tagged slices re-unioned.
  // ---------------------------------------------------------------------
  private val q11 = QueryDef(
    "q11_split_union",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
      val cut = lit("1997-01-01").cast("timestamp")
      val train = o.filter($"o_orderdate" < cut).withColumn("split", lit("train"))
      val sim = o.filter($"o_orderdate" >= cut).withColumn("split", lit("simulate"))
      train.unionByName(sim)
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             dsum($"o_totalprice", 2).as("total"),
             min($"o_orderdate").as("min_date"),
             max($"o_orderdate").as("max_date"))
        .orderBy($"split")
    },
    Some(s"""
      SELECT split, count(*) AS n, ${dsumSql("o_totalprice", 2)} AS total,
             min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
      FROM (
        SELECT o_totalprice, o_orderdate, 'train' AS split FROM orders
        WHERE o_orderdate < TIMESTAMP '1997-01-01'
        UNION ALL
        SELECT o_totalprice, o_orderdate, 'simulate' AS split FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01')
      GROUP BY split ORDER BY split"""))

  // ---------------------------------------------------------------------
  // q12 — distinct (P10) + membership filter (P6).
  // ---------------------------------------------------------------------
  private val q12 = QueryDef(
    "q12_distinct_membership",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .filter($"event_type".isin("purchase", "signup"))
        .select($"event_type", to_date($"ts").as("date"))
        .distinct()
        .orderBy($"event_type", $"date")
    },
    Some("""
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS date
      FROM events WHERE event_type IN ('purchase', 'signup')
      ORDER BY event_type, date"""))

  // ---------------------------------------------------------------------
  // q13 — JSON decode (S3/F5) + safe coercion (P9: try_cast ~ pandas
  // to_numeric(errors="coerce")) + null-default (P7).
  // ---------------------------------------------------------------------
  private val q13 = QueryDef(
    "q13_json_coerce",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .withColumn("j", from_json($"props", new StructType().add("k", StringType)))
        .withColumn("k", coalesce(expr("try_cast(j.k AS BIGINT)"), lit(-1L)))
        .groupBy(($"k" % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), davg($"value").as("avg_value"))
        .orderBy($"k_bucket")
    },
    Some(s"""
      SELECT coalesce(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT), -1) % 10 AS k_bucket,
             count(*) AS n, ${davgSql("value")} AS avg_value
      FROM events GROUP BY 1 ORDER BY k_bucket"""))

  // ---------------------------------------------------------------------
  // q14 — top-k by value (O2/O3: nlargest/nsmallest) with full tie-break
  // → Spark plans TakeOrderedAndProject (no global sort materialization).
  // ---------------------------------------------------------------------
  private val q14 = QueryDef(
    "q14_topk",
    (spark, dir) => {
      import spark.implicits._
      Tables.orders(spark, dir)
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
        .limit(25)
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25"""))

  // ---------------------------------------------------------------------
  // q15 — conditional logic (F6 when/otherwise), math scalar family (F3:
  // round/abs/sign/greatest), the reference's deterministic confidence
  // formula (05 · cell 8): greatest(0.5, 1 − |err|/actual).
  // ---------------------------------------------------------------------
  private val q15 = QueryDef(
    "q15_conditional_math",
    (spark, dir) => {
      import spark.implicits._
      Tables.orders(spark, dir)
        .withColumn("bucket",
          when($"o_totalprice" < 50000, "low")
            .when($"o_totalprice" < 150000, "mid")
            .otherwise("high"))
        .withColumn("err", $"o_totalprice" - lit(100000.0))
        .withColumn("confidence",
          greatest(lit(0.5), lit(1.0) - abs($"err") / lit(100000.0)))
        .withColumn("direction", signum($"err"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"),
             davg($"confidence", 7, 4).as("avg_conf"),
             dsum($"direction", 0).as("net_direction"))
        .orderBy($"bucket")
    },
    Some(s"""
      SELECT bucket, count(*) AS n, ${davgSql("confidence", 7, 4)} AS avg_conf,
             ${dsumSql("direction", 0)} AS net_direction
      FROM (
        SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    ELSE 'high' END AS bucket,
               greatest(0.5, 1.0 - abs(o_totalprice - 100000.0) / 100000.0) AS confidence,
               sign(o_totalprice - 100000.0) AS direction
        FROM orders)
      GROUP BY bucket ORDER BY bucket"""))

  // ---------------------------------------------------------------------
  // q16 — correlation matrix (A10: app.py:366-368): pairwise Pearson over
  // the gold table's numeric columns, computed in ONE aggregation pass.
  // ---------------------------------------------------------------------
  private val q16 = QueryDef(
    "q16_correlation",
    (spark, dir) => {
      import spark.implicits._
      goldDaily(spark, dir)
        .agg(
          round(corr($"close", $"post_count"), 4).as("corr_close_posts"),
          round(corr($"close", $"avg_score"), 4).as("corr_close_score"),
          round(corr($"volume", $"post_count"), 4).as("corr_volume_posts"),
          round(corr($"high", $"low"), 4).as("corr_high_low"))
    },
    Some(s"""
      WITH gold AS ($goldOracle)
      SELECT round(corr(close, post_count), 4) AS corr_close_posts,
             round(corr(close, avg_score), 4) AS corr_close_score,
             round(corr(volume, post_count), 4) AS corr_volume_posts,
             round(corr(high, low), 4) AS corr_high_low
      FROM gold"""))

  // ---------------------------------------------------------------------
  // q17 — multi-hop dim join chain (nation→region) + semi/anti exposure
  // (SURVEY.md §2.3 "free from Catalyst"): customers in a region who have
  // orders (semi) vs who don't (anti).
  // ---------------------------------------------------------------------
  private val q17 = QueryDef(
    "q17_semi_anti_join",
    (spark, dir) => {
      import spark.implicits._
      val cust = Tables.customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      val ordKeys = Tables.orders(spark, dir).select($"o_custkey")
      val active = cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"r_name").agg(count(lit(1)).as("active_customers"))
      val inactive = cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"r_name").agg(count(lit(1)).as("inactive_customers"))
      active.join(inactive, Seq("r_name"), "full_outer")
        .na.fill(0L)
        .orderBy($"r_name")
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, r_name FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey),
      active AS (
        SELECT r_name, count(*) AS active_customers FROM cust
        WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY r_name),
      inactive AS (
        SELECT r_name, count(*) AS inactive_customers FROM cust
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY r_name)
      SELECT coalesce(a.r_name, i.r_name) AS r_name,
             coalesce(a.active_customers, 0) AS active_customers,
             coalesce(i.inactive_customers, 0) AS inactive_customers
      FROM active a FULL OUTER JOIN inactive i ON a.r_name = i.r_name
      ORDER BY r_name"""))

  // ---------------------------------------------------------------------
  // q171 — SET-OPERATION completion (EXCEPT / INTERSECT, distinct AND
  // multiset ALL forms): the U-family rows union covered but the
  // retention-style "who is in A but not B" never exercised as native
  // set ops. A = (user, type) activity in the FIRST half of the global
  // date range, B = second half (midpoint from a broadcast 1-row bounds
  // aggregate — integer epoch-day arithmetic). Per event_type:
  // |A∩B| / |A−B| / |B−A| over DISTINCT pairs, plus the EXCEPT ALL
  // surplus (multiset semantics: how many A-side occurrence slots
  // survive after B's are cancelled — ≥ the distinct count by
  // definition, the gap being repeat activity). Spark plans these as
  // aggregate/anti-join rewrites — set ops cost ONE shuffle each on the
  // compared key, no sort; the four branches reuse the same two scans.
  // ---------------------------------------------------------------------
  private val q171 = QueryDef(
    "q171_set_ops",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull)
        .select($"user_id", $"event_type", to_date($"ts").as("day"))
      val bounds = ev.agg(
        min($"day").as("lo"),
        expr("date_add(min(day), CAST(datediff(max(day), min(day)) div 2 AS INT))")
          .as("mid"))
      val tagged = ev.crossJoin(broadcast(bounds))
      val a = tagged.filter($"day" <= $"mid").select($"user_id", $"event_type")
      val b = tagged.filter($"day" > $"mid").select($"user_id", $"event_type")
      val inter = a.intersect(b)
        .groupBy($"event_type").agg(count(lit(1)).as("n_both"))
      val onlyA = a.except(b)
        .groupBy($"event_type").agg(count(lit(1)).as("n_only_first"))
      val onlyB = b.except(a)
        .groupBy($"event_type").agg(count(lit(1)).as("n_only_second"))
      val surplusA = a.exceptAll(b)
        .groupBy($"event_type").agg(count(lit(1)).as("n_first_surplus_all"))
      inter
        .join(onlyA, Seq("event_type"), "full_outer")
        .join(onlyB, Seq("event_type"), "full_outer")
        .join(surplusA, Seq("event_type"), "full_outer")
        .na.fill(0L, Seq("n_both", "n_only_first", "n_only_second",
          "n_first_surplus_all"))
        .orderBy($"event_type")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS DATE) AS day
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      bounds AS (
        SELECT min(day) AS lo,
               min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS mid
        FROM ev),
      a AS (SELECT user_id, event_type FROM ev, bounds WHERE day <= mid),
      b AS (SELECT user_id, event_type FROM ev, bounds WHERE day > mid),
      inter AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_both
        FROM (SELECT * FROM a INTERSECT SELECT * FROM b) GROUP BY 1),
      onlya AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_only_first
        FROM (SELECT * FROM a EXCEPT SELECT * FROM b) GROUP BY 1),
      onlyb AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_only_second
        FROM (SELECT * FROM b EXCEPT SELECT * FROM a) GROUP BY 1),
      surplus AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_first_surplus_all
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1),
      keys AS (
        SELECT event_type FROM inter UNION SELECT event_type FROM onlya
        UNION SELECT event_type FROM onlyb UNION SELECT event_type FROM surplus)
      SELECT k.event_type,
             COALESCE(i.n_both, 0) AS n_both,
             COALESCE(oa.n_only_first, 0) AS n_only_first,
             COALESCE(ob.n_only_second, 0) AS n_only_second,
             COALESCE(s.n_first_surplus_all, 0) AS n_first_surplus_all
      FROM keys k
      LEFT JOIN inter i ON i.event_type = k.event_type
      LEFT JOIN onlya oa ON oa.event_type = k.event_type
      LEFT JOIN onlyb ob ON ob.event_type = k.event_type
      LEFT JOIN surplus s ON s.event_type = k.event_type
      ORDER BY k.event_type"""))

  override val defs: Seq[QueryDef] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14, q15, q16, q17, q171)
}
