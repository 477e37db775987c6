package graft.operators

import graft.{QueryDef, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Remaining SURVEY.md §2 coverage cells: CSV export/scan round-trip
  * (S4/S8/S9), upsert sink (S13), the date/time scalar family (F2),
  * sliding windows (T2 exposure), rollup and set operations (§2.4/§2.7
  * "free from Catalyst" exposure), and the Scala-UDF registration surface
  * (X1 — kept as a demonstration; the production path is the native
  * expression in TextOps).
  */
object Extras extends QueryModule {

  private def dsumCents(c: org.apache.spark.sql.Column) =
    sum((c.cast(DecimalType(28, 2)) * 100).cast("long"))

  // ---------------------------------------------------------------------
  // q46 — single-file CSV export + schema'd CSV scan round-trip (S8's
  // coalesce(1) export feeding the notebooks, S4's schema'd read): the
  // gold table goes out as one headered CSV and comes back losslessly
  // (shortest-repr doubles round-trip exactly).
  // ---------------------------------------------------------------------
  private val q46 = QueryDef(
    "q46_csv_roundtrip",
    (spark, dir) => {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_csv_").toString + "/gold"
      CoreBatch.goldDaily(spark, dir)
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = new StructType()
        .add("event_type", StringType).add("date", DateType)
        .add("open", DoubleType).add("high", DoubleType)
        .add("low", DoubleType).add("close", DoubleType)
        .add("volume", LongType).add("post_count", LongType)
        .add("avg_score", DoubleType).add("total_score", DoubleType)
        .add("avg_comments", DoubleType).add("max_score", DoubleType)
      spark.read.option("header", "true").schema(schema).csv(out)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n_days"),
          dsumCents($"close").as("close_cents"),
          sum($"volume").as("total_volume"),
          max($"date").as("last_date"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH gold AS (${CoreBatch.goldOracle})
      SELECT event_type, count(*) AS n_days,
             CAST(sum(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS close_cents,
             CAST(sum(volume) AS BIGINT) AS total_volume,
             max(date) AS last_date
      FROM gold GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q47 — upsert sink (S13: predictor_service.py:124-126 update_one
  // upsert=True, last-prediction-per-key): latest event per user as a
  // window top-1, materialized with overwrite (the parquet analog of the
  // keyed upsert), then read back.
  // ---------------------------------------------------------------------
  private val q47 = QueryDef(
    "q47_upsert_latest",
    (spark, dir) => {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_upsert_").toString + "/latest"
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.events(spark, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        .write.mode("overwrite").parquet(out)
      // plain inference: the upsert round-trip itself is under test
      spark.read.parquet(out).orderBy($"user_id")
    },
    Some("""
      SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
      ORDER BY user_id"""))

  // ---------------------------------------------------------------------
  // q48 — date/time scalar family (F2): date_trunc to hour, day-of-week,
  // epoch seconds, date arithmetic — aggregated per weekday. (Spark
  // dayofweek is 1=Sunday; DuckDB is 0=Sunday — aligned with +1.)
  // ---------------------------------------------------------------------
  private val q48 = QueryDef(
    "q48_datetime_kitchen",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .withColumn("dow", dayofweek(to_date($"ts")))
        .withColumn("hour_bucket", date_trunc("hour", $"ts"))
        .withColumn("epoch_s", unix_timestamp($"ts"))
        .withColumn("next_day", date_add(to_date($"ts"), 1))
        .groupBy($"dow")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"hour_bucket").as("n_hours"),
          min($"epoch_s").as("min_epoch"),
          max($"next_day").as("max_next_day"))
        .orderBy($"dow")
    },
    Some("""
      SELECT dayofweek(CAST(ts AS DATE)) + 1 AS dow, count(*) AS n,
             count(DISTINCT date_trunc('hour', ts)) AS n_hours,
             min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_epoch,
             max(CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS DATE)) AS max_next_day
      FROM events GROUP BY 1 ORDER BY dow"""))

  // ---------------------------------------------------------------------
  // q49 — sliding windows (T2: the tumbling 15-min window generalized to
  // 30-min windows sliding by 15): every event lands in exactly two
  // windows; counts and exact sums per (window, type).
  // ---------------------------------------------------------------------
  private val q49 = QueryDef(
    "q49_sliding_windows",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .groupBy(window($"ts", "30 minutes", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(28, 2))).cast("double").as("total"))
        .select($"window.start".as("window_start"), $"window.end".as("window_end"),
          $"event_type", $"n", $"total")
        .orderBy($"window_start", $"event_type")
    },
    Some("""
      SELECT window_start, window_start + INTERVAL '30 minutes' AS window_end,
             event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM (
        SELECT event_type, value, unnest([
          time_bucket(INTERVAL '15 minutes', ts),
          time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes']) AS window_start
        FROM events WHERE ts IS NOT NULL)
      GROUP BY 1, 2, 3
      ORDER BY window_start, event_type"""))

  // ---------------------------------------------------------------------
  // q50 — rollup (§2.4 exposure: grouping-set aggregates over
  // (event_type, date) with subtotal and grand-total rows).
  // ---------------------------------------------------------------------
  private val q50 = QueryDef(
    "q50_rollup",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .rollup($"event_type", to_date($"ts").as("date"))
        .agg(count(lit(1)).as("n"), dsumCents($"value").as("value_cents"))
        .orderBy($"event_type".asc_nulls_first, $"date".asc_nulls_first)
    },
    Some("""
      SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS n,
             CAST(sum(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
      FROM events WHERE ts IS NOT NULL
      GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
      ORDER BY event_type NULLS FIRST, date NULLS FIRST"""))

  // ---------------------------------------------------------------------
  // q51 — set operations (§2.7 exposure: intersect / except over user
  // cohorts).
  // ---------------------------------------------------------------------
  private val q51 = QueryDef(
    "q51_set_ops",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      def users(t: String) = ev.filter($"event_type" === t).select($"user_id")
      val both = users("purchase").intersect(users("signup"))
        .agg(count(lit(1)).as("n")).withColumn("cohort", lit("purchase_and_signup"))
      val only = users("purchase").except(users("signup"))
        .agg(count(lit(1)).as("n")).withColumn("cohort", lit("purchase_only"))
      both.unionByName(only).select($"cohort", $"n").orderBy($"cohort")
    },
    Some("""
      SELECT 'purchase_and_signup' AS cohort, count(*) AS n FROM (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'signup')
      UNION ALL
      SELECT 'purchase_only', count(*) FROM (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'signup')
      ORDER BY cohort"""))

  // ---------------------------------------------------------------------
  // q52 — Scala UDF registration surface (X1 demonstration): the
  // reference's extract_tickers Python UDF as a registered Scala UDF —
  // no Python worker round-trip, but still an opaque function to Catalyst
  // (no pushdown through it), which is why TextOps q26 uses the native
  // expression chain instead. Same output as q26 by construction.
  // ---------------------------------------------------------------------
  private val TickerPattern = "\\$?([A-Z]{1,5})\\b".r
  private val WhitelistSet = Set("SPARK", "JOIN", "HASH", "SORT", "SCAN",
    "AGG", "KEY", "ROW", "BATCH")

  private val q52 = QueryDef(
    "q52_udf_tickers",
    (spark, dir) => {
      import spark.implicits._
      spark.udf.register("extract_tickers_udf", (title: String, body: String) => {
        val text = Seq(Option(title), Option(body)).flatten.mkString(" ").toUpperCase
        TickerPattern.findAllMatchIn(text).map(_.group(1))
          .filter(WhitelistSet).toSeq.distinct
      })
      Tables.documents(spark, dir)
        .withColumn("tok", explode(call_udf("extract_tickers_udf",
          $"text", lit(null).cast("string"))))
        .groupBy($"tok".as("ticker"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"ticker")
    },
    Some(s"""
      SELECT ticker, count(*) AS n_docs FROM (
        SELECT doc_id, unnest(list_distinct(
          regexp_extract_all(upper(text), '\\$$?([A-Z]{1,5})\\b', 1))) AS ticker
        FROM documents)
      WHERE ticker IN (${WhitelistSet.toSeq.sorted.map("'" + _ + "'").mkString(", ")})
      GROUP BY ticker ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q70 — exact interpolated quantiles (the A-family gap: median/quartile
  // reporting). Cross-engine portability is usually hopeless for
  // percentile interpolation (engines arrange `a + (b−a)·g` differently,
  // losing ulps) — UNLESS the input is integers and g is a small dyadic
  // fraction, where every arrangement is IEEE-exact. So: quantiles over
  // VALUE CENTS at 0.25/0.5/0.75, exact on any engine, any partitioning.
  // Scale note: exact percentile is a sort-based aggregate per group —
  // fine at daily/type grain; unbounded-cardinality groups would switch
  // to approx_percentile (t-digest) and lose the oracle by design.
  // ---------------------------------------------------------------------
  private val q70 = QueryDef(
    "q70_quantiles",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .filter($"value".isNotNull)
        .withColumn("cents", ($"value".cast(DecimalType(28, 2)) * 100).cast("long"))
        .groupBy($"event_type")
        .agg(
          percentile($"cents", lit(0.25)).as("p25_cents"),
          percentile($"cents", lit(0.5)).as("median_cents"),
          percentile($"cents", lit(0.75)).as("p75_cents"),
          min($"cents").as("min_cents"),
          max($"cents").as("max_cents"),
          count(lit(1)).as("n"))
        .orderBy($"event_type")
    },
    Some("""
      WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL)
      SELECT event_type,
             quantile_cont(cents, 0.25) AS p25_cents,
             quantile_cont(cents, 0.5)  AS median_cents,
             quantile_cont(cents, 0.75) AS p75_cents,
             min(cents) AS min_cents, max(cents) AS max_cents,
             count(*) AS n
      FROM c GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q71 — pivot to wide format (crosstab reporting; the dashboard shape of
  // app.py's per-type panels as one relation): daily rows × one exact-sum
  // column per event type. Catalyst plans pivot as a single two-phase
  // aggregate over (date) with per-type conditional partials — one
  // shuffle, same as the long-format groupBy; the oracle is the explicit
  // CASE-WHEN form, which is also the fallback when the pivot key set
  // isn't known a priori at 100 TB.
  // ---------------------------------------------------------------------
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** SILVER: the wide daily reporting table — one exact-cent-sum column
    * per event type, zero-filled. Promoted by the SharedSubtreeSpec audit:
    * q71 (the pivot demo) and q159 (its unpivot inverse) each planned the
    * same two-phase pivot aggregate over the fact; the wide frame is the
    * thing a reporting layer materializes once.
    */
  private[operators] def dailyWideCents(
      spark: org.apache.spark.sql.SparkSession, dir: String) =
    Scoped.shared(spark, s"daily_wide_cents:$dir")({
      import spark.implicits._
      (Nil, Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .withColumn("date", to_date($"ts"))
        .withColumn("cents", ($"value".cast(DecimalType(28, 2)) * 100).cast("long"))
        .groupBy($"date")
        .pivot("event_type", EventTypes)
        .agg(sum($"cents"))
        .na.fill(0L, EventTypes))
    })

  private val q71 = QueryDef(
    "q71_pivot_wide",
    (spark, dir) => {
      import spark.implicits._
      dailyWideCents(spark, dir).orderBy($"date")
    },
    Some {
      val cols = EventTypes.map(t =>
        s"CAST(COALESCE(sum(CASE WHEN event_type = '$t' THEN CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) END), 0) AS BIGINT) AS \"$t\"")
        .mkString(",\n             ")
      s"""
      SELECT CAST(ts AS DATE) AS date,
             $cols
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1 ORDER BY date"""
    })

  // ---------------------------------------------------------------------
  // q78 — dynamic-partition-overwrite incremental restatement (S7 at
  // operating scale): a daily pipeline never rewrites the whole table to
  // restate one slice — with partitionOverwriteMode=dynamic, an overwrite
  // replaces ONLY the partitions present in the incoming frame. Here the
  // full events table lands partitioned by event_type, then the purchase
  // slice is restated (values doubled) and re-landed: one partition
  // replaced, four untouched. The read-back aggregate proves exactly the
  // purchase rows changed. Doubling a 2-decimal double is exact (×2 is a
  // power of two), so cents stay oracle-exact.
  // ---------------------------------------------------------------------
  private val q78 = QueryDef(
    "q78_incremental_overwrite",
    (spark, dir) => {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_dynpart_").toString + "/events"
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.get(modeKey)
      try {
        spark.conf.set(modeKey, "dynamic")
        val ev = Tables.events(spark, dir).filter($"ts".isNotNull)
          .select($"event_id", $"event_type", $"user_id", $"value")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
        ev.filter($"event_type" === "purchase")
          .withColumn("value", $"value" * 2)
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        // plain inference: partition discovery after the overwrite is the test
        spark.read.parquet(out)
          .groupBy($"event_type")
          .agg(
            count(lit(1)).as("n"),
            dsumCents($"value").as("value_cents"))
          .orderBy($"event_type")
      } finally spark.conf.set(modeKey, prev)
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(CAST(
               CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END
               AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q79 — schema-evolution merge read (S4's real-world cousin): a table
  // whose early files lack a later-added column must read as one frame
  // with nulls in the missing cells. Two parquet generations (one without
  // n_chars, one with) re-read under mergeSchema; the aggregate counts
  // non-null presence per lang so every evolved cell is checked.
  // ---------------------------------------------------------------------
  private val q79 = QueryDef(
    "q79_schema_evolution",
    (spark, dir) => {
      import spark.implicits._
      val base = Files.createTempDirectory("graft_evo_").toString
      val docs = Tables.documents(spark, dir)
      // generation 1: before the n_chars column existed
      docs.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"lang")
        .write.parquet(s"$base/gen1")
      // generation 2: schema grew
      docs.filter($"doc_id" % 2 === 1)
        .select($"doc_id", $"lang", $"n_chars")
        .write.parquet(s"$base/gen2")
      // plain inference: the mergeSchema evolution read is the test
      spark.read.option("mergeSchema", "true")
        .parquet(s"$base/gen1", s"$base/gen2")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          count($"n_chars").as("n_with_chars"),
          sum(coalesce($"n_chars", lit(0L))).as("total_chars"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_chars,
             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // q93 — the SQL catalog surface: `Tables.registerAll` exposes every
  // fixture table as a view and the query runs through `spark.sql` — the
  // engine's second API. The SAME SQL text is the DuckDB oracle (one
  // ANSI dialect, two engines), which is exactly the portability a SQL
  // surface promises.
  // ---------------------------------------------------------------------
  private val sqlCatalogText = """
      SELECT n.n_name, count(*) AS n_orders,
             CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS price_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY n.n_name"""

  private val q93 = QueryDef(
    "q93_sql_catalog",
    (spark, dir) => {
      Tables.registerAll(spark, dir)
      spark.sql(sqlCatalogText)
    },
    Some(sqlCatalogText))

  // ---------------------------------------------------------------------
  // q123 — ORC sink + scan round-trip (second columnar format beside
  // parquet: S7/S8's export surface on Spark's built-in ORC source). The
  // gold table goes out as ORC and comes back through a filtered scan —
  // the volume predicate reaches the ORC reader as a pushed search
  // argument (PlanSpec asserts it), so at 100 TB the read prunes stripes
  // from ORC's min/max indexes instead of decoding them. Values survive
  // the round-trip bit-exactly (ORC stores typed columns, no CSV
  // parse/format loss), which the oracle's hash compare proves by
  // computing the same aggregate straight from the source tables.
  // ---------------------------------------------------------------------
  private val q123 = QueryDef(
    "q123_orc_roundtrip",
    (spark, dir) => {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_orc_").toString + "/gold"
      CoreBatch.goldDaily(spark, dir)
        .write.mode("overwrite").orc(out)
      spark.read.orc(out)
        .filter($"volume" > 0)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n_days"),
          dsumCents($"close").as("close_cents"),
          sum($"volume").as("total_volume"),
          max($"date").as("last_date"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH gold AS (${CoreBatch.goldOracle})
      SELECT event_type, count(*) AS n_days,
             CAST(sum(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS close_cents,
             CAST(sum(volume) AS BIGINT) AS total_volume,
             max(date) AS last_date
      FROM gold WHERE volume > 0
      GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q126 — Z-order (Morton) data layout: the lakehouse multi-dimensional
  // clustering technique (Delta OPTIMIZE ZORDER BY / Iceberg sort orders).
  // Both dims are min-max normalized to 16 bits, bit-interleaved into a
  // 32-bit Morton code, and rows are blocked by the code's top 4 bits —
  // exactly the file/stripe blocks a z-sorted write would produce. The
  // output is each block's bounding box over BOTH original dims: every
  // block confines user_id AND day to ~1/4 of their span simultaneously,
  // which is the data-skipping property (a predicate on either dim prunes
  // ~3/4 of blocks from min/max stats; a 1-D sort only prunes its own
  // dim). At 100 TB this runs as write-side `repartitionByRange(zcode)` —
  // the layout pass is one range shuffle; here the layout QUALITY is what
  // the query measures. All arithmetic is integer bit ops inside
  // whole-stage codegen.
  // ---------------------------------------------------------------------
  /** Bit-interleave x (even bits) and y (odd bits), both 16-bit. The same
    * expression is generated per engine from one loop, so Spark and the
    * oracle compute identical codes.
    */
  private def mortonCol(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .plus(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  private def mortonSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  private val q126 = QueryDef(
    "q126_zorder_layout",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .select($"user_id", expr("unix_micros(ts) div 86400000000").as("day"))
      val ext = e.agg(
        min($"user_id").as("minu"), max($"user_id").as("maxu"),
        min($"day").as("mind"), max($"day").as("maxd"))
      val norm = e.crossJoin(broadcast(ext)) // 1-row extents, never shuffles
        .withColumn("xn", expr("((user_id - minu) * 65535) div greatest(maxu - minu, 1)"))
        .withColumn("yn", expr("((day - mind) * 65535) div greatest(maxd - mind, 1)"))
      norm
        .withColumn("z", mortonCol($"xn", $"yn"))
        .withColumn("block", expr("z div 268435456")) // top 4 of 32 bits
        .groupBy($"block")
        .agg(
          count(lit(1)).as("n_rows"),
          min($"user_id").as("min_user"), max($"user_id").as("max_user"),
          min($"day").as("min_day"), max($"day").as("max_day"))
        .withColumn("user_span", $"max_user" - $"min_user")
        .withColumn("day_span", $"max_day" - $"min_day")
        .orderBy($"block")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events WHERE ts IS NOT NULL),
      ext AS (
        SELECT min(user_id) AS minu, max(user_id) AS maxu,
               min(day) AS mind, max(day) AS maxd FROM e),
      norm AS (
        SELECT user_id, day,
               ((user_id - minu) * 65535) // greatest(maxu - minu, 1) AS xn,
               ((day - mind) * 65535) // greatest(maxd - mind, 1) AS yn
        FROM e, ext),
      z AS (SELECT user_id, day, ${mortonSql("xn", "yn")} // 268435456 AS block
            FROM norm)
      SELECT block, count(*) AS n_rows,
             min(user_id) AS min_user, max(user_id) AS max_user,
             min(day) AS min_day, max(day) AS max_day,
             max(user_id) - min(user_id) AS user_span,
             max(day) - min(day) AS day_span
      FROM z GROUP BY block ORDER BY block"""))

  // ---------------------------------------------------------------------
  // q127 — JSONL corpus round-trip: the lingua franca of LLM corpus
  // interchange (one JSON object per line). The documents table goes out
  // through Spark's JSON writer and back through a schema'd scan (never
  // inferred — §1.2), and the content proof is a position-independent
  // per-source hash sum over (doc_id, text, lang): any escaping defect —
  // quotes, newlines, unicode, backslashes in text — breaks the hash
  // against the oracle computed straight from the source table. Scale
  // shape: both legs are embarrassingly parallel scans; the JSON decode
  // is Jackson inside whole-stage codegen, no UDF.
  // ---------------------------------------------------------------------
  private val q127 = QueryDef(
    "q127_jsonl_roundtrip",
    (spark, dir) => {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_jsonl_").toString + "/docs"
      Tables.documents(spark, dir).write.mode("overwrite").json(out)
      val schema = new StructType()
        .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
        .add("source", StringType).add("n_chars", LongType)
      spark.read.schema(schema).json(out)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          sum(graft.functions.Portable.md5Hash64(
            concat($"doc_id".cast("string"), lit("|"), $"text", lit("|"), $"lang"))
            % graft.functions.Portable.P).as("content_hash"))
        .orderBy($"source")
    },
    Some(s"""
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(${graft.functions.Portable.md5Hash64Sql(
               "(CAST(doc_id AS VARCHAR) || '|' || text || '|' || lang)")}
               % ${graft.functions.Portable.P}) AS BIGINT) AS content_hash
      FROM documents GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q156 — XML corpus round-trip (Spark 4's built-in XML source — the
  // spark-xml connector merged into core): documents out through the XML
  // writer (one <doc> row element per record), back through a SCHEMA'd
  // XML scan, proven by the same position-independent per-source content
  // hash q127 uses for JSONL — any escaping defect (angle brackets,
  // ampersands, quotes, unicode in text) breaks the hash against the
  // oracle computed straight from the source table. Both legs are
  // embarrassingly parallel scans; the XML decode is StAX inside the
  // scan, no UDF.
  // ---------------------------------------------------------------------
  private val q156 = QueryDef(
    "q156_xml_roundtrip",
    (spark, dir) => {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_xml_").toString + "/docs"
      Tables.documents(spark, dir).write.mode("overwrite")
        .option("rootTag", "corpus").option("rowTag", "doc")
        .xml(out)
      val schema = new StructType()
        .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
        .add("source", StringType).add("n_chars", LongType)
      spark.read.schema(schema).option("rowTag", "doc").xml(out)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          sum(graft.functions.Portable.md5Hash64(
            concat($"doc_id".cast("string"), lit("|"), $"text", lit("|"), $"lang"))
            % graft.functions.Portable.P).as("content_hash"))
        .orderBy($"source")
    },
    Some(s"""
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(${graft.functions.Portable.md5Hash64Sql(
               "(CAST(doc_id AS VARCHAR) || '|' || text || '|' || lang)")}
               % ${graft.functions.Portable.P}) AS BIGINT) AS content_hash
      FROM documents GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q159 — UNPIVOT (melt): q71's wide daily frame folded back to long
  // form through Spark's native unpivot operator — the inverse reshape a
  // reporting layer needs when a wide export feeds a long-format
  // consumer. Catalyst plans unpivot as an Expand (rows × |value
  // columns|, no shuffle); the round-trip wide→long is proven against
  // the oracle's direct dense long-form aggregate (calendar × type grid
  // with zero-fill), so a melt that loses the zero-filled cells or
  // mislabels a column breaks the gate.
  // ---------------------------------------------------------------------
  private val q159 = QueryDef(
    "q159_unpivot_melt",
    (spark, dir) => {
      import spark.implicits._
      val wide = dailyWideCents(spark, dir)
      wide.unpivot(
          Array($"date"), EventTypes.map(col).toArray,
          "event_type", "cents")
        .orderBy($"date", $"event_type")
    },
    Some {
      val types = EventTypes.map("'" + _ + "'").mkString(", ")
      s"""
      WITH grid AS (
        SELECT d.date, t.event_type
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS date
              FROM events WHERE ts IS NOT NULL) d
        CROSS JOIN (SELECT unnest([$types]) AS event_type) t),
      sums AS (
        SELECT CAST(ts AS DATE) AS date, event_type,
               CAST(sum(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
      SELECT g.date, g.event_type, COALESCE(s.cents, 0) AS cents
      FROM grid g LEFT JOIN sums s
        ON g.date = s.date AND g.event_type = s.event_type
      ORDER BY g.date, g.event_type"""
    })

  // ---------------------------------------------------------------------
  // q143 — GROUPING SETS (the general form q50's ROLLUP is a special case
  // of): the ((flag,status),(flag),()) lattice over lineitem with
  // grouping_id disambiguating aggregated-away NULLs from data NULLs —
  // the semantics a reporting layer needs when the dimension itself is
  // nullable. Catalyst plans the whole lattice as ONE expand + hash
  // aggregate (one shuffle for all three granularities), not one scan
  // per set. Exact cent sums keep the hash gate engine-portable.
  // ---------------------------------------------------------------------
  private val q143 = QueryDef(
    "q143_grouping_sets",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq()),
          $"l_returnflag", $"l_linestatus")
        .agg(
          grouping_id($"l_returnflag", $"l_linestatus").as("gid"),
          count(lit(1)).as("n"),
          dsumCents($"l_quantity").as("qty_cents"),
          dsumCents($"l_extendedprice").as("price_cents"))
        .orderBy($"gid", $"l_returnflag".asc_nulls_first,
          $"l_linestatus".asc_nulls_first)
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             count(*) AS n,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS qty_cents,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  // ---------------------------------------------------------------------
  // q169 — RANK-FAMILY analytic functions (the W-family completion:
  // ntile / percent_rank / cume_dist, the three the feature queries
  // never needed). Deciles over exact cents per event_type, under a
  // TOTAL order (cents, event_id) — the tie-break is what makes all
  // three functions engine-identical: with a unique order,
  // percent_rank = (rn−1)/(n−1) and cume_dist = rn/n are each ONE IEEE
  // division, and ntile's uneven-bucket rule (first n mod k buckets get
  // the extra row) is deterministic on both engines. Output is rolled up
  // per (event_type, decile) so the gate pins every row's bucket
  // assignment through the counts and boundary ranks without emitting
  // 600k rows. Scale: one event_type-key window pass; at 100 TB a
  // per-KEY global order is the q135 rangepartition discipline — noted
  // there; here the grouped window is the point being exposed.
  // ---------------------------------------------------------------------
  private val q169 = QueryDef(
    "q169_rank_family",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .filter($"value".isNotNull)
        .select($"event_type", $"event_id",
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long").as("cents"))
      val w = Window.partitionBy($"event_type").orderBy($"cents", $"event_id")
      ev
        .withColumn("decile", ntile(10).over(w))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy($"event_type", $"decile")
        .agg(
          count(lit(1)).as("n_rows"),
          min($"cents").as("lo_cents"),
          max($"cents").as("hi_cents"),
          min($"pr").as("first_pr"),
          max($"pr").as("last_pr"),
          max($"cd").as("last_cd"))
        .orderBy($"event_type", $"decile")
    },
    Some("""
      WITH e AS (
        SELECT event_type, event_id,
               CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
      r AS (
        SELECT event_type, cents,
               ntile(10) OVER w AS decile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM e
        WINDOW w AS (PARTITION BY event_type ORDER BY cents, event_id))
      SELECT event_type, CAST(decile AS INT) AS decile,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(cents) AS lo_cents, max(cents) AS hi_cents,
             min(pr) AS first_pr, max(pr) AS last_pr, max(cd) AS last_cd
      FROM r GROUP BY 1, 2 ORDER BY event_type, decile"""))

  // ---------------------------------------------------------------------
  // q193 — RANK vs DENSE_RANK under ties (the last missing rank-family
  // pair after q169's ntile/percent_rank/cume_dist): per brand, part
  // sizes ranked by their part count — equal counts SHARE a rank (and
  // rank then skips) while dense_rank stays gapless. The tie group is
  // ranked by count ONLY, which is still deterministic: a row's rank is
  // a function of the count multiset, not of row order. Top-3 dense
  // ranks per brand, with the rank/dense gap visible in the output.
  // ---------------------------------------------------------------------
  private val q193 = QueryDef(
    "q193_rank_ties",
    (spark, dir) => {
      import spark.implicits._
      val cnt = Tables.part(spark, dir)
        .groupBy($"p_brand", $"p_size")
        .agg(count(lit(1)).as("n_parts"))
      val w = Window.partitionBy($"p_brand").orderBy($"n_parts".desc)
      cnt
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .filter($"drnk" <= 3)
        .select($"p_brand", $"p_size", $"n_parts", $"rnk", $"drnk")
        .orderBy($"p_brand", $"n_parts".desc, $"p_size")
    },
    Some("""
      WITH cnt AS (
        SELECT p_brand, p_size, CAST(count(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1, 2),
      r AS (
        SELECT *,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk
        FROM cnt
        WINDOW w AS (PARTITION BY p_brand ORDER BY n_parts DESC))
      SELECT p_brand, p_size, n_parts, rnk, drnk
      FROM r WHERE drnk <= 3
      ORDER BY p_brand, n_parts DESC, p_size"""))

  override val defs: Seq[QueryDef] =
    Seq(q46, q47, q48, q49, q50, q51, q52, q70, q71, q78, q79, q93, q123,
      q126, q127, q143, q156, q159, q169, q193)
}
