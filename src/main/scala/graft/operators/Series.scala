package graft.operators

import graft.{QueryDef, QueryModule}
import graft.functions.Portable
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series warehouse operators the reference's daily-bar layer
  * (data_processing/build_training_dataset.py:40-72) grows into once the
  * series feed production models: calendar densification with
  * forward-fill (gap repair before feature extraction), closed-form OLS
  * trend per series, SCD Type-2 history compression of a changing
  * attribute, and a count-min frequency sketch next to its exact counts.
  *
  * Scale notes (100 TB stance):
  *   - q137/q138 aggregate the fact table ONCE per query down to
  *     (series, day) grain — everything after that tiny rollup is
  *     calendar arithmetic against a broadcast bounds row; the dense
  *     calendar is |series| × |days| rows, never fact-sized.
  *   - q139 is one shuffle on user_id; both window passes and the
  *     run-collapse reuse that single partitioning.
  *   - q140's sketch is the POINT at scale: the shuffle carries at most
  *     d×w = 2048 cells per map partition (map-side combine), while the
  *     exact top-k it is audited against must shuffle every distinct
  *     token. The probe join broadcasts the ≤2048-cell sketch.
  *
  * Determinism: exact decimal sums for money-grid doubles, integer date
  * arithmetic, full-tie-break orderings, and the engine-portable md5
  * hash ([[Portable.md5Hash64]]) for sketch cells.
  */
object Series extends QueryModule {

  /** Exact, order-invariant sum of a 0.01-grid double (same discipline as
    * CoreBatch.dsum; SURVEY.md §7.4).
    */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(28, 2))).cast("double")
  private def dsumSql(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(28,2))) AS DOUBLE)"

  // ---------------------------------------------------------------------
  // q137 — calendar gap-fill: per-type daily sums densified over the
  // GLOBAL day span (all series share one calendar), missing days
  // forward-filled from the last observed value. The dense calendar is
  // sequence(lo, hi) exploded against the distinct-series list — both
  // sides derived from the same single fact rollup, bounds broadcast as
  // one row. Forward fill is last(ignoreNulls) over the per-series
  // day order — one window pass on the already-small dense frame.
  // ---------------------------------------------------------------------
  private val q137 = QueryDef(
    "q137_gap_fill",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).filter($"ts".isNotNull)
      val daily = ev.groupBy($"event_type", to_date($"ts").as("day"))
        .agg(dsum($"value").as("day_sum"))
      val bounds = ev.agg(
        min(to_date($"ts")).as("lo"), max(to_date($"ts")).as("hi"))
      val cal = ev.select($"event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select($"event_type",
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val ffill = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(daily, Seq("event_type", "day"), "left")
        .withColumn("filled_sum", last($"day_sum", ignoreNulls = true).over(ffill))
        .withColumn("is_gap", when($"day_sum".isNull, 1).otherwise(0))
        .orderBy($"event_type", $"day")
    },
    Some(s"""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ${dsumSql("value")} AS day_sum
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      b AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events WHERE ts IS NOT NULL),
      cal AS (
        SELECT t.event_type,
               CAST(unnest(generate_series(CAST(b.lo AS TIMESTAMP),
                 CAST(b.hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        FROM (SELECT DISTINCT event_type FROM events WHERE ts IS NOT NULL) t
        CROSS JOIN b)
      SELECT cal.event_type, cal.day, d.day_sum,
             last_value(d.day_sum IGNORE NULLS) OVER (
               PARTITION BY cal.event_type ORDER BY cal.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
             CAST(CASE WHEN d.day_sum IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
      FROM cal LEFT JOIN d
        ON cal.event_type = d.event_type AND cal.day = d.day
      ORDER BY cal.event_type, cal.day"""))

  // ---------------------------------------------------------------------
  // q138 — per-series OLS trend, closed form over exact sums:
  // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = integer day
  // index from the global first day, y = exact-decimal daily sum. Every
  // accumulator is exact (BIGINT / DECIMAL), so the slope/intercept are
  // each ONE fixed-order double expression — partition-order invariant,
  // unlike regr_slope's float covariance accumulation.
  // ---------------------------------------------------------------------
  private val q138 = QueryDef(
    "q138_ols_trend",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).filter($"ts".isNotNull)
      val daily = ev.groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum($"value".cast(DecimalType(28, 2))).as("y"))
      val first = ev.agg(min(to_date($"ts")).as("lo"))
      val s = daily.crossJoin(broadcast(first))
        .withColumn("x", datediff($"day", $"lo").cast("long"))
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n_days"),
          sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"),
          sum($"y").as("sy"),
          sum($"y" * $"x").as("sxy"))
      s.withColumn("slope",
          ($"n_days" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n_days" * $"sxx" - $"sx" * $"sx").cast("double"))
        .withColumn("intercept",
          ($"sy".cast("double") - $"slope" * $"sx".cast("double")) /
            $"n_days".cast("double"))
        .select($"event_type", $"n_days", $"slope", $"intercept")
        .orderBy($"event_type")
    },
    Some("""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               sum(CAST(value AS DECIMAL(28,2))) AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      f AS (SELECT min(CAST(ts AS DATE)) AS lo FROM events WHERE ts IS NOT NULL),
      s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
               sum(y) AS sy, sum(y * x) AS sxy
        FROM (SELECT event_type,
                     CAST(date_diff('day', f.lo, day) AS BIGINT) AS x, y
              FROM d CROSS JOIN f)
        GROUP BY 1)
      SELECT event_type, n_days,
             CAST(n_days * sxy - sx * sy AS DOUBLE) /
               CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
             (CAST(sy AS DOUBLE) -
              (CAST(n_days * sxy - sx * sy AS DOUBLE) /
               CAST(n_days * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
               CAST(n_days AS DOUBLE) AS intercept
      FROM s ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q139 — SCD Type-2 history: per-user runs of the tracked attribute
  // (event_type) collapsed into versioned validity intervals —
  // change-flag via lag, version via running sum (gaps-and-islands),
  // then one grouped collapse and a lead() for valid_to. All four steps
  // share the single user_id shuffle; ties on ts break on the unique
  // event_id so runs are identical on both engines.
  // ---------------------------------------------------------------------
  /** SCD2 validity-interval history (q139's body before the final
    * projection): (user_id, version, event_type, valid_from, n_events,
    * valid_to). Shared with q181's point-in-time snapshot probe.
    */
  private[operators] def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // version islands come pre-stitched off the chunk-scanned user_scan
    // silver (Analytics.chunkedUserScan — the type-change run id); no raw
    // per-user window anywhere in this family anymore
    val hist = Analytics.userScan(spark, dir)
      .filter($"user_id".isNotNull)
      .groupBy($"user_id", $"version")
      .agg(
        min($"event_type").as("event_type"),
        min($"ts").as("valid_from"),
        count(lit(1)).as("n_events"))
    // valid_to = next version's valid_from. version is DENSE (a 1-based
    // prefix sum of change flags), so lead() is an equi-self-join on
    // (user_id, version + 1) — keyed on BOTH columns, a hot user's
    // versions hash across partitions and no per-user window exists
    val nxt = hist.select($"user_id".as("u2"), ($"version" - 1L).as("v2"),
      $"valid_from".as("valid_to"))
    hist.join(nxt, $"user_id" === $"u2" && $"version" === $"v2", "left")
      .drop("u2", "v2")
  }

  /** q139's oracle CTE chain up to the `h2` table (history + valid_to),
    * shared with q181.
    */
  private[operators] val scd2Sql: String = """
      scd_r AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      scd_v AS (
        SELECT *, CAST(sum(chg) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        FROM scd_r),
      scd_h AS (
        SELECT user_id, version, min(event_type) AS event_type,
               min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        FROM scd_v GROUP BY 1, 2),
      scd_h2 AS (
        SELECT *, lead(valid_from) OVER (
          PARTITION BY user_id ORDER BY version) AS valid_to
        FROM scd_h)"""

  private val q139 = QueryDef(
    "q139_scd2_history",
    (spark, dir) => {
      import spark.implicits._
      scd2History(spark, dir)
        .withColumn("is_current", when($"valid_to".isNull, 1).otherwise(0))
        .orderBy($"user_id", $"version")
    },
    Some("""
      WITH r AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      v AS (
        SELECT *, CAST(sum(chg) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        FROM r),
      h AS (
        SELECT user_id, version, min(event_type) AS event_type,
               min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        FROM v GROUP BY 1, 2)
      SELECT user_id, version, event_type, valid_from, n_events,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
             CAST(CASE WHEN lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                       IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
      FROM h ORDER BY user_id, version"""))

  // ---------------------------------------------------------------------
  // q140 — count-min sketch audited against exact counts: d=4 hash rows
  // × w=512 columns over whitespace tokens; the estimate for each of the
  // exact top-20 tokens is the min over its d cells. The cell hash is the
  // engine-portable md5 ([[Portable.md5Hash64]]) salted with the row
  // index, so the sketch itself is bit-reproducible. The sketch shuffle
  // is bounded by d×w cells (map-side combine); the probe join
  // broadcasts the sketch.
  // ---------------------------------------------------------------------
  private val CmsW = 512L
  private val CmsD = 4
  private def cmsCells(token: Column): Column = array(
    (0 until CmsD).map(d => struct(
      lit(d).as("r"),
      pmod(Portable.md5Hash64(concat_ws(":", lit(d.toString), token)),
        lit(CmsW)).as("c"))): _*)

  private val q140 = QueryDef(
    "q140_cms_frequency",
    (spark, dir) => {
      import spark.implicits._
      // word_counts silver (SharedSubtreeSpec promotion): both the exact
      // top-20 and the sketch cells derive from the vocabulary-grain
      // counts — the cell census Σ over tokens equals Σ cnt over words,
      // so the sketch build shuffles |vocab| instead of |token instances|
      val wc = TextOps.wordCounts(spark, dir)
        .select($"w".as("token"), $"cnt")
      val exact = wc.select($"token", $"cnt".as("exact_n"))
        .orderBy($"exact_n".desc, $"token").limit(20)
      val cells = wc.select(explode(cmsCells($"token")).as("rc"), $"cnt")
        .groupBy($"rc.r".as("r"), $"rc.c".as("c"))
        .agg(sum($"cnt").as("cell_n"))
      val probes = exact
        .select($"token", $"exact_n", explode(cmsCells($"token")).as("rc"))
        .select($"token", $"exact_n", $"rc.r".as("r"), $"rc.c".as("c"))
      probes.join(broadcast(cells), Seq("r", "c"))
        .groupBy($"token")
        .agg(max($"exact_n").as("exact_n"), min($"cell_n").as("cms_n"))
        .withColumn("overcount", $"cms_n" - $"exact_n")
        .orderBy($"exact_n".desc, $"token")
    },
    Some {
      val h = (r: String) =>
        Portable.md5Hash64Sql(s"CAST($r AS VARCHAR) || ':' || token")
      s"""
      WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS token
        FROM documents),
      rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
      exact AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_n
        FROM tok GROUP BY 1 ORDER BY exact_n DESC, token LIMIT 20),
      cells AS (
        SELECT r, ${h("r")} % $CmsW AS c, CAST(count(*) AS BIGINT) AS cell_n
        FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
      probes AS (
        SELECT token, exact_n, r, ${h("r")} % $CmsW AS c
        FROM exact CROSS JOIN rows_)
      SELECT p.token, max(p.exact_n) AS exact_n, min(c2.cell_n) AS cms_n,
             min(c2.cell_n) - max(p.exact_n) AS overcount
      FROM probes p JOIN cells c2 ON p.r = c2.r AND p.c = c2.c
      GROUP BY p.token ORDER BY exact_n DESC, token"""
    })

  // ---------------------------------------------------------------------
  // q145 — winsorized robust means: per-series p01/p99 DISCRETE
  // thresholds (the value at rank ⌈q·n⌉ — percentile_disc semantics, so
  // thresholds are actual data values and everything stays integer),
  // then every value clipped into [lo, hi] and re-aggregated. The
  // thresholds come from the (type, cents) DISTINCT-VALUE grain with a
  // cumulative count — the cardinality-bounded form that avoids a
  // row-per-row rank window (q135's discipline); the 5-row threshold
  // table broadcasts back onto the fact scan.
  // ---------------------------------------------------------------------
  private val q145 = QueryDef(
    "q145_winsorize",
    (spark, dir) => {
      import spark.implicits._
      val cents = Tables.events(spark, dir)
        .filter($"value".isNotNull)
        .select($"event_type",
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long").as("cents"))
      val wCum = Window.partitionBy($"event_type").orderBy($"cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"event_type")
      val thr = cents.groupBy($"event_type", $"cents")
        .agg(count(lit(1)).as("vn"))
        .withColumn("cum", sum($"vn").over(wCum))
        .withColumn("n", sum($"vn").over(wAll))
        .groupBy($"event_type")
        .agg(
          min(when($"cum" >= expr("(n + 99) div 100"), $"cents")).as("lo"),
          min(when($"cum" >= expr("(n * 99 + 99) div 100"), $"cents")).as("hi"))
      cents.join(broadcast(thr), "event_type")
        .withColumn("clipped", least(greatest($"cents", $"lo"), $"hi"))
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          max($"lo").as("lo_cents"), max($"hi").as("hi_cents"),
          sum($"cents").as("raw_sum_cents"),
          sum($"clipped").as("wins_sum_cents"),
          sum(when($"cents" < $"lo" || $"cents" > $"hi", 1L).otherwise(0L))
            .as("n_clipped"))
        .orderBy($"event_type")
    },
    Some("""
      WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
      d AS (
        SELECT event_type, cents, CAST(count(*) AS BIGINT) AS vn
        FROM c GROUP BY 1, 2),
      cum AS (
        SELECT *,
               CAST(sum(vn) OVER (PARTITION BY event_type ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(vn) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM d),
      thr AS (
        SELECT event_type,
               min(CASE WHEN cum >= (n + 99) // 100 THEN cents END) AS lo,
               min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN cents END) AS hi
        FROM cum GROUP BY 1)
      SELECT c.event_type, count(*) AS n,
             max(t.lo) AS lo_cents, max(t.hi) AS hi_cents,
             CAST(sum(c.cents) AS BIGINT) AS raw_sum_cents,
             CAST(sum(least(greatest(c.cents, t.lo), t.hi)) AS BIGINT) AS wins_sum_cents,
             CAST(sum(CASE WHEN c.cents < t.lo OR c.cents > t.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      FROM c JOIN thr t ON c.event_type = t.event_type
      GROUP BY c.event_type ORDER BY c.event_type"""))

  // ---------------------------------------------------------------------
  // q146 — contingency table with standardized residuals: event_type ×
  // day-of-week observed counts vs independence expectation E = r·c/N,
  // per-cell Pearson residual (O−E)/√E and χ² contribution (O−E)²/E.
  // Day-of-week is PORTABLE integer arithmetic ((epoch_day + 4) mod 7,
  // 0 = Sunday) — never an engine's locale-dependent dayofweek. Each
  // residual is a fixed-order scalar double expression over exact
  // integer O/r/c/N (IEEE sqrt is correctly rounded on both engines);
  // emitting per-CELL rows avoids any float re-aggregation. Marginals
  // are two tiny aggregates broadcast back onto the 35-cell grid.
  // ---------------------------------------------------------------------
  private val q146 = QueryDef(
    "q146_contingency_residuals",
    (spark, dir) => {
      import spark.implicits._
      val cells = Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .select($"event_type",
          pmod(datediff(to_date($"ts"), to_date(lit("1970-01-01"))) + 4, lit(7))
            .cast("int").as("dow"))
        .groupBy($"event_type", $"dow")
        .agg(count(lit(1)).as("o"))
      val rowTot = cells.groupBy($"event_type").agg(sum($"o").as("r"))
      val colTot = cells.groupBy($"dow").agg(sum($"o").as("c"))
      val total = cells.agg(sum($"o").as("n"))
      cells
        .join(broadcast(rowTot), "event_type")
        .join(broadcast(colTot), "dow")
        .crossJoin(broadcast(total))
        .withColumn("e", ($"r" * $"c").cast("double") / $"n".cast("double"))
        .withColumn("residual",
          ($"o".cast("double") - $"e") / sqrt($"e"))
        .withColumn("chi2_term",
          ($"o".cast("double") - $"e") * ($"o".cast("double") - $"e") / $"e")
        .select($"event_type", $"dow", $"o", $"r", $"c", $"n",
          $"e", $"residual", $"chi2_term")
        .orderBy($"event_type", $"dow")
    },
    Some("""
      WITH cells AS (
        SELECT event_type,
               CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
                 AS INT) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
      ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
      SELECT cells.event_type, cells.dow, o, r, c, n,
             CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS e,
             (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt(CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)) AS residual,
             (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_term
      FROM cells
      JOIN rt ON cells.event_type = rt.event_type
      JOIN ct ON cells.dow = ct.dow
      CROSS JOIN tt
      ORDER BY cells.event_type, cells.dow"""))

  // ---------------------------------------------------------------------
  // q152 — delete-a-group JACKKNIFE standard error of the mean, with
  // deterministic hash folds: rows assigned to k=10 folds by the portable
  // md5 of the row key (no RNG — the same rows land in the same folds on
  // any engine, any partitioning, any run), leave-one-fold-out means from
  // EXACT integer per-fold sums, then the jackknife variance folded over
  // the fold-sorted array with an ORDERED reduce (Spark `aggregate` ≡
  // DuckDB `list_reduce`, both left-associative) — never a float SUM();
  // this is how a float-valued variance survives the hash gate. The
  // per-fold state is k sums+counts per group however large the group —
  // the resampling-without-resampling discipline at scale.
  // ---------------------------------------------------------------------
  private val JkFolds = 10
  private val q152 = QueryDef(
    "q152_jackknife_se",
    (spark, dir) => {
      import spark.implicits._
      val folds = Tables.events(spark, dir)
        .filter($"value".isNotNull)
        .select($"event_type",
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long").as("cents"),
          pmod(Portable.md5Hash64($"event_id".cast("string")), lit(JkFolds.toLong))
            .as("fold"))
        .groupBy($"event_type", $"fold")
        .agg(sum($"cents").as("s_f"), count(lit(1)).as("n_f"))
      val wAll = Window.partitionBy($"event_type")
      val loo = folds
        .withColumn("s", sum($"s_f").over(wAll))
        .withColumn("n", sum($"n_f").over(wAll))
        .withColumn("mu_loo",
          ($"s" - $"s_f").cast("double") / ($"n" - $"n_f").cast("double"))
      loo.groupBy($"event_type")
        .agg(
          max($"n").as("n"), max($"s").as("s"),
          transform(array_sort(collect_list(struct($"fold", $"mu_loo"))),
            p => p("mu_loo")).as("arr"))
        .withColumn("mean_cents", $"s".cast("double") / $"n".cast("double"))
        .withColumn("jk_mean",
          aggregate($"arr", lit(0.0), (acc, x) => acc + x) / lit(JkFolds.toDouble))
        .withColumn("jk_se", sqrt(
          aggregate($"arr", lit(0.0),
            (acc, x) => acc + ($"jk_mean" - x) * ($"jk_mean" - x))
            * lit((JkFolds - 1).toDouble / JkFolds)))
        .select($"event_type", $"n", $"mean_cents", $"jk_mean", $"jk_se")
        .orderBy($"event_type")
    },
    Some(s"""
      WITH f AS (
        SELECT event_type,
               ${Portable.md5Hash64Sql("CAST(event_id AS VARCHAR)")} % $JkFolds AS fold,
               CAST(sum(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS s_f,
               CAST(count(*) AS BIGINT) AS n_f
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      t AS (
        SELECT event_type, CAST(sum(s_f) AS BIGINT) AS s,
               CAST(sum(n_f) AS BIGINT) AS n FROM f GROUP BY 1),
      loo AS (
        SELECT f.event_type, f.fold,
               CAST(t.s - f.s_f AS DOUBLE) / CAST(t.n - f.n_f AS DOUBLE) AS mu_loo,
               t.s, t.n
        FROM f JOIN t ON f.event_type = t.event_type),
      arrs AS (
        SELECT event_type, max(s) AS s, max(n) AS n,
               list_transform(
                 list_sort(list({'fold': fold, 'mu_loo': mu_loo})),
                 p -> p.mu_loo) AS arr
        FROM loo GROUP BY 1),
      stats AS (
        SELECT event_type, n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
               list_reduce(list_prepend(CAST(0 AS DOUBLE), arr),
                 (acc, x) -> acc + x) / ${JkFolds.toDouble} AS jk_mean,
               arr
        FROM arrs)
      SELECT event_type, n, mean_cents, jk_mean,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), arr),
                    (acc, x) -> acc + (jk_mean - x) * (jk_mean - x))
                  * ${(JkFolds - 1).toDouble / JkFolds}) AS jk_se
      FROM stats ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q189 — INTEGER CUSUM change-point: per event_type, the day where the
  // cumulative deviation from the series' own mean peaks — offline CUSUM,
  // the standard "when did the level shift" detector. Exactness: with
  // daily exact-cent sums x_d, N days and total S, the deviation is
  // dev_d = x_d·N − S (pure integers — the mean never gets divided), the
  // CUSUM is a running integer sum, and the change-point is the
  // row_number-1 row under (|cusum| desc, day asc) — a total order. The
  // normalized magnitude (milli of S·N) makes types comparable. One
  // fact rollup to days, a 1-row-per-type stats broadcast, one
  // day-ordered window per type.
  // ---------------------------------------------------------------------
  private val q189 = QueryDef(
    "q189_cusum_changepoint",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"value".isNotNull)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(sum(($"value".cast(DecimalType(28, 2)) * 100).cast("long"))
          .as("x"))
      val stats = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"), sum($"x").as("s_total"))
      val wCum = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy($"event_type")
        .orderBy(abs($"cusum").desc, $"day".asc)
      daily.join(stats, Seq("event_type"))
        .withColumn("dev", $"x" * $"n_days" - $"s_total")
        .withColumn("cusum", sum($"dev").over(wCum))
        .withColumn("rn", row_number().over(wPick))
        .filter($"rn" === 1)
        .select($"event_type", $"n_days", $"day".as("change_day"),
          $"cusum".as("cusum_at_peak"),
          expr("(1000 * abs(cusum)) div (s_total * n_days)").as("shift_milli"))
        .orderBy($"event_type")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT))
                 AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2),
      stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS s_total
        FROM daily GROUP BY 1),
      dev AS (
        SELECT d.event_type, d.day, s.n_days, s.s_total,
               CAST(sum(d.x * s.n_days - s.s_total) OVER (
                 PARTITION BY d.event_type ORDER BY d.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cusum
        FROM daily d JOIN stats s ON s.event_type = d.event_type),
      pick AS (
        SELECT *, row_number() OVER (
          PARTITION BY event_type ORDER BY abs(cusum) DESC, day ASC) AS rn
        FROM dev)
      SELECT event_type, n_days, day AS change_day, cusum AS cusum_at_peak,
             CAST((1000 * abs(cusum)) // (s_total * n_days) AS BIGINT)
               AS shift_milli
      FROM pick WHERE rn = 1 ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q197 — TWO-SAMPLE distribution drift (χ² homogeneity): q188 watches
  // the embedding space; this watches FEATURE distributions — per
  // event_type, the old/new halves' value-band histograms compared
  // against the pooled expectation, per-band χ² contributions emitted
  // as q146 does (one fixed-order double per cell over exact integer
  // marginals, never a float re-aggregation). This is the portable
  // stand-in for PSI: PSI's ln() cannot cross engines bit-for-bit, χ²
  // ranks the same drifts with divisions and squares only. Bands are
  // integer cents div 5000 (q179's banding); halves by event_id parity
  // (the release-boundary stand-in).
  // ---------------------------------------------------------------------
  /** The q197 oracle, shared verbatim with its streaming twin q265
    * (graft.streaming.Streams) — stream ≡ batch, so one SQL checks both.
    */
  private[graft] val driftOracleSql: String = s"""
      WITH cells AS (
        SELECT event_type,
               ${graft.functions.Portable.bandSql(
                 "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)",
                 5000L, "//")} AS band,
               CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS o_a,
               CAST(sum(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS o_b
        FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2),
      marg AS (
        SELECT event_type, CAST(sum(o_a) AS BIGINT) AS n_a,
               CAST(sum(o_b) AS BIGINT) AS n_b
        FROM cells GROUP BY 1)
      SELECT c.event_type, c.band, c.o_a, c.o_b,
             (CAST(c.o_a AS DOUBLE) -
               CAST((c.o_a + c.o_b) * m.n_a AS DOUBLE) / CAST(m.n_a + m.n_b AS DOUBLE))
             * (CAST(c.o_a AS DOUBLE) -
               CAST((c.o_a + c.o_b) * m.n_a AS DOUBLE) / CAST(m.n_a + m.n_b AS DOUBLE))
             / (CAST((c.o_a + c.o_b) * m.n_a AS DOUBLE) / CAST(m.n_a + m.n_b AS DOUBLE))
             +
             (CAST(c.o_b AS DOUBLE) -
               CAST((c.o_a + c.o_b) * m.n_b AS DOUBLE) / CAST(m.n_a + m.n_b AS DOUBLE))
             * (CAST(c.o_b AS DOUBLE) -
               CAST((c.o_a + c.o_b) * m.n_b AS DOUBLE) / CAST(m.n_a + m.n_b AS DOUBLE))
             / (CAST((c.o_a + c.o_b) * m.n_b AS DOUBLE) / CAST(m.n_a + m.n_b AS DOUBLE))
               AS chi2_term
      FROM cells c JOIN marg m ON m.event_type = c.event_type
      ORDER BY c.event_type, c.band"""

  private val q197 = QueryDef(
    "q197_distribution_drift",
    (spark, dir) => {
      import spark.implicits._
      val cells = Tables.events(spark, dir)
        .filter($"event_id".isNotNull && $"value".isNotNull)
        .groupBy($"event_type",
          expr(graft.functions.Portable.bandSql(
            "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)", 5000L, "div"))
            .as("band"))
        .agg(
          sum(when($"event_id" % 2 === 0, 1L).otherwise(0L)).as("o_a"),
          sum(when($"event_id" % 2 =!= 0, 1L).otherwise(0L)).as("o_b"))
      val marg = cells.groupBy($"event_type")
        .agg(sum($"o_a").as("n_a"), sum($"o_b").as("n_b"))
      cells.join(marg, Seq("event_type"))
        .withColumn("e_a",
          (($"o_a" + $"o_b") * $"n_a").cast("double") / ($"n_a" + $"n_b").cast("double"))
        .withColumn("e_b",
          (($"o_a" + $"o_b") * $"n_b").cast("double") / ($"n_a" + $"n_b").cast("double"))
        .withColumn("chi2_term",
          ($"o_a".cast("double") - $"e_a") * ($"o_a".cast("double") - $"e_a") / $"e_a" +
            ($"o_b".cast("double") - $"e_b") * ($"o_b".cast("double") - $"e_b") / $"e_b")
        .select($"event_type", $"band", $"o_a", $"o_b", $"chi2_term")
        .orderBy($"event_type", $"band")
    },
    Some(driftOracleSql))

  // ---------------------------------------------------------------------
  // q229 — DOLLAR BARS (information-driven bar construction, López de
  // Prado AFML ch.2): resample the tick stream into bars of ~equal
  // TRADED NOTIONAL instead of equal wall-clock, so bar arrival tracks
  // information flow — the sampling the reference's fixed 15-min/daily
  // roll-ups (spark_consumer.py window, build_training_dataset.py daily
  // bars) cannot express. The lineitem fact plays the tick tape
  // (l_extendedprice IS the trade notional in TPC-H), per-ticker ticks
  // ordered by (day, seq).
  //
  // Bar rule (deterministic floor variant): with T = $1M in cents, a
  // tick whose INCLUSIVE running notional cum satisfies cum ∈
  // (k·T, (k+1)·T] belongs to bar k, i.e. bar_id = (cum − 1) div T.
  // Exact integer arithmetic end-to-end; ties in seq share the RANGE-
  // frame cumulative (both engines' default frame), so duplicate fixture
  // rows land deterministically. A single huge tick may skip bar ids —
  // bars are ~T-sized, ids monotone but not dense (documented AFML
  // deviation from the running-reset accumulator, which is inherently
  // sequential; the floor rule differs only by ≤ one tick of carryover
  // per bar and is exactly parallelizable).
  //
  // SCALE SHAPE — a FULLY hierarchical segmented scan (no window
  // anywhere touches a data-dependent partition): a naive cumsum
  // windows per-TICK rows by ticker, and even the per-(tkr, day) split
  // used through round 9 left ONE data-dependent bound — a hyper-liquid
  // symbol-day is tens of millions of ticks sorting in one window task.
  // [[chunkedTicks]] applies the q184 sweep discipline INTRA-day:
  //   (1) rangepartition the tape on (tkr, day, seq) — chunks are
  //       contiguous seq ranges, balanced by the range sampler, and a
  //       tie group (equal key) can never straddle a chunk;
  //   (2) chunk-LOCAL running windows per (tkr, day, _pid) — bounded by
  //       chunk size by construction (declared `_pid` bound);
  //   (3) chunk summaries — ≤ |symbol-day groups| + |partitions| rows
  //       total (a group occupies one chunk unless it straddles a
  //       partition boundary, and there are ≤ P−1 boundaries) — carry
  //       chunk_sum / first / last / last-nonzero-sign; the intra-day
  //       prefix over them windows ≤ |partitions| rows per (tkr, day)
  //       cell (declared set "cday, ctkr");
  //   (4) the day rollup derives FROM the chunk summaries (aggregation,
  //       never a tick window); its cross-day prefix windows ≤ |trading
  //       days| rows per ticker (declared `ticker` bound);
  //   (5) day + chunk offsets broadcast-join back onto the tape — the
  //       broadcast is the symbol-day rollup the pre-chunk design
  //       already shipped, + ≤ P−1 rows.
  // Exact at ANY chunking because prefix sums compose associatively and
  // the tick-rule sign carry is a last-non-null fold (also associative —
  // the q184/q139 segmented-scan argument). Then one partial-agg shuffle
  // to (ticker, bar_id) grain builds OHLC via min/max(struct) — never
  // first/last.
  // ---------------------------------------------------------------------
  private[operators] val DollarBarT = 100000000L // $1M in cents

  /** The tick tape: lineitem as per-ticker trades ordered by (day, seq).
    * seq embeds the price cents in its low digits, so duplicate fixture
    * rows tie on seq with EQUAL prices — every downstream window uses
    * RANGE frames (ties share the frame), making the tape deterministic
    * under any physical order. The key is `tkr`, not `ticker`: tick-grain
    * frames must never ride the daily-bars WindowBounds declaration.
    */
  private[operators] def tickTape(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).select(
      $"l_suppkey".as("tkr"),
      to_date($"l_shipdate").as("day"),
      (($"l_orderkey" * 16 + $"l_linenumber") * 100000000L
        + ($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
        .as("seq"),
      ($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long")
        .as("cents"))
  }

  private val tickSql = """
      ticks AS (
        SELECT l_suppkey AS ticker, CAST(l_shipdate AS DATE) AS day,
               (l_orderkey * 16 + l_linenumber) * 100000000
                 + CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)
                 AS seq,
               CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)
                 AS cents
        FROM lineitem)"""

  /** The chunked tape: the q184 hierarchical prefix-sum applied
    * INTRA-day (see q229's SCALE SHAPE header for the five-step
    * argument). Takes any (tkr, day, seq, cents) tape; returns it with
    * the chunk-local running state plus the broadcast summary columns
    * stitched back on:
    *
    *   - `_pid`           rangepartition chunk id (contiguous seq range)
    *   - `prev_in_chunk`  lag(cents) within the chunk (null on chunk head)
    *   - `chunk_cum`      RANGE-frame running notional within the chunk
    *   - `chunk_off`      exclusive prefix of prior same-day chunks' notional
    *   - `prev_chunk_last` prior same-day chunk's last price (null on day head)
    *   - `chunk_carry`    last non-null tick-rule sign over prior same-day chunks
    *   - `lag_lp`         previous day's last price (per ticker)
    *   - `carry_in`       last non-null day-level sign over strictly prior days
    *   - `day_base`       exclusive prefix of prior days' notional (per ticker)
    *
    * so the global cumulative is `day_base + chunk_off + chunk_cum` and
    * the globally-carried tick-rule sign is
    * `coalesce(in-chunk fill, chunk_carry, carry_in, +1)` — both exact
    * at any chunking by associativity. Every window in here is bounded
    * BY CONSTRUCTION: per-chunk (`_pid`), per-(tkr, day) chunk-summary
    * (≤ |partitions| rows, the "cday, ctkr" declared set), or per-ticker
    * daily rollup (`ticker`). Package-visible for the hot-symbol-day
    * ScaleBehaviorSpec.
    */
  private[graft] def chunkedTicks(ticks: DataFrame): DataFrame = {
    import ticks.sparkSession.implicits._
    // localCheckpoint PINS the chunk boundaries: the range-shuffled tape
    // is consumed twice below (tick grain + the stitch-back join keyed by
    // _pid), and without materialization the two consumptions agree only
    // via exchange reuse — a recomputation that re-sampled different
    // range boundaries would silently mis-stitch cum0/s_filled. Lazy
    // (computes on first action); the block-manager copy is released by
    // the ContextCleaner once the silver build's parquet write drops the
    // last reference. At cluster scale this is the "write the shuffled
    // tape once" step any segmented-scan silver build pays anyway.
    val ranged = ticks
      .repartitionByRange(col("tkr"), col("day"), col("seq"))
    // the checkpoint hides the range exchange behind a Scan ExistingRDD
    // in every downstream plan; the checkpoint runs as its own SQL
    // execution ("localCheckpoint"), whose plan on the listener bus still
    // shows the rangepartitioning (ScaleBehaviorSpec reads it there)
    val parted = ranged
      .localCheckpoint(false)
      .withColumn("_pid", spark_partition_id())
    val wChunk = Window.partitionBy("tkr", "day", "_pid").orderBy("seq")
    val local = parted
      .withColumn("prev_in_chunk", lag($"cents", 1).over(wChunk))
      .withColumn("chunk_cum", sum($"cents").over(wChunk))
      // in-chunk tick-rule sign; the chunk-head row (null lag) resolves
      // at summary grain against the prior chunk's last price
      .withColumn("s_in",
        when($"prev_in_chunk".isNull, lit(null).cast("int"))
          .when($"cents" > $"prev_in_chunk", 1)
          .when($"cents" < $"prev_in_chunk", -1))
    val sums = local
      .groupBy($"tkr".as("ctkr"), $"day".as("cday"), $"_pid".as("cpid"))
      .agg(
        sum($"cents").as("chunk_sum"),
        min(struct($"seq", $"cents".as("c"))).getField("c").as("first_c"),
        max(struct($"seq", $"cents".as("c"))).getField("c").as("last_c"),
        max(when($"s_in".isNotNull, struct($"seq", $"s_in".as("v"))))
          .getField("v").as("lnz_tail"))
    val wCh = Window.partitionBy("ctkr", "cday").orderBy("cpid")
    val chunked = sums
      .withColumn("chunk_off", coalesce(
        sum($"chunk_sum").over(wCh.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("prev_chunk_last", lag($"last_c", 1).over(wCh))
      // the chunk's intra-day sign contribution: tail signs, else the
      // chunk-head tick classified vs the prior chunk's last price
      // (null on the day-head chunk — that head resolves cross-day below)
      .withColumn("lnz_intra", coalesce($"lnz_tail",
        when($"prev_chunk_last".isNull, lit(null).cast("int"))
          .when($"first_c" > $"prev_chunk_last", 1)
          .when($"first_c" < $"prev_chunk_last", -1)))
    // day rollup FROM the chunk summaries — never a tick-grain pass
    val wDay = Window.partitionBy("ticker").orderBy("day")
    val daySum = chunked
      .groupBy($"ctkr".as("ticker"), $"cday".as("day"))
      .agg(
        sum($"chunk_sum").as("day_cents"),
        min(struct($"cpid", $"first_c".as("c"))).getField("c").as("fp"),
        max(struct($"cpid", $"last_c".as("c"))).getField("c").as("lp"),
        max(when($"lnz_intra".isNotNull, struct($"cpid", $"lnz_intra".as("v"))))
          .getField("v").as("lnz"))
      .withColumn("lag_lp", lag($"lp", 1).over(wDay))
      .withColumn("s_day", coalesce($"lnz",
        when($"lag_lp".isNull, lit(null).cast("int"))
          .when($"fp" > $"lag_lp", 1)
          .when($"fp" < $"lag_lp", -1)))
      .withColumn("carry_in", last($"s_day", ignoreNulls = true)
        .over(wDay.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("day_base", sum($"day_cents").over(wDay) - $"day_cents")
      .select($"ticker", $"day", $"lag_lp", $"carry_in", $"day_base")
    // stitch day facts into the chunk summaries; the day-head chunk's
    // head tick now classifies vs the prior DAY's last price, completing
    // the cross-chunk sign carry
    val info = chunked
      .join(daySum,
        chunked("ctkr") === daySum("ticker") && chunked("cday") === daySum("day"))
      .drop("ticker", "day")
      .withColumn("prev_eff", coalesce($"prev_chunk_last", $"lag_lp"))
      .withColumn("lnz_full", coalesce($"lnz_tail",
        when($"prev_eff".isNull, lit(null).cast("int"))
          .when($"first_c" > $"prev_eff", 1)
          .when($"first_c" < $"prev_eff", -1)))
      .withColumn("chunk_carry", last($"lnz_full", ignoreNulls = true)
        .over(wCh.rowsBetween(Window.unboundedPreceding, -1)))
      .select($"ctkr", $"cday", $"cpid", $"chunk_off", $"prev_chunk_last",
        $"chunk_carry", $"lag_lp", $"carry_in", $"day_base")
    local.join(broadcast(info),
        local("tkr") === info("ctkr") && local("day") === info("cday") &&
          local("_pid") === info("cpid"))
      .drop("ctkr", "cday", "cpid")
  }

  private val q229 = QueryDef(
    "q229_dollar_bars",
    (spark, dir) => {
      import spark.implicits._
      flowResolved(spark, dir)
        .withColumn("bar_id", expr(s"(cum0 - 1) div $DollarBarT"))
        .groupBy($"tkr".as("ticker"), $"bar_id")
        .agg(
          min($"day").as("t_start"),
          max($"day").as("t_end"),
          min(struct($"day".as("d"), $"seq".as("s"), $"cents".as("c")))
            .getField("c").as("open_c"),
          max($"cents").as("high_c"),
          min($"cents").as("low_c"),
          max(struct($"day".as("d"), $"seq".as("s"), $"cents".as("c")))
            .getField("c").as("close_c"),
          count(lit(1)).as("n_ticks"),
          sum($"cents").as("dollars_c"))
        .orderBy($"ticker", $"bar_id")
    },
    Some(s"""
      WITH $tickSql,
      cum AS (
        SELECT ticker, day, seq, cents,
               sum(cents) OVER (PARTITION BY ticker ORDER BY day, seq) AS cum0
        FROM ticks)
      SELECT ticker, CAST((cum0 - 1) // $DollarBarT AS BIGINT) AS bar_id,
             min(day) AS t_start, max(day) AS t_end,
             (min(struct_pack(d := day, s := seq, c := cents))).c AS open_c,
             max(cents) AS high_c, min(cents) AS low_c,
             (max(struct_pack(d := day, s := seq, c := cents))).c AS close_c,
             count(*) AS n_ticks, CAST(sum(cents) AS BIGINT) AS dollars_c
      FROM cum GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------------
  // q230 — TICK-RULE ORDER FLOW + VPIN (AFML ch.19 / Easley–López de
  // Prado–O'Hara): classify each trade buy/sell by the tick rule
  // (sign of the price change; an unchanged price inherits the LAST
  // non-zero sign — the carry), bucket the tape into ~equal-notional
  // volume buckets (q229's floor rule, same T), and report per-bucket
  // order imbalance plus VPIN over a 5-bucket trailing window. VPIN is
  // computed as Σ|buy−sell| / Σ(buy+sell) over the frame — both sums
  // exact longs, ONE double division, so no float-accumulation hazard
  // (and the volume-weighted form is the estimator's own definition
  // when buckets are equal-volume).
  //
  // SCALE SHAPE — the tick-rule carry looks inherently sequential (each
  // sign can depend on the previous), but last-non-null is an
  // associative fold, so it decomposes over [[chunkedTicks]]'s THREE
  // construction-bounded levels exactly like the cumsum: (1) chunk-local
  // signs + the per-chunk summary (first/last price, last non-zero
  // in-chunk sign) — windows per rangepartition chunk; (2) the
  // chunk-grain recurrence resolves each chunk's head sign and carry
  // (≤ |partitions| summary rows per symbol-day), and the DAY-grain
  // recurrence on the rollup resolves cross-day carry-in (≤ |trading
  // days| rows per ticker); (3) summaries broadcast back and each
  // tick's sign = coalesce(in-chunk fill, chunk carry, day carry, +1).
  // The DuckDB oracle is the textbook single global window over the
  // whole tape — the hash gate proves the segmented stitching exact.
  //
  // Determinism at seq ties (duplicate fixture rows ⇒ equal prices):
  // RANGE frames make tie rows share cum/sign frames, and a tie pair's
  // (Δ, sign) multiset is order-invariant because both rows carry the
  // same price — pinned by the tie-pair spec case.
  // ---------------------------------------------------------------------
  private val VpinFrame = 5 // trailing buckets per VPIN estimate

  /** The q230 tick-sign + bucket resolution, shared with q238 (Kyle's
    * lambda regresses price impact on the SAME classified flow) and
    * q267: per tick (tkr, day, seq, cents, _pid, s_filled, cum0,
    * bucket). All windows ride [[chunkedTicks]]'s construction-bounded
    * grains; the in-chunk sign fill reuses the (tkr, day, _pid)
    * partitioning the chunk pass already established, so it costs a
    * sort, not a shuffle. Package-visible (as [[flowFromTape]]) for the
    * hot-symbol-day ScaleBehaviorSpec.
    */
  private[graft] def flowFromTape(ticks: DataFrame): DataFrame = {
    import ticks.sparkSession.implicits._
    val wChunk = Window.partitionBy("tkr", "day", "_pid").orderBy("seq")
    chunkedTicks(ticks)
      // the previous price this tick sees: in-chunk, else the prior
      // same-day chunk's last, else the prior day's last — null only on
      // the ticker's very first tick ever
      .withColumn("prev_any",
        coalesce($"prev_in_chunk", $"prev_chunk_last", $"lag_lp"))
      .withColumn("s_tick",
        when($"prev_any".isNull, lit(null).cast("int"))
          .when($"cents" > $"prev_any", 1)
          .when($"cents" < $"prev_any", -1))
      .withColumn("s_filled", coalesce(
        last($"s_tick", ignoreNulls = true).over(wChunk),
        $"chunk_carry", $"carry_in", lit(1)))
      .withColumn("cum0", $"day_base" + $"chunk_off" + $"chunk_cum")
      .withColumn("bucket", expr(s"(cum0 - 1) div $DollarBarT"))
      .select($"tkr", $"day", $"seq", $"cents", $"_pid", $"s_filled",
        $"cum0", $"bucket")
  }

  /** The classified-flow SILVER table ([[Silver]] registry:
    * `classified_flow`): the chunk-stitched tape materializes ONCE per
    * input dir and the whole microstructure family (q229 bars, q230
    * VPIN, q238 Kyle's λ, q267 runs test) reads it back — four queries
    * were each rebuilding the two-shuffle chunk pass from scratch (the
    * r9 silver-reuse finding; SharedSubtree audit enforces it now).
    */
  private[operators] def flowResolved(
      spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "classified_flow", dir)(
      (Nil, flowFromTape(tickTape(spark, dir))))

  /** The q230/q238 shared oracle CTE chain: ticks → w1 (lag + cumsum) →
    * w2 (carried tick-rule sign) — the textbook single global window.
    */
  private val flowSql = s"""
      $tickSql,
      w1 AS (
        SELECT ticker, day, seq, cents,
               lag(cents) OVER (PARTITION BY ticker ORDER BY day, seq)
                 AS prev_c,
               sum(cents) OVER (PARTITION BY ticker ORDER BY day, seq)
                 AS cum0
        FROM ticks),
      w2 AS (
        SELECT ticker, day, seq, cum0, cents,
               last_value(CASE WHEN prev_c IS NULL THEN NULL
                               WHEN cents > prev_c THEN 1
                               WHEN cents < prev_c THEN -1 END IGNORE NULLS)
                 OVER (PARTITION BY ticker ORDER BY day, seq) AS s
        FROM w1)"""

  private val q230 = QueryDef(
    "q230_vpin_flow",
    (spark, dir) => {
      import spark.implicits._
      // bucket grain (~total/T rows per ticker) + trailing VPIN
      val wV = Window.partitionBy("ticker").orderBy("bucket")
        .rowsBetween(-(VpinFrame - 1), 0)
      flowResolved(spark, dir)
        .groupBy($"tkr".as("ticker"), $"bucket")
        .agg(
          sum(when($"s_filled" === 1, $"cents").otherwise(0L)).as("buy_c"),
          sum(when($"s_filled" === -1, $"cents").otherwise(0L)).as("sell_c"))
        .withColumn("oi_c", abs($"buy_c" - $"sell_c"))
        .withColumn("vpin",
          sum($"oi_c").over(wV).cast("double") /
            sum($"buy_c" + $"sell_c").over(wV).cast("double"))
        .orderBy($"ticker", $"bucket")
    },
    Some(s"""
      WITH $flowSql,
      b AS (
        SELECT ticker, CAST((cum0 - 1) // $DollarBarT AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN coalesce(s, 1) = 1 THEN cents ELSE 0 END)
                 AS BIGINT) AS buy_c,
               CAST(sum(CASE WHEN coalesce(s, 1) = -1 THEN cents ELSE 0 END)
                 AS BIGINT) AS sell_c
        FROM w2 GROUP BY 1, 2)
      SELECT ticker, bucket, buy_c, sell_c,
             abs(buy_c - sell_c) AS oi_c,
             CAST(sum(abs(buy_c - sell_c)) OVER wv AS DOUBLE)
               / CAST(sum(buy_c + sell_c) OVER wv AS DOUBLE) AS vpin
      FROM b
      WINDOW wv AS (PARTITION BY ticker ORDER BY bucket
                    ROWS BETWEEN ${VpinFrame - 1} PRECEDING AND CURRENT ROW)
      ORDER BY ticker, bucket"""))

  // ---------------------------------------------------------------------
  // q231 — FIXED-WIDTH FRACTIONAL DIFFERENTIATION (AFML ch.5, FFD):
  // the stationarity-vs-memory compromise — differencing a price series
  // by a FRACTIONAL order d ∈ (0,1) instead of d=1, so the series
  // becomes ~stationary while keeping long memory. ffd_t =
  // Σ_{k<K} w_k · close_{t−k} with w_0 = 1,
  // w_k = −w_{k−1}·(d−k+1)/k, truncated at fixed width K (burn-in rows
  // without K−1 predecessors are dropped).
  //
  // Exactness: weights are computed ONCE in Scala as scale-18
  // BigDecimals (HALF_EVEN) and the SAME literals are emitted into both
  // the Column expression and the oracle SQL — the dot product is then
  // pure decimal multiply/add on cent prices (no division, no float
  // accumulation), so both engines hold the identical exact value; the
  // single CAST to DOUBLE at the end rounds that one exact decimal the
  // same way (IEEE half-even) on both.
  //
  // Scale: one daily-grain window per ticker (declared bound), K lags
  // in a single window pass — no self-join, no explode.
  // ---------------------------------------------------------------------
  private val FfdK = 10
  /** FFD weights for d = 0.5, scale-18 exact decimals. */
  private[operators] lazy val ffdWeights: Seq[java.math.BigDecimal] = {
    val d = new java.math.BigDecimal("0.5")
    val one = java.math.BigDecimal.ONE.setScale(18)
    Iterator.iterate((one, 1)) { case (w, k) =>
      val next = w.negate()
        .multiply(d.subtract(new java.math.BigDecimal(k - 1)))
        .divide(new java.math.BigDecimal(k), 18, java.math.RoundingMode.HALF_EVEN)
      (next, k + 1)
    }.map(_._1).take(FfdK).toSeq
  }

  /** The weights as exact 2^16-scaled integers: for d = 1/2 every FFD
    * weight is a DYADIC rational with denominator ≤ 2^16 (each step
    * multiplies by −(2k−3)/(2k); the odd k in the denominator always
    * cancels), so w·65536 is a small exact integer —
    * `toBigIntegerExact` throws loudly if that ever stops holding. The
    * whole dot product then runs in plain BIGINT (≤ 2^43, exact on both
    * engines), and ffd = dot/2^16 costs one exact long→double cast plus
    * one exact power-of-two division — BIT-identical cross-engine.
    * (First attempts kept scale-18 decimals / atto-integers: a 10-term
    * decimal addition chain blows DuckDB's precision-38 cap into DOUBLE
    * promotion, and HUGEINT→DOUBLE casting is not correctly rounded in
    * DuckDB — both produced last-ULP divergences on exactly the rows
    * where carries landed.)
    */
  private lazy val ffdW16: Seq[Long] = ffdWeights
    .map(_.multiply(new java.math.BigDecimal(65536))
      .toBigIntegerExact.longValueExact())

  private val q231 = QueryDef(
    "q231_frac_diff",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy("ticker").orderBy("date")
      val cc = ($"close".cast(DecimalType(28, 2)) * 100).cast("long")
      val dot = ffdW16.zipWithIndex.map { case (wk, k) =>
        lit(wk) * lag(cc, k).over(w)
      }.reduce(_ + _)
      WindowFeatures.bars(spark, dir)
        .withColumn("ffd", dot.cast("double") / 65536.0)
        .withColumn("burn", lag(cc, FfdK - 1).over(w))
        .filter($"burn".isNotNull)
        .select($"ticker", $"date", $"close", $"ffd")
        .orderBy($"ticker", $"date")
    },
    Some {
      val terms = ffdW16.zipWithIndex.map { case (wk, k) =>
        val l =
          if (k == 0) "cc"
          else s"lag(cc, $k) OVER (PARTITION BY ticker ORDER BY date)"
        s"($wk) * $l"
      }.mkString("\n               + ")
      s"""
      WITH ${WindowFeatures.barsSql},
      c AS (
        SELECT ticker, date, close,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS cc
        FROM bars)
      SELECT ticker, date, close,
             CAST($terms AS DOUBLE) / 65536.0 AS ffd
      FROM c
      QUALIFY lag(cc, ${FfdK - 1})
        OVER (PARTITION BY ticker ORDER BY date) IS NOT NULL
      ORDER BY ticker, date"""
    })

  // ---------------------------------------------------------------------
  // q234 — SPLIT-CONFORMAL PREDICTION INTERVALS (Vovk; Lei et al. 2018):
  // distribution-free finite-sample-valid intervals around the q138 OLS
  // trend. Per series: chronological 50/30/20 train/calibration/test
  // split on the daily rollup; fit OLS on train (exact decimal sums,
  // q138's arithmetic verbatim); nonconformity score = |residual|; the
  // conformal quantile q̂ is the ⌈(n_cal+1)·(1−α)⌉-th smallest
  // calibration score (α = 0.2, integer ceil arithmetic); report test
  // coverage of ŷ ± q̂ in exact millis. If the rank exceeds n_cal the
  // interval is infinite — q̂ NULL, everything covered (both engines
  // take the same LEFT-JOIN path).
  //
  // Determinism: scores are doubles computed by the IDENTICAL expression
  // tree from exact integer/decimal sums on both engines, so selection
  // (k-th smallest, ties broken by day) and the ≤ q̂ comparisons are
  // bit-identical — no float SUMS anywhere past the decimal rollup.
  // Scale: everything after the one fact rollup is |series|×|days|
  // grain; fits and quantiles broadcast back.
  // ---------------------------------------------------------------------
  private val q234 = QueryDef(
    "q234_conformal_intervals",
    (spark, dir) => {
      import spark.implicits._
      val daily = CoreBatch.dailyEvents(spark, dir)
        .select($"event_type", $"day", $"y")
      val first = daily.agg(min($"day").as("lo"))
      val wT = Window.partitionBy("event_type").orderBy("day")
      val sizes0 = daily.groupBy($"event_type").agg(count(lit(1)).as("n"))
      val dd = daily.crossJoin(broadcast(first))
        .withColumn("x", datediff($"day", $"lo").cast("long"))
        .join(broadcast(sizes0), "event_type")
        .withColumn("rn", row_number().over(wT))
        .withColumn("split",
          when($"rn" * 10 <= $"n" * 5, "train")
            .when($"rn" * 10 <= $"n" * 8, "cal")
            .otherwise("test"))
      val fit = dd.filter($"split" === "train")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_train"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"), sum($"y").as("sy"),
          sum($"y" * $"x").as("sxy"))
        .withColumn("slope",
          ($"n_train" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n_train" * $"sxx" - $"sx" * $"sx").cast("double"))
        .withColumn("intercept",
          ($"sy".cast("double") - $"slope" * $"sx".cast("double")) /
            $"n_train".cast("double"))
        .select($"event_type", $"n_train", $"slope", $"intercept")
      val scored = dd.join(broadcast(fit), "event_type")
        .withColumn("score", abs($"y".cast("double") -
          ($"slope" * $"x".cast("double") + $"intercept")))
      val calN = scored.filter($"split" === "cal")
        .groupBy($"event_type").agg(count(lit(1)).as("n_cal"))
      val qhat = scored.filter($"split" === "cal")
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy("score", "day")))
        .join(broadcast(calN), "event_type")
        .filter($"rk" === expr("((n_cal + 1) * 8 + 9) div 10"))
        .select($"event_type", $"score".as("qhat"))
      scored.filter($"split" === "test")
        .join(broadcast(qhat), Seq("event_type"), "left")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_test"),
          sum(when($"qhat".isNull || $"score" <= $"qhat", 1L).otherwise(0L))
            .as("n_cov"),
          max($"qhat").as("qhat"))
        .join(broadcast(fit.select($"event_type", $"n_train")), "event_type")
        .join(broadcast(calN), "event_type")
        .withColumn("cover_milli", expr("(1000 * n_cov) div n_test"))
        .select($"event_type", $"n_train", $"n_cal", $"n_test", $"qhat",
          $"cover_milli")
        .orderBy($"event_type")
    },
    Some("""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               sum(CAST(value AS DECIMAL(28,2))) AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      f AS (SELECT min(CAST(ts AS DATE)) AS lo
            FROM events WHERE ts IS NOT NULL),
      sz AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
      dd AS (
        SELECT d.event_type, d.day,
               CAST(date_diff('day', f.lo, d.day) AS BIGINT) AS x, d.y,
               row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
                 AS rn, sz.n
        FROM d CROSS JOIN f JOIN sz ON sz.event_type = d.event_type),
      ds AS (
        SELECT *, CASE WHEN rn * 10 <= n * 5 THEN 'train'
                       WHEN rn * 10 <= n * 8 THEN 'cal'
                       ELSE 'test' END AS split
        FROM dd),
      fit AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx,
               sum(y) AS sy, sum(y*x) AS sxy
        FROM ds WHERE split = 'train' GROUP BY 1),
      fit2 AS (
        SELECT event_type, n_train,
               CAST(n_train * sxy - sx * sy AS DOUBLE) /
                 CAST(n_train * sxx - sx * sx AS DOUBLE) AS slope,
               (CAST(sy AS DOUBLE) -
                (CAST(n_train * sxy - sx * sy AS DOUBLE) /
                 CAST(n_train * sxx - sx * sx AS DOUBLE))
                  * CAST(sx AS DOUBLE)) / CAST(n_train AS DOUBLE)
                 AS intercept
        FROM fit),
      scored AS (
        SELECT ds.event_type, ds.day, ds.split,
               abs(CAST(ds.y AS DOUBLE) -
                 (fit2.slope * CAST(ds.x AS DOUBLE) + fit2.intercept))
                 AS score
        FROM ds JOIN fit2 ON fit2.event_type = ds.event_type),
      caln AS (
        SELECT event_type, count(*) AS n_cal
        FROM scored WHERE split = 'cal' GROUP BY 1),
      q AS (
        SELECT c.event_type, c.score AS qhat
        FROM (SELECT event_type, day, score,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY score, day) AS rk
              FROM scored WHERE split = 'cal') c
        JOIN caln ON caln.event_type = c.event_type
        WHERE c.rk = ((caln.n_cal + 1) * 8 + 9) // 10)
      SELECT t.event_type, fit2.n_train,
             CAST(caln.n_cal AS BIGINT) AS n_cal,
             CAST(count(*) AS BIGINT) AS n_test, max(q.qhat) AS qhat,
             CAST((1000 * sum(CASE WHEN q.qhat IS NULL OR t.score <= q.qhat
                                   THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
               AS cover_milli
      FROM scored t
      LEFT JOIN q ON q.event_type = t.event_type
      JOIN fit2 ON fit2.event_type = t.event_type
      JOIN caln ON caln.event_type = t.event_type
      WHERE t.split = 'test'
      GROUP BY 1, 2, 3 ORDER BY t.event_type"""))

  // ---------------------------------------------------------------------
  // q235 — STREAMING DOLLAR BARS: the production shape of q229 — a bar
  // is emitted the moment the tick that OVERFLOWS it arrives, not in a
  // nightly batch resample. Built on transformWithState (the q223
  // surface): per-ticker ValueState holds the running notional and the
  // one OPEN bar; each tick advances the cum, and a tick whose floor
  // bucket exceeds the open bar's id completes that bar (emit) and
  // opens its own. Equal-(day, seq) tick groups are processed
  // ATOMICALLY (cum advances by the group sum before assignment) so the
  // accumulator matches the batch RANGE-frame tie semantics exactly.
  //
  // Stream ≡ batch: the emitted set is EXACTLY q229's bar table minus
  // each ticker's final STILL-OPEN bar (a bar completes iff a later
  // tick lands beyond it ⟺ ticker total > (bar_id+1)·T), so the DuckDB
  // oracle is the q229 SQL with that completion filter — the batch SQL
  // as the streaming query's oracle, the q223 discipline. The spec
  // replays the tape at different chunkings for batch-boundary
  // independence.
  //
  // Scale shape: state is ONE row per ticker (cum + open bar, constant
  // size); per-batch work is O(ticks). Replay feed = date-range parquet
  // chunks in mtime order (maxFilesPerTrigger=1), ticks sorted within
  // the micro-batch per key — the q223 replay contract.
  // ---------------------------------------------------------------------
  private[operators] final case class DbTick(
      tkr: Long, day: java.sql.Date, seq: Long, cents: Long)
  private[operators] final case class DbOpen(
      barId: Long, tStart: java.sql.Date, tEnd: java.sql.Date,
      openC: Long, highC: Long, lowC: Long, closeC: Long,
      nTicks: Long, dollarsC: Long)
  private[operators] final case class DbSt(cum: Long, open: Option[DbOpen])
  private[operators] final case class DbBar(
      ticker: Long, bar_id: Long,
      t_start: java.sql.Date, t_end: java.sql.Date,
      open_c: Long, high_c: Long, low_c: Long, close_c: Long,
      n_ticks: Long, dollars_c: Long)

  private[operators] class DbProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DbTick, DbBar] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[DbSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DbSt]("db_open",
        org.apache.spark.sql.Encoders.product[DbSt], TTLConfig.NONE)
    private def emit(key: Long, o: DbOpen): DbBar =
      DbBar(key, o.barId, o.tStart, o.tEnd, o.openC, o.highC, o.lowC,
        o.closeC, o.nTicks, o.dollarsC)
    override def handleInputRows(
        key: Long, rows: Iterator[DbTick],
        tv: TimerValues): Iterator[DbBar] = {
      var s = if (st.exists()) st.get() else DbSt(0L, None)
      val out = scala.collection.mutable.ListBuffer.empty[DbBar]
      // tie groups advance cum atomically — the batch RANGE-frame rule
      rows.toArray.sortBy(t => (t.day.getTime, t.seq))
        .foldLeft(Vector.empty[Vector[DbTick]]) { (gs, t) =>
          if (gs.nonEmpty && gs.last.head.day == t.day
              && gs.last.head.seq == t.seq)
            gs.init :+ (gs.last :+ t)
          else gs :+ Vector(t)
        }
        .foreach { g =>
          val c = g.head.cents
          val cum = s.cum + g.map(_.cents).sum
          val bid = (cum - 1) / DollarBarT // positive ⇒ truncation = floor
          val n = g.length.toLong
          s.open match {
            case Some(o) if o.barId == bid =>
              s = DbSt(cum, Some(o.copy(tEnd = g.head.day,
                highC = math.max(o.highC, c), lowC = math.min(o.lowC, c),
                closeC = c, nTicks = o.nTicks + n,
                dollarsC = o.dollarsC + n * c)))
            case other =>
              other.foreach(o => out += emit(key, o))
              s = DbSt(cum, Some(DbOpen(bid, g.head.day, g.head.day,
                c, c, c, c, n, n * c)))
          }
        }
      st.update(s)
      out.iterator
    }
  }

  /** Distinct tickers on the tape — the q235 per-key state cardinality
    * StateBounds declares.
    */
  private[graft] def tapeTickersOf(spark: SparkSession, dir: String): Long =
    Tables.lineitem(spark, dir).select("l_suppkey").distinct().count()

  /** The q235 build, chunking exposed for the batch-boundary-independence
    * spec: the tick tape replayed as `nChunks` date-range files.
    */
  private[operators] def streamDollarBars(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ticks = graft.streaming.Streams.replay(outer, "day", nChunks)(tickTape(_, dir))
    import ticks.sparkSession.implicits._
    val bars = ticks.as[DbTick]
      .groupByKey(_.tkr)
      .transformWithState(new DbProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
    graft.streaming.Streams.runToParquet(bars, "append")
      .orderBy($"ticker", $"bar_id")
  }

  private val q235 = QueryDef(
    "q235_stream_dollar_bars",
    (outer, dir) => streamDollarBars(outer, dir, 2),
    Some(s"""
      WITH $tickSql,
      cum AS (
        SELECT ticker, day, seq, cents,
               sum(cents) OVER (PARTITION BY ticker ORDER BY day, seq) AS cum0
        FROM ticks),
      tot AS (
        SELECT ticker, CAST(sum(cents) AS BIGINT) AS total_c
        FROM ticks GROUP BY 1),
      b AS (
        SELECT ticker, CAST((cum0 - 1) // $DollarBarT AS BIGINT) AS bar_id,
               min(day) AS t_start, max(day) AS t_end,
               (min(struct_pack(d := day, s := seq, c := cents))).c AS open_c,
               max(cents) AS high_c, min(cents) AS low_c,
               (max(struct_pack(d := day, s := seq, c := cents))).c AS close_c,
               count(*) AS n_ticks, CAST(sum(cents) AS BIGINT) AS dollars_c
        FROM cum GROUP BY 1, 2)
      SELECT b.* FROM b JOIN tot ON tot.ticker = b.ticker
      WHERE tot.total_c > (b.bar_id + 1) * $DollarBarT
      ORDER BY b.ticker, b.bar_id"""))

  // ---------------------------------------------------------------------
  // q236 — ROLL EFFECTIVE-SPREAD ESTIMATOR (Roll 1984): the bid-ask
  // spread implied by the serial covariance of price CHANGES — under
  // Roll's model trades bounce between bid and ask, so adjacent price
  // changes are negatively autocorrelated and spread = 2·√(−cov(Δp_t,
  // Δp_{t−1})). Per ticker over daily close cents: Δ via lag, the
  // (Δ_t, Δ_{t−1}) pairs via a second lag — one daily-grain window
  // (declared bound), then exact BIGINT accumulators (n, ΣΔ, ΣΔ',
  // ΣΔΔ'). The covariance is ONE fixed double expression over those
  // exact longs (each BIGINT→DOUBLE cast is correctly rounded on both
  // engines — unlike int128, the q231 lesson), and sqrt is IEEE
  // correctly-rounded everywhere. Positive serial covariance (no
  // implied spread) yields NULL, Roll's own convention.
  // ---------------------------------------------------------------------
  private val q236 = QueryDef(
    "q236_roll_spread",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy("ticker").orderBy("date")
      val cc = ($"close".cast(DecimalType(28, 2)) * 100).cast("long")
      val s = WindowFeatures.bars(spark, dir)
        .withColumn("d1", cc - lag(cc, 1).over(w))
        .withColumn("d0", lag($"d1", 1).over(w))
        .filter($"d1".isNotNull && $"d0".isNotNull)
        .groupBy($"ticker")
        .agg(count(lit(1)).as("n_pairs"), sum($"d0").as("sx"),
          sum($"d1").as("sy"), sum($"d0" * $"d1").as("sxy"))
      val cov = ($"n_pairs".cast("double") * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy".cast("double")) /
        ($"n_pairs".cast("double") * $"n_pairs".cast("double"))
      s.withColumn("cov_cents2", cov)
        .withColumn("spread_c",
          when($"cov_cents2" < 0, lit(2.0) * sqrt(-$"cov_cents2")))
        .select($"ticker", $"n_pairs", $"cov_cents2", $"spread_c")
        .orderBy($"ticker")
    },
    Some {
      val covSql = "(CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " / (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE))"
      s"""
      WITH ${WindowFeatures.barsSql},
      d AS (
        SELECT ticker, date,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT)
                 - lag(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT))
                   OVER (PARTITION BY ticker ORDER BY date) AS d1
        FROM bars),
      p AS (
        SELECT ticker, d1,
               lag(d1) OVER (PARTITION BY ticker ORDER BY date) AS d0
        FROM d),
      s AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(d0) AS BIGINT) AS sx,
               CAST(sum(d1) AS BIGINT) AS sy,
               CAST(sum(d0 * d1) AS BIGINT) AS sxy
        FROM p WHERE d1 IS NOT NULL AND d0 IS NOT NULL GROUP BY 1)
      SELECT ticker, n_pairs, $covSql AS cov_cents2,
             CASE WHEN $covSql < 0 THEN 2.0 * sqrt(-($covSql)) END
               AS spread_c
      FROM s ORDER BY ticker"""
    })

  // ---------------------------------------------------------------------
  // q237 — CLASSICAL SEASONAL DECOMPOSITION (additive, moving-average
  // method): y = trend + seasonal + residual per series. Trend is the
  // centered 7-day moving average (interior days only — rows with the
  // full ±3 frame); the weekly seasonal is the per-(series, day-of-week)
  // mean of the detrended values; the residual is what's left.
  //
  // Exactness trick: the detrended value y − trend = y − Σ7/7 is not on
  // the cent grid, so averaging it would float-accumulate. Instead the
  // engine carries 7·detrended = 7y − Σ7 — EXACT DECIMAL — and the
  // seasonal mean becomes ONE double division Σ(7·detr)/(7n). Trend and
  // residual are fixed-order double expressions over exact decimals.
  // Day-of-week is epoch-day mod 7 (portable, no locale).
  // Scale: one fact rollup, then |series|×|days| grain; the seasonal
  // table (|series|×7 rows) broadcasts back.
  // ---------------------------------------------------------------------
  private val q237 = QueryDef(
    "q237_seasonal_decompose",
    (spark, dir) => {
      import spark.implicits._
      val daily = CoreBatch.dailyEvents(spark, dir)
        .select($"event_type", $"day", $"y")
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val interior = daily
        .withColumn("s7", sum($"y").over(w7))
        .withColumn("c7", count($"y").over(w7))
        .withColumn("dow",
          datediff($"day", to_date(lit("1970-01-01"))) % 7)
        .filter($"c7" === 7)
        .withColumn("trend", $"s7".cast("double") / 7.0)
        .withColumn("detr7", $"y" * 7 - $"s7")
      val seas = interior.groupBy($"event_type", $"dow")
        .agg((sum($"detr7").cast("double") /
          (count(lit(1)) * 7).cast("double")).as("seasonal"))
      interior.join(broadcast(seas), Seq("event_type", "dow"))
        .withColumn("y_d", $"y".cast("double"))
        .withColumn("resid", $"y_d" - $"trend" - $"seasonal")
        .select($"event_type", $"day", $"y_d", $"trend", $"seasonal",
          $"resid")
        .orderBy($"event_type", $"day")
    },
    Some("""
      WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               sum(CAST(value AS DECIMAL(28,2))) AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      w AS (
        SELECT *, sum(y) OVER w7 AS s7, count(*) OVER w7 AS c7,
               (day - DATE '1970-01-01') % 7 AS dow
        FROM d
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      i AS (
        SELECT *, CAST(s7 AS DOUBLE) / 7.0 AS trend, y * 7 - s7 AS detr7
        FROM w WHERE c7 = 7),
      se AS (
        SELECT event_type, dow,
               CAST(sum(detr7) AS DOUBLE) / CAST(count(*) * 7 AS DOUBLE)
                 AS seasonal
        FROM i GROUP BY 1, 2)
      SELECT i.event_type, i.day, CAST(i.y AS DOUBLE) AS y_d, i.trend,
             se.seasonal,
             CAST(i.y AS DOUBLE) - i.trend - se.seasonal AS resid
      FROM i JOIN se ON se.event_type = i.event_type AND se.dow = i.dow
      ORDER BY i.event_type, i.day"""))

  // ---------------------------------------------------------------------
  // q238 — KYLE'S LAMBDA (Kyle 1985): price impact per unit of signed
  // order flow — the regression Δp_n = λ·q_n + ε over volume buckets,
  // where q_n = (buy − sell) notional from the q230 tick-rule
  // classification and Δp_n = last-price change between consecutive
  // buckets. λ is the illiquidity the market maker charges; it closes
  // the microstructure arc (bars → flow → VPIN → impact) on the SAME
  // classified-flow table. Per ticker: exact BIGINT accumulators over
  // the ~total/T bucket grain, slope as ONE fixed double expression
  // (the q236 envelope); ≥ 3 buckets required for a meaningful fit.
  // ---------------------------------------------------------------------
  private val q238 = QueryDef(
    "q238_kyle_lambda",
    (spark, dir) => {
      import spark.implicits._
      val wB = Window.partitionBy("ticker").orderBy("bucket")
      val b = flowResolved(spark, dir)
        .groupBy($"tkr".as("ticker"), $"bucket")
        .agg(
          (sum(when($"s_filled" === 1, $"cents").otherwise(0L)) -
            sum(when($"s_filled" === -1, $"cents").otherwise(0L)))
            .as("sflow_c"),
          max(struct($"day".as("d"), $"seq".as("s"), $"cents".as("c")))
            .getField("c").as("last_c"))
        .withColumn("dp_c", $"last_c" - lag($"last_c", 1).over(wB))
        .filter($"dp_c".isNotNull)
      val s = b.groupBy($"ticker")
        .agg(count(lit(1)).as("n_buckets"), sum($"sflow_c").as("sx"),
          sum($"dp_c").as("sy"), sum($"sflow_c" * $"sflow_c").as("sxx"),
          sum($"sflow_c" * $"dp_c").as("sxy"))
        .filter($"n_buckets" >= 3)
      s.withColumn("lambda",
          ($"n_buckets".cast("double") * $"sxy".cast("double") -
            $"sx".cast("double") * $"sy".cast("double")) /
            ($"n_buckets".cast("double") * $"sxx".cast("double") -
              $"sx".cast("double") * $"sx".cast("double")))
        .select($"ticker", $"n_buckets", $"lambda")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $flowSql,
      b AS (
        SELECT ticker, CAST((cum0 - 1) // $DollarBarT AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN coalesce(s, 1) = 1 THEN cents ELSE 0 END)
                 - sum(CASE WHEN coalesce(s, 1) = -1 THEN cents ELSE 0 END)
                 AS BIGINT) AS sflow_c,
               (max(struct_pack(d := day, s2 := seq, c := cents))).c
                 AS last_c
        FROM w2 GROUP BY 1, 2),
      d AS (
        SELECT ticker, sflow_c,
               last_c - lag(last_c) OVER (PARTITION BY ticker
                 ORDER BY bucket) AS dp_c
        FROM b),
      agg AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(sflow_c) AS BIGINT) AS sx,
               CAST(sum(dp_c) AS BIGINT) AS sy,
               CAST(sum(sflow_c * sflow_c) AS BIGINT) AS sxx,
               CAST(sum(sflow_c * dp_c) AS BIGINT) AS sxy
        FROM d WHERE dp_c IS NOT NULL GROUP BY 1)
      SELECT ticker, n_buckets,
             (CAST(n_buckets AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS lambda
      FROM agg WHERE n_buckets >= 3 ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q239 — BENFORD FIRST-DIGIT AUDIT: the forensic-accounting data-
  // quality gate — naturally occurring trade notionals follow
  // P(d) = log10(1 + 1/d); fabricated or truncated feeds don't. Per
  // (l_returnflag, leading digit of the cent notional): observed count,
  // Benford expectation, χ² term. The digit is extracted portably via
  // string head (cents are positive integers); the nine log10 constants
  // are computed ONCE in Scala and the IDENTICAL shortest-round-trip
  // literals are emitted into both engines (the q231 shared-literal
  // discipline), so e = n·p and (o−e)²/e are the same IEEE ops on the
  // same values. One map-combinable rollup; 9×|flags| output rows.
  // ---------------------------------------------------------------------
  /** log10(1 + 1/d), d = 1..9 — shortest-repr literals shared verbatim
    * by both engines.
    */
  private lazy val benfordP: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  private val q239 = QueryDef(
    "q239_benford_audit",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.lineitem(spark, dir)
        .withColumn("cents",
          ($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
        .filter($"cents" >= 1)
        .withColumn("digit",
          substring($"cents".cast("string"), 1, 1).cast("int"))
        .groupBy($"l_returnflag".as("flag"), $"digit")
        .agg(count(lit(1)).as("o"))
      val n = o.groupBy($"flag").agg(sum($"o").as("n"))
      val p = benfordP.zipWithIndex
        .foldLeft(lit(null).cast("double")) { case (acc, (pd, i)) =>
          when($"digit" === i + 1, lit(pd)).otherwise(acc)
        }
      o.join(broadcast(n), "flag")
        .withColumn("expected", $"n".cast("double") * p)
        .withColumn("chi2_term",
          ($"o".cast("double") - $"expected") *
            ($"o".cast("double") - $"expected") / $"expected")
        .select($"flag", $"digit", $"o", $"expected", $"chi2_term")
        .orderBy($"flag", $"digit")
    },
    Some {
      // STRING-cast each branch: DuckDB parses a bare numeric literal as
      // DECIMAL(18,·) FIRST — silently dropping the 18th significant
      // digit before any cast — while CAST('…' AS DOUBLE) parses the
      // full shortest-round-trip repr. (Java's log10 is 1 ULP off
      // glibc's here, so the dropped digit was load-bearing.)
      val caseP = benfordP.zipWithIndex.map { case (pd, i) =>
        s"WHEN ${i + 1} THEN CAST('$pd' AS DOUBLE)"
      }.mkString(" ")
      s"""
      WITH o AS (
        SELECT l_returnflag AS flag,
               CAST(substr(CAST(CAST(CAST(l_extendedprice AS DECIMAL(28,2))
                 * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
               count(*) AS o
        FROM lineitem
        WHERE CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)
          >= 1
        GROUP BY 1, 2),
      nn AS (SELECT flag, CAST(sum(o) AS BIGINT) AS n FROM o GROUP BY 1)
      SELECT o.flag, o.digit, CAST(o.o AS BIGINT) AS o,
             CAST(nn.n AS DOUBLE) * (CASE o.digit $caseP END) AS expected,
             (CAST(o.o AS DOUBLE)
               - CAST(nn.n AS DOUBLE) * (CASE o.digit $caseP END))
             * (CAST(o.o AS DOUBLE)
               - CAST(nn.n AS DOUBLE) * (CASE o.digit $caseP END))
             / (CAST(nn.n AS DOUBLE) * (CASE o.digit $caseP END))
               AS chi2_term
      FROM o JOIN nn ON nn.flag = o.flag
      ORDER BY o.flag, o.digit"""
    })

  // ---------------------------------------------------------------------
  // q243 — AMS F2 SKETCH (Alon–Matias–Szegedy '96): estimate the second
  // frequency moment Σ f_w² of the token stream from R=9 one-number
  // sketches y_r = Σ_w s_r(w)·f_w with 4-wise-ish ±1 hash signs — the
  // self-join-free size of a frequency distribution (F2 drives join
  // output estimates and skew planning). Signs derive from the portable
  // md5 parity of "ams_r_w", so both engines regenerate the sketch from
  // nothing; every accumulator is an exact BIGINT (tokens → counts →
  // signed sums), the estimate is y², and the error vs the EXACT F2
  // (computed next to it from the same counts) is integer millis. At
  // scale each y_r is one map-combinable signed sum over the vocab
  // rollup — the sketch shuffles R numbers where the exact F2 shuffles
  // the vocabulary.
  // ---------------------------------------------------------------------
  private val AmsR = 9
  private val q243 = QueryDef(
    "q243_ams_f2",
    (spark, dir) => {
      import spark.implicits._
      // word_counts silver (SharedSubtreeSpec promotion; lowercased
      // tokens — the engine-wide vocabulary convention)
      val counts = TextOps.wordCounts(spark, dir)
        .select($"w", $"cnt".as("f"))
      val exact = counts.agg(sum($"f" * $"f").as("f2_exact"))
      val reps = spark.range(1, AmsR + 1).toDF("r")
      counts.crossJoin(broadcast(reps))
        .withColumn("s",
          when(Portable.md5Hash64(concat(lit("ams_"), $"r", lit("_"), $"w"))
            % 2 === 0, 1L).otherwise(-1L))
        .groupBy($"r").agg(sum($"s" * $"f").as("y"))
        .crossJoin(broadcast(exact))
        .withColumn("est", $"y" * $"y")
        .withColumn("err_milli",
          expr("(1000 * abs(est - f2_exact)) div f2_exact"))
        .select($"r", $"y", $"est", $"f2_exact", $"err_milli")
        .orderBy($"r")
    },
    Some(s"""
      WITH counts AS (
        SELECT w, count(*) AS f FROM (
          SELECT unnest(${Portable.tokensSql("lower(text)")}) AS w FROM documents)
        GROUP BY 1),
      exact AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM counts),
      reps AS (SELECT unnest(range(1, ${AmsR + 1})) AS r),
      y AS (
        SELECT r, CAST(sum((CASE WHEN ${Portable.md5Hash64Sql(
          "('ams_' || r || '_' || w)")} % 2 = 0 THEN 1 ELSE -1 END) * f)
          AS BIGINT) AS y
        FROM counts, reps GROUP BY 1)
      SELECT r, y, y * y AS est, f2_exact,
             CAST((1000 * abs(y * y - f2_exact)) // f2_exact AS BIGINT)
               AS err_milli
      FROM y, exact ORDER BY r"""))

  // ---------------------------------------------------------------------
  // q277 — JOIN-CARDINALITY ESTIMATION (AMS inner product, Alon–Gibbons–
  // Matias–Szegedy '99): |R ⋈ S| = Σ_k f_R(k)·f_S(k), estimated from
  // the same ±1-sign sketches q243 builds for F2 — E[y_R·y_S] equals
  // the inner product when both sides share the sign hash. This is the
  // sketch a planner consults before choosing a join strategy at
  // 100 TB: each side compresses to R=9 signed BIGINTs (one
  // map-combinable pass each), where the exact answer needs the full
  // key-frequency join. Both are computed side by side: exact from the
  // key-grain frequency join (vocabulary-sized, never row-grain), the
  // estimate per replica, and the MEDIAN of the 9 replica estimates
  // (the AMS median trick) — taken window-free as max(lowest 5 of 9)
  // via TakeOrdered, exact integer. R side = all events per user,
  // S side = purchase events per user; signs derive from the portable
  // md5 parity of "amsj_r_user" so both engines regenerate the sketch
  // from nothing. err_milli is integer on non-negatives.
  // ---------------------------------------------------------------------
  private val q277 = QueryDef(
    "q277_join_cardinality",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).filter($"user_id".isNotNull)
      val fa = ev.groupBy($"user_id").agg(count(lit(1)).as("fa"))
      val fb = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(count(lit(1)).as("fb"))
      val exact = fa.join(fb, "user_id")
        .agg(coalesce(sum($"fa" * $"fb"), lit(0L)).as("join_exact"))
      val reps = spark.range(1, AmsR + 1).toDF("r")
      def sketchOf(f: DataFrame, fcol: String, out: String) =
        f.crossJoin(broadcast(reps))
          .withColumn("s",
            when(Portable.md5Hash64(
              concat(lit("amsj_"), $"r", lit("_"), $"user_id")) % 2 === 0,
              1L).otherwise(-1L))
          .groupBy($"r").agg(sum($"s" * col(fcol)).as(out))
      val ests = sketchOf(fa, "fa", "ya")
        .join(sketchOf(fb, "fb", "yb"), "r")
        .withColumn("est", $"ya" * $"yb")
      // exact integer median of 9: max of the 5 smallest (TakeOrdered —
      // no global window over the replica frame)
      val med = ests.orderBy($"est").limit((AmsR + 1) / 2)
        .agg(max($"est").as("est_median"))
      ests
        .crossJoin(broadcast(exact))
        .crossJoin(broadcast(med))
        .withColumn("err_milli",
          expr("CASE WHEN join_exact > 0 THEN" +
            " (1000 * abs(est_median - join_exact)) div join_exact END"))
        .select($"r", $"ya", $"yb", $"est", $"join_exact", $"est_median",
          $"err_milli")
        .orderBy($"r")
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_type FROM events WHERE user_id IS NOT NULL),
      fa AS (SELECT user_id, count(*) AS fa FROM ev GROUP BY 1),
      fb AS (SELECT user_id, count(*) AS fb FROM ev
             WHERE event_type = 'purchase' GROUP BY 1),
      ex AS (
        SELECT CAST(coalesce(sum(fa * fb), 0) AS BIGINT) AS join_exact
        FROM fa JOIN fb USING (user_id)),
      reps AS (SELECT unnest(range(1, ${AmsR + 1})) AS r),
      ya AS (
        SELECT r, CAST(sum((CASE WHEN ${Portable.md5Hash64Sql(
          "('amsj_' || r || '_' || user_id)")} % 2 = 0
          THEN 1 ELSE -1 END) * fa) AS BIGINT) AS ya
        FROM fa, reps GROUP BY 1),
      yb AS (
        SELECT r, CAST(sum((CASE WHEN ${Portable.md5Hash64Sql(
          "('amsj_' || r || '_' || user_id)")} % 2 = 0
          THEN 1 ELSE -1 END) * fb) AS BIGINT) AS yb
        FROM fb, reps GROUP BY 1),
      ests AS (
        SELECT ya.r, ya.ya, yb.yb, ya.ya * yb.yb AS est
        FROM ya JOIN yb ON ya.r = yb.r),
      med AS (
        SELECT max(est) AS est_median
        FROM (SELECT est FROM ests ORDER BY est LIMIT ${(AmsR + 1) / 2}))
      SELECT e.r, e.ya, e.yb, e.est, x.join_exact, m.est_median,
             CAST(CASE WHEN x.join_exact > 0 THEN
               (1000 * abs(m.est_median - x.join_exact)) // x.join_exact
               END AS BIGINT) AS err_milli
      FROM ests e, ex x, med m ORDER BY e.r"""))

  // ---------------------------------------------------------------------
  // q278 — CORPORATE-ACTION BACK-ADJUSTMENT (split-adjusted prices): the
  // price-pipeline step the reference's raw close series silently skips
  // — after a 2:1 split every PRIOR close must be divided by 2 or every
  // return/indicator spanning the split day reads a −50% crash. The
  // fixture carries no action calendar, so split days are planted
  // deterministically (md5("split|tkr|day") % 37 = 0 on the daily bars
  // — the q67/q274 plant-then-operate discipline) with ratio 2:1,
  // DELIBERATELY dyadic: the cumulative back-adjustment factor is then
  // 2^(# later splits) — a reverse-cumulative COUNT, never a float
  // product — and adj = cents div 2^k is a truncating division of
  // non-negatives, identical on both engines. Outputs the adjusted
  // series plus the audit: adjusted day-over-day milli-returns must be
  // split-free while raw returns crater on split days (n_crash vs
  // n_adj_crash per ticker... emitted at row grain for the hash gate).
  // Scale: two daily-bars-grain ticker windows (declared bound), one
  // linear pass — no joins.
  // ---------------------------------------------------------------------
  private val SplitMod = 37L
  private val q278 = QueryDef(
    "q278_split_adjust",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("date")
      val wAfter = wT.rowsBetween(1, Window.unboundedFollowing)
      graft.operators.WindowFeatures.bars(spark, dir)
        .withColumn("cents",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("is_split",
          (pmod(Portable.md5Hash64(concat(lit("split|"), $"ticker",
            lit("|"), $"date".cast("string"))), lit(SplitMod)) === 0)
            .cast("long"))
        .withColumn("n_later_splits",
          coalesce(sum($"is_split").over(wAfter), lit(0L)))
        .withColumn("adj_cents",
          ($"cents" / pow(lit(2.0), $"n_later_splits".cast("double"))
            .cast("long")).cast("long"))
        .withColumn("prev_adj", lag($"adj_cents", 1).over(wT))
        .withColumn("adj_ret_milli",
          when($"prev_adj".isNotNull && $"prev_adj" > 0L,
            floor(lit(1000.0) * ($"adj_cents" - $"prev_adj").cast("double") /
              $"prev_adj".cast("double")).cast("long")))
        .select($"ticker", $"date", $"cents", $"is_split",
          $"n_later_splits", $"adj_cents", $"adj_ret_milli")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH ${graft.operators.WindowFeatures.barsSql},
      c AS (
        SELECT ticker, date,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
               CAST(CASE WHEN ${Portable.md5Hash64Sql(
                 "('split|' || ticker || '|' || CAST(date AS VARCHAR))")}
                 % $SplitMod = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_split
        FROM bars),
      k AS (
        SELECT *,
               CAST(coalesce(sum(is_split) OVER (
                 PARTITION BY ticker ORDER BY date
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
                 AS BIGINT) AS n_later_splits
        FROM c),
      a AS (
        SELECT *, cents // CAST(pow(2.0, CAST(n_later_splits AS DOUBLE))
                 AS BIGINT) AS adj_cents
        FROM k)
      SELECT ticker, date, cents, is_split, n_later_splits, adj_cents,
             CASE WHEN lag(adj_cents) OVER w IS NOT NULL
                   AND lag(adj_cents) OVER w > 0 THEN
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(adj_cents - lag(adj_cents) OVER w AS DOUBLE)
                 / CAST(lag(adj_cents) OVER w AS DOUBLE)) AS BIGINT)
             END AS adj_ret_milli
      FROM a
      WINDOW w AS (PARTITION BY ticker ORDER BY date)
      ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q244 — STREAMING TICK-IMBALANCE BARS (AFML ch.2.3.2): the third bar
  // family after time (q02) and notional (q229/q235) — cut a bar when
  // the ABSOLUTE SIGNED-FLOW accumulation |θ| = |Σ s_t·cents_t| since
  // the bar opened crosses a threshold, so bars arrive when one side of
  // the tape dominates (informed-trading bursts), not merely when
  // volume passes. Signs are the q230 tick rule (carry on unchanged
  // price, +1 before any information); θ resets on emission, which —
  // like q240 — makes the recurrence genuinely sequential, so the
  // engine is transformWithState (one constant ValueState row per
  // ticker) and the ORACLE is a recursive CTE stepping per-ticker TICK
  // ranks (depth = max ticks per ticker; each step joins |tickers|
  // rows). The crossing tick closes its bar inclusively.
  // ---------------------------------------------------------------------
  private val IbTh = 20000000L // |θ| cut: $200k of one-sided notional
  private[operators] final case class IbSt(
      lastC: Long, lastS: Long, theta: Long,
      startDay: java.sql.Date, n: Long, dollars: Long, barSeq: Long)
  private[operators] final case class IbBar(
      ticker: Long, bar_seq: Long,
      t_start: java.sql.Date, t_end: java.sql.Date,
      n_ticks: Long, dollars_c: Long, theta_c: Long, side: Long)

  private[operators] class IbProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DbTick, IbBar] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[IbSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[IbSt]("ib",
        org.apache.spark.sql.Encoders.product[IbSt], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[DbTick],
        tv: TimerValues): Iterator[IbBar] = {
      var s = if (st.exists()) st.get() else null
      val out = scala.collection.mutable.ListBuffer.empty[IbBar]
      rows.toArray.sortBy(t => (t.day.getTime, t.seq)).foreach { t =>
        val sign =
          if (s == null) 1L
          else if (t.cents > s.lastC) 1L
          else if (t.cents < s.lastC) -1L
          else if (s.lastS == 0L) 1L
          else s.lastS
        val open = if (s == null || s.n == 0L) t.day
                   else s.startDay
        val theta = (if (s == null) 0L else s.theta) + sign * t.cents
        val n = (if (s == null) 0L else s.n) + 1L
        val dol = (if (s == null) 0L else s.dollars) + t.cents
        val seqNo = if (s == null) 1L else s.barSeq
        if (math.abs(theta) >= IbTh) {
          out += IbBar(key, seqNo, open, t.day, n, dol, theta,
            if (theta > 0) 1L else -1L)
          s = IbSt(t.cents, sign, 0L, t.day, 0L, 0L, seqNo + 1L)
        } else
          s = IbSt(t.cents, sign, theta, open, n, dol, seqNo)
      }
      st.update(s)
      out.iterator
    }
  }

  private[operators] def streamImbalanceBars(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ticks = graft.streaming.Streams.replay(outer, "day", nChunks)(tickTape(_, dir))
    import ticks.sparkSession.implicits._
    val bars = ticks.as[DbTick]
      .groupByKey(_.tkr)
      .transformWithState(new IbProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
    graft.streaming.Streams.runToParquet(bars, "append")
      .orderBy($"ticker", $"bar_seq")
  }

  private val q244 = QueryDef(
    "q244_stream_imbalance_bars",
    (outer, dir) => streamImbalanceBars(outer, dir, 2),
    Some {
      // the per-step recurrence, shared textually between all branches:
      // sign via tick rule with carry, then the accumulation candidates
      val sgn = "(CASE WHEN b.cents > w.last_c THEN 1" +
        " WHEN b.cents < w.last_c THEN -1" +
        " WHEN w.last_s = 0 THEN 1 ELSE w.last_s END)"
      val theta = s"(w.theta + $sgn * b.cents)"
      s"""
      WITH RECURSIVE $tickSql,
      bc AS (
        SELECT ticker, day, cents,
               row_number() OVER (PARTITION BY ticker ORDER BY day, seq)
                 AS rn
        FROM ticks),
      walk AS (
        SELECT ticker, rn, cents AS last_c, CAST(1 AS BIGINT) AS last_s,
               CASE WHEN abs(cents) >= $IbTh THEN CAST(0 AS BIGINT)
                    ELSE cents END AS theta,
               day AS start_day,
               CASE WHEN abs(cents) >= $IbTh THEN CAST(0 AS BIGINT)
                    ELSE CAST(1 AS BIGINT) END AS bar_n,
               CASE WHEN abs(cents) >= $IbTh THEN CAST(0 AS BIGINT)
                    ELSE cents END AS bar_dollars,
               CASE WHEN abs(cents) >= $IbTh THEN CAST(2 AS BIGINT)
                    ELSE CAST(1 AS BIGINT) END AS bar_seq,
               CASE WHEN abs(cents) >= $IbTh THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS e_seq,
               day AS e_start, day AS e_end,
               CAST(1 AS BIGINT) AS e_n, cents AS e_dollars,
               cents AS e_theta
        FROM bc WHERE rn = 1
        UNION ALL
        SELECT b.ticker, b.rn, b.cents, CAST($sgn AS BIGINT),
               CASE WHEN abs($theta) >= $IbTh THEN 0 ELSE $theta END,
               CASE WHEN abs($theta) >= $IbTh THEN b.day
                    WHEN w.bar_n = 0 THEN b.day ELSE w.start_day END,
               CASE WHEN abs($theta) >= $IbTh THEN 0 ELSE w.bar_n + 1 END,
               CASE WHEN abs($theta) >= $IbTh THEN 0
                    ELSE w.bar_dollars + b.cents END,
               CASE WHEN abs($theta) >= $IbTh THEN w.bar_seq + 1
                    ELSE w.bar_seq END,
               CASE WHEN abs($theta) >= $IbTh THEN w.bar_seq ELSE 0 END,
               CASE WHEN w.bar_n = 0 THEN b.day ELSE w.start_day END,
               b.day, w.bar_n + 1, w.bar_dollars + b.cents, $theta
        FROM walk w JOIN bc b ON b.ticker = w.ticker AND b.rn = w.rn + 1)
      SELECT ticker, e_seq AS bar_seq, e_start AS t_start, e_end AS t_end,
             e_n AS n_ticks, e_dollars AS dollars_c, e_theta AS theta_c,
             CASE WHEN e_theta > 0 THEN 1 ELSE -1 END AS side
      FROM walk WHERE e_seq > 0
      ORDER BY ticker, bar_seq"""
    })

  // ---------------------------------------------------------------------
  // q271 — STREAMING VPIN (r9 verdict "Next round" #3): the production
  // order-flow monitor — VPIN updates the moment a volume bucket
  // COMPLETES, not in a nightly batch. Per-ticker transformWithState
  // (the q235 discipline): ValueState carries the tick-rule carry
  // (last price + last non-zero sign), the running notional, the one
  // OPEN bucket's buy/sell accumulation, and a ≤(VpinFrame−1)-entry
  // ring of the most recent completed buckets' (|imbalance|, volume) —
  // CONSTANT state per ticker. A tick whose floor bucket passes the
  // open bucket completes it: emit (bucket, buy, sell, |oi|, VPIN over
  // the trailing VpinFrame completed buckets) and open the new one.
  //
  // Stream ≡ batch: the emitted set is EXACTLY q230's bucket table
  // restricted to COMPLETED buckets (complete ⟺ ticker total notional
  // > (bucket+1)·T — the q235 completion rule), and a completed
  // bucket's trailing-frame buckets all precede the open one, so the
  // oracle is q230's SQL with that filter — the batch SQL as the
  // streaming query's oracle. Equal-(day, seq) tick groups advance the
  // accumulator ATOMICALLY (the batch RANGE-frame tie rule), and tie
  // rows share one price (seq embeds cents), so the group sign is
  // single-valued. buy/sell/oi are exact longs; VPIN is ONE double
  // division of exact longs — bit-identical on both engines.
  //
  // Scale shape: state is one constant-size row per ticker; per-batch
  // work is O(ticks). Replay feed = date-range parquet chunks in mtime
  // order (maxFilesPerTrigger=1) — the q223/q235 replay contract; the
  // chunking-independence spec replays at a different chunking.
  // ---------------------------------------------------------------------
  private[operators] final case class VpSt(
      lastC: Long, lastS: Long, cum: Long,
      openBkt: Long, buyC: Long, sellC: Long,
      ringOi: Seq[Long], ringVol: Seq[Long])
  private[operators] final case class VpOut(
      ticker: Long, bucket: Long, buy_c: Long, sell_c: Long,
      oi_c: Long, vpin: Double)

  private[operators] class VpinProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DbTick, VpOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[VpSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[VpSt]("vpin",
        org.apache.spark.sql.Encoders.product[VpSt], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[DbTick],
        tv: TimerValues): Iterator[VpOut] = {
      var s = if (st.exists()) st.get()
              else VpSt(0L, 0L, 0L, -1L, 0L, 0L, Nil, Nil)
      val out = scala.collection.mutable.ListBuffer.empty[VpOut]
      // tie groups (equal day+seq ⇒ equal price) advance cum atomically —
      // the batch RANGE-frame rule, exactly q235's grouping
      rows.toArray.sortBy(t => (t.day.getTime, t.seq))
        .foldLeft(Vector.empty[Vector[DbTick]]) { (gs, t) =>
          if (gs.nonEmpty && gs.last.head.day == t.day
              && gs.last.head.seq == t.seq)
            gs.init :+ (gs.last :+ t)
          else gs :+ Vector(t)
        }
        .foreach { g =>
          val c = g.head.cents
          // tick rule with carry: +1 before any information (the batch
          // coalesce(..., 1) default), carry on an unchanged price
          val sign =
            if (s.lastC == 0L) 1L
            else if (c > s.lastC) 1L
            else if (c < s.lastC) -1L
            else if (s.lastS == 0L) 1L
            else s.lastS
          val cum = s.cum + g.map(_.cents).sum
          val bid = (cum - 1) / DollarBarT // positive ⇒ truncation = floor
          val add = g.length.toLong * c
          val (gBuy, gSell) = if (sign == 1L) (add, 0L) else (0L, add)
          // the carry updates only on a real price change
          val lastS2 = if (s.lastC != 0L && c != s.lastC)
                         (if (c > s.lastC) 1L else -1L)
                       else s.lastS
          if (s.openBkt == bid || s.openBkt == -1L)
            s = s.copy(lastC = c, lastS = lastS2, cum = cum, openBkt = bid,
              buyC = s.buyC + gBuy, sellC = s.sellC + gSell)
          else {
            // the open bucket completes: VPIN over it + the ring
            val oi = math.abs(s.buyC - s.sellC)
            val vol = s.buyC + s.sellC
            val vpin = (s.ringOi.sum + oi).toDouble /
              (s.ringVol.sum + vol).toDouble
            out += VpOut(key, s.openBkt, s.buyC, s.sellC, oi, vpin)
            s = VpSt(c, lastS2, cum, bid, gBuy, gSell,
              (s.ringOi :+ oi).takeRight(VpinFrame - 1),
              (s.ringVol :+ vol).takeRight(VpinFrame - 1))
          }
        }
      st.update(s)
      out.iterator
    }
  }

  /** The q271 build, chunking exposed for the batch-boundary-independence
    * spec (the q235 shape).
    */
  private[operators] def streamVpin(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ticks = graft.streaming.Streams.replay(outer, "day", nChunks)(tickTape(_, dir))
    import ticks.sparkSession.implicits._
    val buckets = ticks.as[DbTick]
      .groupByKey(_.tkr)
      .transformWithState(new VpinProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
    graft.streaming.Streams.runToParquet(buckets, "append")
      .orderBy($"ticker", $"bucket")
  }

  private val q271 = QueryDef(
    "q271_stream_vpin",
    (outer, dir) => streamVpin(outer, dir, 2),
    Some(s"""
      WITH $flowSql,
      b AS (
        SELECT ticker, CAST((cum0 - 1) // $DollarBarT AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN coalesce(s, 1) = 1 THEN cents ELSE 0 END)
                 AS BIGINT) AS buy_c,
               CAST(sum(CASE WHEN coalesce(s, 1) = -1 THEN cents ELSE 0 END)
                 AS BIGINT) AS sell_c
        FROM w2 GROUP BY 1, 2),
      tot AS (
        SELECT ticker, CAST(sum(cents) AS BIGINT) AS total_c
        FROM ticks GROUP BY 1),
      cb AS (
        SELECT b.* FROM b JOIN tot ON tot.ticker = b.ticker
        WHERE tot.total_c > (b.bucket + 1) * $DollarBarT)
      SELECT ticker, bucket, buy_c, sell_c,
             abs(buy_c - sell_c) AS oi_c,
             CAST(sum(abs(buy_c - sell_c)) OVER wv AS DOUBLE)
               / CAST(sum(buy_c + sell_c) OVER wv AS DOUBLE) AS vpin
      FROM cb
      WINDOW wv AS (PARTITION BY ticker ORDER BY bucket
                    ROWS BETWEEN ${VpinFrame - 1} PRECEDING AND CURRENT ROW)
      ORDER BY ticker, bucket"""))

  // ---------------------------------------------------------------------
  // q281 — STREAMING KYLE'S LAMBDA (r10 verdict "Next round" #3): the
  // last batch-only member of the microstructure arc goes live — price
  // impact per unit signed flow (Kyle 1985), re-estimated the moment a
  // volume bucket completes, the way a live execution desk watches
  // impact drift. Per-ticker transformWithState (the q271 discipline):
  // ValueState = tick-rule carry + the one OPEN bucket's signed-flow
  // accumulation + the previously COMPLETED bucket's last price + the
  // five running OLS accumulators (n, Σx, Σy, Σx², Σxy) over completed
  // buckets — CONSTANT state per ticker. When a bucket completes, its
  // price change vs the prior completed bucket joins the regression and
  // the updated λ estimate emits (once n ≥ 3, q238's minimum).
  //
  // Stream ≡ batch: completed buckets are a PREFIX of the bucket
  // sequence (the open bucket is always the last), so the running OLS
  // over completed buckets equals q238's batch accumulators restricted
  // to the completed set at each emission — the oracle is q238's SQL
  // with q271's completion rule and CUMULATIVE window sums instead of
  // the final rollup. Tie groups advance atomically (the RANGE-frame
  // rule); accumulators are exact longs (per-bucket |flow| ≤ T + one
  // tick, so Σx² stays ≪ 2⁶³ at the fixture's bucket counts — at a
  // larger deployment T is sized so n·(T+tick)² < 2⁶³, the same
  // envelope q238's batch moments live in); λ is ONE fixed-order double
  // expression over exact longs — bit-identical cross-engine.
  // ---------------------------------------------------------------------
  private[operators] final case class KlSt(
      lastC: Long, lastS: Long, cum: Long,
      openBkt: Long, sflow: Long,
      prevOk: Boolean, prevLastC: Long,
      n: Long, sx: Long, sy: Long, sxx: Long, sxy: Long)
  private[operators] final case class KlOut(
      ticker: Long, bucket: Long, n_buckets: Long, lambda: Double)

  private[operators] class KyleProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DbTick, KlOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[KlSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KlSt]("kyle",
        org.apache.spark.sql.Encoders.product[KlSt], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[DbTick],
        tv: TimerValues): Iterator[KlOut] = {
      var s = if (st.exists()) st.get()
              else KlSt(0L, 0L, 0L, -1L, 0L, false, 0L,
                0L, 0L, 0L, 0L, 0L)
      val out = scala.collection.mutable.ListBuffer.empty[KlOut]
      rows.toArray.sortBy(t => (t.day.getTime, t.seq))
        .foldLeft(Vector.empty[Vector[DbTick]]) { (gs, t) =>
          if (gs.nonEmpty && gs.last.head.day == t.day
              && gs.last.head.seq == t.seq)
            gs.init :+ (gs.last :+ t)
          else gs :+ Vector(t)
        }
        .foreach { g =>
          val c = g.head.cents
          val sign =
            if (s.lastC == 0L) 1L
            else if (c > s.lastC) 1L
            else if (c < s.lastC) -1L
            else if (s.lastS == 0L) 1L
            else s.lastS
          val cum = s.cum + g.map(_.cents).sum
          val bid = (cum - 1) / DollarBarT
          val f = sign * g.length.toLong * c // signed flow contribution
          val lastS2 = if (s.lastC != 0L && c != s.lastC)
                         (if (c > s.lastC) 1L else -1L)
                       else s.lastS
          if (s.openBkt == bid || s.openBkt == -1L)
            s = s.copy(lastC = c, lastS = lastS2, cum = cum, openBkt = bid,
              sflow = s.sflow + f)
          else {
            // the open bucket completes at last price s.lastC: its
            // (Δprice, flow) joins the running regression — except the
            // ticker's FIRST completed bucket, which only seeds prevLastC
            var (n, sx, sy, sxx, sxy) = (s.n, s.sx, s.sy, s.sxx, s.sxy)
            if (s.prevOk) {
              val d = s.lastC - s.prevLastC
              n += 1; sx += s.sflow; sy += d
              sxx += s.sflow * s.sflow; sxy += s.sflow * d
              if (n >= 3L)
                out += KlOut(key, s.openBkt, n,
                  (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
                    (n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble))
            }
            s = KlSt(c, lastS2, cum, bid, f, true, s.lastC,
              n, sx, sy, sxx, sxy)
          }
        }
      st.update(s)
      out.iterator
    }
  }

  /** The q281 build, chunking exposed for the batch-boundary-independence
    * spec (the q271 shape).
    */
  private[operators] def streamKyle(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ticks = graft.streaming.Streams.replay(outer, "day", nChunks)(tickTape(_, dir))
    import ticks.sparkSession.implicits._
    val lambdas = ticks.as[DbTick]
      .groupByKey(_.tkr)
      .transformWithState(new KyleProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
    graft.streaming.Streams.runToParquet(lambdas, "append")
      .orderBy($"ticker", $"bucket")
  }

  private val q281 = QueryDef(
    "q281_stream_kyle",
    (outer, dir) => streamKyle(outer, dir, 2),
    Some(s"""
      WITH $flowSql,
      b AS (
        SELECT ticker, CAST((cum0 - 1) // $DollarBarT AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN coalesce(s, 1) = 1 THEN cents
                             ELSE -cents END) AS BIGINT) AS sflow_c,
               (max(struct_pack(d := day, s2 := seq, c := cents))).c
                 AS last_c
        FROM w2 GROUP BY 1, 2),
      tot AS (
        SELECT ticker, CAST(sum(cents) AS BIGINT) AS total_c
        FROM ticks GROUP BY 1),
      cb AS (
        SELECT b.* FROM b JOIN tot ON tot.ticker = b.ticker
        WHERE tot.total_c > (b.bucket + 1) * $DollarBarT),
      d AS (
        SELECT ticker, bucket, sflow_c,
               last_c - lag(last_c) OVER (PARTITION BY ticker
                 ORDER BY bucket) AS dp_c
        FROM cb),
      e AS (
        SELECT ticker, bucket,
               CAST(count(*) OVER wc AS BIGINT) AS n,
               CAST(sum(sflow_c) OVER wc AS BIGINT) AS sx,
               CAST(sum(dp_c) OVER wc AS BIGINT) AS sy,
               CAST(sum(sflow_c * sflow_c) OVER wc AS BIGINT) AS sxx,
               CAST(sum(sflow_c * dp_c) OVER wc AS BIGINT) AS sxy
        FROM d WHERE dp_c IS NOT NULL
        WINDOW wc AS (PARTITION BY ticker ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING))
      SELECT ticker, bucket, n AS n_buckets,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS lambda
      FROM e WHERE n >= 3 ORDER BY ticker, bucket"""))

  // ---------------------------------------------------------------------
  // q290 — STREAMING DRAWDOWN-RECORD MONITOR: the live underwater-curve
  // alarm — a row emits the MOMENT a ticker's running max drawdown makes
  // a new high (peak-to-trough in exact cents), which is when a risk
  // desk acts; the batch twin (q155) only reports the end-of-day
  // summary. Per-ticker transformWithState (the q271 discipline):
  // ValueState = (running peak, running max drawdown) — TWO longs,
  // constant per ticker, the smallest state in the streaming family.
  // The running-max/running-max-of-gap fold is order-dependent only in
  // its (day, seq) sort, which the replay contract supplies per batch;
  // equal-(day, seq) tick groups share one price (seq embeds cents), so
  // the group advances atomically and duplicates collapse to one
  // record candidate — mirrored in the oracle by DISTINCT tick groups.
  //
  // Stream ≡ batch: a drawdown record at group g depends only on the
  // prefix ≤ g (running max of cents, running max of peak − cents), so
  // the emitted set is exactly the batch rows where dd exceeds every
  // earlier dd — the oracle computes both running maxima with default
  // RANGE frames (tie-safe) and keeps rows beating the strictly-prior
  // ROWS-frame maximum over the deduped group sequence.
  //
  // Scale: state 2 longs/ticker; per-batch work O(ticks); output is the
  // record set (≤ |distinct drawdown levels| per ticker — tiny).
  // ---------------------------------------------------------------------
  private[operators] final case class DdSt(peakC: Long, maxDdC: Long)
  private[operators] final case class DdOut(
      ticker: Long, day: java.sql.Date, seq: Long, cents: Long,
      peak_c: Long, dd_c: Long)

  private[operators] class DrawdownProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DbTick, DdOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[DdSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DdSt]("dd",
        org.apache.spark.sql.Encoders.product[DdSt], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[DbTick],
        tv: TimerValues): Iterator[DdOut] = {
      var s = if (st.exists()) st.get() else DdSt(0L, 0L)
      val out = scala.collection.mutable.ListBuffer.empty[DdOut]
      // equal-(day, seq) rows share one price — processing the sorted
      // stream row-by-row is tie-group-atomic by construction, and a
      // tie's duplicates cannot re-emit (dd > maxDd is strict)
      rows.toArray.sortBy(t => (t.day.getTime, t.seq)).foreach { t =>
        val peak = math.max(s.peakC, t.cents)
        val dd = peak - t.cents
        if (dd > s.maxDdC) {
          out += DdOut(key, t.day, t.seq, t.cents, peak, dd)
          s = DdSt(peak, dd)
        } else s = s.copy(peakC = peak)
      }
      st.update(s)
      out.iterator
    }
  }

  /** The q290 build, chunking exposed for the batch-boundary-independence
    * spec (the q271 shape).
    */
  private[operators] def streamDrawdown(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ticks = graft.streaming.Streams.replay(outer, "day", nChunks)(tickTape(_, dir))
    import ticks.sparkSession.implicits._
    val records = ticks.as[DbTick]
      .groupByKey(_.tkr)
      .transformWithState(new DrawdownProcessor, TimeMode.None(),
        OutputMode.Append())
      .toDF()
    graft.streaming.Streams.runToParquet(records, "append")
      .orderBy($"ticker", $"day", $"seq")
  }

  private val q290 = QueryDef(
    "q290_stream_drawdown",
    (outer, dir) => streamDrawdown(outer, dir, 2),
    Some(s"""
      WITH $tickSql,
      g AS (SELECT DISTINCT ticker, day, seq, cents FROM ticks),
      p AS (
        SELECT ticker, day, seq, cents,
               CAST(max(cents) OVER (PARTITION BY ticker
                 ORDER BY day, seq) AS BIGINT) AS peak_c
        FROM g),
      d AS (SELECT *, peak_c - cents AS dd_c FROM p),
      r AS (
        SELECT *, max(dd_c) OVER (PARTITION BY ticker ORDER BY day, seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max
        FROM d)
      SELECT ticker, day, seq, cents, peak_c, CAST(dd_c AS BIGINT) AS dd_c
      FROM r WHERE dd_c > coalesce(prev_max, 0)
      ORDER BY ticker, day, seq"""))

  // ---------------------------------------------------------------------
  // q261 — AMIHUD ILLIQUIDITY (Amihud 2002): |daily return| per dollar
  // traded — the price-impact-per-notional measure that needs only
  // bars, where Kyle's λ (q238) needs classified flow; the two should
  // rank names similarly (both read impact) and that cross-check is
  // exactly what a risk library wants side by side. Per (ticker, day):
  // illiq = 10⁹·|Δclose_c| div day_dollars_c — exact integer (the
  // daily notional of the fixture tape is ≥ one fill, never zero);
  // per ticker: the day-mean in nano units (plain integer division,
  // non-negative operands) over ≥ 30 traded days. One day-grain
  // rollup, one ticker-window lag (declared bound), one rollup.
  // ---------------------------------------------------------------------
  private val q261 = QueryDef(
    "q261_amihud_illiquidity",
    (spark, dir) => {
      import spark.implicits._
      val days = tickTape(spark, dir)
        .groupBy($"tkr".as("ticker"), $"day")
        .agg(max_by($"cents", $"seq").as("close_c"),
          sum($"cents").as("dollars_c"))
      val w = Window.partitionBy("ticker").orderBy("day")
      val il = days
        .withColumn("dc", $"close_c" - lag($"close_c", 1).over(w))
        .filter($"dc".isNotNull)
        .withColumn("illiq_nano",
          expr("(1000000000 * abs(dc)) div dollars_c"))
      il.groupBy($"ticker")
        .agg(count(lit(1)).as("n_days"),
          sum($"illiq_nano").as("s_illiq"))
        .filter($"n_days" >= 30)
        .withColumn("illiq_mean_nano", expr("s_illiq div n_days"))
        .select($"ticker", $"n_days", $"illiq_mean_nano")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $tickSql,
      days AS (
        SELECT ticker, day,
               arg_max(cents, seq) AS close_c,
               CAST(sum(cents) AS BIGINT) AS dollars_c
        FROM ticks GROUP BY 1, 2),
      il AS (
        SELECT * FROM (
          SELECT ticker, dollars_c,
                 close_c - lag(close_c, 1) OVER (PARTITION BY ticker
                   ORDER BY day) AS dc
          FROM days)
        WHERE dc IS NOT NULL),
      n AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum((1000000000 * abs(dc)) // dollars_c) AS BIGINT)
                 AS s_illiq
        FROM il GROUP BY ticker HAVING count(*) >= 30)
      SELECT ticker, n_days,
             CAST(s_illiq // n_days AS BIGINT) AS illiq_mean_nano
      FROM n ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q267 — RUNS TEST on tick-rule signs (Wald–Wolfowitz): is order flow
  // serially dependent, or do buys and sells alternate like coin flips?
  // The nonparametric companion to q248's parametric Ljung–Box, on the
  // SAME classified-flow table the VPIN/Kyle arc reads (q230/q238).
  // The tape is never windowed at any data-dependent grain: in-chunk
  // sign transitions count under the rangepartition-chunk frame,
  // chunk-seam transitions on the ≤|partitions|-row chunk-summary
  // frame, day-seam transitions on the daily first/last-sign rollup,
  // and R = 1 + Σ transitions (adjacency splits associatively). E[R] = 1 + 2n₊n₋/n and Var[R] =
  // 2n₊n₋(2n₊n₋−n)/(n²(n−1)) evaluate as fixed-order doubles over the
  // exact integer counts; z flags serial dependence at 95%.
  // ---------------------------------------------------------------------
  private val q267 = QueryDef(
    "q267_runs_test",
    (spark, dir) => {
      import spark.implicits._
      // transitions count hierarchically over the chunked flow: in-chunk
      // transitions at chunk grain (bounded `_pid` window), chunk-seam
      // transitions on the ≤|partitions|-row summary frame ("cday, ctkr"
      // set), day-seam transitions on the daily rollup — never a
      // tick-grain (tkr, day) window (adjacency is associative: R − 1 =
      // Σ within-chunk + Σ chunk seams + Σ day seams)
      val wChunk = Window.partitionBy("tkr", "day", "_pid").orderBy("seq")
      val f = flowResolved(spark, dir)
        .select($"tkr", $"day", $"_pid", $"seq", $"s_filled")
        .withColumn("s_prev", lag($"s_filled", 1).over(wChunk))
      val chk = f.groupBy($"tkr".as("ctkr"), $"day".as("cday"),
          $"_pid".as("cpid"))
        .agg(count(lit(1)).as("n_ticks"),
          sum(when($"s_filled" === 1, 1L).otherwise(0L)).as("n_pos"),
          sum(when($"s_prev".isNotNull && $"s_filled" =!= $"s_prev", 1L)
            .otherwise(0L)).as("trans_in"),
          min(struct($"seq", $"s_filled".as("v"))).getField("v")
            .as("first_s"),
          max(struct($"seq", $"s_filled".as("v"))).getField("v")
            .as("last_s"))
      val wCh = Window.partitionBy("ctkr", "cday").orderBy("cpid")
      val intra = chk
        .withColumn("prev_chunk_s", lag($"last_s", 1).over(wCh))
        .withColumn("seam",
          when($"prev_chunk_s".isNotNull && $"first_s" =!= $"prev_chunk_s",
            1L).otherwise(0L))
        .groupBy($"ctkr".as("ticker"), $"cday".as("day"))
        .agg(sum($"n_ticks").as("n_ticks"),
          sum($"n_pos").as("n_pos"),
          (sum($"trans_in") + sum($"seam")).as("trans_in"),
          min(struct($"cpid", $"first_s".as("v"))).getField("v")
            .as("first_s"),
          max(struct($"cpid", $"last_s".as("v"))).getField("v")
            .as("last_s"))
      val wDay = Window.partitionBy("ticker").orderBy("day")
      val per = intra
        .withColumn("prev_last", lag($"last_s", 1).over(wDay))
        .withColumn("bnd",
          when($"prev_last".isNotNull && $"first_s" =!= $"prev_last", 1L)
            .otherwise(0L))
        .groupBy($"ticker")
        .agg(sum($"n_ticks").as("n"), sum($"n_pos").as("n_pos"),
          (sum($"trans_in") + sum($"bnd") + 1L).as("runs"))
        .withColumn("n_neg", $"n" - $"n_pos")
      val e = ($"n_pos" * $"n_neg" * 2L).cast("double") /
        $"n".cast("double") + lit(1.0)
      val v = (($"n_pos" * $"n_neg" * 2L).cast("double") *
        (($"n_pos" * $"n_neg" * 2L) - $"n").cast("double")) /
        ($"n".cast("double") * $"n".cast("double") *
          ($"n" - 1L).cast("double"))
      per
        .withColumn("z", ($"runs".cast("double") - e) / sqrt(v))
        .withColumn("serial_dep_rejected", abs($"z") > lit(1.96))
        .select($"ticker", $"n", $"n_pos", $"n_neg", $"runs", $"z",
          $"serial_dep_rejected")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $flowSql,
      w3 AS (
        SELECT ticker, coalesce(s, 1) AS sf,
               lag(coalesce(s, 1)) OVER (PARTITION BY ticker
                 ORDER BY day, seq) AS sp
        FROM w2),
      per AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN sf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos,
               CAST(sum(CASE WHEN sp IS NOT NULL AND sf <> sp THEN 1
                 ELSE 0 END) + 1 AS BIGINT) AS runs
        FROM w3 GROUP BY ticker)
      SELECT ticker, n, n_pos, n - n_pos AS n_neg, runs,
             (CAST(runs AS DOUBLE)
               - (CAST(n_pos * (n - n_pos) * 2 AS DOUBLE)
                   / CAST(n AS DOUBLE) + CAST('1.0' AS DOUBLE)))
             / sqrt((CAST(n_pos * (n - n_pos) * 2 AS DOUBLE)
                 * CAST(n_pos * (n - n_pos) * 2 - n AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * CAST(n - 1 AS DOUBLE))) AS z,
             abs((CAST(runs AS DOUBLE)
               - (CAST(n_pos * (n - n_pos) * 2 AS DOUBLE)
                   / CAST(n AS DOUBLE) + CAST('1.0' AS DOUBLE)))
             / sqrt((CAST(n_pos * (n - n_pos) * 2 AS DOUBLE)
                 * CAST(n_pos * (n - n_pos) * 2 - n AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * CAST(n - 1 AS DOUBLE)))) > CAST('1.96' AS DOUBLE)
               AS serial_dep_rejected
      FROM per ORDER BY ticker"""))

  override val defs: Seq[QueryDef] =
    Seq(q137, q138, q139, q140, q145, q146, q152, q189, q197, q229, q230,
      q231, q234, q235, q236, q237, q238, q239, q243, q244, q261, q267,
      q271, q277, q278, q281, q290)
}
