package graft.operators

import graft.{QueryDef, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-sectional alpha research over the bar layer — the operators a
  * quant research platform runs ON TOP of the reference's daily bars
  * (data_processing/build_training_dataset.py:40-72) once it grows from
  * per-ticker indicators (Indicators.scala) to UNIVERSE-WIDE questions:
  * does a signal predict returns across names (information coefficient),
  * does a ranked portfolio of it make money (decile/quintile backtest),
  * is a single series white noise (Ljung–Box), a random walk (Lo–
  * MacKinlay variance ratio), and which pairs co-move enough to trade
  * (Engle–Granger-style cointegration screen).
  *
  * Cross-section grain: MONTHLY. Daily bars are sparse in the fixture
  * (≈ 2.6 tickers bar on any given date at sf0.001 — no cross-section),
  * and monthly is the canonical academic grain anyway (Jegadeesh–Titman
  * momentum is a monthly strategy). The shared `monthly_bars` silver
  * table is one map-combinable rollup of lineitem; every query here
  * reads it back.
  *
  * Scale notes (100 TB stance):
  *   - Cross-section windows partition by `mon`: ≤ |tickers| rows per
  *     cell — universe size is DIMENSION cardinality (thousands), never
  *     fact cardinality (WindowBounds declares `mon`).
  *   - Per-ticker series windows ride the declared `ticker` bound
  *     (≤ |trading days| rows).
  *   - q250's pair generation is BLOCKED by region (the q227 ER
  *     discipline): |universe/region|² per block, never |universe|²;
  *     pair moments are map-combinable BIGINT sums, and only the top-K
  *     screened pairs (a broadcast) ever re-touch the series.
  *   - No float accumulations anywhere: every mean/variance/corr is
  *     exact BIGINT moments + ONE fixed-order double expression (the
  *     q236/q238 envelope); ranks are exact integers, so the Spearman
  *     statistics are exact rationals materialized via one division.
  *
  * Determinism contracts used: sign-peeled integer division for means of
  * possibly-negative sums (Spark `div` truncates, DuckDB `//` floors —
  * they agree only on non-negative operands, Portable.bandSql note);
  * double constants cross engines as CAST('shortest-repr' AS DOUBLE)
  * string literals (the q239 DECIMAL(18) literal trap); rank/ntile
  * orderings always carry a full tie-break (value, ticker).
  */
object CrossSection extends QueryModule {

  /** Sign-peeled truncating division, identical on both engines (Spark
    * `div` truncates toward zero, DuckDB `//` floors; peeling the sign
    * makes both divide non-negative values, where they agree). SQL text
    * shared verbatim modulo the div operator.
    */
  private[operators] def speelDivSql(
      num: String, den: String, divOp: String): String =
    s"(CASE WHEN ($num) >= 0 THEN ($num) $divOp ($den)" +
      s" ELSE -((-($num)) $divOp ($den)) END)"

  // ---------------------------------------------------------------------
  // monthly_bars silver table: (ticker, mon, close_c, n_fills) — last
  // fill price of the month in exact cents, ordered by the same unique
  // seq key the daily bars use (WindowFeatures.barsBuild), so "last" is
  // deterministic under any partitioning.
  // ---------------------------------------------------------------------
  private[operators] def mbars(spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "monthly_bars", dir)((Nil, mbarsBuild(spark, dir)))

  private def mbarsBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .withColumn("cents",
        ($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
      .withColumn("seq",
        ($"l_orderkey" * 16 + $"l_linenumber") * 100000000L + $"cents")
      .groupBy($"l_suppkey".as("ticker"),
        date_trunc("month", to_date($"l_shipdate")).cast("date").as("mon"))
      .agg(max_by($"cents", $"seq").as("close_c"),
        count(lit(1)).as("n_fills"))
  }

  private[operators] val mbarsSql = """
      mbars AS (
        SELECT l_suppkey AS ticker,
               date_trunc('month', CAST(l_shipdate AS DATE)) AS mon,
               arg_max(CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT),
                       (l_orderkey * 16 + l_linenumber) * 100000000
                         + CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT))
                 AS close_c,
               count(*) AS n_fills
        FROM lineitem GROUP BY 1, 2)"""

  /** Momentum signal + forward return on the monthly grain: 3-month
    * close change and 1-month-forward close change, both scaled by the
    * current close (exact cent diffs, ONE correctly-rounded division
    * each — identical doubles cross-engine, so identical sort orders).
    */
  private[operators] def withSignal(m: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    val wT = Window.partitionBy("ticker").orderBy("mon")
    m.withColumn("mom_c", $"close_c" - lag($"close_c", 3).over(wT))
      .withColumn("next_c", lead($"close_c", 1).over(wT))
      .filter($"mom_c".isNotNull && $"next_c".isNotNull)
      .withColumn("mom_r", $"mom_c".cast("double") / $"close_c".cast("double"))
  }

  private[operators] val signalSql = """
      sig AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 close_c - lag(close_c, 3) OVER w AS mom_c,
                 lead(close_c, 1) OVER w AS next_c
          FROM mbars WINDOW w AS (PARTITION BY ticker ORDER BY mon))
        WHERE mom_c IS NOT NULL AND next_c IS NOT NULL),
      sigr AS (
        SELECT *, CAST(mom_c AS DOUBLE) / CAST(close_c AS DOUBLE) AS mom_r
        FROM sig)"""

  // ---------------------------------------------------------------------
  // q246 — MONTHLY INFORMATION COEFFICIENT (Spearman rank IC): per month,
  // the rank correlation between the momentum signal and the NEXT
  // month's return across the universe — THE alpha-research readout
  // (does the signal order names by future performance?). Ranks are a
  // permutation 1..n (full tie-break by ticker), so Spearman is the
  // exact rational 1 − 6·Σd²/(n(n²−1)) — integer numerator/denominator,
  // one division. The across-month summary (mean IC t-stat) aggregates
  // the integer milli-ICs, never raw doubles, so the sum is
  // order-invariant; t = S/√((N·SS−S²)/(N−1)) is one fixed-order double
  // expression over exact BIGINTs.
  // Scale: signal windows per ticker (≤ |months|), rank windows per mon
  // (≤ |tickers| — dimension grain, declared in WindowBounds); the
  // summary is a 1-row broadcast.
  // ---------------------------------------------------------------------
  private val q246 = QueryDef(
    "q246_monthly_ic",
    (spark, dir) => {
      import spark.implicits._
      val sig = withSignal(mbars(spark, dir))
        .withColumn("fwd_r",
          ($"next_c" - $"close_c").cast("double") / $"close_c".cast("double"))
      val rm = Window.partitionBy("mon").orderBy($"mom_r", $"ticker")
      val rf = Window.partitionBy("mon").orderBy($"fwd_r", $"ticker")
      val ranked = sig
        .withColumn("r_m", rank().over(rm).cast("long"))
        .withColumn("r_f", rank().over(rf).cast("long"))
        .withColumn("d", $"r_m" - $"r_f")
      val perMon = ranked.groupBy($"mon")
        .agg(count(lit(1)).as("n"), sum($"d" * $"d").as("sum_d2"))
        .filter($"n" >= 5)
        .withColumn("den", $"n" * ($"n" * $"n" - 1L))
        .withColumn("ic",
          ($"den" - $"sum_d2" * 6L).cast("double") / $"den".cast("double"))
        .withColumn("ic_milli", floor($"ic" * 1000.0).cast("long"))
      val summary = perMon.agg(
        count(lit(1)).as("n_months"),
        sum($"ic_milli").as("s_ic"),
        sum($"ic_milli" * $"ic_milli").as("ss_ic"))
        .withColumn("t_stat",
          $"s_ic".cast("double") /
            sqrt(($"n_months".cast("double") * $"ss_ic".cast("double") -
              $"s_ic".cast("double") * $"s_ic".cast("double")) /
              ($"n_months" - 1L).cast("double")))
        .select($"n_months", $"t_stat")
      perMon.crossJoin(broadcast(summary))
        .select($"mon", $"n", $"sum_d2", $"ic", $"ic_milli", $"n_months",
          $"t_stat")
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql, $signalSql,
      f AS (
        SELECT *, CAST(next_c - close_c AS DOUBLE) / CAST(close_c AS DOUBLE)
                 AS fwd_r
        FROM sigr),
      ranked AS (
        SELECT mon,
               CAST(rank() OVER (PARTITION BY mon ORDER BY mom_r, ticker)
                 AS BIGINT) AS r_m,
               CAST(rank() OVER (PARTITION BY mon ORDER BY fwd_r, ticker)
                 AS BIGINT) AS r_f
        FROM f),
      pm0 AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS n,
               CAST(sum((r_m - r_f) * (r_m - r_f)) AS BIGINT) AS sum_d2
        FROM ranked GROUP BY mon HAVING count(*) >= 5),
      pm AS (
        SELECT *, n * (n * n - 1) AS den,
               CAST(n * (n * n - 1) - 6 * sum_d2 AS DOUBLE)
                 / CAST(n * (n * n - 1) AS DOUBLE) AS ic
        FROM pm0),
      pmm AS (
        SELECT mon, n, sum_d2, ic,
               CAST(floor(ic * 1000.0) AS BIGINT) AS ic_milli
        FROM pm),
      summ AS (
        SELECT CAST(count(*) AS BIGINT) AS n_months,
               CAST(sum(ic_milli) AS BIGINT) AS s_ic,
               CAST(sum(ic_milli * ic_milli) AS BIGINT) AS ss_ic
        FROM pmm)
      SELECT mon, n, sum_d2, ic, ic_milli, n_months,
             CAST(s_ic AS DOUBLE) /
               sqrt((CAST(n_months AS DOUBLE) * CAST(ss_ic AS DOUBLE)
                 - CAST(s_ic AS DOUBLE) * CAST(s_ic AS DOUBLE))
                 / CAST(n_months - 1 AS DOUBLE)) AS t_stat
      FROM pmm, summ ORDER BY mon"""))

  // ---------------------------------------------------------------------
  // q247 — MOMENTUM QUINTILE LONG-SHORT BACKTEST (Jegadeesh–Titman
  // shape): each month, rank the universe into quintiles by the 3-month
  // momentum signal; hold the top quintile long and the bottom short for
  // one month. Portfolio return is DOLLAR-WEIGHTED from exact cent sums
  // — (Σnext − Σclose)/Σclose, one division per leg — so no per-name
  // float return is ever averaged. The running P&L accumulates the
  // INTEGER milli-bp spread (order-invariant sum), never a float
  // product. Quintiles (not deciles) because the sf0.001 universe is 10
  // names; ntile is deterministic under the full (mom_r, ticker) order.
  // Scale: one mon-partition ntile window (≤ |tickers| rows per cell),
  // one map-combinable conditional rollup; the cumulative window runs
  // over ≤ |months| rollup rows (globalWindowExempt).
  // ---------------------------------------------------------------------
  /** Per-month long-short frame shared by q247/q255/q256: quintile legs
    * by momentum, dollar-weighted leg returns in bp (doubles — each
    * consumer quantizes at its own grain). Columns:
    * (mon, n_names, ret_bot_bp, ret_top_bp).
    */
  private def lsMonthly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sig = withSignal(mbars(spark, dir))
    val wQ = Window.partitionBy("mon").orderBy($"mom_r", $"ticker")
    sig.withColumn("bucket", ntile(5).over(wQ))
      .groupBy($"mon").agg(
        count(lit(1)).as("n_names"),
        sum(when($"bucket" === 1, $"close_c")).as("sc_bot"),
        sum(when($"bucket" === 1, $"next_c")).as("sn_bot"),
        sum(when($"bucket" === 5, $"close_c")).as("sc_top"),
        sum(when($"bucket" === 5, $"next_c")).as("sn_top"))
      .filter($"n_names" >= 5)
      .withColumn("ret_bot_bp",
        ($"sn_bot" - $"sc_bot").cast("double") / $"sc_bot".cast("double")
          * 10000.0)
      .withColumn("ret_top_bp",
        ($"sn_top" - $"sc_top").cast("double") / $"sc_top".cast("double")
          * 10000.0)
      .select($"mon", $"n_names", $"ret_bot_bp", $"ret_top_bp")
  }

  /** Oracle CTE chain ending in `lsr(mon, n_names, ret_bot_bp,
    * ret_top_bp)` — the SQL twin of [[lsMonthly]]. Requires
    * [[mbarsSql]] + [[signalSql]] upstream.
    */
  private val lsMonthlySql = """
      lsb AS (
        SELECT *, ntile(5) OVER (PARTITION BY mon ORDER BY mom_r, ticker)
                 AS bucket
        FROM sigr),
      lsg AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS n_names,
               sum(CASE WHEN bucket = 1 THEN close_c END) AS sc_bot,
               sum(CASE WHEN bucket = 1 THEN next_c END) AS sn_bot,
               sum(CASE WHEN bucket = 5 THEN close_c END) AS sc_top,
               sum(CASE WHEN bucket = 5 THEN next_c END) AS sn_top
        FROM lsb GROUP BY mon HAVING count(*) >= 5),
      lsr AS (
        SELECT mon, n_names,
               CAST(sn_bot - sc_bot AS DOUBLE) / CAST(sc_bot AS DOUBLE)
                 * 10000.0 AS ret_bot_bp,
               CAST(sn_top - sc_top AS DOUBLE) / CAST(sc_top AS DOUBLE)
                 * 10000.0 AS ret_top_bp
        FROM lsg)"""

  private val q247 = QueryDef(
    "q247_momentum_ls",
    (spark, dir) => {
      import spark.implicits._
      lsMonthly(spark, dir)
        .withColumn("ls_milli_bp",
          floor(($"ret_top_bp" - $"ret_bot_bp") * 1000.0).cast("long"))
        .withColumn("cum_ls_milli_bp",
          sum($"ls_milli_bp").over(Window.orderBy("mon")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"mon", $"n_names", $"ret_bot_bp", $"ret_top_bp",
          $"ls_milli_bp", $"cum_ls_milli_bp")
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql, $signalSql, $lsMonthlySql,
      l AS (
        SELECT *, CAST(floor((ret_top_bp - ret_bot_bp) * 1000.0) AS BIGINT)
                 AS ls_milli_bp
        FROM lsr)
      SELECT mon, n_names, ret_bot_bp, ret_top_bp, ls_milli_bp,
             CAST(sum(ls_milli_bp) OVER (ORDER BY mon
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_ls_milli_bp
      FROM l ORDER BY mon"""))

  // ---------------------------------------------------------------------
  // q280 — PROBABILITY OF BACKTEST OVERFITTING via CSCV (Bailey–Borwein–
  // López de Prado–Zhu 2015, "The probability of backtest overfitting",
  // J. Computational Finance): the honest closing readout for the
  // backtest family (q241 CPCV, q247 long-short, q256 equity stats, q272
  // walk-forward) — how often does IN-SAMPLE strategy selection pick a
  // strategy that underperforms the median OUT-of-sample? The N monthly
  // per-ticker return streams are the candidate strategies; T months cut
  // into S=6 sequential blocks; for each of the C(6,3)=20 symmetric
  // in-sample block subsets, the best in-sample strategy is chosen and
  // its OOS RANK among all N read off. PBO = share of subsets whose
  // chosen strategy lands in the bottom OOS half. Rank-based, so the
  // whole statistic is exact-integer (the paper's logit λ is a monotone
  // transform of the relative rank ω̄ — reported as ω̄ in milli, no
  // transcendentals; r9 verdict chose CSCV over deflated Sharpe for
  // exactly this reason).
  //
  // Exactness: monthly returns are sign-peeled integer milli-bp; IS
  // performance is an order-invariant BIGINT sum and OOS = total − IS
  // (one pass, symmetric by construction); best-strategy and rank
  // tiebreaks pinned by (perf, ticker) struct order on both engines.
  //
  // Scale: returns are one ticker window over the monthly_bars silver
  // (rollup evidence); month indexing is a global window over ≤ |months|
  // distinct-month rollup rows (exempt); the subset fan-out is a 120-row
  // broadcast (20 masks × 6 blocks); all else is map-combinable
  // aggregation at (mask, ticker) grain — ≤ 20·|universe| rows.
  // ---------------------------------------------------------------------
  private val CscvS = 6

  /** Arithmetic popcount of the low [[CscvS]] bits — portable, no
    * bit_count builtin assumed on either engine.
    */
  private def popSql(c: String, divOp: String): String =
    (0 until CscvS).map(g => s"((($c) $divOp ${1L << g}) % 2)").mkString(" + ")

  private val q280 = QueryDef(
    "q280_pbo_cscv",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val r = mbars(spark, dir)
        .withColumn("next_c", lead($"close_c", 1).over(wT))
        .filter($"next_c".isNotNull)
        .withColumn("r_mbp", expr(
          speelDivSql("(next_c - close_c) * 10000000", "close_c", "div")))
        .select($"ticker", $"mon", $"r_mbp")
      val monIdx = r.select($"mon").distinct()
        .withColumn("mrn",
          row_number().over(Window.orderBy($"mon")).cast("long"))
      val monN = monIdx.agg(max($"mrn").as("tm"))
      val rg = r.join(broadcast(monIdx), "mon")
        .crossJoin(broadcast(monN))
        .withColumn("g", expr(s"((mrn - 1) * $CscvS) div tm"))
      val mem = spark.range(0, 1L << CscvS).toDF("c")
        .filter(expr(popSql("c", "div")) === CscvS / 2)
        .crossJoin(spark.range(0, CscvS).toDF("g"))
        .withColumn("in_is",
          expr("(c div shiftleft(1, cast(g as int))) % 2 = 1"))
      // r14 (guide §2.4): perf fed chosen, the chosen-OOS lookup and the
      // rank rollup (3 lineage copies), ranked fed the PBO scalar and
      // the final projection (2) — each copy re-executed the whole
      // window + month-grid + mask join (158 Exchanges in the
      // before-plan). Materialize the ≤ |masks|·|universe| perf table
      // and the |masks|-row ranked table once.
      val perf = Scoped.materialize()(rg.join(broadcast(mem), "g")
        .groupBy($"c", $"ticker")
        .agg(
          sum(when($"in_is", $"r_mbp").otherwise(0L)).as("is_perf"),
          sum($"r_mbp").as("tot"))
        .withColumn("oos_perf", $"tot" - $"is_perf"))
      val chosen = perf.groupBy($"c")
        .agg(max(struct($"is_perf", $"ticker")).as("ch"),
          count(lit(1)).as("n_strats"))
        .select($"c".as("cc"), $"ch.ticker".as("ch_ticker"),
          $"ch.is_perf".as("ch_is"), $"n_strats")
      // rename-projected copy of perf for the chosen-strategy lookup —
      // ranked below joins perf again, and Spark's self-join ambiguity
      // check needs distinct lineages
      val perfP = perf.select($"c".as("pc"), $"ticker".as("pticker"),
        $"oos_perf".as("poos"))
      val chosenOos = chosen.join(perfP,
          $"cc" === $"pc" && $"ch_ticker" === $"pticker")
        .select($"cc", $"ch_ticker", $"ch_is", $"n_strats",
          $"poos".as("ch_oos"))
      val ranked = Scoped.materialize()(
        perf.join(broadcast(chosenOos), $"c" === $"cc")
          .groupBy($"c", $"ch_ticker", $"ch_is", $"ch_oos", $"n_strats")
          .agg(sum(when(
            struct($"oos_perf", $"ticker") <=
              struct($"ch_oos", $"ch_ticker"), 1L).otherwise(0L))
            .as("oos_rank")))
      val pbo = ranked.agg(expr(
        "(1000 * sum(CASE WHEN 2 * oos_rank <= n_strats THEN 1 ELSE 0 END))" +
          " div count(1)").as("pbo_milli"))
      ranked
        .crossJoin(broadcast(pbo))
        .withColumn("omega_milli",
          expr("(1000 * oos_rank) div (n_strats + 1)"))
        .select($"c", $"ch_ticker".as("chosen"), $"ch_is".as("is_perf"),
          $"ch_oos".as("oos_perf"), $"n_strats", $"oos_rank",
          $"omega_milli", $"pbo_milli")
        .orderBy($"c")
    },
    Some(s"""
      WITH $mbarsSql,
      r AS (
        SELECT ticker, mon,
               ${speelDivSql("(next_c - close_c) * 10000000", "close_c", "//")}
                 AS r_mbp
        FROM (
          SELECT ticker, mon, close_c,
                 lead(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS next_c
          FROM mbars)
        WHERE next_c IS NOT NULL),
      mi AS (
        SELECT mon, row_number() OVER (ORDER BY mon) AS mrn
        FROM (SELECT DISTINCT mon FROM r)),
      mn AS (SELECT max(mrn) AS tm FROM mi),
      rg AS (
        SELECT r.ticker, r.r_mbp, ((mi.mrn - 1) * $CscvS) // mn.tm AS g
        FROM r JOIN mi USING (mon), mn),
      combos AS (
        SELECT c FROM (SELECT unnest(range(0, ${1L << CscvS})) AS c)
        WHERE ${popSql("c", "//")} = ${CscvS / 2}),
      mem AS (
        SELECT c, g, ((c // (1 << g)) % 2) = 1 AS in_is
        FROM combos, (SELECT unnest(range(0, $CscvS)) AS g)),
      p2 AS (
        SELECT *, tot - is_perf AS oos_perf FROM (
          SELECT m.c, rg.ticker,
                 CAST(sum(CASE WHEN m.in_is THEN rg.r_mbp ELSE 0 END)
                   AS BIGINT) AS is_perf,
                 CAST(sum(rg.r_mbp) AS BIGINT) AS tot
          FROM rg JOIN mem m USING (g) GROUP BY 1, 2)),
      ch AS (
        SELECT c, max(struct_pack(p := is_perf, t := ticker)) AS m,
               count(*) AS n_strats
        FROM p2 GROUP BY 1),
      cho AS (
        SELECT ch.c, (ch.m).t AS ch_ticker, (ch.m).p AS ch_is,
               ch.n_strats, p2.oos_perf AS ch_oos
        FROM ch JOIN p2 ON p2.c = ch.c AND p2.ticker = (ch.m).t),
      rk AS (
        SELECT p2.c, cho.ch_ticker, cho.ch_is, cho.ch_oos, cho.n_strats,
               sum(CASE WHEN struct_pack(p := p2.oos_perf, t := p2.ticker)
                          <= struct_pack(p := cho.ch_oos, t := cho.ch_ticker)
                   THEN 1 ELSE 0 END) AS oos_rank
        FROM p2 JOIN cho ON cho.c = p2.c
        GROUP BY 1, 2, 3, 4, 5),
      pb AS (
        SELECT (1000 * sum(CASE WHEN 2 * oos_rank <= n_strats
                           THEN 1 ELSE 0 END)) // count(*) AS pbo_milli
        FROM rk)
      SELECT rk.c, rk.ch_ticker AS chosen, rk.ch_is AS is_perf,
             rk.ch_oos AS oos_perf, rk.n_strats,
             CAST(rk.oos_rank AS BIGINT) AS oos_rank,
             CAST((1000 * rk.oos_rank) // (rk.n_strats + 1) AS BIGINT)
               AS omega_milli,
             CAST(pb.pbo_milli AS BIGINT) AS pbo_milli
      FROM rk, pb ORDER BY rk.c"""))

  // ---------------------------------------------------------------------
  // q248 — AUTOCORRELATION + LJUNG–BOX WHITE-NOISE TEST per ticker: the
  // series diagnostic run before fitting anything — are daily close
  // changes serially correlated at lags 1..5, and does the portmanteau
  // Q = n(n+2)·Σ r_k²/(n−k) reject white noise at 95%? The series is
  // BAR-TIME (consecutive bars, gaps ignored), diffs in exact cents.
  // Exactness: the mean is an integer (sign-peeled truncating division —
  // the one place the engines' div semantics diverge), deviations and
  // all autocovariance moments are exact BIGINTs (|d| ≤ 2·10⁷ cents,
  // Σd² ≤ 2500·4.4·10¹⁴ ≈ 1.1·10¹⁸ < 2⁶³), each r_k is ONE division,
  // and Q is one fixed-order double expression. The χ²₅(0.95) critical
  // value crosses as a shared string literal (q239 discipline).
  // Scale: two ticker-partition window passes + two map-combinable aggs
  // — ≤ |trading days| rows per cell (declared `ticker` bound).
  // ---------------------------------------------------------------------
  private val Chi2Crit5 = "11.070497693516351" // chi^2(5) 0.95 quantile

  private val q248 = QueryDef(
    "q248_ljung_box",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("date")
      val dx = WindowFeatures.bars(spark, dir)
        .withColumn("close_c",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("dx", $"close_c" - lag($"close_c", 1).over(wT))
        .filter($"dx".isNotNull)
      val st = dx.groupBy($"ticker")
        .agg(count(lit(1)).as("n"), sum($"dx").as("s_dx"))
        .withColumn("mu", expr(speelDivSql("s_dx", "n", "div")))
        .select($"ticker", $"n", $"mu")
      val d = dx.join(broadcast(st), "ticker")
        .withColumn("d", $"dx" - $"mu")
      val lagged = (1 to 5).foldLeft(d) { (df, k) =>
        df.withColumn(s"d$k", lag($"d", k).over(wT))
      }
      val momCols = sum($"d" * $"d").as("dd") +:
        (1 to 5).map(k => sum($"d" * col(s"d$k")).as(s"n$k"))
      val mom = lagged.groupBy($"ticker", $"n")
        .agg(momCols.head, momCols.tail: _*)
      val rk = (1 to 5).foldLeft(mom) { (df, k) =>
        df.withColumn(s"r$k", col(s"n$k").cast("double") / $"dd".cast("double"))
      }
      rk.withColumn("q_lb",
          $"n".cast("double") * ($"n" + 2L).cast("double") *
            ($"r1" * $"r1" / ($"n" - 1L).cast("double") +
              $"r2" * $"r2" / ($"n" - 2L).cast("double") +
              $"r3" * $"r3" / ($"n" - 3L).cast("double") +
              $"r4" * $"r4" / ($"n" - 4L).cast("double") +
              $"r5" * $"r5" / ($"n" - 5L).cast("double")))
        .withColumn("wn_rejected", $"q_lb" > lit(Chi2Crit5.toDouble))
        .select(($"ticker" +: $"n" +:
          (1 to 5).map(k => floor(col(s"r$k") * 1000.0).cast("long")
            .as(s"r${k}_milli")) :+ $"q_lb" :+ $"wn_rejected"): _*)
        .orderBy($"ticker")
    },
    Some {
      val lagCols = (1 to 5)
        .map(k => s"lag(d, $k) OVER (PARTITION BY ticker ORDER BY date) AS d$k")
        .mkString(", ")
      val nCols = (1 to 5)
        .map(k => s"CAST(sum(d * d$k) AS BIGINT) AS n$k").mkString(", ")
      val rCols = (1 to 5)
        .map(k => s"CAST(n$k AS DOUBLE) / CAST(dd AS DOUBLE) AS r$k")
        .mkString(", ")
      val qTerms = (1 to 5)
        .map(k => s"r$k * r$k / CAST(n - $k AS DOUBLE)").mkString(" + ")
      val rMilli = (1 to 5)
        .map(k => s"CAST(floor(r$k * 1000.0) AS BIGINT) AS r${k}_milli")
        .mkString(", ")
      s"""
      WITH ${WindowFeatures.barsSql},
      dx0 AS (
        SELECT ticker, date,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS close_c
        FROM bars),
      dx AS (
        SELECT * FROM (
          SELECT ticker, date, close_c - lag(close_c, 1)
                   OVER (PARTITION BY ticker ORDER BY date) AS dx
          FROM dx0)
        WHERE dx IS NOT NULL),
      st AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               ${speelDivSql("sum(dx)", "count(*)", "//")} AS mu
        FROM dx GROUP BY ticker),
      d AS (
        SELECT dx.ticker, dx.date, st.n, dx.dx - st.mu AS d
        FROM dx JOIN st ON dx.ticker = st.ticker),
      lagged AS (
        SELECT ticker, n, d, $lagCols FROM d),
      mom AS (
        SELECT ticker, n, CAST(sum(d * d) AS BIGINT) AS dd, $nCols
        FROM lagged GROUP BY ticker, n),
      rk AS (
        SELECT ticker, n, $rCols FROM mom),
      q AS (
        SELECT *, CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * ($qTerms)
                 AS q_lb
        FROM rk)
      SELECT ticker, n, $rMilli, q_lb,
             q_lb > CAST('$Chi2Crit5' AS DOUBLE) AS wn_rejected
      FROM q ORDER BY ticker"""
    })

  // ---------------------------------------------------------------------
  // q249 — VARIANCE RATIO TEST (Lo–MacKinlay 1988), q = 5: under a
  // random walk, the variance of 5-bar price changes is 5× the variance
  // of 1-bar changes; VR far from 1 means momentum (> 1) or mean
  // reversion (< 1). Overlapping 5-bar diffs (the LM estimator), cent
  // price changes instead of log returns (logs are engine-unportable —
  // documented divergence from the paper; the diagnostic direction is
  // unchanged). Both variances from integer-centered exact BIGINT SSDs
  // (the q248 discipline); z = (VR−1)·√(n₅/φ) with φ = 2(2q−1)(q−1)/(3q)
  // = 4.8 crossing as a shared string literal.
  // Scale: one two-lag window pass + two rollups per ticker, all under
  // the declared `ticker` bound.
  // ---------------------------------------------------------------------
  private val q249 = QueryDef(
    "q249_variance_ratio",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("date")
      val dd = WindowFeatures.bars(spark, dir)
        .withColumn("close_c",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("d1", $"close_c" - lag($"close_c", 1).over(wT))
        .withColumn("d5", $"close_c" - lag($"close_c", 5).over(wT))
      def ssd(col0: String): DataFrame = {
        val base = dd.filter(col(col0).isNotNull)
        val st = base.groupBy($"ticker")
          .agg(count(lit(1)).as(s"n_$col0"), sum(col(col0)).as("s"))
          .withColumn("mu", expr(speelDivSql("s", s"n_$col0", "div")))
          .select($"ticker", col(s"n_$col0"), $"mu")
        base.join(broadcast(st), "ticker")
          .groupBy($"ticker", col(s"n_$col0"))
          .agg(sum((col(col0) - $"mu") * (col(col0) - $"mu"))
            .as(s"ssd_$col0"))
      }
      ssd("d1").join(ssd("d5"), "ticker")
        .withColumn("vr",
          ($"ssd_d5".cast("double") / ($"n_d5" - 1L).cast("double")) /
            (lit(5.0) * ($"ssd_d1".cast("double") / ($"n_d1" - 1L).cast("double"))))
        .withColumn("z",
          ($"vr" - 1.0) * sqrt($"n_d5".cast("double") / lit(4.8)))
        .withColumn("rw_rejected", abs($"z") > 1.96)
        .select($"ticker", $"n_d1", $"n_d5", $"vr", $"z", $"rw_rejected")
        .orderBy($"ticker")
    },
    Some {
      def ssdSql(k: Int) = s"""
      b$k AS (
        SELECT * FROM (
          SELECT ticker, close_c - lag(close_c, $k)
                   OVER (PARTITION BY ticker ORDER BY date) AS d
          FROM dx0)
        WHERE d IS NOT NULL),
      st$k AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n_d$k,
               ${speelDivSql("sum(d)", "count(*)", "//")} AS mu
        FROM b$k GROUP BY ticker),
      ssd$k AS (
        SELECT b.ticker, st$k.n_d$k,
               CAST(sum((b.d - st$k.mu) * (b.d - st$k.mu)) AS BIGINT)
                 AS ssd_d$k
        FROM b$k b JOIN st$k ON b.ticker = st$k.ticker
        GROUP BY b.ticker, st$k.n_d$k)"""
      s"""
      WITH ${WindowFeatures.barsSql},
      dx0 AS (
        SELECT ticker, date,
               CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS close_c
        FROM bars),
      ${ssdSql(1)},
      ${ssdSql(5)},
      v AS (
        SELECT ssd1.ticker, ssd1.n_d1, ssd5.n_d5,
               (CAST(ssd_d5 AS DOUBLE) / CAST(n_d5 - 1 AS DOUBLE))
                 / (CAST('5.0' AS DOUBLE)
                   * (CAST(ssd_d1 AS DOUBLE) / CAST(n_d1 - 1 AS DOUBLE)))
                 AS vr
        FROM ssd1 JOIN ssd5 ON ssd1.ticker = ssd5.ticker)
      SELECT ticker, n_d1, n_d5, vr,
             (vr - CAST('1.0' AS DOUBLE))
               * sqrt(CAST(n_d5 AS DOUBLE) / CAST('4.8' AS DOUBLE)) AS z,
             abs((vr - CAST('1.0' AS DOUBLE))
               * sqrt(CAST(n_d5 AS DOUBLE) / CAST('4.8' AS DOUBLE)))
               > CAST('1.96' AS DOUBLE) AS rw_rejected
      FROM v ORDER BY ticker"""
    })

  // ---------------------------------------------------------------------
  // q250 — COINTEGRATION SCREEN (Engle–Granger shape, region-blocked):
  // which same-region ("same exchange") ticker pairs co-move tightly
  // enough to pairs-trade, and do their hedged residuals mean-revert?
  // Stage 1: pair correlation from exact BIGINT moments over
  // region-blocked monthly-close joins (|universe/region|² pairs per
  // block — the q227 ER blocking discipline, never universe²; region,
  // not nation, so the tiny-SF universe still yields same-block pairs),
  // top-10 by |corr| via TakeOrdered.
  // Stage 2 (top pairs only, a broadcast): hedge ratio β quantized to
  // exact integer millis (floor of the one-division OLS slope — the
  // engines would disagree on residuals of a raw double β times a
  // price), residual r_t = 1000·y_t − β_milli·x_t exact BIGINT, and the
  // mean-reversion readout as the lag-1 SPEARMAN autocorrelation of
  // residual RANKS (ranks ≤ |months| — monotone-invariant, and immune
  // to the int64-overflow a squared raw residual could hit).
  // ---------------------------------------------------------------------
  private val q250 = QueryDef(
    "q250_cointegration",
    (spark, dir) => {
      import spark.implicits._
      val sup = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("ticker"), $"n_regionkey".as("reg"))
      val m = mbars(spark, dir).join(broadcast(sup), "ticker")
        .select($"reg", $"mon", $"ticker", $"close_c")
      val pairs = m.as("a").join(m.as("b"),
          col("a.reg") === col("b.reg") && col("a.mon") === col("b.mon") &&
            col("a.ticker") < col("b.ticker"))
        .select(col("a.reg").as("reg"), col("a.mon").as("mon"),
          col("a.ticker").as("ta"), col("b.ticker").as("tb"),
          col("a.close_c").as("x"), col("b.close_c").as("y"))
      val mom = pairs.groupBy($"reg", $"ta", $"tb")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 24)
        .withColumn("corr",
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
              ($"n" * $"syy" - $"sy" * $"sy").cast("double")))
      val top = mom
        .orderBy(abs($"corr").desc, $"ta", $"tb").limit(10)
        .withColumn("beta_milli",
          floor(lit(1000.0) *
            ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).cast("long"))
        .select($"reg", $"ta", $"tb", $"n".as("n_months"), $"corr",
          $"beta_milli")
      // stage 2 never re-runs the pair join: the ≤ 10 screened pairs are
      // a broadcast, so two broadcast-filtered reads of the monthly
      // table rebuild exactly the series the top pairs need
      val resid = broadcast(top)
        .join(m.select($"mon", $"ticker".as("ta"), $"close_c".as("x")), "ta")
        .join(m.select($"mon".as("mon_b"), $"ticker".as("tkr_b"),
          $"close_c".as("y")),
          $"tb" === $"tkr_b" && $"mon" === $"mon_b")
        .drop("mon_b", "tkr_b")
        .withColumn("r", lit(1000L) * $"y" - $"beta_milli" * $"x")
      val wPair = Window.partitionBy("ta", "tb")
      val rr = resid
        .withColumn("rk", rank().over(wPair.orderBy($"r", $"mon")).cast("long"))
        .withColumn("rkp", lag($"rk", 1).over(wPair.orderBy($"mon")))
        .filter($"rkp".isNotNull)
      val acf = rr.groupBy($"reg", $"ta", $"tb", $"n_months", $"corr",
          $"beta_milli")
        .agg(count(lit(1)).as("n2"), sum($"rk").as("su"), sum($"rkp").as("sv"),
          sum($"rk" * $"rk").as("suu"), sum($"rkp" * $"rkp").as("svv"),
          sum($"rk" * $"rkp").as("suv"))
        .withColumn("rank_acf1",
          ($"n2" * $"suv" - $"su" * $"sv").cast("double") /
            sqrt(($"n2" * $"suu" - $"su" * $"su").cast("double") *
              ($"n2" * $"svv" - $"sv" * $"sv").cast("double")))
        .withColumn("mean_reverting", $"rank_acf1" < lit(0.6))
      acf.select($"reg", $"ta", $"tb", $"n_months", $"corr", $"beta_milli",
          $"rank_acf1", $"mean_reverting")
        .orderBy($"reg", $"ta", $"tb")
    },
    Some(s"""
      WITH $mbarsSql,
      m AS (
        SELECT n_regionkey AS reg, mon, ticker, close_c
        FROM mbars
        JOIN supplier ON ticker = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey),
      pairs AS (
        SELECT a.reg, a.mon, a.ticker AS ta, b.ticker AS tb,
               a.close_c AS x, b.close_c AS y
        FROM m a JOIN m b
          ON a.reg = b.reg AND a.mon = b.mon AND a.ticker < b.ticker),
      mom AS (
        SELECT reg, ta, tb, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY 1, 2, 3 HAVING count(*) >= 24),
      c AS (
        SELECT *, CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
        FROM mom),
      top AS (
        SELECT reg, ta, tb, n AS n_months, corr,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
                 AS beta_milli
        FROM c ORDER BY abs(corr) DESC, ta, tb LIMIT 10),
      resid AS (
        SELECT p.reg, p.ta, p.tb, p.mon, t.n_months, t.corr, t.beta_milli,
               1000 * p.y - t.beta_milli * p.x AS r
        FROM pairs p
        JOIN top t ON p.reg = t.reg AND p.ta = t.ta AND p.tb = t.tb),
      rr0 AS (
        SELECT *, CAST(rank() OVER (PARTITION BY ta, tb ORDER BY r, mon)
                 AS BIGINT) AS rk
        FROM resid),
      rr AS (
        SELECT * FROM (
          SELECT *, lag(rk, 1) OVER (PARTITION BY ta, tb ORDER BY mon)
                   AS rkp
          FROM rr0)
        WHERE rkp IS NOT NULL),
      acf AS (
        SELECT reg, ta, tb, n_months, corr, beta_milli,
               CAST(count(*) AS BIGINT) AS n2,
               CAST(sum(rk) AS BIGINT) AS su, CAST(sum(rkp) AS BIGINT) AS sv,
               CAST(sum(rk * rk) AS BIGINT) AS suu,
               CAST(sum(rkp * rkp) AS BIGINT) AS svv,
               CAST(sum(rk * rkp) AS BIGINT) AS suv
        FROM rr GROUP BY 1, 2, 3, 4, 5, 6)
      SELECT reg, ta, tb, n_months, corr, beta_milli,
             CAST(n2 * suv - su * sv AS DOUBLE)
               / sqrt(CAST(n2 * suu - su * su AS DOUBLE)
                 * CAST(n2 * svv - sv * sv AS DOUBLE)) AS rank_acf1,
             CAST(n2 * suv - su * sv AS DOUBLE)
               / sqrt(CAST(n2 * suu - su * su AS DOUBLE)
                 * CAST(n2 * svv - sv * sv AS DOUBLE))
               < CAST('0.6' AS DOUBLE) AS mean_reverting
      FROM acf ORDER BY reg, ta, tb"""))

  // ---------------------------------------------------------------------
  // q252 — CAPM BETA / ALPHA / R² against the equal-weight index: the
  // market-model regression every risk system runs — how much of each
  // name's monthly return is market (β·r_mkt), what is left (α), and
  // how tight the fit is (R²). Returns are quantized ONCE to integer
  // milli (floor of the one-division monthly return — the q250
  // β-quantization discipline), the index return is the sign-peeled
  // integer mean of member milli-returns, and everything after is
  // exact BIGINT moments + fixed-order double expressions (the q238
  // regression envelope). Distinct from q238 (Kyle's λ regresses price
  // impact on signed flow at bucket grain; this regresses return on
  // market at monthly grain — the risk-decomposition twin).
  // Scale: one ticker-window lag, one |months|-row broadcast of the
  // index, one map-combinable moment rollup per ticker.
  // ---------------------------------------------------------------------
  private val q252 = QueryDef(
    "q252_capm_beta",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("ret_milli",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"mon")
        .agg(count(lit(1)).as("n_names"), sum($"ret_milli").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("mkt_milli", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"mon", $"mkt_milli")
      val xy = rets.join(broadcast(mkt), "mon")
      val mom = xy.groupBy($"ticker")
        .agg(count(lit(1)).as("n"),
          sum($"mkt_milli").as("sx"), sum($"ret_milli").as("sy"),
          sum($"mkt_milli" * $"mkt_milli").as("sxx"),
          sum($"ret_milli" * $"ret_milli").as("syy"),
          sum($"mkt_milli" * $"ret_milli").as("sxy"))
        .filter($"n" >= 24)
        .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
        .withColumn("dxx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("dyy", $"n" * $"syy" - $"sy" * $"sy")
      mom
        .withColumn("beta", $"num".cast("double") / $"dxx".cast("double"))
        .withColumn("alpha",
          ($"sy".cast("double") - $"beta" * $"sx".cast("double")) /
            $"n".cast("double"))
        .withColumn("r2",
          ($"num".cast("double") * $"num".cast("double")) /
            ($"dxx".cast("double") * $"dyy".cast("double")))
        .withColumn("high_beta", $"beta" > lit(1.0))
        .select($"ticker", $"n".as("n_months"), $"beta", $"alpha", $"r2",
          $"high_beta")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT ticker, mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS ret_milli
        FROM rets),
      mkt AS (
        SELECT mon,
               ${speelDivSql("CAST(sum(ret_milli) AS BIGINT)",
                 "count(*)", "//")} AS mkt_milli
        FROM rm GROUP BY mon HAVING count(*) >= 5),
      mom AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(mkt_milli) AS BIGINT) AS sx,
               CAST(sum(ret_milli) AS BIGINT) AS sy,
               CAST(sum(mkt_milli * mkt_milli) AS BIGINT) AS sxx,
               CAST(sum(ret_milli * ret_milli) AS BIGINT) AS syy,
               CAST(sum(mkt_milli * ret_milli) AS BIGINT) AS sxy
        FROM rm JOIN mkt USING (mon)
        GROUP BY ticker HAVING count(*) >= 24),
      d AS (
        SELECT *, n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy
        FROM mom),
      b AS (
        SELECT *, CAST(num AS DOUBLE) / CAST(dxx AS DOUBLE) AS beta
        FROM d)
      SELECT ticker, n AS n_months, beta,
             (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS alpha,
             (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
               / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)) AS r2,
             beta > CAST('1.0' AS DOUBLE) AS high_beta
      FROM b ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q254 — SIGNAL TURNOVER (alpha decay): q246 says whether the momentum
  // signal PREDICTS; this says what it COSTS to trade — month-over-month
  // stability of the cross-sectional ranks. Per month: the Pearson
  // correlation of (this month's rank, last month's rank) over tickers
  // present in consecutive months (exact integer rank moments — the
  // q250 rank-ACF machinery at cross-section grain), plus the average
  // absolute rank change in milli-ranks (exact integer division on
  // non-negative operands). High IC + high turnover can still lose
  // money; this pair of queries is the standard readout.
  // Scale: one mon rank window (≤ |tickers|), one ticker lag window
  // (≤ |months|), one map-combinable rollup.
  // ---------------------------------------------------------------------
  private val q254 = QueryDef(
    "q254_signal_turnover",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val sig = mbars(spark, dir)
        .withColumn("mom_c", $"close_c" - lag($"close_c", 3).over(wT))
        .filter($"mom_c".isNotNull)
        .withColumn("mom_r",
          $"mom_c".cast("double") / $"close_c".cast("double"))
        .withColumn("rk", rank().over(
          Window.partitionBy("mon").orderBy($"mom_r", $"ticker"))
          .cast("long"))
      val paired = sig
        .withColumn("rk_prev", lag($"rk", 1).over(wT))
        .withColumn("mon_prev", lag($"mon", 1).over(wT))
        .filter($"rk_prev".isNotNull &&
          $"mon_prev" === add_months($"mon", -1))
      val out = paired.groupBy($"mon")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"rk").as("su"), sum($"rk_prev").as("sv"),
          sum($"rk" * $"rk").as("suu"),
          sum($"rk_prev" * $"rk_prev").as("svv"),
          sum($"rk" * $"rk_prev").as("suv"),
          sum(abs($"rk" - $"rk_prev")).as("sad"))
        .filter($"n_pairs" >= 5)
      out
        .withColumn("rank_autocorr",
          ($"n_pairs" * $"suv" - $"su" * $"sv").cast("double") /
            sqrt(($"n_pairs" * $"suu" - $"su" * $"su").cast("double") *
              ($"n_pairs" * $"svv" - $"sv" * $"sv").cast("double")))
        .withColumn("churn_milli", expr("(1000 * sad) div n_pairs"))
        .select($"mon", $"n_pairs", $"rank_autocorr", $"churn_milli")
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql,
      sig AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 close_c - lag(close_c, 3)
                   OVER (PARTITION BY ticker ORDER BY mon) AS mom_c
          FROM mbars)
        WHERE mom_c IS NOT NULL),
      rked AS (
        SELECT ticker, mon,
               CAST(rank() OVER (PARTITION BY mon ORDER BY
                 CAST(mom_c AS DOUBLE) / CAST(close_c AS DOUBLE), ticker)
                 AS BIGINT) AS rk
        FROM sig),
      paired AS (
        SELECT * FROM (
          SELECT mon, rk,
                 lag(rk, 1) OVER w AS rk_prev,
                 lag(mon, 1) OVER w AS mon_prev
          FROM rked WINDOW w AS (PARTITION BY ticker ORDER BY mon))
        WHERE rk_prev IS NOT NULL
          AND mon_prev = CAST(mon - INTERVAL 1 MONTH AS DATE)),
      agg AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(rk) AS BIGINT) AS su,
               CAST(sum(rk_prev) AS BIGINT) AS sv,
               CAST(sum(rk * rk) AS BIGINT) AS suu,
               CAST(sum(rk_prev * rk_prev) AS BIGINT) AS svv,
               CAST(sum(rk * rk_prev) AS BIGINT) AS suv,
               CAST(sum(abs(rk - rk_prev)) AS BIGINT) AS sad
        FROM paired GROUP BY mon HAVING count(*) >= 5)
      SELECT mon, n_pairs,
             CAST(n_pairs * suv - su * sv AS DOUBLE)
               / sqrt(CAST(n_pairs * suu - su * su AS DOUBLE)
                 * CAST(n_pairs * svv - sv * sv AS DOUBLE))
               AS rank_autocorr,
             CAST((1000 * sad) // n_pairs AS BIGINT) AS churn_milli
      FROM agg ORDER BY mon"""))

  // ---------------------------------------------------------------------
  // q255 — CALENDAR-TIME ALPHA of the long-short momentum portfolio:
  // the q247 equity curve regressed on the q252 market factor — "is the
  // L-S spread ALPHA, or just hidden market exposure?" (the
  // Jegadeesh–Titman table-VII readout). y = monthly L-S milli-bp
  // (exact ints from q247's leg arithmetic), x = equal-weight market
  // milli-return (q252's sign-peeled integer mean); OLS α/β plus the
  // α t-stat, all from exact BIGINT moments in ONE fixed-order double
  // expression each: t_α = α/√(s²·Σx²/dxx), s² = (dyy−num²/dxx)/(n(n−2)).
  // y is quantized to whole bp (not milli-bp): the synthetic tape's
  // monthly spreads reach ~10⁶ bp, and Σy² must stay inside int64.
  // One-row output (the q16/q183 single-readout shape).
  // ---------------------------------------------------------------------
  private val q255 = QueryDef(
    "q255_ls_alpha",
    (spark, dir) => {
      import spark.implicits._
      val ls = lsMonthly(spark, dir)
        .withColumn("y",
          floor($"ret_top_bp" - $"ret_bot_bp").cast("long"))
        .select($"mon", $"y")
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("ret_milli",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"mon")
        .agg(count(lit(1)).as("n_names"), sum($"ret_milli").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("x", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"mon", $"x")
      val mom = ls.join(mkt, "mon")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
        .withColumn("dxx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("dyy", $"n" * $"syy" - $"sy" * $"sy")
        .withColumn("beta", $"num".cast("double") / $"dxx".cast("double"))
        .withColumn("alpha",
          ($"sy".cast("double") - $"beta" * $"sx".cast("double")) /
            $"n".cast("double"))
        .withColumn("t_alpha",
          $"alpha" / sqrt(
            (($"dyy".cast("double") -
              $"num".cast("double") * $"num".cast("double") /
                $"dxx".cast("double")) /
              ($"n".cast("double") * ($"n" - 2L).cast("double"))) *
              $"sxx".cast("double") / $"dxx".cast("double")))
      mom.withColumn("alpha_significant", abs($"t_alpha") > lit(1.96))
        .select($"n".as("n_months"), $"beta", $"alpha", $"t_alpha",
          $"alpha_significant")
    },
    Some(s"""
      WITH $mbarsSql, $signalSql, $lsMonthlySql,
      ls AS (
        SELECT mon,
               CAST(floor(ret_top_bp - ret_bot_bp) AS BIGINT) AS y
        FROM lsr),
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS ret_milli
        FROM rets),
      mkt AS (
        SELECT mon,
               ${speelDivSql("CAST(sum(ret_milli) AS BIGINT)",
                 "count(*)", "//")} AS x
        FROM rm GROUP BY mon HAVING count(*) >= 5),
      mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM ls JOIN mkt USING (mon)),
      d AS (
        SELECT *, n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy
        FROM mom),
      bb AS (
        SELECT *, CAST(num AS DOUBLE) / CAST(dxx AS DOUBLE) AS beta
        FROM d),
      a AS (
        SELECT *, (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) AS alpha
        FROM bb),
      t AS (
        SELECT *, alpha / sqrt(
            ((CAST(dyy AS DOUBLE)
                - CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                  / CAST(dxx AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n - 2 AS DOUBLE)))
            * CAST(sxx AS DOUBLE) / CAST(dxx AS DOUBLE)) AS t_alpha
        FROM a)
      SELECT n AS n_months, beta, alpha, t_alpha,
             abs(t_alpha) > CAST('1.96' AS DOUBLE) AS alpha_significant
      FROM t"""))

  // ---------------------------------------------------------------------
  // q256 — STRATEGY PERFORMANCE STATS: the tear-sheet row for the q247
  // long-short strategy — annualized Sharpe, hit rate, maximum drawdown
  // and Calmar, all from the integer bp series (exact BIGINT moments;
  // the mean is a sign-peeled integer division; Sharpe and Calmar are
  // one fixed-order double expression each, √12 via the
  // correctly-rounded IEEE sqrt both engines share). Drawdown is the
  // running-max-minus-running-sum of INTEGERS over the ≤ |months|
  // equity curve (order-invariant sums; both global windows are
  // exempt-declared rollup frames).
  // ---------------------------------------------------------------------
  private val q256 = QueryDef(
    "q256_strategy_stats",
    (spark, dir) => {
      import spark.implicits._
      val wCum = Window.orderBy("mon")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val y = lsMonthly(spark, dir)
        .withColumn("y", floor($"ret_top_bp" - $"ret_bot_bp").cast("long"))
        .withColumn("cum", sum($"y").over(wCum))
        .withColumn("runmax", greatest(max($"cum").over(wCum), lit(0L)))
        .withColumn("dd", $"runmax" - $"cum")
      y.agg(count(lit(1)).as("n"), sum($"y").as("s"),
          sum($"y" * $"y").as("ss"),
          sum(when($"y" > 0, 1L).otherwise(0L)).as("wins"),
          max($"dd").as("maxdd"))
        .withColumn("mean_bp", expr(speelDivSql("s", "n", "div")))
        .withColumn("hit_milli", expr("(1000 * wins) div n"))
        .withColumn("sharpe_ann",
          ($"s".cast("double") / $"n".cast("double")) /
            sqrt(($"n".cast("double") * $"ss".cast("double") -
              $"s".cast("double") * $"s".cast("double")) /
              ($"n".cast("double") * ($"n" - 1L).cast("double"))) *
            sqrt(lit(12.0)))
        .withColumn("calmar",
          when($"maxdd" > 0L,
            (lit(12.0) * $"s".cast("double") / $"n".cast("double")) /
              $"maxdd".cast("double")))
        .select($"n".as("n_months"), $"mean_bp", $"hit_milli",
          $"sharpe_ann", $"maxdd".as("max_drawdown_bp"), $"calmar")
    },
    Some(s"""
      WITH $mbarsSql, $signalSql, $lsMonthlySql,
      yy AS (
        SELECT mon, CAST(floor(ret_top_bp - ret_bot_bp) AS BIGINT) AS y
        FROM lsr),
      c0 AS (
        SELECT mon, y, sum(y) OVER (ORDER BY mon
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM yy),
      c AS (
        SELECT y, cum,
               greatest(max(cum) OVER (ORDER BY mon
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                 AS runmax
        FROM c0),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(y * y) AS BIGINT) AS ss,
               CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS wins,
               CAST(max(runmax - cum) AS BIGINT) AS maxdd
        FROM c)
      SELECT n AS n_months,
             ${speelDivSql("s", "n", "//")} AS mean_bp,
             CAST((1000 * wins) // n AS BIGINT) AS hit_milli,
             (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
               * sqrt(CAST('12.0' AS DOUBLE)) AS sharpe_ann,
             maxdd AS max_drawdown_bp,
             CASE WHEN maxdd > 0 THEN
               (CAST('12.0' AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) / CAST(maxdd AS DOUBLE) END AS calmar
      FROM agg"""))

  // ---------------------------------------------------------------------
  // q260 — ROLLING 12-MONTH BETA (risk drift): q252's full-sample β is
  // the risk report's headline; the risk MONITOR wants β as a moving
  // window — a name whose market exposure doubles mid-sample looks
  // average on the full fit. Per (ticker, month): the OLS slope over
  // the trailing 12 months via exact integer WINDOW moments (five
  // rolling BIGINT sums on one ROWS 11 PRECEDING frame — the engines
  // agree because integer window sums are order-exact), emitted only
  // when the window is full; plus the year-over-year drift
  // β_t − β_{t−12} as the alarm column. One ticker-partition frame
  // (declared bound), one |months|-row broadcast of the index.
  // ---------------------------------------------------------------------
  private val q260 = QueryDef(
    "q260_rolling_beta",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"mon")
        .agg(count(lit(1)).as("n_names"), sum($"y").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("x", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"mon", $"x")
      val w12 = Window.partitionBy("ticker").orderBy("mon")
        .rowsBetween(-11, Window.currentRow)
      val roll = rets.join(broadcast(mkt), "mon")
        .withColumn("nw", count(lit(1)).over(w12))
        .withColumn("sx", sum($"x").over(w12))
        .withColumn("sy", sum($"y").over(w12))
        .withColumn("sxx", sum($"x" * $"x").over(w12))
        .withColumn("sxy", sum($"x" * $"y").over(w12))
        .filter($"nw" === 12L)
        .withColumn("beta_12m",
          ($"nw" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"nw" * $"sxx" - $"sx" * $"sx").cast("double"))
      roll
        .withColumn("beta_drift", $"beta_12m" - lag($"beta_12m", 12).over(wT))
        .select($"ticker", $"mon", $"beta_12m", $"beta_drift")
        .orderBy($"ticker", $"mon")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT ticker, mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets),
      mkt AS (
        SELECT mon,
               ${speelDivSql("CAST(sum(y) AS BIGINT)", "count(*)", "//")}
                 AS x
        FROM rm GROUP BY mon HAVING count(*) >= 5),
      j AS (SELECT rm.ticker, rm.mon, rm.y, mkt.x FROM rm JOIN mkt USING (mon)),
      roll AS (
        SELECT ticker, mon,
               CAST(count(*) OVER w AS BIGINT) AS nw,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
               CAST(sum(x * y) OVER w AS BIGINT) AS sxy
        FROM j WINDOW w AS (PARTITION BY ticker ORDER BY mon
          ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
      b AS (
        SELECT ticker, mon,
               CAST(nw * sxy - sx * sy AS DOUBLE)
                 / CAST(nw * sxx - sx * sx AS DOUBLE) AS beta_12m
        FROM roll WHERE nw = 12)
      SELECT ticker, mon, beta_12m,
             beta_12m - lag(beta_12m, 12) OVER (PARTITION BY ticker
               ORDER BY mon) AS beta_drift
      FROM b ORDER BY ticker, mon"""))

  // ---------------------------------------------------------------------
  // q262 — FAMA–MACBETH two-pass regression (1973): the asset-pricing
  // test the CAPM family exists for — does bearing market beta PAY?
  // Pass 1: full-sample β per ticker (the q252 moments), quantized to
  // integer millis (the q250 discipline) and broadcast. Pass 2: each
  // month, the CROSS-SECTIONAL OLS of that month's returns on the
  // betas — slope γ_m = the realized premium; exact integer moments
  // per month (cells ≤ |tickers|, no windows at all — pure groupBy).
  // Pass 3: the premium's t-stat across months from the integer
  // micro-γ series (the q246 aggregate-integers-not-doubles
  // discipline), attached as a 1-row broadcast. γ̄ significantly > 0
  // is the textbook result; flat γ on a synthetic tape is the honest
  // readout of no priced factor.
  // ---------------------------------------------------------------------
  private val q262 = QueryDef(
    "q262_fama_macbeth",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"mon")
        .agg(count(lit(1)).as("n_names"), sum($"y").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("x", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"mon", $"x")
      val betas = rets.join(broadcast(mkt), "mon")
        .groupBy($"ticker")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 24)
        .withColumn("beta_milli",
          floor(lit(1000.0) *
            ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).cast("long"))
        .select($"ticker", $"beta_milli")
      val xs = rets.join(broadcast(betas), "ticker")
      val perMon = xs.groupBy($"mon")
        .agg(count(lit(1)).as("nn"), sum($"beta_milli").as("bx"),
          sum($"y").as("by"),
          sum($"beta_milli" * $"beta_milli").as("bxx"),
          sum($"beta_milli" * $"y").as("bxy"))
        .filter($"nn" >= 5)
        .withColumn("gamma",
          ($"nn" * $"bxy" - $"bx" * $"by").cast("double") /
            ($"nn" * $"bxx" - $"bx" * $"bx").cast("double"))
        .withColumn("gamma_micro",
          floor($"gamma" * 1000000.0).cast("long"))
      val summ = perMon.agg(
        count(lit(1)).as("n_months"),
        sum($"gamma_micro").as("sg"),
        sum($"gamma_micro" * $"gamma_micro").as("ssg"))
        .withColumn("t_gamma",
          $"sg".cast("double") /
            sqrt(($"n_months".cast("double") * $"ssg".cast("double") -
              $"sg".cast("double") * $"sg".cast("double")) /
              ($"n_months" - 1L).cast("double")))
        .select($"n_months", $"t_gamma")
      perMon.crossJoin(broadcast(summ))
        .select($"mon", $"nn".as("n_names"), $"gamma", $"gamma_micro",
          $"n_months", $"t_gamma")
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT ticker, mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets),
      mkt AS (
        SELECT mon,
               ${speelDivSql("CAST(sum(y) AS BIGINT)", "count(*)", "//")}
                 AS x
        FROM rm GROUP BY mon HAVING count(*) >= 5),
      bm AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM rm JOIN mkt USING (mon)
        GROUP BY ticker HAVING count(*) >= 24),
      betas AS (
        SELECT ticker,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
                 AS beta_milli
        FROM bm),
      pm0 AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(beta_milli) AS BIGINT) AS bx,
               CAST(sum(y) AS BIGINT) AS by,
               CAST(sum(beta_milli * beta_milli) AS BIGINT) AS bxx,
               CAST(sum(beta_milli * y) AS BIGINT) AS bxy
        FROM rm JOIN betas USING (ticker)
        GROUP BY mon HAVING count(*) >= 5),
      pm AS (
        SELECT mon, nn,
               CAST(nn * bxy - bx * by AS DOUBLE)
                 / CAST(nn * bxx - bx * bx AS DOUBLE) AS gamma
        FROM pm0),
      pmm AS (
        SELECT *, CAST(floor(gamma * 1000000.0) AS BIGINT) AS gamma_micro
        FROM pm),
      summ AS (
        SELECT CAST(count(*) AS BIGINT) AS n_months,
               CAST(sum(gamma_micro) AS BIGINT) AS sg,
               CAST(sum(gamma_micro * gamma_micro) AS BIGINT) AS ssg
        FROM pmm)
      SELECT mon, nn AS n_names, gamma, gamma_micro, n_months,
             CAST(sg AS DOUBLE) /
               sqrt((CAST(n_months AS DOUBLE) * CAST(ssg AS DOUBLE)
                 - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                 / CAST(n_months - 1 AS DOUBLE)) AS t_gamma
      FROM pmm, summ ORDER BY mon"""))

  // ---------------------------------------------------------------------
  // q266 — IMPLIED CORRELATION / DISPERSION REGIME: the vol-desk
  // readout — when the index variance approaches what the members'
  // variances alone would explain, names are moving independently;
  // when it far exceeds it, correlation has spiked (the crash regime).
  // Implied average pairwise correlation from trailing-12-month
  // windows: ρ̂ = (n²·SSD_idx − Σᵢ SSDᵢ) / ((Σᵢ sᵢ)² − Σᵢ sᵢ²) with
  // sᵢ = ⌊√SSDᵢ⌋ — every trailing SSD is EXACT integers from rolling
  // Σy/Σy² window sums and the sign-peeled window mean (SSD = Σy² −
  // 2μΣy + 12μ², no float accumulation), and the σ-quantization to
  // integer sᵢ makes the cross-ticker sums order-invariant (documented
  // estimator quantization, the q257 honesty discipline). Windows:
  // per-ticker 12-row frames (declared `ticker` bound) + one
  // |months|-row index frame (exempt-declared); the cross-ticker
  // reduction is a pure groupBy(mon).
  // ---------------------------------------------------------------------
  private val q266 = QueryDef(
    "q266_implied_correlation",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"mon")
        .agg(count(lit(1)).as("n_names"), sum($"y").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("x", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"mon", $"x")
      def trailingSsd(df: DataFrame, part: Seq[String], v: String): DataFrame = {
        val w = Window.partitionBy(part.map(col): _*).orderBy("mon")
          .rowsBetween(-11, Window.currentRow)
        df.withColumn("nw", count(lit(1)).over(w))
          .withColumn("sy", sum(col(v)).over(w))
          .withColumn("syy", sum(col(v) * col(v)).over(w))
          .filter($"nw" === 12L)
          .withColumn("mu", expr(speelDivSql("sy", "12", "div")))
          .withColumn("ssd",
            $"syy" - lit(2L) * $"mu" * $"sy" + lit(12L) * $"mu" * $"mu")
      }
      val tssd = trailingSsd(rets.select($"ticker", $"mon", $"y"),
        Seq("ticker"), "y")
        .withColumn("s_i", floor(sqrt($"ssd".cast("double"))).cast("long"))
        .groupBy($"mon")
        .agg(count(lit(1)).as("n"), sum($"ssd").as("sum_ssd"),
          sum($"s_i").as("sum_s"), sum($"s_i" * $"s_i").as("sum_s2"))
        .filter($"n" >= 5)
      val issd = trailingSsd(
        mkt.withColumn("ticker", lit(0L)).select($"ticker", $"mon", $"x"),
        Seq("ticker"), "x")
        .select($"mon", $"ssd".as("ssd_idx"))
      tssd.join(issd, "mon")
        .withColumn("rho_implied",
          ($"n" * $"n" * $"ssd_idx" - $"sum_ssd").cast("double") /
            ($"sum_s" * $"sum_s" - $"sum_s2").cast("double"))
        .withColumn("high_corr_regime", $"rho_implied" > lit(0.5))
        .select($"mon", $"n", $"ssd_idx", $"sum_ssd", $"rho_implied",
          $"high_corr_regime")
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT ticker, mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets),
      mkt AS (
        SELECT mon,
               ${speelDivSql("CAST(sum(y) AS BIGINT)", "count(*)", "//")}
                 AS x
        FROM rm GROUP BY mon HAVING count(*) >= 5),
      troll AS (
        SELECT ticker, mon,
               CAST(count(*) OVER w AS BIGINT) AS nw,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(y * y) OVER w AS BIGINT) AS syy
        FROM rm WINDOW w AS (PARTITION BY ticker ORDER BY mon
          ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
      tssd0 AS (
        SELECT ticker, mon,
               syy - 2 * ${speelDivSql("sy", "12", "//")} * sy
                 + 12 * ${speelDivSql("sy", "12", "//")}
                      * ${speelDivSql("sy", "12", "//")} AS ssd
        FROM troll WHERE nw = 12),
      tssd AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ssd) AS BIGINT) AS sum_ssd,
               CAST(sum(CAST(floor(sqrt(CAST(ssd AS DOUBLE))) AS BIGINT))
                 AS BIGINT) AS sum_s,
               CAST(sum(CAST(floor(sqrt(CAST(ssd AS DOUBLE))) AS BIGINT)
                 * CAST(floor(sqrt(CAST(ssd AS DOUBLE))) AS BIGINT))
                 AS BIGINT) AS sum_s2
        FROM tssd0 GROUP BY mon HAVING count(*) >= 5),
      iroll AS (
        SELECT mon,
               CAST(count(*) OVER w AS BIGINT) AS nw,
               CAST(sum(x) OVER w AS BIGINT) AS sy,
               CAST(sum(x * x) OVER w AS BIGINT) AS syy
        FROM mkt WINDOW w AS (ORDER BY mon
          ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
      issd AS (
        SELECT mon,
               syy - 2 * ${speelDivSql("sy", "12", "//")} * sy
                 + 12 * ${speelDivSql("sy", "12", "//")}
                      * ${speelDivSql("sy", "12", "//")} AS ssd_idx
        FROM iroll WHERE nw = 12)
      SELECT t.mon, t.n, CAST(i.ssd_idx AS BIGINT) AS ssd_idx, t.sum_ssd,
             CAST(t.n * t.n * i.ssd_idx - t.sum_ssd AS DOUBLE)
               / CAST(t.sum_s * t.sum_s - t.sum_s2 AS DOUBLE)
               AS rho_implied,
             CAST(t.n * t.n * i.ssd_idx - t.sum_ssd AS DOUBLE)
               / CAST(t.sum_s * t.sum_s - t.sum_s2 AS DOUBLE)
               > CAST('0.5' AS DOUBLE) AS high_corr_regime
      FROM tssd t JOIN issd i ON t.mon = i.mon
      ORDER BY t.mon"""))

  // ---------------------------------------------------------------------
  // q269 — DOWNSIDE / UPSIDE BETA (Ang–Chen–Xing 2006): the asymmetry
  // q252's single β hides — a name that amplifies weak markets but
  // lags strong ones carries more risk than its full-sample β admits.
  // Conditioning follows the paper: market BELOW vs ABOVE its own mean
  // (μ from a sign-peeled integer division, a 1-row broadcast — a
  // sign split is structurally empty here because last-fill price
  // ratios have a large positive mean, so every index month is up).
  // The SAME exact-integer moment pipeline as q252, run once per leg;
  // asymmetry = β⁻ − β⁺ as one subtraction of two one-division
  // slopes; crash-amplifier flag when β⁻ exceeds both β⁺ and 1. Legs
  // need ≥ 12 months each.
  // ---------------------------------------------------------------------
  private val q269 = QueryDef(
    "q269_downside_beta",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"mon")
        .agg(count(lit(1)).as("n_names"), sum($"y").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("x", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"mon", $"x")
      val mu = mkt.agg(expr(speelDivSql("sum(x)", "count(1)", "div"))
        .as("mu"))
      val xy = rets.join(broadcast(mkt), "mon").crossJoin(broadcast(mu))
      def leg(cond: Column, tag: String): DataFrame =
        xy.filter(cond).groupBy($"ticker")
          .agg(count(lit(1)).as(s"n_$tag"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
          .filter(col(s"n_$tag") >= 12)
          .withColumn(s"beta_$tag",
            (col(s"n_$tag") * $"sxy" - $"sx" * $"sy").cast("double") /
              (col(s"n_$tag") * $"sxx" - $"sx" * $"sx").cast("double"))
          .select($"ticker", col(s"n_$tag"), col(s"beta_$tag"))
      leg($"x" < $"mu", "down").join(leg($"x" > $"mu", "up"), "ticker")
        .withColumn("asymmetry", $"beta_down" - $"beta_up")
        .withColumn("crash_amplifier",
          $"beta_down" > $"beta_up" && $"beta_down" > lit(1.0))
        .select($"ticker", $"n_down", $"n_up", $"beta_down", $"beta_up",
          $"asymmetry", $"crash_amplifier")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT ticker, mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets),
      mkt AS (
        SELECT mon,
               ${speelDivSql("CAST(sum(y) AS BIGINT)", "count(*)", "//")}
                 AS x
        FROM rm GROUP BY mon HAVING count(*) >= 5),
      mu AS (
        SELECT ${speelDivSql("CAST(sum(x) AS BIGINT)", "count(*)", "//")}
                 AS mu
        FROM mkt),
      xy AS (SELECT rm.ticker, rm.y, mkt.x, mu.mu
             FROM rm JOIN mkt USING (mon), mu),
      dn AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n_down,
               CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
                 / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
                 AS beta_down
        FROM xy WHERE x < mu GROUP BY ticker HAVING count(*) >= 12),
      up AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n_up,
               CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
                 / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
                 AS beta_up
        FROM xy WHERE x > mu GROUP BY ticker HAVING count(*) >= 12)
      SELECT dn.ticker, dn.n_down, up.n_up, dn.beta_down, up.beta_up,
             dn.beta_down - up.beta_up AS asymmetry,
             dn.beta_down > up.beta_up
               AND dn.beta_down > CAST('1.0' AS DOUBLE) AS crash_amplifier
      FROM dn JOIN up ON dn.ticker = up.ticker
      ORDER BY dn.ticker"""))

  // ---------------------------------------------------------------------
  // q270 — TURN-OF-MONTH EFFECT (Lakonishok–Smidt): the calendar
  // anomaly audit — do daily moves cluster in the first/last trading
  // days of the month? Bands by POSITION among the month's actual
  // trading days (row_number / count within (ticker, month) — a
  // refinement of the declared daily `ticker` grain), never by
  // calendar day-of-month, so holiday gaps can't misfile a day. Per
  // band: exact integer mean daily move (sign-peeled division),
  // positive-day share in permille, and the day census — 3 rows,
  // map-combinable after the two bounded windows.
  // ---------------------------------------------------------------------
  private val q270 = QueryDef(
    "q270_turn_of_month",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("day")
      val days = Tables.lineitem(spark, dir)
        .withColumn("cents",
          ($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("seq",
          ($"l_orderkey" * 16 + $"l_linenumber") * 100000000L + $"cents")
        .groupBy($"l_suppkey".as("ticker"),
          to_date($"l_shipdate").as("day"))
        .agg(max_by($"cents", $"seq").as("close_c"))
      val wM = Window.partitionBy($"ticker",
        date_trunc("month", $"day"))
      val banded = days
        .withColumn("dc", $"close_c" - lag($"close_c", 1).over(wT))
        .filter($"dc".isNotNull)
        .withColumn("rn", row_number().over(wM.orderBy($"day")).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wM))
        .withColumn("band",
          when($"rn" <= 3, "first3")
            .when($"rn" > $"cnt" - 3, "last3")
            .otherwise("mid"))
      banded.groupBy($"band")
        .agg(count(lit(1)).as("n_days"),
          sum($"dc").as("s_dc"),
          sum(when($"dc" > 0, 1L).otherwise(0L)).as("n_pos"))
        .withColumn("mean_dc_cents", expr(speelDivSql("s_dc", "n_days", "div")))
        .withColumn("pos_milli", expr("(1000 * n_pos) div n_days"))
        .select($"band", $"n_days", $"mean_dc_cents", $"pos_milli")
        .orderBy($"band")
    },
    Some(s"""
      WITH days AS (
        SELECT l_suppkey AS ticker, CAST(l_shipdate AS DATE) AS day,
               arg_max(CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100
                 AS BIGINT),
                 (l_orderkey * 16 + l_linenumber) * 100000000
                   + CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100
                     AS BIGINT)) AS close_c
        FROM lineitem GROUP BY 1, 2),
      d AS (
        SELECT * FROM (
          SELECT ticker, day,
                 close_c - lag(close_c, 1) OVER (PARTITION BY ticker
                   ORDER BY day) AS dc
          FROM days)
        WHERE dc IS NOT NULL),
      b AS (
        SELECT dc,
               CASE WHEN rn <= 3 THEN 'first3'
                    WHEN rn > cnt - 3 THEN 'last3'
                    ELSE 'mid' END AS band
        FROM (
          SELECT ticker, day, dc,
                 CAST(row_number() OVER (PARTITION BY ticker,
                   date_trunc('month', day) ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY ticker,
                   date_trunc('month', day)) AS BIGINT) AS cnt
          FROM d)),
      agg AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(dc) AS BIGINT) AS s_dc,
               CAST(sum(CASE WHEN dc > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos
        FROM b GROUP BY band)
      SELECT band, n_days,
             ${speelDivSql("s_dc", "n_days", "//")} AS mean_dc_cents,
             CAST((1000 * n_pos) // n_days AS BIGINT) AS pos_milli
      FROM agg ORDER BY band"""))

  // ---------------------------------------------------------------------
  // q274 — EVENT STUDY (MacKinlay 1997, "Event Studies in Economics and
  // Finance"): cumulative abnormal returns around announcement days —
  // the econometric instrument for "did the event move the price".
  // The fixture has no labeled announcements, so event days are planted
  // deterministically (md5("evt|tkr|date") % 17 = 0, ~6% of bar days —
  // the q67 plant-then-operate discipline); the operator under test is
  // the event-time machinery: market-adjusted abnormal returns and the
  // [−2, +2] event-window CAR.
  //
  // Exactness end-to-end INTEGER: daily returns quantized once to
  // milli (floor of the single-division return — the q252 discipline),
  // the market return is the sign-peeled integer mean over ≥ 5 names
  // per day, abnormal = ret − mkt is an exact BIGINT, and CAR is an
  // exact integer window SUM over the ±2 frame — no float accumulation
  // anywhere, so the hash gate is exact, not ulp-lucky. Only events
  // with the full 5-day window qualify (the estimation-window-complete
  // convention).
  //
  // Scale: one ticker-window lag (daily-bars grain, declared bound),
  // one |days|-row broadcast of the market, one ±2 window pass, then
  // the event filter — event rows are a hash-thinned subset, never a
  // join fan-out. Distinct from q252 (monthly CAPM regression): this
  // is EVENT-time aggregation at daily grain, no regression.
  // ---------------------------------------------------------------------
  private val EvtMod = 17L
  private val q274 = QueryDef(
    "q274_event_study",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val wT = Window.partitionBy("ticker").orderBy("date")
      val rets = WindowFeatures.bars(spark, dir)
        .withColumn("close_c",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("ret_milli",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"date")
        .agg(count(lit(1)).as("n_names"), sum($"ret_milli").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("mkt_milli", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"date", $"mkt_milli")
      val wCar = wT.rowsBetween(-2, 2)
      rets.join(broadcast(mkt), "date")
        .withColumn("ab_milli", $"ret_milli" - $"mkt_milli")
        .withColumn("car_milli", sum($"ab_milli").over(wCar))
        .withColumn("n_win", count($"ab_milli").over(wCar))
        .filter(pmod(Portable.md5Hash64(
          concat(lit("evt|"), $"ticker", lit("|"), $"date".cast("string"))),
          lit(EvtMod)) === 0 && $"n_win" === 5)
        .select($"ticker", $"date", $"ret_milli", $"mkt_milli",
          $"ab_milli", $"car_milli")
        .orderBy($"ticker", $"date")
    },
    Some(s"""
      WITH ${WindowFeatures.barsSql},
      rets AS (
        SELECT ticker, date,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS ret_milli
        FROM (
          SELECT ticker, date,
                 CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS close_c,
                 lag(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT), 1)
                   OVER (PARTITION BY ticker ORDER BY date) AS prev_c
          FROM bars)
        WHERE prev_c IS NOT NULL),
      mkt AS (
        SELECT date,
               ${speelDivSql("CAST(sum(ret_milli) AS BIGINT)",
                 "count(*)", "//")} AS mkt_milli
        FROM rets GROUP BY date HAVING count(*) >= 5),
      ab AS (
        SELECT r.ticker, r.date, r.ret_milli, m.mkt_milli,
               r.ret_milli - m.mkt_milli AS ab_milli
        FROM rets r JOIN mkt m USING (date)),
      car AS (
        SELECT *,
               CAST(sum(ab_milli) OVER w5 AS BIGINT) AS car_milli,
               count(ab_milli) OVER w5 AS n_win
        FROM ab
        WINDOW w5 AS (PARTITION BY ticker ORDER BY date
                      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
      SELECT ticker, date, ret_milli, mkt_milli, ab_milli, car_milli
      FROM car
      WHERE ${graft.functions.Portable.md5Hash64Sql(
        "('evt|' || ticker || '|' || CAST(date AS VARCHAR))")} % $EvtMod = 0
        AND n_win = 5
      ORDER BY ticker, date"""))

  // ---------------------------------------------------------------------
  // q282 — GRANGER-CAUSALITY LEAD SCREEN (Granger 1969): does YESTERDAY's
  // market return predict a name's return today, over and above the
  // name's own lag? The lag-1 bivariate VAR equation per ticker:
  //   y_t = a + b1·y_{t-1} + b2·x_{t-1},   x = market milli-return
  // against the restricted y_t = a + b1·y_{t-1}; the F statistic for the
  // one restriction b2 = 0 is compared to the asymptotic χ²₁ 95% point
  // (F = t² for a single restriction). Lagged-adjuster names (stale
  // prices, index inclusion effects) reject — the classic lead-lag
  // screen run before fitting any cross-asset model.
  //
  // Exactness: returns are the q252/q274 milli quantization (floor of
  // ONE division); the market is the sign-peeled integer mean over ≥ 5
  // names/day; ALL ten regression moments are exact BIGINT sums, the
  // centered moments are the exact integer forms n·Sab − Sa·Sb
  // (|r| ≤ 10⁵ milli, n ≤ 2500 ⇒ every product < 2⁶³), and the OLS
  // solve + F is ONE fixed-order double expression evaluated over those
  // exact integers — identical bits on both engines, so the floor-milli
  // projections and the reject flag are hash-stable, not ulp-lucky.
  // Eligibility predicates (n ≥ 30, positive determinant/variances)
  // test exact INTEGERS only.
  //
  // Scale: one ticker-window lag pass at the daily-bars rollup grain
  // (declared `ticker` bound, silver-scan evidence), one |days|-row
  // market broadcast, one map-combinable ten-moment aggregate per
  // ticker — no pair explosion anywhere (the regressor is the market,
  // not another name, so the screen is |universe|-sized, not
  // |universe|²; the q250 pair screen covers the latter shape).
  // ---------------------------------------------------------------------
  private val Chi2Crit1 = "3.841458820694124" // chi^2(1) 0.95 quantile

  private val q282 = QueryDef(
    "q282_granger_lead",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("date")
      val rets = WindowFeatures.bars(spark, dir)
        .withColumn("close_c",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("ret_milli",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"date")
        .agg(count(lit(1)).as("n_names"), sum($"ret_milli").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("mkt_milli", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"date", $"mkt_milli")
      val lagged = rets.join(broadcast(mkt), "date")
        .withColumn("y", $"ret_milli")
        .withColumn("yl", lag($"ret_milli", 1).over(wT))
        .withColumn("xl", lag($"mkt_milli", 1).over(wT))
        .filter($"yl".isNotNull && $"xl".isNotNull)
      val mom = lagged.groupBy($"ticker").agg(
        count(lit(1)).as("n"),
        sum($"y").as("sy"), sum($"yl").as("syl"), sum($"xl").as("sxl"),
        sum($"y" * $"y").as("syy"),
        sum($"yl" * $"yl").as("sylyl"),
        sum($"xl" * $"xl").as("sxlxl"),
        sum($"y" * $"yl").as("syyl"),
        sum($"y" * $"xl").as("syxl"),
        sum($"yl" * $"xl").as("sylxl"))
      mom
        .withColumn("cyy", $"n" * $"syy" - $"sy" * $"sy")
        .withColumn("cll", $"n" * $"sylyl" - $"syl" * $"syl")
        .withColumn("cxx", $"n" * $"sxlxl" - $"sxl" * $"sxl")
        .withColumn("cyl", $"n" * $"syyl" - $"sy" * $"syl")
        .withColumn("cyx", $"n" * $"syxl" - $"sy" * $"sxl")
        .withColumn("clx", $"n" * $"sylxl" - $"syl" * $"sxl")
        .withColumn("det", $"cll".cast("double") * $"cxx".cast("double") -
          $"clx".cast("double") * $"clx".cast("double"))
        .filter($"n" >= 30 && $"cll" > 0L && $"cxx" > 0L &&
          ($"cll".cast("double") * $"cxx".cast("double") -
            $"clx".cast("double") * $"clx".cast("double")) > 0.0)
        .withColumn("b1",
          ($"cyl".cast("double") * $"cxx".cast("double") -
            $"cyx".cast("double") * $"clx".cast("double")) / $"det")
        .withColumn("b2",
          ($"cyx".cast("double") * $"cll".cast("double") -
            $"cyl".cast("double") * $"clx".cast("double")) / $"det")
        .withColumn("rss_u",
          $"cyy".cast("double") -
            ($"b1" * $"cyl".cast("double") + $"b2" * $"cyx".cast("double")))
        .withColumn("rss_r",
          $"cyy".cast("double") -
            $"cyl".cast("double") * $"cyl".cast("double") /
              $"cll".cast("double"))
        .withColumn("f_stat",
          when($"rss_u" > 0.0,
            ($"rss_r" - $"rss_u") * ($"n" - 3L).cast("double") / $"rss_u"))
        .withColumn("b2_micro", floor($"b2" * 1000000.0).cast("long"))
        .withColumn("mkt_leads",
          $"f_stat".isNotNull && $"f_stat" > lit(Chi2Crit1.toDouble))
        .select($"ticker", $"n", $"b2_micro", $"f_stat", $"mkt_leads")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH ${WindowFeatures.barsSql},
      rets AS (
        SELECT ticker, date,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS ret_milli
        FROM (
          SELECT ticker, date,
                 CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS close_c,
                 lag(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT), 1)
                   OVER (PARTITION BY ticker ORDER BY date) AS prev_c
          FROM bars)
        WHERE prev_c IS NOT NULL),
      mkt AS (
        SELECT date,
               ${speelDivSql("CAST(sum(ret_milli) AS BIGINT)",
                 "count(*)", "//")} AS mkt_milli
        FROM rets GROUP BY date HAVING count(*) >= 5),
      lagged AS (
        SELECT * FROM (
          SELECT r.ticker, r.date, r.ret_milli AS y,
                 lag(r.ret_milli, 1) OVER w AS yl,
                 lag(m.mkt_milli, 1) OVER w AS xl
          FROM rets r JOIN mkt m USING (date)
          WINDOW w AS (PARTITION BY r.ticker ORDER BY r.date))
        WHERE yl IS NOT NULL AND xl IS NOT NULL),
      mom AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(yl) AS BIGINT) AS syl,
               CAST(sum(xl) AS BIGINT) AS sxl,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(yl * yl) AS BIGINT) AS sylyl,
               CAST(sum(xl * xl) AS BIGINT) AS sxlxl,
               CAST(sum(y * yl) AS BIGINT) AS syyl,
               CAST(sum(y * xl) AS BIGINT) AS syxl,
               CAST(sum(yl * xl) AS BIGINT) AS sylxl
        FROM lagged GROUP BY ticker),
      cm AS (
        SELECT ticker, n,
               n * syy - sy * sy AS cyy,
               n * sylyl - syl * syl AS cll,
               n * sxlxl - sxl * sxl AS cxx,
               n * syyl - sy * syl AS cyl,
               n * syxl - sy * sxl AS cyx,
               n * sylxl - syl * sxl AS clx
        FROM mom),
      el AS (
        SELECT *, CAST(cll AS DOUBLE) * CAST(cxx AS DOUBLE)
                 - CAST(clx AS DOUBLE) * CAST(clx AS DOUBLE) AS det
        FROM cm
        WHERE n >= 30 AND cll > 0 AND cxx > 0
          AND CAST(cll AS DOUBLE) * CAST(cxx AS DOUBLE)
                - CAST(clx AS DOUBLE) * CAST(clx AS DOUBLE) > 0.0),
      ols AS (
        SELECT *,
               (CAST(cyl AS DOUBLE) * CAST(cxx AS DOUBLE)
                 - CAST(cyx AS DOUBLE) * CAST(clx AS DOUBLE)) / det AS b1,
               (CAST(cyx AS DOUBLE) * CAST(cll AS DOUBLE)
                 - CAST(cyl AS DOUBLE) * CAST(clx AS DOUBLE)) / det AS b2
        FROM el),
      rss AS (
        SELECT *,
               CAST(cyy AS DOUBLE)
                 - (b1 * CAST(cyl AS DOUBLE) + b2 * CAST(cyx AS DOUBLE))
                 AS rss_u,
               CAST(cyy AS DOUBLE)
                 - CAST(cyl AS DOUBLE) * CAST(cyl AS DOUBLE)
                   / CAST(cll AS DOUBLE) AS rss_r
        FROM ols),
      fs AS (
        SELECT *, CASE WHEN rss_u > 0.0
                 THEN (rss_r - rss_u) * CAST(n - 3 AS DOUBLE) / rss_u
                 END AS f_stat
        FROM rss)
      SELECT ticker, n,
             CAST(floor(b2 * 1000000.0) AS BIGINT) AS b2_micro, f_stat,
             f_stat IS NOT NULL AND f_stat > CAST('$Chi2Crit1' AS DOUBLE)
               AS mkt_leads
      FROM fs ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q283 — BIPOWER-VARIATION JUMP TEST (Barndorff-Nielsen & Shephard
  // 2004/2006): realized variance RV = Σ r² loads on BOTH diffusion and
  // jumps; bipower variation BV = (π/2)·Σ|r_t||r_{t-1}| is jump-robust
  // (a jump enters BV only multiplied by its continuous neighbors), so
  // the relative jump measure RJ = (RV − BV)/RV isolates the jump share
  // and the studentized z — with the quad-power quarticity
  // QP = Σ|r_t||r_{t-1}||r_{t-2}||r_{t-3}| estimating integrated
  // quarticity — rejects "no jumps" at the one-sided 95% normal point.
  //
  // Exactness: milli-returns WINSORIZED at ±[cap] (the q145 clamp
  // discipline — jump-robust estimators conventionally run on
  // error-cleaned returns, and the clamp is what bounds the quartic
  // moment: cap⁴·n = 2000⁴·2500 = 4·10¹⁶ < 2⁶³; the fixture's synthetic
  // tape has >100× overnight moves that would overflow the raw
  // quarticity). RV / BV-numerator / QP-numerator are exact BIGINT
  // sums; every π/μ₁ constant crosses as a shared string literal; the
  // z studentization is ONE fixed-order double expression. Eligibility
  // (n ≥ 30, rv > 0, bp > 0) tests exact integers.
  //
  // Scale: one ticker-window pass carrying three lags at the daily-bars
  // rollup grain (declared bound, silver-scan evidence), one
  // map-combinable aggregate — 1 row per ticker out.
  // ---------------------------------------------------------------------
  private val RetCap = 2000L // winsorization bound, milli-return units
  private val HalfPi = "1.5707963267948966" // pi/2 = 1/mu1^2
  private val Mu1m4 = "2.467401100272340" // mu1^-4 = pi^2/4
  private val ThetaBns = "0.609002227456602" // pi^2/4 + pi - 5
  private val Z95 = "1.6448536269514722" // one-sided 95% normal point

  private val q283 = QueryDef(
    "q283_bipower_jump",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("date")
      val rets = WindowFeatures.bars(spark, dir)
        .withColumn("close_c",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("ret_milli",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
        .withColumn("r", greatest(least($"ret_milli", lit(RetCap)),
          lit(-RetCap)))
        .withColumn("a", abs($"r"))
      val lagged = rets
        .withColumn("a1", lag($"a", 1).over(wT))
        .withColumn("a2", lag($"a", 2).over(wT))
        .withColumn("a3", lag($"a", 3).over(wT))
      val mom = lagged.groupBy($"ticker").agg(
        count(lit(1)).as("n"),
        sum($"r" * $"r").as("rv"),
        sum(when($"a1".isNotNull, $"a" * $"a1").otherwise(0L)).as("bp"),
        count($"a1").as("n_bp"),
        sum(when($"a3".isNotNull, $"a" * $"a1" * $"a2" * $"a3")
          .otherwise(0L)).as("qp"))
      mom.filter($"n" >= 30 && $"rv" > 0L && $"bp" > 0L)
        .withColumn("bv",
          lit(HalfPi.toDouble) * $"bp".cast("double"))
        .withColumn("rj", ($"rv".cast("double") - $"bv") /
          $"rv".cast("double"))
        .withColumn("iq_ratio",
          greatest(lit(1.0),
            lit(Mu1m4.toDouble) * $"qp".cast("double") *
              $"n_bp".cast("double") / ($"bv" * $"bv")))
        .withColumn("z_bns",
          $"rj" / sqrt(lit(ThetaBns.toDouble) * $"iq_ratio" /
            $"n_bp".cast("double")))
        .withColumn("rj_milli", floor($"rj" * 1000.0).cast("long"))
        .withColumn("jumps_rejected", $"z_bns" > lit(Z95.toDouble))
        .select($"ticker", $"n", $"rv", $"bp", $"qp", $"rj_milli",
          $"z_bns", $"jumps_rejected")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH ${WindowFeatures.barsSql},
      rets AS (
        SELECT ticker, date,
               greatest(least(
                 CAST(floor(CAST('1000.0' AS DOUBLE)
                   * CAST(close_c - prev_c AS DOUBLE)
                   / CAST(prev_c AS DOUBLE)) AS BIGINT), $RetCap),
                 -$RetCap) AS r
        FROM (
          SELECT ticker, date,
                 CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS close_c,
                 lag(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT), 1)
                   OVER (PARTITION BY ticker ORDER BY date) AS prev_c
          FROM bars)
        WHERE prev_c IS NOT NULL),
      lagged AS (
        SELECT ticker, r, abs(r) AS a,
               lag(abs(r), 1) OVER w AS a1,
               lag(abs(r), 2) OVER w AS a2,
               lag(abs(r), 3) OVER w AS a3
        FROM rets
        WINDOW w AS (PARTITION BY ticker ORDER BY date)),
      mom AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r * r) AS BIGINT) AS rv,
               CAST(sum(CASE WHEN a1 IS NOT NULL THEN a * a1 ELSE 0 END)
                 AS BIGINT) AS bp,
               CAST(count(a1) AS BIGINT) AS n_bp,
               CAST(sum(CASE WHEN a3 IS NOT NULL THEN a * a1 * a2 * a3
                 ELSE 0 END) AS BIGINT) AS qp
        FROM lagged GROUP BY ticker),
      st AS (
        SELECT *, CAST('$HalfPi' AS DOUBLE) * CAST(bp AS DOUBLE) AS bv
        FROM mom WHERE n >= 30 AND rv > 0 AND bp > 0),
      rj AS (
        SELECT *,
               (CAST(rv AS DOUBLE) - bv) / CAST(rv AS DOUBLE) AS rj,
               greatest(CAST('1.0' AS DOUBLE),
                 CAST('$Mu1m4' AS DOUBLE) * CAST(qp AS DOUBLE)
                   * CAST(n_bp AS DOUBLE) / (bv * bv)) AS iq_ratio
        FROM st),
      z AS (
        SELECT *, rj / sqrt(CAST('$ThetaBns' AS DOUBLE) * iq_ratio
                 / CAST(n_bp AS DOUBLE)) AS z_bns
        FROM rj)
      SELECT ticker, n, rv, bp, qp,
             CAST(floor(rj * 1000.0) AS BIGINT) AS rj_milli, z_bns,
             z_bns > CAST('$Z95' AS DOUBLE) AS jumps_rejected
      FROM z ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q289 — FORECAST CALIBRATION / BRIER RELIABILITY (Murphy 1973
  // decomposition; DeGroot–Fienberg calibration): does the momentum
  // signal's TRAIN-period up-probability actually hold out of sample?
  // Signal deciles are cut cross-sectionally per month (ntile over the
  // mon grain with the full (mom_r, ticker) tie-break — the q247
  // portfolio discipline); the TRAIN window (months before [split])
  // gives each decile its forecast probability p̂_k = milli-frequency of
  // up-moves, the TEST window gives the observed o_k, and the per-decile
  // reliability term n_k·(p̂_k − o_k)² — the Murphy decomposition's
  // calibration summand, and the reliability-diagram row (p̂ vs o) — is
  // an exact integer in milli² units. Had the probabilities been scored
  // in-sample, reliability would be identically zero (the decomposition
  // degenerates); the temporal split is what makes the readout honest.
  //
  // Exactness: counts and up-flags are exact integers; p̂/o are ONE
  // non-negative truncating division each; gaps and weighted squares
  // are exact BIGINTs. No floats anywhere.
  //
  // Scale: one mon-keyed ntile window (≤ |tickers| rows per cell,
  // declared bound), two map-combinable decile rollups (10 rows each),
  // one 10-row join — the output is dimension-sized by construction.
  // ---------------------------------------------------------------------
  private val CalSplit = "1996-01-01"

  private val q289 = QueryDef(
    "q289_calibration",
    (spark, dir) => {
      import spark.implicits._
      val sig = withSignal(mbars(spark, dir))
        .withColumn("up", ($"next_c" > $"close_c").cast("long"))
      val wDec = Window.partitionBy("mon").orderBy($"mom_r", $"ticker")
      val dec = sig.withColumn("decile", ntile(10).over(wDec).cast("long"))
      val train = dec.filter($"mon" < lit(CalSplit).cast("date"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_train"), sum($"up").as("n_up_train"))
        .withColumn("p_hat_milli", expr("(1000 * n_up_train) div n_train"))
      val test = dec.filter($"mon" >= lit(CalSplit).cast("date"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_test"), sum($"up").as("n_up_test"))
        .withColumn("o_milli", expr("(1000 * n_up_test) div n_test"))
      train.join(test, "decile")
        .withColumn("gap_milli", $"p_hat_milli" - $"o_milli")
        .withColumn("rel_term", $"n_test" * $"gap_milli" * $"gap_milli")
        .select($"decile", $"n_train", $"p_hat_milli", $"n_test",
          $"o_milli", $"gap_milli", $"rel_term")
        .orderBy($"decile")
    },
    Some(s"""
      WITH ${mbarsSql},
      $signalSql,
      up AS (
        SELECT *, CASE WHEN next_c > close_c THEN 1 ELSE 0 END AS up
        FROM sigr),
      dec AS (
        SELECT *, CAST(ntile(10) OVER (
            PARTITION BY mon ORDER BY mom_r, ticker) AS BIGINT) AS decile
        FROM up),
      train AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_train,
               (1000 * CAST(sum(up) AS BIGINT)) // count(*) AS p_hat_milli
        FROM dec WHERE mon < DATE '$CalSplit' GROUP BY decile),
      test AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_test,
               (1000 * CAST(sum(up) AS BIGINT)) // count(*) AS o_milli
        FROM dec WHERE mon >= DATE '$CalSplit' GROUP BY decile)
      SELECT tr.decile, tr.n_train, tr.p_hat_milli, te.n_test, te.o_milli,
             tr.p_hat_milli - te.o_milli AS gap_milli,
             te.n_test * (tr.p_hat_milli - te.o_milli)
               * (tr.p_hat_milli - te.o_milli) AS rel_term
      FROM train tr JOIN test te ON te.decile = tr.decile
      ORDER BY tr.decile"""))

  // ---------------------------------------------------------------------
  // q291 — NEWEY–WEST HAC T-STAT for the Fama–MacBeth premium (Newey &
  // West 1987; the Petersen 2009 standard-errors checklist): q262's
  // across-month t assumes i.i.d. monthly premia — autocorrelated γ_t
  // (momentum in the factor premium) understates the standard error and
  // overstates significance. The Bartlett-kernel long-run variance at
  // lag L = 3 fixes it:
  //   s4 := 4·n·Ŝ = 4·Γ₀ + 6·Γ₁ + 4·Γ₂ + 2·Γ₃   (exact BIGINT)
  // with Γ_l = Σ d_t·d_{t−l} over the centered micro-premium series.
  // Since Ŝ = s4/(4n) and SE(γ̄) = √(Ŝ/n) = √s4/(2n), the statistic is
  //   t_NW = γ̄ · 2n / √s4     as ONE fixed-order double expression
  // (zero autocorrelation ⇒ s4 = 4Γ₀ ⇒ t_NW = γ̄·n/√Γ₀, the ordinary
  // i.i.d. t — the reduction the driver-recompute spec pins).
  //
  // The lag products are WINDOW-FREE: the monthly series self-joins on
  // the CALENDAR month (mon = mon + l months — an equi-join), so no
  // global single-partition window exists anywhere in the plan (a
  // missing month simply drops its lag products — the calendar-lag
  // convention, documented divergence from index-lag NW on gapped
  // series; the fixture series is gap-free so they coincide).
  // Centering uses the sign-peeled integer mean; all Γ's are exact
  // BIGINTs (|d| ≤ ~10⁶ micro, n ≤ 10³ ⇒ Σd² < 10¹⁵). The Bartlett
  // estimate can be ≤ 0 on strongly negative autocovariance — t_NW is
  // NULL there (the estimator's documented failure mode), decided by an
  // exact integer predicate. variance_inflation_milli =
  // 1000·s4 div (4·Γ₀) is the long-run VARIANCE ratio Ω̂/γ̂₀ (the SE
  // inflation is its square root) the i.i.d. assumption hides.
  //
  // Scale: the γ series is |months|-sized (dimension grain) — three
  // broadcast self-joins and one 1-row rollup; everything upstream is
  // q262's two-pass shape unchanged.
  // ---------------------------------------------------------------------
  private val NwLag = 3

  private val q291 = QueryDef(
    "q291_newey_west",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
      val mkt = rets.groupBy($"mon")
        .agg(count(lit(1)).as("n_names"), sum($"y").as("s_ret"))
        .filter($"n_names" >= 5)
        .withColumn("x", expr(speelDivSql("s_ret", "n_names", "div")))
        .select($"mon", $"x")
      val betas = rets.join(broadcast(mkt), "mon")
        .groupBy($"ticker")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 24)
        .withColumn("beta_milli",
          floor(lit(1000.0) *
            ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).cast("long"))
        .select($"ticker", $"beta_milli")
      // r14 (guide §2.4): the γ series fed mu, d and — through d — BOTH
      // sides of all four lag self-joins: 8 lineage copies, each
      // re-executing the whole rets → mkt → betas → γ chain (the
      // before-plan held 296 Exchanges / 102 scans). Materialize the
      // |months|-row series once; everything downstream reads it.
      val gm = Scoped.materialize()(rets.join(broadcast(betas), "ticker")
        .groupBy($"mon")
        .agg(count(lit(1)).as("nn"), sum($"beta_milli").as("bx"),
          sum($"y").as("by"),
          sum($"beta_milli" * $"beta_milli").as("bxx"),
          sum($"beta_milli" * $"y").as("bxy"))
        .filter($"nn" >= 5)
        .withColumn("gamma_micro",
          floor(lit(1000000.0) *
            ($"nn" * $"bxy" - $"bx" * $"by").cast("double") /
            ($"nn" * $"bxx" - $"bx" * $"bx").cast("double")).cast("long"))
        .select($"mon", $"gamma_micro"))
      val mu = gm.agg(count(lit(1)).as("n_months"),
          sum($"gamma_micro").as("sg"))
        .withColumn("mu_micro", expr(speelDivSql("sg", "n_months", "div")))
        .select($"n_months", $"mu_micro")
      val d = gm.crossJoin(broadcast(mu))
        .select($"mon", ($"gamma_micro" - $"mu_micro").as("d"),
          $"n_months", $"mu_micro")
      val gammas = (0 to NwLag).map { l =>
        val dl = d.select($"mon".as("mon2"), $"d".as("d2"))
        d.join(dl, $"mon" === add_months($"mon2", l))
          .agg(sum($"d" * $"d2").as(s"g$l"))
      }
      val joined = gammas.reduce(_.crossJoin(_))
      mu.crossJoin(broadcast(joined))
        .withColumn("s4",
          lit(4L) * $"g0" + lit(6L) * $"g1" + lit(4L) * $"g2" +
            lit(2L) * $"g3")
        .withColumn("t_nw",
          when($"s4" > 0L,
            $"mu_micro".cast("double") * $"n_months".cast("double") * 2.0 /
              sqrt($"s4".cast("double"))))
        .withColumn("variance_inflation_milli",
          when($"g0" > 0L, expr(speelDivSql("1000 * s4", "4 * g0", "div"))))
        .select($"n_months", $"mu_micro", $"g0", $"g1", $"g2", $"g3",
          $"s4", $"t_nw", $"variance_inflation_milli")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT ticker, mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets),
      mkt AS (
        SELECT mon,
               ${speelDivSql("CAST(sum(y) AS BIGINT)", "count(*)", "//")}
                 AS x
        FROM rm GROUP BY mon HAVING count(*) >= 5),
      bm AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM rm JOIN mkt USING (mon)
        GROUP BY ticker HAVING count(*) >= 24),
      betas AS (
        SELECT ticker,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
                 AS beta_milli
        FROM bm),
      pm0 AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(beta_milli) AS BIGINT) AS bx,
               CAST(sum(y) AS BIGINT) AS by,
               CAST(sum(beta_milli * beta_milli) AS BIGINT) AS bxx,
               CAST(sum(beta_milli * y) AS BIGINT) AS bxy
        FROM rm JOIN betas USING (ticker)
        GROUP BY mon HAVING count(*) >= 5),
      gm AS (
        SELECT mon,
               CAST(floor(CAST('1000000.0' AS DOUBLE)
                 * CAST(nn * bxy - bx * by AS DOUBLE)
                 / CAST(nn * bxx - bx * bx AS DOUBLE)) AS BIGINT)
                 AS gamma_micro
        FROM pm0),
      mu AS (
        SELECT CAST(count(*) AS BIGINT) AS n_months,
               ${speelDivSql("CAST(sum(gamma_micro) AS BIGINT)",
                 "count(*)", "//")} AS mu_micro
        FROM gm),
      d AS (
        SELECT gm.mon, gm.gamma_micro - mu.mu_micro AS d
        FROM gm, mu),
      ${(0 to NwLag).map(l => s"""
      gam_$l AS (
        SELECT CAST(sum(a.d * b.d) AS BIGINT) AS g$l
        FROM d a JOIN d b ON a.mon = b.mon + INTERVAL $l MONTH)""")
        .mkString(",")},
      s AS (
        SELECT mu.n_months, mu.mu_micro, g0, g1, g2, g3,
               4 * g0 + 6 * g1 + 4 * g2 + 2 * g3 AS s4
        FROM mu, gam_0, gam_1, gam_2, gam_3)
      SELECT n_months, mu_micro, g0, g1, g2, g3, s4,
             CASE WHEN s4 > 0 THEN
               CAST(mu_micro AS DOUBLE) * CAST(n_months AS DOUBLE) * 2.0
                 / sqrt(CAST(s4 AS DOUBLE)) END AS t_nw,
             CASE WHEN g0 > 0 THEN
               ${speelDivSql("1000 * s4", "4 * g0", "//")} END
               AS variance_inflation_milli
      FROM s"""))

  // ---------------------------------------------------------------------
  // q295 — KRUSKAL–WALLIS RANK TEST (Kruskal & Wallis 1952) on the
  // day-of-week return effect: do the k weekday groups share one return
  // distribution, tested on RANKS (robust to the fat tails that break
  // the mean-based q270 calendar tests)? The distribution-free ANOVA —
  // H = 12/(N(N+1))·Σ R̄²_g·n_g-form — with the exact tie correction
  // C = 1 − ΣT/(N³−N).
  //
  // The rank pass NEVER sorts the corpus: milli returns live on a small
  // VALUE-DOMAIN grid (the q135/q144 discipline), so mid-ranks come
  // from a prefix sum over the |distinct values| grid — doubled to stay
  // integer (midrank2 = 2·before + cnt + 1), making every per-group
  // rank sum an exact BIGINT. Day-of-week is epoch-day arithmetic
  // ((days + 4) % 7, 0 = Sunday) — no engine-varying dow() builtin.
  // The 7 groups pivot into ONE row of exact integers and H, the tie
  // correction, and the χ²(k−1) comparison (critical value CASEd on
  // the OBSERVED group count, each quantile a shared string literal)
  // are one fixed-order double expression — bit-identical cross-engine.
  //
  // Scale: one map-combinable grid rollup (|grid| rows), one prefix
  // sum over the grid (global window DECLARED exempt: value-domain
  // sized), one broadcast midrank join back, one 7-group rollup.
  // ---------------------------------------------------------------------
  private val Chi2ByDf: Map[Int, String] = Map(
    1 -> "3.841458820694124", 2 -> "5.991464547107979",
    3 -> "7.814727903251179", 4 -> "9.487729036781154",
    5 -> "11.070497693516351", 6 -> "12.591587243743977")

  private val q295 = QueryDef(
    "q295_kruskal_wallis",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("date")
      val rets = WindowFeatures.bars(spark, dir)
        .withColumn("close_c",
          ($"close".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("ret_milli",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
        .withColumn("dow",
          expr("(datediff(date, DATE '1970-01-01') + 4) % 7").cast("long"))
      val grid = rets.groupBy($"ret_milli").agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy($"ret_milli")
        .rowsBetween(Window.unboundedPreceding, -1)
      val mr = grid
        .withColumn("before", coalesce(sum($"cnt").over(wv), lit(0L)))
        .withColumn("midrank2", lit(2L) * $"before" + $"cnt" + 1L)
        .select($"ret_milli", $"midrank2")
      val ties = grid.agg(
        sum($"cnt" * $"cnt" * $"cnt" - $"cnt").as("tsum"),
        sum($"cnt").as("bign"))
      val g = rets.join(broadcast(mr), "ret_milli")
        .groupBy($"dow")
        .agg(count(lit(1)).as("n_g"), sum($"midrank2").as("r2_g"))
      val pivCols = (0 to 6).flatMap { d =>
        Seq(coalesce(sum(when($"dow" === d, $"n_g")), lit(0L)).as(s"n$d"),
          coalesce(sum(when($"dow" === d, $"r2_g")), lit(0L)).as(s"r$d"))
      }
      val piv = g.agg(pivCols.head, pivCols.tail: _*)
        .crossJoin(broadcast(ties))
      val termSql = (0 to 6).map(d =>
        s"(CASE WHEN n$d > 0 THEN CAST(r$d AS DOUBLE) * CAST(r$d AS DOUBLE)" +
          s" / CAST(n$d AS DOUBLE) ELSE 0.0 END)").mkString(" + ")
      val nGroupsSql = (0 to 6).map(d =>
        s"(CASE WHEN n$d > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val critSql = "CASE " + (2 to 7).map(k =>
        s"WHEN n_groups = $k THEN CAST('${Chi2ByDf(k - 1)}' AS DOUBLE)")
        .mkString(" ") + " END"
      val summary = piv
        .withColumn("n_groups", expr(nGroupsSql).cast("long"))
        .withColumn("h_stat", expr(
          s"12.0 / (CAST(bign AS DOUBLE) * CAST(bign + 1 AS DOUBLE))" +
            s" * ($termSql) / 4.0 - 3.0 * CAST(bign + 1 AS DOUBLE)"))
        .withColumn("tie_c", expr(
          "1.0 - CAST(tsum AS DOUBLE) / (CAST(bign AS DOUBLE)" +
            " * CAST(bign AS DOUBLE) * CAST(bign AS DOUBLE)" +
            " - CAST(bign AS DOUBLE))"))
        .withColumn("h_tie",
          when($"tie_c" > 0.0, $"h_stat" / $"tie_c"))
        .withColumn("crit", expr(critSql))
        .withColumn("kw_rejected",
          $"h_tie".isNotNull && $"crit".isNotNull && $"h_tie" > $"crit")
        .select($"bign".as("n_total"), $"n_groups", $"tsum", $"h_stat",
          $"h_tie", $"kw_rejected")
      g.withColumn("mean_rank_milli", expr("(500 * r2_g) div n_g"))
        .crossJoin(broadcast(summary))
        .select($"dow", $"n_g", $"r2_g", $"mean_rank_milli", $"n_total",
          $"n_groups", $"tsum", $"h_stat", $"h_tie", $"kw_rejected")
        .orderBy($"dow")
    },
    Some {
      val termSql = (0 to 6).map(d =>
        s"(CASE WHEN n$d > 0 THEN CAST(r$d AS DOUBLE) * CAST(r$d AS DOUBLE)" +
          s" / CAST(n$d AS DOUBLE) ELSE 0.0 END)").mkString(" + ")
      val nGroupsSql = (0 to 6).map(d =>
        s"(CASE WHEN n$d > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val pivSql = (0 to 6).map(d =>
        s"COALESCE(CAST(sum(CASE WHEN dow = $d THEN n_g END) AS BIGINT), 0) AS n$d," +
          s" COALESCE(CAST(sum(CASE WHEN dow = $d THEN r2_g END) AS BIGINT), 0) AS r$d")
        .mkString(", ")
      val critSql = "CASE " + (2 to 7).map(k =>
        s"WHEN n_groups = $k THEN CAST('${Chi2ByDf(k - 1)}' AS DOUBLE)")
        .mkString(" ") + " END"
      s"""
      WITH ${WindowFeatures.barsSql},
      rets AS (
        SELECT ticker, date,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS ret_milli,
               CAST((date - DATE '1970-01-01' + 4) % 7 AS BIGINT) AS dow
        FROM (
          SELECT ticker, date,
                 CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT) AS close_c,
                 lag(CAST(CAST(close AS DECIMAL(28,2)) * 100 AS BIGINT), 1)
                   OVER (PARTITION BY ticker ORDER BY date) AS prev_c
          FROM bars)
        WHERE prev_c IS NOT NULL),
      grid AS (
        SELECT ret_milli, CAST(count(*) AS BIGINT) AS cnt
        FROM rets GROUP BY 1),
      mr AS (
        SELECT ret_milli,
               2 * COALESCE(CAST(sum(cnt) OVER (ORDER BY ret_milli
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) + cnt + 1 AS midrank2
        FROM grid),
      ties AS (
        SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum,
               CAST(sum(cnt) AS BIGINT) AS bign
        FROM grid),
      g AS (
        SELECT r.dow, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(m.midrank2) AS BIGINT) AS r2_g
        FROM rets r JOIN mr m ON m.ret_milli = r.ret_milli
        GROUP BY 1),
      piv AS (SELECT $pivSql FROM g),
      summ AS (
        SELECT ties.bign AS n_total, $nGroupsSql AS n_groups, ties.tsum,
               12.0 / (CAST(ties.bign AS DOUBLE)
                 * CAST(ties.bign + 1 AS DOUBLE))
                 * ($termSql) / 4.0
                 - 3.0 * CAST(ties.bign + 1 AS DOUBLE) AS h_stat,
               1.0 - CAST(ties.tsum AS DOUBLE) / (CAST(ties.bign AS DOUBLE)
                 * CAST(ties.bign AS DOUBLE) * CAST(ties.bign AS DOUBLE)
                 - CAST(ties.bign AS DOUBLE)) AS tie_c
        FROM piv, ties),
      s2 AS (
        SELECT n_total, CAST(n_groups AS BIGINT) AS n_groups, tsum, h_stat,
               CASE WHEN tie_c > 0.0 THEN h_stat / tie_c END AS h_tie
        FROM summ),
      s3 AS (
        SELECT *, $critSql AS crit FROM s2)
      SELECT g.dow, g.n_g, g.r2_g, (500 * g.r2_g) // g.n_g AS mean_rank_milli,
             s3.n_total, s3.n_groups, s3.tsum, s3.h_stat, s3.h_tie,
             s3.h_tie IS NOT NULL AND s3.crit IS NOT NULL
               AND s3.h_tie > s3.crit AS kw_rejected
      FROM g, s3 ORDER BY g.dow"""
    })

  // ---------------------------------------------------------------------
  // q297 — MANN–KENDALL TREND TEST + SEN'S SLOPE (Mann 1945, Kendall
  // 1975; Sen 1968): the nonparametric trend detector — S = Σ_{i<j}
  // sign(c_j − c_i) over all month pairs per ticker, variance with the
  // exact tie correction [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
  // continuity-corrected z — plus Sen's slope, the median of all
  // pairwise slopes, the robust trend magnitude OLS can't give (one
  // outlier month moves OLS, not the median). Rank/sign-based, so it
  // fits the exact-integer discipline end to end: S and the variance
  // numerator are exact BIGINTs, pair slopes are micro-quantized by ONE
  // sign-peeled division each, and the median is the LOWER-median order
  // statistic (rank (m+1)/2 with the full (slope, i, j) tie-break —
  // no interpolation, documented).
  //
  // Scale: pairs live at the MONTHLY grain — |months|²/2 ≈ 3.5k rows
  // per ticker (dimension-sized, the q250 blocked-pair budget), from a
  // self-join of the monthly_bars silver; the median rank is a
  // ticker-keyed window whose cells are those same pair counts
  // (silver-scan rollup evidence). Everything aggregates map-side.
  // ---------------------------------------------------------------------
  private val Z95TwoSided = "1.959963984540054"

  private val q297 = QueryDef(
    "q297_mann_kendall",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val m = mbars(spark, dir)
        .withColumn("idx", row_number().over(wT).cast("long"))
        .select($"ticker", $"idx", $"close_c")
      val pairs = m.as("a").join(m.as("b"),
          col("a.ticker") === col("b.ticker") && col("a.idx") < col("b.idx"))
        .select(col("a.ticker").as("ticker"),
          col("a.idx").as("ia"), col("b.idx").as("ib"),
          col("a.close_c").as("ca"), col("b.close_c").as("cb"))
        .withColumn("sgn",
          when($"cb" > $"ca", 1L).when($"cb" < $"ca", -1L).otherwise(0L))
        .withColumn("slope_micro",
          expr(speelDivSql("1000000 * (cb - ca)", "ib - ia", "div")))
      val s = pairs.groupBy($"ticker")
        .agg(sum($"sgn").as("s_mk"), count(lit(1)).as("m_pairs"))
      val nt = mbars(spark, dir).groupBy($"ticker")
        .agg(count(lit(1)).as("n"))
      val ties = mbars(spark, dir).groupBy($"ticker", $"close_c")
        .agg(count(lit(1)).as("t"))
        .groupBy($"ticker")
        .agg(sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)).as("tie_sum"))
      val wMed = Window.partitionBy("ticker")
        .orderBy($"slope_micro", $"ia", $"ib")
      // (r13 note: a one-pass restructure — S as a full-partition window
      // next to the median rank — measured SLOWER (6.1 s vs 4.1 s): the
      // "two" pair subtrees already share one physical Exchange via
      // ReuseExchange, so the rewrite only added an unbounded-frame
      // window pass buffering the O(months²) pair partition. Kept as-is.)
      val sen = pairs
        .withColumn("rn", row_number().over(wMed).cast("long"))
        .withColumn("m2", count(lit(1))
          .over(Window.partitionBy("ticker")))
        .filter($"rn" === expr("(m2 + 1) div 2"))
        .select($"ticker", $"slope_micro".as("sen_micro"))
      s.join(nt, "ticker").join(ties, "ticker").join(sen, "ticker")
        .filter($"n" >= 24)
        .withColumn("var18",
          $"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L) - $"tie_sum")
        .withColumn("z_mk",
          when($"s_mk" > 0L,
            ($"s_mk" - 1L).cast("double") /
              sqrt($"var18".cast("double") / 18.0))
            .when($"s_mk" < 0L,
              ($"s_mk" + 1L).cast("double") /
                sqrt($"var18".cast("double") / 18.0))
            .otherwise(lit(0.0)))
        .withColumn("trending",
          abs($"z_mk") > lit(Z95TwoSided.toDouble))
        .select($"ticker", $"n", $"s_mk", $"var18", $"sen_micro", $"z_mk",
          $"trending")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $mbarsSql,
      m AS (
        SELECT ticker, close_c,
               CAST(row_number() OVER (PARTITION BY ticker ORDER BY mon)
                 AS BIGINT) AS idx
        FROM mbars),
      pairs AS (
        SELECT a.ticker, a.idx AS ia, b.idx AS ib,
               a.close_c AS ca, b.close_c AS cb,
               CASE WHEN b.close_c > a.close_c THEN 1
                    WHEN b.close_c < a.close_c THEN -1 ELSE 0 END AS sgn,
               ${speelDivSql("1000000 * (b.close_c - a.close_c)",
                 "b.idx - a.idx", "//")} AS slope_micro
        FROM m a JOIN m b ON a.ticker = b.ticker AND a.idx < b.idx),
      s AS (
        SELECT ticker, CAST(sum(sgn) AS BIGINT) AS s_mk,
               CAST(count(*) AS BIGINT) AS m_pairs
        FROM pairs GROUP BY ticker),
      nt AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n
        FROM mbars GROUP BY ticker),
      ties AS (
        SELECT ticker,
               CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
        FROM (SELECT ticker, close_c, CAST(count(*) AS BIGINT) AS t
              FROM mbars GROUP BY 1, 2)
        GROUP BY ticker),
      med AS (
        SELECT ticker, slope_micro AS sen_micro FROM (
          SELECT ticker, slope_micro,
                 row_number() OVER (PARTITION BY ticker
                   ORDER BY slope_micro, ia, ib) AS rn,
                 count(*) OVER (PARTITION BY ticker) AS m2
          FROM pairs)
        WHERE rn = (m2 + 1) // 2),
      j AS (
        SELECT s.ticker, nt.n, s.s_mk, med.sen_micro,
               nt.n * (nt.n - 1) * (2 * nt.n + 5) - ties.tie_sum AS var18
        FROM s JOIN nt USING (ticker) JOIN ties USING (ticker)
        JOIN med USING (ticker)
        WHERE nt.n >= 24),
      z AS (
        SELECT *, CASE WHEN s_mk > 0
                 THEN CAST(s_mk - 1 AS DOUBLE)
                   / sqrt(CAST(var18 AS DOUBLE) / 18.0)
               WHEN s_mk < 0
                 THEN CAST(s_mk + 1 AS DOUBLE)
                   / sqrt(CAST(var18 AS DOUBLE) / 18.0)
               ELSE 0.0 END AS z_mk
        FROM j)
      SELECT ticker, n, s_mk, var18, sen_micro, z_mk,
             abs(z_mk) > CAST('$Z95TwoSided' AS DOUBLE) AS trending
      FROM z ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q298 — CORRELATION CLUSTERING of the universe: the risk-model block
  // structure — connect same-region ticker pairs whose monthly-RETURN
  // correlation is ≥ 0.3 over ≥ 24 shared months (the synthetic tape has
  // no planted factor structure, so the screen reads noise-level
  // co-movement — the threshold exercises the mechanism; a real tape
  // would set it at 0.6+), then take connected
  // components; the clusters are the "moves together" blocks a
  // portfolio constructor diversifies across and q250's pair screen
  // trades within. Distinct from q250: returns (not price levels — a
  // common drift correlates LEVELS of everything), full component
  // structure (not a top-10 screen).
  //
  // Exactness: the ten pair moments are exact BIGINTs (milli returns
  // over ≤ |months| rows), the corr threshold is ONE fixed-order
  // double comparison, intra-cluster mean correlation aggregates
  // floor-milli integers, and the component labels come from
  // Dedup.connectedComponents (min-label fixpoint, converged or throw).
  //
  // Scale: pair generation is REGION-BLOCKED (|universe/region|² per
  // block, the q250/q227 discipline) at the monthly grain off the
  // monthly_bars silver; component iterations are the q72 Pregel-class
  // loop; the census is a label rollup.
  // ---------------------------------------------------------------------
  private val CorrEdgeMin = "0.3"

  /** q298's stage-1 pair generator, shared with the hot-region replay in
    * ScaleBehaviorSpec: same-(region, month) ticker pairs (i < j) with
    * both legs' milli returns. The declared JoinFanoutBounds contract:
    * one (reg, mon) cell emits EXACTLY |cell|·(|cell|−1)/2 pairs and no
    * cross-region pair exists — pair volume is quadratic in the ticker
    * UNIVERSE dimension, linear in nothing else.
    */
  private[graft] def regionBlockedPairs(rets: DataFrame): DataFrame = {
    import rets.sparkSession.implicits._
    rets.as("a").join(rets.as("b"),
        col("a.reg") === col("b.reg") && col("a.mon") === col("b.mon") &&
          col("a.ticker") < col("b.ticker"))
      .select(col("a.reg").as("reg"), col("a.mon").as("mon"),
        col("a.ticker").as("i"), col("b.ticker").as("j"),
        col("a.y").as("x"), col("b.y").as("y"))
  }

  private val q298 = QueryDef(
    "q298_corr_clusters",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val sup = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("ticker"), $"n_regionkey".as("reg"))
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
        .join(broadcast(sup), "ticker")
        .select($"reg", $"mon", $"ticker", $"y")
      val edges = regionBlockedPairs(rets).groupBy($"i", $"j")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 24 &&
          ($"n" * $"sxx" - $"sx" * $"sx") > 0L &&
          ($"n" * $"syy" - $"sy" * $"sy") > 0L)
        .withColumn("corr",
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
              ($"n" * $"syy" - $"sy" * $"sy").cast("double")))
        .filter($"corr" >= lit(CorrEdgeMin.toDouble))
        .withColumn("corr_milli", floor($"corr" * 1000.0).cast("long"))
        .select($"i", $"j", $"corr_milli")
      // r13 OPTIMIZATION (guide §2.4): the pair screen feeds BOTH the
      // component loop and the intra-cluster census join — as two
      // lineage copies of `edges` it EXECUTED TWICE per run (once
      // materialized inside connectedComponents, once live in the final
      // plan). Materialize the ≤|screened pairs| edge rows once; both
      // consumers read the parquet back. Values unchanged; hash-gated.
      val edgesM = Scoped.materialize()(edges)
      val labels = Dedup.connectedComponents(edgesM.select($"i", $"j"))
      val census = labels.groupBy($"label".as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max($"node").as("max_ticker"))
      val intra = edgesM
        .join(labels.select($"node".as("i"), $"label".as("cluster_id")),
          Seq("i"))
        .groupBy($"cluster_id")
        .agg(count(lit(1)).as("n_edges"),
          sum($"corr_milli").as("sum_corr_milli"))
        .withColumn("mean_corr_milli",
          expr("sum_corr_milli div n_edges"))
      census.join(intra, Seq("cluster_id"))
        .select($"cluster_id", $"n_members", $"max_ticker", $"n_edges",
          $"mean_corr_milli")
        .orderBy($"cluster_id")
    },
    Some(s"""
      WITH RECURSIVE $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT n.n_regionkey AS reg, r.mon, r.ticker,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(r.close_c - r.prev_c AS DOUBLE)
                 / CAST(r.prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets r
        JOIN supplier s ON r.ticker = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey),
      mom AS (
        SELECT a.ticker AS i, b.ticker AS j,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.y) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy,
               CAST(sum(a.y * a.y) AS BIGINT) AS sxx,
               CAST(sum(b.y * b.y) AS BIGINT) AS syy,
               CAST(sum(a.y * b.y) AS BIGINT) AS sxy
        FROM rm a JOIN rm b
          ON a.reg = b.reg AND a.mon = b.mon AND a.ticker < b.ticker
        GROUP BY 1, 2),
      ed AS (
        SELECT i, j,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
        FROM mom
        WHERE n >= 24 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
      edges AS (
        SELECT i, j, CAST(floor(corr * 1000.0) AS BIGINT) AS corr_milli
        FROM ed WHERE corr >= CAST('$CorrEdgeMin' AS DOUBLE)),
      cedges AS (SELECT i, j FROM edges UNION SELECT j, i FROM edges),
      cnodes AS (SELECT DISTINCT i AS node FROM cedges),
      reach(a, b) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT r.a, e.j FROM reach r JOIN cedges e ON e.i = r.b),
      labeled AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a),
      census AS (
        SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
               max(node) AS max_ticker
        FROM labeled GROUP BY 1),
      intra AS (
        SELECT l.label AS cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(e.corr_milli) AS BIGINT) AS sum_corr_milli
        FROM edges e JOIN labeled l ON l.node = e.i
        GROUP BY 1)
      SELECT c.cluster_id, c.n_members, c.max_ticker, i.n_edges,
             i.sum_corr_milli // i.n_edges AS mean_corr_milli
      FROM census c JOIN intra i USING (cluster_id)
      ORDER BY c.cluster_id"""))

  // ---------------------------------------------------------------------
  // q300 — INVERSE-VOLATILITY PORTFOLIO CONSTRUCTION (naive risk
  // parity; DeMiguel–Garlappi–Uppal 2009's robust-beats-optimized
  // lesson): weight each eligible name ∝ 1/σ of its monthly returns,
  // hold the portfolio, and read its realized volatility against the
  // equal-weight benchmark over the same universe — the construction
  // operator between the signal layer (q247 sorts) and the risk layer
  // (q294 tails).
  //
  // Exactness: per-ticker variance numerators are exact BIGINTs;
  // σ-micro is ONE fixed-order double + floor; inverse weights are
  // integers, and the weight vector sums to EXACTLY 10⁶ via
  // largest-remainder apportionment (the q134 token-budget
  // discipline — floor allocations + remainder-ranked top-ups, full
  // (remainder, ticker) tie-break). Monthly portfolio returns are
  // exact Σ w·y BIGINTs with ONE sign-peeled division to milli; the
  // vol comparison aggregates exact integer moments and finishes in
  // one double expression.
  //
  // Scale: one ticker rollup (exact moments), a |universe|-row
  // allocation frame (largest-remainder window DECLARED exempt —
  // dimension-sized, the q134 row), weights broadcast back onto the
  // monthly silver, one mon-keyed rollup, a 1-row summary broadcast.
  // ---------------------------------------------------------------------
  private val q300 = QueryDef(
    "q300_inverse_vol",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rm = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
        .select($"ticker", $"mon", $"y")
      val vols = rm.groupBy($"ticker")
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
          sum($"y" * $"y").as("syy"))
        .filter($"n" >= 24 && ($"n" * $"syy" - $"sy" * $"sy") > 0L)
        .withColumn("vol_micro",
          floor(lit(1000000.0) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double") /
              ($"n" * ($"n" - 1L)).cast("double"))).cast("long"))
        .withColumn("inv", expr("1000000000000 div greatest(vol_micro, 1)"))
      val tot = vols.agg(sum($"inv").as("total_inv"))
      val alloc = vols.crossJoin(broadcast(tot))
        .withColumn("floor_w", expr("(1000000 * inv) div total_inv"))
        .withColumn("rem", expr("(1000000 * inv) % total_inv"))
      val leftover = alloc.agg(
        (lit(1000000L) - sum($"floor_w")).as("leftover"))
      val wRem = Window.orderBy($"rem".desc, $"ticker")
      val weights = alloc.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(wRem).cast("long"))
        .withColumn("w_micro",
          $"floor_w" + when($"rk" <= $"leftover", 1L).otherwise(0L))
        .select($"ticker", $"vol_micro", $"w_micro")
      val monthly = rm.join(broadcast(weights), "ticker")
        .groupBy($"mon")
        .agg(count(lit(1)).as("n_names"),
          sum($"w_micro" * $"y").as("port_num"),
          sum($"y").as("sum_y"))
        .withColumn("port_milli",
          expr(speelDivSql("port_num", "1000000", "div")))
        .withColumn("ew_milli", expr(speelDivSql("sum_y", "n_names", "div")))
      val summ = monthly.agg(
        count(lit(1)).as("n_months"),
        sum($"port_milli").as("sp"),
        sum($"port_milli" * $"port_milli").as("spp"),
        sum($"ew_milli").as("se"),
        sum($"ew_milli" * $"ew_milli").as("see"))
        .withColumn("iv_vol",
          sqrt(($"n_months" * $"spp" - $"sp" * $"sp").cast("double") /
            ($"n_months" * ($"n_months" - 1L)).cast("double")))
        .withColumn("ew_vol",
          sqrt(($"n_months" * $"see" - $"se" * $"se").cast("double") /
            ($"n_months" * ($"n_months" - 1L)).cast("double")))
        .withColumn("vol_ratio_milli",
          floor(lit(1000.0) * $"iv_vol" / $"ew_vol").cast("long"))
        .select($"n_months", $"iv_vol", $"ew_vol", $"vol_ratio_milli")
      monthly.select($"mon", $"n_names", $"port_milli", $"ew_milli")
        .crossJoin(broadcast(summ))
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql,
      rm AS (
        SELECT ticker, mon,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      vols AS (
        SELECT ticker,
               CAST(floor(CAST('1000000.0' AS DOUBLE)
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                   / CAST(n * (n - 1) AS DOUBLE))) AS BIGINT) AS vol_micro
        FROM (
          SELECT ticker, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM rm GROUP BY ticker)
        WHERE n >= 24 AND n * syy - sy * sy > 0),
      iv AS (
        SELECT ticker, vol_micro,
               1000000000000 // greatest(vol_micro, 1) AS inv
        FROM vols),
      tot AS (SELECT CAST(sum(inv) AS BIGINT) AS total_inv FROM iv),
      alloc AS (
        SELECT iv.ticker, iv.inv,
               (1000000 * iv.inv) // tot.total_inv AS floor_w,
               (1000000 * iv.inv) % tot.total_inv AS rem
        FROM iv, tot),
      lo AS (
        SELECT 1000000 - CAST(sum(floor_w) AS BIGINT) AS leftover
        FROM alloc),
      weights AS (
        SELECT a.ticker,
               a.floor_w + CASE WHEN row_number() OVER (
                   ORDER BY a.rem DESC, a.ticker) <= lo.leftover
                 THEN 1 ELSE 0 END AS w_micro
        FROM alloc a, lo),
      monthly AS (
        SELECT rm.mon, CAST(count(*) AS BIGINT) AS n_names,
               CAST(sum(w.w_micro * rm.y) AS BIGINT) AS port_num,
               CAST(sum(rm.y) AS BIGINT) AS sum_y
        FROM rm JOIN weights w ON w.ticker = rm.ticker
        GROUP BY rm.mon),
      m2 AS (
        SELECT mon, n_names,
               ${speelDivSql("port_num", "1000000", "//")} AS port_milli,
               ${speelDivSql("sum_y", "n_names", "//")} AS ew_milli
        FROM monthly),
      summ AS (
        SELECT CAST(count(*) AS BIGINT) AS n_months,
               CAST(sum(port_milli) AS BIGINT) AS sp,
               CAST(sum(port_milli * port_milli) AS BIGINT) AS spp,
               CAST(sum(ew_milli) AS BIGINT) AS se,
               CAST(sum(ew_milli * ew_milli) AS BIGINT) AS see
        FROM m2),
      sv AS (
        SELECT n_months,
               sqrt(CAST(n_months * spp - sp * sp AS DOUBLE)
                 / CAST(n_months * (n_months - 1) AS DOUBLE)) AS iv_vol,
               sqrt(CAST(n_months * see - se * se AS DOUBLE)
                 / CAST(n_months * (n_months - 1) AS DOUBLE)) AS ew_vol
        FROM summ)
      SELECT m2.mon, m2.n_names, m2.port_milli, m2.ew_milli,
             sv.n_months, sv.iv_vol, sv.ew_vol,
             CAST(floor(CAST('1000.0' AS DOUBLE) * sv.iv_vol / sv.ew_vol)
               AS BIGINT) AS vol_ratio_milli
      FROM m2, sv ORDER BY m2.mon"""))

  // ---------------------------------------------------------------------
  // q305 — ORNSTEIN-UHLENBECK MEAN-REVERSION HALF-LIFE: the pairs/stat-
  // arb sizing constant — regress the monthly close CHANGE on the lagged
  // close level (Δp_t = a + b·p_{t−1} + ε, the discrete OU estimator);
  // b < 0 means deviations decay and the half-life is −ln 2 / ln(1+b)
  // months. All regression moments are exact BIGINTs over cents at
  // MONTHLY grain (|months| rows per ticker off the monthly_bars
  // silver); b and the half-life are ONE fixed-order double expression
  // each, and the half-life is NULL outside the contraction domain
  // −1 < b < 0 (random-walk-or-worse, the estimator's documented
  // failure mode) — decided by the b expression both engines share.
  // Scale: one lag window at rollup grain + one per-ticker rollup.
  // ---------------------------------------------------------------------
  /** −1000·ln 2 precomputed once in Scala so BOTH engines parse the same
    * shortest-roundtrip double literal (a raw `-1000.0 * 0.693…` in
    * DuckDB SQL would be DECIMAL arithmetic and overflow).
    */
  private val NegMilliLn2: Double = -1000.0 * math.log(2.0)

  private val q305 = QueryDef(
    "q305_ou_halflife",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val d = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .select($"ticker", $"prev_c".as("x"), ($"close_c" - $"prev_c").as("y"))
      d.groupBy($"ticker")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 24 && ($"n" * $"sxx" - $"sx" * $"sx") > 0L)
        .withColumn("b",
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double"))
        .withColumn("b_micro", floor($"b" * 1000000.0).cast("long"))
        .withColumn("mean_reverting", $"b" < 0.0)
        .withColumn("halflife_milli",
          when($"b" < 0.0 && $"b" > -1.0,
            floor(lit(NegMilliLn2) / log($"b" + 1.0)).cast("long")))
        .select($"ticker", $"n", $"b_micro", $"mean_reverting",
          $"halflife_milli")
        .orderBy($"ticker")
    },
    Some(s"""
      WITH $mbarsSql,
      d AS (
        SELECT ticker, prev_c AS x, close_c - prev_c AS y FROM (
          SELECT ticker, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      m AS (
        SELECT ticker, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM d GROUP BY ticker
        HAVING count(*) >= 24 AND
               CAST(count(*) AS BIGINT) * sum(x * x) - sum(x) * sum(x) > 0),
      b AS (
        SELECT ticker, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) AS b
        FROM m)
      SELECT ticker, n, CAST(floor(b * 1000000.0) AS BIGINT) AS b_micro,
             b < 0.0 AS mean_reverting,
             CASE WHEN b < 0.0 AND b > -1.0 THEN
               CAST(floor(CAST('$NegMilliLn2' AS DOUBLE) / ln(b + 1.0))
                 AS BIGINT)
             END AS halflife_milli
      FROM b ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q306 — HURST EXPONENT via RESCALED RANGE (Hurst 1951; Mandelbrot–
  // Wallis R/S analysis): the long-memory diagnostic — H ≈ 0.5 for a
  // random walk, > 0.5 trending, < 0.5 mean-reverting. Per ticker the
  // monthly milli-return series splits into consecutive blocks of size
  // n ∈ {8, 16, 32} (block id = (idx−1) div n at MONTHLY grain); within
  // a block the cumulative deviation is kept EXACT by scaling by the
  // block length m (cumdev_k·m = m·Σ_{j≤k} y_j − k·S, a BIGINT), so
  // R = (max − min)/m and S = sample σ from exact moments are each ONE
  // double; per-block R/S is floor-quantized to micro BEFORE averaging
  // (integer mean — order-invariant, the house no-float-agg rule), and
  // H is the 3-point least-squares slope of ln(RS) on ln(n), pivoted
  // into one row per ticker (the q295 pivot discipline) and finished in
  // one fixed-order double expression.
  // Scale: windows and rollups all at the (ticker, block) monthly
  // grain; the pivot is 3 rows → 1 per ticker. No corpus-sized state.
  // ---------------------------------------------------------------------
  private val HurstSizes = Seq(8, 16, 32)

  private val q306 = QueryDef(
    "q306_hurst_rs",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
        .withColumn("idx", row_number().over(wT).cast("long"))
        .select($"ticker", $"idx", $"y")
      val perSize = HurstSizes.map { n =>
        val blocks = rets
          .withColumn("blk", expr(s"(idx - 1) div $n"))
          .withColumn("k", expr(s"((idx - 1) % $n) + 1"))
        // only FULL blocks: the trailing partial block would bias RS
        val full = blocks.groupBy($"ticker", $"blk")
          .agg(count(lit(1)).as("m"), sum($"y").as("s"),
            sum($"y" * $"y").as("syy"))
          .filter($"m" === n.toLong)
        val wB = Window.partitionBy("ticker", "blk").orderBy("k")
        val cum = blocks
          .withColumn("cy", sum($"y").over(
            wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(full, Seq("ticker", "blk"))
          .withColumn("dev_m", lit(n.toLong) * $"cy" - $"k" * $"s")
        cum.groupBy($"ticker", $"blk", $"m", $"s", $"syy")
          .agg(max($"dev_m").as("mx"), min($"dev_m").as("mn"))
          .filter($"m" * $"syy" - $"s" * $"s" > 0L)
          .withColumn("sigma",
            sqrt(($"m" * $"syy" - $"s" * $"s").cast("double") /
              ($"m" * ($"m" - 1L)).cast("double")))
          .withColumn("rs_micro",
            floor(lit(1000000.0) *
              (($"mx" - $"mn").cast("double") / n.toDouble) / $"sigma")
              .cast("long"))
          .groupBy($"ticker")
          .agg(count(lit(1)).as(s"nb$n"),
            sum($"rs_micro").as(s"srs$n"))
          .withColumn(s"rs$n", expr(s"srs$n div nb$n"))
          .select($"ticker", col(s"rs$n"))
      }
      val joined = perSize.reduce((a, b) => a.join(b, Seq("ticker")))
      // 3-point OLS of ln(rs_micro/1e6) on ln(n): slope = Σ(x−x̄)(y−ȳ)/Σ(x−x̄)²
      val xs = HurstSizes.map(n => math.log(n.toDouble))
      val xbar = xs.sum / xs.length
      val denom = xs.map(x => (x - xbar) * (x - xbar)).sum
      val slopeExpr = HurstSizes.zip(xs).map { case (n, x) =>
        s"(${x - xbar}) * ln(CAST(rs$n AS DOUBLE) / 1000000.0)"
      }.mkString(" + ")
      joined
        .filter(HurstSizes.map(n => col(s"rs$n") > 0L).reduce(_ && _))
        .withColumn("hurst_milli",
          floor(lit(1000.0) * expr(s"($slopeExpr) / $denom")).cast("long"))
        .withColumn("regime",
          when($"hurst_milli" > 550L, "trending")
            .when($"hurst_milli" < 450L, "mean_reverting")
            .otherwise("random_walk"))
        .select($"ticker", col("rs8"), col("rs16"), col("rs32"),
          $"hurst_milli", $"regime")
        .orderBy($"ticker")
    },
    Some {
      def sizeCte(n: Int): String = s"""
      blk_$n AS (
        SELECT ticker, (idx - 1) // $n AS blk, ((idx - 1) % $n) + 1 AS k, y
        FROM rets),
      full_$n AS (
        SELECT ticker, blk, CAST(count(*) AS BIGINT) AS m,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM blk_$n GROUP BY 1, 2 HAVING count(*) = $n),
      cum_$n AS (
        SELECT b.ticker, b.blk, b.k, f.m, f.s, f.syy,
               $n * sum(b.y) OVER (PARTITION BY b.ticker, b.blk
                 ORDER BY b.k ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) - b.k * f.s AS dev_m
        FROM blk_$n b JOIN full_$n f ON f.ticker = b.ticker AND f.blk = b.blk),
      rsb_$n AS (
        SELECT ticker, blk,
               CAST(floor(1000000.0 * ((CAST(max(dev_m) - min(dev_m) AS DOUBLE)
                 / $n.0) / sqrt(CAST(any_value(m) * any_value(syy)
                 - any_value(s) * any_value(s) AS DOUBLE)
                 / CAST(any_value(m) * (any_value(m) - 1) AS DOUBLE))))
                 AS BIGINT) AS rs_micro
        FROM cum_$n
        WHERE m * syy - s * s > 0
        GROUP BY 1, 2),
      rs_$n AS (
        SELECT ticker, CAST(sum(rs_micro) AS BIGINT) // count(*) AS rs$n
        FROM rsb_$n GROUP BY 1)"""
      val xs = HurstSizes.map(n => math.log(n.toDouble))
      val xbar = xs.sum / xs.length
      val denom = xs.map(x => (x - xbar) * (x - xbar)).sum
      val slopeExpr = HurstSizes.zip(xs).map { case (n, x) =>
        s"(${x - xbar}) * ln(CAST(rs$n AS DOUBLE) / 1000000.0)"
      }.mkString(" + ")
      s"""
      WITH $mbarsSql,
      rets AS (
        SELECT ticker,
               CAST(row_number() OVER (PARTITION BY ticker ORDER BY mon)
                 AS BIGINT) AS idx,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(close_c - prev_c AS DOUBLE)
                 / CAST(prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      ${HurstSizes.map(sizeCte).mkString(",")},
      j AS (
        SELECT a.ticker, a.rs8, b.rs16, c.rs32
        FROM rs_8 a JOIN rs_16 b ON b.ticker = a.ticker
        JOIN rs_32 c ON c.ticker = a.ticker
        WHERE a.rs8 > 0 AND b.rs16 > 0 AND c.rs32 > 0)
      SELECT ticker, rs8, rs16, rs32,
             CAST(floor(1000.0 * (($slopeExpr) / $denom)) AS BIGINT)
               AS hurst_milli,
             CASE WHEN floor(1000.0 * (($slopeExpr) / $denom)) > 550
                    THEN 'trending'
                  WHEN floor(1000.0 * (($slopeExpr) / $denom)) < 450
                    THEN 'mean_reverting'
                  ELSE 'random_walk' END AS regime
      FROM j ORDER BY ticker"""
    })

  // ---------------------------------------------------------------------
  // q307 — PAIRS-TRADING SPREAD BACKTEST: the trade q250/q298 exist to
  // find — select THE most return-correlated same-region pair (q298's
  // blocked screen, top-1 by (corr DESC, i, j) — deterministic), hedge
  // leg A with an integer milli-beta from exact level moments, and run
  // the classic spread-reversion rule: hold −sign(z) when the LAGGED
  // month's |z| exceeds 1.5, flat otherwise (memoryless on the prior
  // month — no hysteresis state machine, documented). The spread is an
  // exact BIGINT (1000·cA − β_milli·cB), the z-score uses FULL-SAMPLE
  // moments (in-sample by design: the operator under test is the
  // threshold/P&L machinery, not a tradable claim — the walk-forward
  // split lives in q272), and P&L accumulates exact integer milli-cents.
  // Scale: the pair screen is the declared q298 fan-out; everything
  // after the top-1 broadcast is ≤ |months| rows keyed (ta, tb) — the
  // q250 stage-2 WindowBounds set.
  // ---------------------------------------------------------------------
  private val ZEnter = 1.5

  private val q307 = QueryDef(
    "q307_pairs_backtest",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val sup = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("ticker"), $"n_regionkey".as("reg"))
      val rets = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull)
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
        .join(broadcast(sup), "ticker")
        .select($"reg", $"mon", $"ticker", $"y")
      val top1 = regionBlockedPairs(rets).groupBy($"i", $"j")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 24 &&
          ($"n" * $"sxx" - $"sx" * $"sx") > 0L &&
          ($"n" * $"syy" - $"sy" * $"sy") > 0L)
        .withColumn("corr",
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
              ($"n" * $"syy" - $"sy" * $"sy").cast("double")))
        .orderBy($"corr".desc, $"i", $"j").limit(1)
        .select($"i".as("ta"), $"j".as("tb"))
      val m = mbars(spark, dir).select($"ticker", $"mon", $"close_c")
      // r13 OPTIMIZATION (guide §2.4/§3.3): `legs` (≤ |months| rows once
      // the broadcast top-1 pair semi-reduces both sides) is referenced
      // by FOUR downstream lineage copies (beta, spread, and through
      // them mom/traded/summ) — each copy re-plans and re-executes the
      // whole pair-screen + legs subtree (the before-plan holds 208
      // Exchanges / 110 BroadcastHashJoins). Materialize it once; every
      // consumer reads the tiny parquet. Values unchanged; hash-gated.
      val legs = Scoped.materialize()(
        m.join(broadcast(top1), $"ticker" === $"ta")
          .select($"ta", $"tb", $"mon", $"close_c".as("ca"))
          .join(m.select($"ticker".as("t2"), $"mon".as("mon2"),
            $"close_c".as("cb")),
            $"t2" === $"tb" && $"mon2" === $"mon")
          .select($"ta", $"tb", $"mon", $"ca", $"cb"))
      val beta = legs.groupBy($"ta", $"tb")
        .agg(count(lit(1)).as("bn"), sum($"cb").as("bx"), sum($"ca").as("by"),
          sum($"cb" * $"cb").as("bxx"), sum($"cb" * $"ca").as("bxy"))
        .withColumn("beta_milli",
          floor(lit(1000.0) *
            ($"bn" * $"bxy" - $"bx" * $"by").cast("double") /
            ($"bn" * $"bxx" - $"bx" * $"bx").cast("double")).cast("long"))
        .select($"ta".as("bta"), $"tb".as("btb"), $"beta_milli")
      val spread = legs.join(broadcast(beta),
          $"ta" === $"bta" && $"tb" === $"btb")
        .withColumn("spread_c",
          expr(speelDivSql("1000 * ca - beta_milli * cb", "1000", "div")))
        .select($"ta", $"tb", $"mon", $"spread_c", $"beta_milli")
      val mom = spread.groupBy($"ta".as("mta"), $"tb".as("mtb"))
        .agg(count(lit(1)).as("zn"), sum($"spread_c").as("zs"),
          sum($"spread_c" * $"spread_c").as("zss"))
        .withColumn("mu", $"zs".cast("double") / $"zn".cast("double"))
        .withColumn("sd",
          sqrt(($"zn" * $"zss" - $"zs" * $"zs").cast("double") /
            ($"zn" * ($"zn" - 1L)).cast("double")))
        .select($"mta", $"mtb", $"mu", $"sd")
      val wP = Window.partitionBy("ta", "tb").orderBy("mon")
      val traded = spread.join(broadcast(mom),
          $"ta" === $"mta" && $"tb" === $"mtb")
        .withColumn("z", ($"spread_c".cast("double") - $"mu") / $"sd")
        .withColumn("z_prev", lag($"z", 1).over(wP))
        .withColumn("d_spread",
          $"spread_c" - lag($"spread_c", 1).over(wP))
        .withColumn("pos",
          when($"z_prev" > ZEnter, -1L)
            .when($"z_prev" < -ZEnter, 1L)
            .otherwise(0L))
        .withColumn("pnl_c",
          when($"d_spread".isNotNull, $"pos" * $"d_spread").otherwise(0L))
        .withColumn("cum_pnl_c", sum($"pnl_c").over(
          wP.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val summ = traded.groupBy($"ta".as("sta"), $"tb".as("stb"))
        .agg(count(lit(1)).as("n_months"),
          sum(when($"pos" =!= 0L, 1L).otherwise(0L)).as("n_in_pos"),
          sum(when($"pnl_c" > 0L, 1L).otherwise(0L)).as("n_wins"),
          sum($"pnl_c").as("total_pnl_c"))
        .select($"sta", $"stb", $"n_months", $"n_in_pos", $"n_wins",
          $"total_pnl_c")
      traded.join(broadcast(summ),
          $"ta" === $"sta" && $"tb" === $"stb")
        .select($"ta", $"tb", $"mon", $"beta_milli", $"spread_c",
          $"pos", $"pnl_c", $"cum_pnl_c", $"n_months",
          $"n_in_pos", $"n_wins", $"total_pnl_c")
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL),
      rm AS (
        SELECT n.n_regionkey AS reg, r.mon, r.ticker,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(r.close_c - r.prev_c AS DOUBLE)
                 / CAST(r.prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets r
        JOIN supplier s ON r.ticker = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey),
      mom0 AS (
        SELECT a.ticker AS i, b.ticker AS j,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.y) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy,
               CAST(sum(a.y * a.y) AS BIGINT) AS sxx,
               CAST(sum(b.y * b.y) AS BIGINT) AS syy,
               CAST(sum(a.y * b.y) AS BIGINT) AS sxy
        FROM rm a JOIN rm b
          ON a.reg = b.reg AND a.mon = b.mon AND a.ticker < b.ticker
        GROUP BY 1, 2),
      top1 AS (
        SELECT i AS ta, j AS tb FROM (
          SELECT i, j,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
          FROM mom0
          WHERE n >= 24 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0)
        ORDER BY corr DESC, i, j LIMIT 1),
      legs AS (
        SELECT t.ta, t.tb, a.mon, a.close_c AS ca, b.close_c AS cb
        FROM top1 t
        JOIN mbars a ON a.ticker = t.ta
        JOIN mbars b ON b.ticker = t.tb AND b.mon = a.mon),
      beta AS (
        SELECT ta, tb,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(count(*) * sum(cb * ca) - sum(cb) * sum(ca) AS DOUBLE)
                 / CAST(count(*) * sum(cb * cb) - sum(cb) * sum(cb) AS DOUBLE))
                 AS BIGINT) AS beta_milli
        FROM legs GROUP BY 1, 2),
      spread AS (
        SELECT l.ta, l.tb, l.mon, bt.beta_milli,
               ${speelDivSql("1000 * l.ca - bt.beta_milli * l.cb",
                 "1000", "//")} AS spread_c
        FROM legs l JOIN beta bt ON bt.ta = l.ta AND bt.tb = l.tb),
      zm AS (
        SELECT ta, tb, CAST(count(*) AS BIGINT) AS zn,
               CAST(sum(spread_c) AS BIGINT) AS zs,
               CAST(sum(spread_c * spread_c) AS BIGINT) AS zss
        FROM spread GROUP BY 1, 2),
      zs AS (
        SELECT s.ta, s.tb, s.mon, s.beta_milli, s.spread_c,
               (CAST(s.spread_c AS DOUBLE)
                 - CAST(z.zs AS DOUBLE) / CAST(z.zn AS DOUBLE))
                 / sqrt(CAST(z.zn * z.zss - z.zs * z.zs AS DOUBLE)
                   / CAST(z.zn * (z.zn - 1) AS DOUBLE)) AS z
        FROM spread s JOIN zm z ON z.ta = s.ta AND z.tb = s.tb),
      lagged AS (
        SELECT *, lag(z) OVER w AS z_prev,
               spread_c - lag(spread_c) OVER w AS d_spread
        FROM zs WINDOW w AS (PARTITION BY ta, tb ORDER BY mon)),
      pos AS (
        SELECT *, CASE WHEN z_prev > $ZEnter THEN -1
                       WHEN z_prev < -$ZEnter THEN 1 ELSE 0 END AS pos
        FROM lagged),
      pnl AS (
        SELECT *, CASE WHEN d_spread IS NOT NULL THEN pos * d_spread
                       ELSE 0 END AS pnl_c
        FROM pos),
      cum AS (
        SELECT *, sum(pnl_c) OVER (PARTITION BY ta, tb ORDER BY mon
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_pnl_c
        FROM pnl),
      summ AS (
        SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_months,
               CAST(sum(CASE WHEN pos <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_in_pos,
               CAST(sum(CASE WHEN pnl_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_wins,
               CAST(sum(pnl_c) AS BIGINT) AS total_pnl_c
        FROM cum GROUP BY 1, 2)
      SELECT c.ta, c.tb, c.mon, c.beta_milli,
             CAST(c.spread_c AS BIGINT) AS spread_c,
             CAST(c.pos AS BIGINT) AS pos,
             CAST(c.pnl_c AS BIGINT) AS pnl_c,
             CAST(c.cum_pnl_c AS BIGINT) AS cum_pnl_c,
             s.n_months, s.n_in_pos, s.n_wins, s.total_pnl_c
      FROM cum c JOIN summ s ON s.ta = c.ta AND s.tb = c.tb
      ORDER BY c.mon"""))

  // ---------------------------------------------------------------------
  // q313 — OUT-OF-SAMPLE PAIRS BACKTEST (r12 verdict "Next round" #4):
  // q307's spread machinery under the q272 walk-forward discipline. The
  // tape splits at a fixed calendar boundary (OosPivot — deterministic
  // and SF-invariant: the fixture shipdates span the same 1995-01..
  // 2001-11 calendar at every SF, so the pivot gives 48 in-sample and
  // 35 out-of-sample months everywhere, keeping the screen's n ≥ 24
  // month floor satisfiable in-sample); EVERY estimated parameter — the top-1 pair
  // selection (q298's region-blocked corr screen), the milli-beta
  // hedge, and the spread z-moments — derives from IN-SAMPLE months
  // only (mon < pivot), and trades happen on OUT-OF-SAMPLE months only
  // (mon ≥ pivot). The position signal is the LAGGED month's z over the
  // full spread series, so the first OOS trade keys off the last IS
  // month's spread — still strictly pre-trade information. Zero
  // parameter leakage is spec-asserted (CrossSectionSpec recomputes the
  // whole chain in the driver and checks every estimation input
  // precedes every trade month); q307 stays as the documented in-sample
  // twin whose machinery this query makes tradable.
  // Scale: identical to q307 — the declared q298 pair-screen fan-out,
  // then ≤ |months| rows keyed (ta, tb).
  // ---------------------------------------------------------------------
  private val OosPivot = "1999-01-01"

  private val q313 = QueryDef(
    "q313_pairs_backtest_oos",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val sup = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("ticker"), $"n_regionkey".as("reg"))
      // IN-SAMPLE pair screen: returns restricted to pre-pivot months
      val retsIs = mbars(spark, dir)
        .withColumn("prev_c", lag($"close_c", 1).over(wT))
        .filter($"prev_c".isNotNull && $"mon" < lit(OosPivot).cast("date"))
        .withColumn("y",
          floor(lit(1000.0) * ($"close_c" - $"prev_c").cast("double") /
            $"prev_c".cast("double")).cast("long"))
        .join(broadcast(sup), "ticker")
        .select($"reg", $"mon", $"ticker", $"y")
      val top1 = regionBlockedPairs(retsIs).groupBy($"i", $"j")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 24 &&
          ($"n" * $"sxx" - $"sx" * $"sx") > 0L &&
          ($"n" * $"syy" - $"sy" * $"sy") > 0L)
        .withColumn("corr",
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
              ($"n" * $"syy" - $"sy" * $"sy").cast("double")))
        .orderBy($"corr".desc, $"i", $"j").limit(1)
        .select($"i".as("ta"), $"j".as("tb"))
      val m = mbars(spark, dir).select($"ticker", $"mon", $"close_c")
      // r13 OPTIMIZATION: one materialized copy of the ≤ |months|-row
      // legs frame instead of four re-planned/re-executed lineage
      // copies — the q307 rationale verbatim (guide §2.4/§3.3).
      val legs = Scoped.materialize()(
        m.join(broadcast(top1), $"ticker" === $"ta")
          .select($"ta", $"tb", $"mon", $"close_c".as("ca"))
          .join(m.select($"ticker".as("t2"), $"mon".as("mon2"),
            $"close_c".as("cb")),
            $"t2" === $"tb" && $"mon2" === $"mon")
          .select($"ta", $"tb", $"mon", $"ca", $"cb"))
      // hedge ratio from IN-SAMPLE legs only
      val beta = legs.filter($"mon" < lit(OosPivot).cast("date"))
        .groupBy($"ta", $"tb")
        .agg(count(lit(1)).as("bn"), sum($"cb").as("bx"), sum($"ca").as("by"),
          sum($"cb" * $"cb").as("bxx"), sum($"cb" * $"ca").as("bxy"))
        .withColumn("beta_milli",
          floor(lit(1000.0) *
            ($"bn" * $"bxy" - $"bx" * $"by").cast("double") /
            ($"bn" * $"bxx" - $"bx" * $"bx").cast("double")).cast("long"))
        .select($"ta".as("bta"), $"tb".as("btb"), $"beta_milli")
      val spread = legs.join(broadcast(beta),
          $"ta" === $"bta" && $"tb" === $"btb")
        .withColumn("spread_c",
          expr(speelDivSql("1000 * ca - beta_milli * cb", "1000", "div")))
        .select($"ta", $"tb", $"mon", $"spread_c", $"beta_milli")
      // z-moments from IN-SAMPLE spread only
      val mom = spread.filter($"mon" < lit(OosPivot).cast("date"))
        .groupBy($"ta".as("mta"), $"tb".as("mtb"))
        .agg(count(lit(1)).as("zn"), sum($"spread_c").as("zs"),
          sum($"spread_c" * $"spread_c").as("zss"))
        .withColumn("mu", $"zs".cast("double") / $"zn".cast("double"))
        .withColumn("sd",
          sqrt(($"zn" * $"zss" - $"zs" * $"zs").cast("double") /
            ($"zn" * ($"zn" - 1L)).cast("double")))
        .select($"mta", $"mtb", $"mu", $"sd", $"zn")
      val wP = Window.partitionBy("ta", "tb").orderBy("mon")
      val traded = spread.join(broadcast(mom),
          $"ta" === $"mta" && $"tb" === $"mtb")
        .withColumn("z", ($"spread_c".cast("double") - $"mu") / $"sd")
        .withColumn("z_prev", lag($"z", 1).over(wP))
        .withColumn("d_spread",
          $"spread_c" - lag($"spread_c", 1).over(wP))
        .filter($"mon" >= lit(OosPivot).cast("date"))
        .withColumn("pos",
          when($"z_prev" > ZEnter, -1L)
            .when($"z_prev" < -ZEnter, 1L)
            .otherwise(0L))
        .withColumn("pnl_c",
          when($"d_spread".isNotNull, $"pos" * $"d_spread").otherwise(0L))
        .withColumn("cum_pnl_c", sum($"pnl_c").over(
          wP.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("is_months", $"zn")
      val summ = traded.groupBy($"ta".as("sta"), $"tb".as("stb"))
        .agg(count(lit(1)).as("n_oos_months"),
          sum(when($"pos" =!= 0L, 1L).otherwise(0L)).as("n_in_pos"),
          sum(when($"pnl_c" > 0L, 1L).otherwise(0L)).as("n_wins"),
          sum($"pnl_c").as("total_pnl_c"))
        .select($"sta", $"stb", $"n_oos_months", $"n_in_pos", $"n_wins",
          $"total_pnl_c")
      traded.join(broadcast(summ),
          $"ta" === $"sta" && $"tb" === $"stb")
        .select($"ta", $"tb", $"mon", $"beta_milli", $"spread_c",
          $"pos", $"pnl_c", $"cum_pnl_c", $"is_months",
          $"n_oos_months", $"n_in_pos", $"n_wins", $"total_pnl_c")
        .orderBy($"mon")
    },
    Some(s"""
      WITH $mbarsSql,
      rets AS (
        SELECT * FROM (
          SELECT ticker, mon, close_c,
                 lag(close_c, 1) OVER (PARTITION BY ticker ORDER BY mon)
                   AS prev_c
          FROM mbars)
        WHERE prev_c IS NOT NULL AND mon < DATE '$OosPivot'),
      rm AS (
        SELECT n.n_regionkey AS reg, r.mon, r.ticker,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(r.close_c - r.prev_c AS DOUBLE)
                 / CAST(r.prev_c AS DOUBLE)) AS BIGINT) AS y
        FROM rets r
        JOIN supplier s ON r.ticker = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey),
      mom0 AS (
        SELECT a.ticker AS i, b.ticker AS j,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.y) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy,
               CAST(sum(a.y * a.y) AS BIGINT) AS sxx,
               CAST(sum(b.y * b.y) AS BIGINT) AS syy,
               CAST(sum(a.y * b.y) AS BIGINT) AS sxy
        FROM rm a JOIN rm b
          ON a.reg = b.reg AND a.mon = b.mon AND a.ticker < b.ticker
        GROUP BY 1, 2),
      top1 AS (
        SELECT i AS ta, j AS tb FROM (
          SELECT i, j,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
          FROM mom0
          WHERE n >= 24 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0)
        ORDER BY corr DESC, i, j LIMIT 1),
      legs AS (
        SELECT t.ta, t.tb, a.mon, a.close_c AS ca, b.close_c AS cb
        FROM top1 t
        JOIN mbars a ON a.ticker = t.ta
        JOIN mbars b ON b.ticker = t.tb AND b.mon = a.mon),
      beta AS (
        SELECT ta, tb,
               CAST(floor(CAST('1000.0' AS DOUBLE)
                 * CAST(count(*) * sum(cb * ca) - sum(cb) * sum(ca) AS DOUBLE)
                 / CAST(count(*) * sum(cb * cb) - sum(cb) * sum(cb) AS DOUBLE))
                 AS BIGINT) AS beta_milli
        FROM legs WHERE mon < DATE '$OosPivot' GROUP BY 1, 2),
      spread AS (
        SELECT l.ta, l.tb, l.mon, bt.beta_milli,
               ${speelDivSql("1000 * l.ca - bt.beta_milli * l.cb",
                 "1000", "//")} AS spread_c
        FROM legs l JOIN beta bt ON bt.ta = l.ta AND bt.tb = l.tb),
      zm AS (
        SELECT ta, tb, CAST(count(*) AS BIGINT) AS zn,
               CAST(sum(spread_c) AS BIGINT) AS zs,
               CAST(sum(spread_c * spread_c) AS BIGINT) AS zss
        FROM spread WHERE mon < DATE '$OosPivot' GROUP BY 1, 2),
      zs AS (
        SELECT s.ta, s.tb, s.mon, s.beta_milli, s.spread_c, z.zn,
               (CAST(s.spread_c AS DOUBLE)
                 - CAST(z.zs AS DOUBLE) / CAST(z.zn AS DOUBLE))
                 / sqrt(CAST(z.zn * z.zss - z.zs * z.zs AS DOUBLE)
                   / CAST(z.zn * (z.zn - 1) AS DOUBLE)) AS z
        FROM spread s JOIN zm z ON z.ta = s.ta AND z.tb = s.tb),
      lagged AS (
        SELECT *, lag(z) OVER w AS z_prev,
               spread_c - lag(spread_c) OVER w AS d_spread
        FROM zs WINDOW w AS (PARTITION BY ta, tb ORDER BY mon)),
      oos AS (SELECT * FROM lagged WHERE mon >= DATE '$OosPivot'),
      pos AS (
        SELECT *, CASE WHEN z_prev > $ZEnter THEN -1
                       WHEN z_prev < -$ZEnter THEN 1 ELSE 0 END AS pos
        FROM oos),
      pnl AS (
        SELECT *, CASE WHEN d_spread IS NOT NULL THEN pos * d_spread
                       ELSE 0 END AS pnl_c
        FROM pos),
      cum AS (
        SELECT *, sum(pnl_c) OVER (PARTITION BY ta, tb ORDER BY mon
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_pnl_c
        FROM pnl),
      summ AS (
        SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_oos_months,
               CAST(sum(CASE WHEN pos <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_in_pos,
               CAST(sum(CASE WHEN pnl_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_wins,
               CAST(sum(pnl_c) AS BIGINT) AS total_pnl_c
        FROM cum GROUP BY 1, 2)
      SELECT c.ta, c.tb, c.mon, c.beta_milli,
             CAST(c.spread_c AS BIGINT) AS spread_c,
             CAST(c.pos AS BIGINT) AS pos,
             CAST(c.pnl_c AS BIGINT) AS pnl_c,
             CAST(c.cum_pnl_c AS BIGINT) AS cum_pnl_c,
             c.zn AS is_months,
             s.n_oos_months, s.n_in_pos, s.n_wins, s.total_pnl_c
      FROM cum c JOIN summ s ON s.ta = c.ta AND s.tb = c.tb
      ORDER BY c.mon"""))

  // ---------------------------------------------------------------------
  // q310 — ALPHA-DECAY PROFILE: q246 measures the momentum signal's IC
  // at the 1-month horizon; the question a researcher asks next is how
  // fast that information DECAYS — the Spearman IC of the same 3-month
  // momentum signal against forward returns at horizons h ∈ {1, 2, 3,
  // 6} months, one summary row per horizon. Monthly ICs are exact-rank
  // Spearman (the q246 machinery per horizon) floor-quantized to milli
  // BEFORE cross-month aggregation (integer mean / IR — the house
  // no-float-agg rule), with the hit rate as an exact count. The decay
  // curve (mean_ic_milli by h) is the signal's tradable-horizon
  // fingerprint.
  // Scale: per horizon, two mon-partition rank windows (≤ |tickers|
  // cells) + one monthly rollup + one 1-row summary — ×4 horizons,
  // unioned. All grains dimension-sized.
  // ---------------------------------------------------------------------
  private val DecayHorizons = Seq(1, 2, 3, 6)

  private val q310 = QueryDef(
    "q310_alpha_decay",
    (spark, dir) => {
      import spark.implicits._
      val wT = Window.partitionBy("ticker").orderBy("mon")
      val base = mbars(spark, dir)
        .withColumn("mom_c", $"close_c" - lag($"close_c", 3).over(wT))
        .withColumn("mom_r",
          $"mom_c".cast("double") / $"close_c".cast("double"))
      val perH = DecayHorizons.map { h =>
        val sig = base
          .withColumn("fwd_c", lead($"close_c", h).over(wT) - $"close_c")
          .filter($"mom_c".isNotNull && $"fwd_c".isNotNull)
          .withColumn("fwd_r",
            $"fwd_c".cast("double") / $"close_c".cast("double"))
        val rm = Window.partitionBy("mon").orderBy($"mom_r", $"ticker")
        val rf = Window.partitionBy("mon").orderBy($"fwd_r", $"ticker")
        val perMon = sig
          .withColumn("r_m", rank().over(rm).cast("long"))
          .withColumn("r_f", rank().over(rf).cast("long"))
          .withColumn("d", $"r_m" - $"r_f")
          .groupBy($"mon")
          .agg(count(lit(1)).as("n"), sum($"d" * $"d").as("sum_d2"))
          .filter($"n" >= 5)
          .withColumn("den", $"n" * ($"n" * $"n" - 1L))
          .withColumn("ic_milli",
            floor(lit(1000.0) *
              ($"den" - $"sum_d2" * 6L).cast("double") /
              $"den".cast("double")).cast("long"))
        perMon.agg(
          count(lit(1)).as("n_months"),
          sum($"ic_milli").as("s_ic"),
          sum($"ic_milli" * $"ic_milli").as("ss_ic"),
          sum(when($"ic_milli" > 0L, 1L).otherwise(0L)).as("n_pos"))
          .select(lit(h.toLong).as("horizon"), $"n_months",
            expr(speelDivSql("s_ic", "n_months", "div")).as("mean_ic_milli"),
            floor(lit(1000.0) *
              ($"s_ic".cast("double") / $"n_months".cast("double")) /
              sqrt(($"n_months" * $"ss_ic" - $"s_ic" * $"s_ic").cast("double") /
                ($"n_months" * ($"n_months" - 1L)).cast("double")))
              .cast("long").as("ir_milli"),
            expr("(1000 * n_pos) div n_months").as("hit_milli"))
      }
      perH.reduce(_.unionByName(_)).orderBy($"horizon")
    },
    Some {
      def hCtes(h: Int): String = s"""
      sig_$h AS (
        SELECT mon, ticker, mom_r,
               CAST(fwd_c AS DOUBLE) / CAST(close_c AS DOUBLE) AS fwd_r
        FROM (
          SELECT mon, close_c,
                 CAST(mom_c AS DOUBLE) / CAST(close_c AS DOUBLE) AS mom_r,
                 lead(close_c, $h) OVER (PARTITION BY ticker ORDER BY mon)
                   - close_c AS fwd_c,
                 mom_c, ticker
          FROM base)
        WHERE mom_c IS NOT NULL AND fwd_c IS NOT NULL),
      rk_$h AS (
        SELECT mon,
               CAST(rank() OVER (PARTITION BY mon ORDER BY mom_r, ticker)
                 AS BIGINT) AS r_m,
               CAST(rank() OVER (PARTITION BY mon ORDER BY fwd_r, ticker)
                 AS BIGINT) AS r_f
        FROM sig_$h),
      pm_$h AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS n,
               CAST(sum((r_m - r_f) * (r_m - r_f)) AS BIGINT) AS sum_d2
        FROM rk_$h GROUP BY mon HAVING count(*) >= 5),
      ic_$h AS (
        SELECT mon,
               CAST(floor(1000.0 * CAST(n * (n * n - 1) - 6 * sum_d2 AS DOUBLE)
                 / CAST(n * (n * n - 1) AS DOUBLE)) AS BIGINT) AS ic_milli
        FROM pm_$h),
      sm_$h AS (
        SELECT CAST($h AS BIGINT) AS horizon,
               CAST(count(*) AS BIGINT) AS n_months,
               ${speelDivSql("CAST(sum(ic_milli) AS BIGINT)", "count(*)",
                 "//")} AS mean_ic_milli,
               CAST(floor(1000.0
                 * (CAST(sum(ic_milli) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                 / sqrt(CAST(count(*) * sum(ic_milli * ic_milli)
                     - sum(ic_milli) * sum(ic_milli) AS DOUBLE)
                   / CAST(count(*) * (count(*) - 1) AS DOUBLE))) AS BIGINT)
                 AS ir_milli,
               (1000 * CAST(sum(CASE WHEN ic_milli > 0 THEN 1 ELSE 0 END)
                 AS BIGINT)) // count(*) AS hit_milli
        FROM ic_$h)"""
      s"""
      WITH $mbarsSql,
      base AS (
        SELECT ticker, mon, close_c,
               close_c - lag(close_c, 3) OVER (PARTITION BY ticker
                 ORDER BY mon) AS mom_c
        FROM mbars),
      ${DecayHorizons.map(hCtes).mkString(",")}
      ${DecayHorizons.map(h => s"SELECT * FROM sm_$h").mkString(" UNION ALL ")}
      ORDER BY horizon"""
    })

  override val defs: Seq[QueryDef] =
    Seq(q246, q247, q248, q249, q250, q252, q254, q255, q256, q260, q262,
      q266, q269, q270, q274, q280, q282, q283, q289, q291, q295, q297,
      q298, q300, q305, q306, q307, q310, q313)
}
