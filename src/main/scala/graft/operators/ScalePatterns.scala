package graft.operators

import graft.{QueryDef, QueryModule, Session}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Scale-pattern operators (SURVEY.md §4, SCALE.md): the cluster-layout
  * techniques demonstrated concretely — partitioned table layout with
  * partition-pruned reads, and salted two-stage aggregation for skewed
  * keys. Each produces an oracle-checked result so the pattern is proven
  * semantics-preserving, not just described.
  */
object ScalePatterns extends QueryModule {

  // ---------------------------------------------------------------------
  // q59 — partitioned layout + pruned scan (§4 "parquet partitioning by
  // date"): events written out partitionBy(event_type), re-read with a
  // partition filter — the scan touches only the selected partition
  // directories (PartitionFilters in the plan; asserted in PlanSpec).
  // At 100 TB this is the difference between scanning one table and
  // scanning one partition.
  // ---------------------------------------------------------------------
  private val q59 = QueryDef(
    "q59_partitioned_pruning",
    (spark, dir) => {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_part_").toString + "/events_by_type"
      Tables.events(spark, dir)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      // plain inference: partition discovery is the operator under test
      spark.read.parquet(out)
        .filter($"event_type" === "purchase")
        .groupBy(to_date($"ts").as("date"))
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(28, 2))).cast("double").as("total"))
        .orderBy($"date")
    },
    Some("""
      SELECT CAST(ts AS DATE) AS date, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY date"""))

  /** The partitioned re-read alone (no write), for plan assertions. */
  private[graft] def prunedRead(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_part_probe_").toString + "/t"
    Tables.events(spark, dir).limit(100)
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    spark.read.parquet(out).filter($"event_type" === "purchase")
  }

  // ---------------------------------------------------------------------
  // q60 — salted two-stage aggregation (§4 skew handling): a heavy
  // aggregation keyed by the 5-value event_type would put each key on one
  // reducer. Stage 1 aggregates on (key, salt = user_id % 16) — 80
  // well-spread partial groups; stage 2 merges the partials per key.
  // Result provably equals the direct groupBy (the oracle IS the direct
  // form). Partial sums stay exact (decimal), so the two-stage merge is
  // value-identical.
  // ---------------------------------------------------------------------
  private val NumSalts = 16
  private val q60 = QueryDef(
    "q60_salted_aggregation",
    (spark, dir) => {
      import spark.implicits._
      val partial = Tables.events(spark, dir)
        .withColumn("salt", pmod($"user_id", lit(NumSalts)))
        .groupBy($"event_type", $"salt")
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(28, 2))).as("total_dec"),
          max($"value").as("mx"))
      partial
        .groupBy($"event_type")
        .agg(
          sum($"n").as("n"),
          sum($"total_dec").cast("double").as("total"),
          max($"mx").as("max_value"),
          count(lit(1)).as("n_salt_groups"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH partial AS (
        SELECT event_type, user_id % $NumSalts AS salt, count(*) AS n,
               sum(CAST(value AS DECIMAL(28,2))) AS total_dec,
               max(value) AS mx
        FROM events GROUP BY 1, 2)
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(total_dec) AS DOUBLE) AS total,
             max(mx) AS max_value,
             count(*) AS n_salt_groups
      FROM partial GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // q66 — bucketed co-located fact–fact join (§4 / SCALE.md "bucketing
  // removes even that shuffle"): both fact tables written bucketBy(8,
  // orderkey) + sortBy, then joined — the SortMergeJoin consumes bucket
  // layout directly, with NO Exchange on either input (asserted in
  // PlanSpec). At 100 TB this turns the biggest shuffle in the pipeline
  // into a metadata no-op paid once at write time.
  // ---------------------------------------------------------------------
  private val NumBuckets = 8

  /** Writes the bucketed twins once per (session, fixture dir) and returns
    * the co-located join, pre-aggregation — exposed for PlanSpec's
    * no-Exchange assertion. The write is the one-time layout cost of
    * bucketing; repeat calls (bench warm pass, downstream reuse) measure
    * what the layout buys: the join itself, shuffle-free.
    */
  private[graft] def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val (liT, ordT) = (s"graft_li_bucketed_$tag", s"graft_ord_bucketed_$tag")
    if (!spark.catalog.tableExists(liT)) {
      val base = Files.createTempDirectory("graft_bucket_").toString
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_extendedprice", $"l_quantity")
        .write.mode("overwrite").format("parquet")
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/li").saveAsTable(liT)
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderstatus")
        .write.mode("overwrite").format("parquet")
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/ord").saveAsTable(ordT)
    }
    spark.table(liT).join(spark.table(ordT), $"l_orderkey" === $"o_orderkey")
  }

  private val q66 = QueryDef(
    "q66_bucketed_join",
    (spark, dir) => {
      import spark.implicits._
      bucketedJoin(spark, dir)
        .groupBy($"o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
            .as("price_cents"),
          sum($"l_quantity".cast(DecimalType(28, 2))).cast("double").as("total_qty"))
        .orderBy($"o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS price_cents,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------------
  // q65 — KMV distinct-count sketch (functions.KmvSketchAgg): per-type
  // distinct users estimated from the k=64 smallest distinct hashes,
  // emitted NEXT TO the exact count so the estimator error is visible.
  // The sketch buffer is bounded (≤ k longs) and mergeable — at 100 TB the
  // shuffle carries k values per (group, partition) while countDistinct
  // must ship every distinct user; same hash function on both engines
  // makes even the sketch itself bit-reproducible (unlike HLL).
  // ---------------------------------------------------------------------
  private val KmvK = 64
  // (k−1) · 2^60 — 6 significant bits, exactly representable as a double,
  // so `estConst / kth` is one IEEE division on either engine
  private val KmvEstConst: Double = (KmvK - 1).toDouble * 1152921504606846976.0
  private val q65 = QueryDef(
    "q65_kmv_distinct",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{KmvSketchAgg, Portable}
      Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .groupBy($"event_type")
        .agg(
          KmvSketchAgg.sketch(
            Portable.md5Hash64($"user_id".cast("string")), KmvK).as("kmv"),
          countDistinct($"user_id").as("exact_distinct"))
        .select($"event_type",
          $"kmv.n_kept".as("n_kept"),
          $"kmv.kth".as("kth"),
          when($"kmv.kth".isNull, $"kmv.n_kept".cast("double"))
            .otherwise(lit(KmvEstConst) / $"kmv.kth".cast("double")).as("est_distinct"),
          $"exact_distinct")
        .orderBy($"event_type")
    },
    Some(kmvOracle))

  /** Direct-corpus KMV oracle, shared by q65 (one-level sketch) and q133
    * (daily sketches re-aggregated): the re-aggregation is EXACT — the
    * k smallest of a union are the k smallest of the union of each
    * part's k smallest — so both queries must hash-match this SQL.
    */
  private lazy val kmvOracle: String = s"""
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
             END AS est_distinct,
             max(n_distinct) AS exact_distinct
      FROM ranked GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------------
  // q133 — sketch RE-AGGREGATION (the pre-aggregated-cube discipline):
  // per-(type, day) KMV sketches in STORAGE form (the sorted k-min hash
  // array, functions.KmvArraySketchAgg) stand in for a materialized daily
  // cube; the corpus estimate then comes from exploding the stored
  // sketches and re-sketching — never touching raw events again. KMV
  // merge is EXACT (k smallest of a union = k smallest of the union of
  // per-part k smallest), so the oracle is q65's DIRECT-corpus SQL,
  // unchanged: the hash gate proves two-level merge ≡ one-level sketch.
  // At 100 TB the daily cube rows are ≤ k longs each — any date range's
  // distinct-user estimate is a merge over a few hundred tiny rows.
  // ---------------------------------------------------------------------
  private val q133 = QueryDef(
    "q133_kmv_reaggregate",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{KmvSketchAgg, Portable}
      val hashed = Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .select($"event_type", to_date($"ts").as("day"),
          Portable.md5Hash64($"user_id".cast("string")).as("h"))
      // level 1: the stored daily cube (one small array row per type+day)
      val daily = hashed.groupBy($"event_type", $"day")
        .agg(KmvSketchAgg.sketchArray($"h", KmvK).as("sk"))
      // level 2: merge the stored sketches — raw data never re-read
      val merged = daily
        .select($"event_type", explode($"sk").as("h"))
        .groupBy($"event_type")
        .agg(KmvSketchAgg.sketchArray($"h", KmvK).as("sk"))
      val exact = hashed.groupBy($"event_type")
        .agg(countDistinct($"h").as("exact_distinct"))
      merged.join(exact, Seq("event_type"))
        .select($"event_type",
          size($"sk").cast("long").as("n_kept"),
          when(size($"sk") === KmvK, element_at($"sk", KmvK)).as("kth"),
          when(size($"sk") < KmvK, size($"sk").cast("double"))
            .otherwise(lit(KmvEstConst) / element_at($"sk", KmvK).cast("double"))
            .as("est_distinct"),
          $"exact_distinct")
        .orderBy($"event_type")
    },
    Some(kmvOracle))

  // ---------------------------------------------------------------------
  // q87 — runtime bloom-filter join pruning (§4's row-level runtime
  // filtering): Catalyst's InjectRuntimeFilter plants a
  // bloom_filter_agg over the filtered dim side's join keys and rewrites
  // the fact scan's condition to `might_contain(bloom, xxhash64(key))` —
  // fact rows that cannot match are dropped AT THE SCAN, before the join
  // shuffle (`might_contain` in the plan, asserted in PlanSpec). At
  // 100 TB this is the difference between shuffling the full fact table
  // and shuffling the ~1/5 that survives the dim predicate; false
  // positives are removed by the join itself, so semantics are untouched
  // (oracle = the plain join). The thresholds are lowered because the
  // injection heuristics are sized for cluster-scale scans, not local
  // fixtures; broadcast is disabled so the shuffle the bloom protects
  // actually exists (with a broadcastable dim Spark would — correctly —
  // prefer a plain BroadcastHashJoin). The frame lives on a clone with
  // those confs, since the optimizer reads them when the action runs.
  // ---------------------------------------------------------------------
  private[graft] def bloomJoinFrame(outer: SparkSession, dir: String): DataFrame = {
    val spark = Session.withConfs(outer,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import spark.implicits._
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderstatus")
    Tables.lineitem(spark, dir)
      .join(urgent, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(($"l_extendedprice".cast(DecimalType(28, 2)) * 100).cast("long"))
          .as("price_cents"))
  }

  private val q87 = QueryDef(
    "q87_bloom_filtered_join",
    (spark, dir) => {
      import spark.implicits._
      Scoped.materialize()(bloomJoinFrame(spark, dir)).orderBy($"o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1 ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------------
  // q144 — mergeable equi-width HISTOGRAM quantile estimate, audited
  // against the exact percentile (q70's discipline) in the same row. The
  // scale story: the histogram's state is ≤ B=64 bins per group however
  // large the group — partial bin counts merge by addition on the
  // shuffle (plain partial hash agg), while exact percentile is a
  // sort-based aggregate that must see every value. Bin assignment and
  // the estimate (bin lower edge + half width at the first bin where the
  // cumulative count reaches ⌈q·n⌉) are pure integer arithmetic over the
  // broadcast global [lo, hi] — bit-equal cross-engine, any partitioning.
  // At 100 TB you keep the histogram and drop the exact column; the err
  // column here IS the audit of that trade.
  // ---------------------------------------------------------------------
  private val HistB = 64L
  private val q144 = QueryDef(
    "q144_histogram_quantiles",
    (spark, dir) => {
      import spark.implicits._
      val cents = Tables.events(spark, dir)
        .filter($"value".isNotNull)
        .select($"event_type",
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long").as("cents"))
      val bounds = cents.agg(min($"cents").as("lo"), max($"cents").as("hi"))
      val binned = cents.crossJoin(broadcast(bounds))
        .withColumn("span", $"hi" - $"lo" + 1L)
        .withColumn("bin", expr(s"(cents - lo) * $HistB div span"))
        .groupBy($"event_type", $"lo", $"span", $"bin")
        .agg(count(lit(1)).as("bin_n"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
      // estimate = lower edge of the first bin whose cumulative count
      // reaches k = ceil(q·n), plus half the bin width — all integer divs
      val cum = binned
        .withColumn("cum", sum($"bin_n").over(wCum))
        .withColumn("n", sum($"bin_n").over(wAll))
        .withColumn("b50",
          min(when($"cum" >= expr("(n + 1) div 2"), $"bin")).over(wAll))
        .withColumn("b90",
          min(when($"cum" >= expr("(n * 9 + 9) div 10"), $"bin")).over(wAll))
        .groupBy($"event_type")
        .agg(max($"n").as("n"),
          max(expr(s"lo + b50 * span div $HistB + (span div $HistB) div 2"))
            .as("est_p50"),
          max(expr(s"lo + b90 * span div $HistB + (span div $HistB) div 2"))
            .as("est_p90"))
      val exact = cents.groupBy($"event_type")
        .agg(percentile($"cents", lit(0.5)).as("exact_p50"),
          percentile($"cents", lit(0.9)).as("exact_p90"))
      cum.join(exact, "event_type")
        .withColumn("err_p50", $"est_p50".cast("double") - $"exact_p50")
        .withColumn("err_p90", $"est_p90".cast("double") - $"exact_p90")
        .orderBy($"event_type")
    },
    Some(s"""
      WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
      b AS (SELECT min(cents) AS lo, max(cents) - min(cents) + 1 AS span FROM c),
      h AS (
        SELECT event_type, lo, span,
               ((cents - lo) * $HistB) // span AS bin,
               CAST(count(*) AS BIGINT) AS bin_n
        FROM c CROSS JOIN b GROUP BY 1, 2, 3, 4),
      cum AS (
        SELECT *,
               CAST(sum(bin_n) OVER (PARTITION BY event_type ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(bin_n) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM h),
      sel AS (
        SELECT event_type, lo, span, n,
               min(CASE WHEN cum >= (n + 1) // 2 THEN bin END)
                 OVER (PARTITION BY event_type) AS b50,
               min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN bin END)
                 OVER (PARTITION BY event_type) AS b90
        FROM cum),
      est AS (
        SELECT event_type, max(n) AS n,
               max(lo + b50 * span // $HistB + (span // $HistB) // 2) AS est_p50,
               max(lo + b90 * span // $HistB + (span // $HistB) // 2) AS est_p90
        FROM sel GROUP BY event_type),
      ex AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS exact_p50,
               quantile_cont(cents, 0.9) AS exact_p90
        FROM c GROUP BY 1)
      SELECT est.event_type, n, est_p50, est_p90, exact_p50, exact_p90,
             CAST(est_p50 AS DOUBLE) - exact_p50 AS err_p50,
             CAST(est_p90 AS DOUBLE) - exact_p90 AS err_p90
      FROM est JOIN ex ON est.event_type = ex.event_type
      ORDER BY est.event_type"""))

  // ---------------------------------------------------------------------
  // q161 — HLL-style REGISTER sketch next to q65's KMV: per event_type,
  // m = 64 max-leading-zero registers over the 60-bit portable hash
  // (bucket = h mod 64; rho = leading-zero run of the 54-bit suffix + 1,
  // capped at 41 so the harmonic term 2^(41−r) stays an exact integer).
  // q65's comment calls native HLL non-reproducible — THIS formulation
  // is the reproducible counterexample the engine ships instead: every
  // register is an integer max (mergeable by max, bounded at m bytes per
  // group — the reason HLL beats KMV's k longs at very high cardinality),
  // the harmonic sum Σ 2^(41−r) is an exact integer fold over the fixed
  // 64-bucket grid, and the estimate is ONE IEEE division by the
  // dyadic-mantissa constant 2903·2^41 (alpha_64 ≈ 2903/4096 = 0.70874,
  // so alpha·m²·2^41 has a 12-bit mantissa — exactly representable).
  // Registers with no hash contribute r = 0 (term 2^41) via the dense
  // bucket grid, exactly as the estimator requires. The exact distinct
  // count rides alongside so the error is visible (q65/q140 discipline).
  // At 100 TB: the shuffle carries ≤ 64 (bucket, max) cells per map
  // partition per group — map-side combine on max — while the exact
  // column ships every distinct user; drop the exact column and this is
  // the production distinct-counter for billion-user streams.
  // ---------------------------------------------------------------------
  private val HllW = 54      // suffix bits after the 6-bit bucket
  private val HllRCap = 41   // register cap keeping 2^(41-r) integral
  // alpha_64·m²·2^41 with alpha_64 ≈ 2903/4096: 2903·2^41 (12-bit
  // mantissa — one exact double literal on both engines)
  private val HllEstConst: Double = 2903.0 * 2199023255552.0
  private val q161 = QueryDef(
    "q161_hll_registers",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val h = Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .select($"event_type",
          Portable.md5Hash64($"user_id".cast("string")).as("h"))
      val reg = h
        .withColumn("bkt", expr("h % 64"))
        .withColumn("w", expr("h div 64"))
        .withColumn("rho",
          when($"w" === 0, lit(HllW + 1L))
            .otherwise(lit(HllW + 1L) - length(conv($"w", 10, 2)).cast("long")))
        .withColumn("r0", least($"rho", lit(HllRCap.toLong)))
        .groupBy($"event_type", $"bkt")
        .agg(max($"r0").as("r"))
      val grid = h.select($"event_type").distinct()
        .select($"event_type", explode(sequence(lit(0L), lit(63L))).as("bkt"))
      val dense = grid.join(reg, Seq("event_type", "bkt"), "left")
        .na.fill(0L, Seq("r"))
      val sketch = dense.groupBy($"event_type")
        .agg(
          expr(s"sum(shiftleft(CAST(1 AS BIGINT), CAST($HllRCap - r AS INT)))")
            .as("s_int"),
          sum(when($"r" === 0, 1L).otherwise(0L)).as("n_zero"))
      val exact = h.groupBy($"event_type")
        .agg(countDistinct($"h").as("exact_distinct"))
      sketch.join(exact, Seq("event_type"))
        .select($"event_type", $"s_int", $"n_zero",
          (lit(HllEstConst) / $"s_int".cast("double")).as("est_distinct"),
          $"exact_distinct")
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
          ON reg.event_type = g.event_type AND reg.bkt = g.bkt),
      sk AS (
        SELECT event_type,
               CAST(sum(CAST(1 AS BIGINT) << ($HllRCap - r)) AS BIGINT) AS s_int,
               CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        FROM dense GROUP BY 1),
      ex AS (
        SELECT event_type, CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct
        FROM h GROUP BY 1)
      SELECT sk.event_type, s_int, n_zero,
             $HllEstConst / CAST(s_int AS DOUBLE) AS est_distinct,
             exact_distinct
      FROM sk JOIN ex ON sk.event_type = ex.event_type
      ORDER BY sk.event_type"""))

  // ---------------------------------------------------------------------
  // q180 — BITMAP PRESENCE MASKS (the roaring-bitmap idea at word
  // grain): per (event_type, day), a 62-bit presence mask of user
  // buckets (bit = 1 ⇔ some user with user_id mod 62 in that bucket was
  // active), built with bit_or — the third mergeable-state sketch next
  // to KMV (q65/q133) and HLL (q161/q173), and the one whose MERGE is
  // not just exact but TRIVIAL: monthly presence = OR of ≤ 31 daily
  // longs, never re-touching raw events (q133's stored-cube
  // discipline). bit_count(mask) is the exact count of OCCUPIED buckets
  // — a lower bound on distinct users that saturates at 62, emitted
  // next to the exact distinct count so the saturation behavior is
  // visible. At 100 TB the daily cube row is 8 BYTES of state per
  // (type, day) — the cheapest possible activity index, and the same
  // plan at 2^20-bit masks is a real user-presence bitmap index.
  // ---------------------------------------------------------------------
  private val q180 = QueryDef(
    "q180_bitmap_presence",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull)
        .select($"event_type", to_date($"ts").as("day"), $"user_id",
          to_date(date_trunc("month", $"ts")).as("month"))
      val daily = ev.groupBy($"event_type", $"month", $"day")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT)))")
          .as("mask"))
      val monthlyExact = ev.groupBy($"event_type", $"month")
        .agg(countDistinct($"user_id").as("exact_users"))
      daily.groupBy($"event_type", $"month")
        .agg(
          count(lit(1)).as("n_days"),
          expr("bit_or(mask)").as("month_mask"))
        .withColumn("n_buckets", expr("CAST(bit_count(month_mask) AS BIGINT)"))
        .join(monthlyExact, Seq("event_type", "month"))
        .orderBy($"event_type", $"month")
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(ts AS DATE) AS day, user_id,
               CAST(date_trunc('month', ts) AS DATE) AS month
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      daily AS (
        SELECT event_type, month, day,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT)) AS mask
        FROM ev GROUP BY 1, 2, 3),
      monthly AS (
        SELECT event_type, month,
               CAST(count(*) AS BIGINT) AS n_days,
               bit_or(mask) AS month_mask
        FROM daily GROUP BY 1, 2),
      ex AS (
        SELECT event_type, month,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM ev GROUP BY 1, 2)
      SELECT m.event_type, m.month, m.n_days, m.month_mask,
             CAST(bit_count(m.month_mask) AS BIGINT) AS n_buckets,
             ex.exact_users
      FROM monthly m JOIN ex ON ex.event_type = m.event_type AND ex.month = m.month
      ORDER BY m.event_type, m.month"""))

  // ---------------------------------------------------------------------
  // q186 — SKETCH SET ALGEBRA (audience overlap): estimate every type
  // pair's user-set intersection and Jaccard FROM STORED KMV SKETCHES
  // ALONE — the theta-sketch trick that answers "how much do these two
  // audiences overlap?" without ever joining the raw sets. Theory: the
  // k smallest hashes of A ∪ B are a uniform sample of the union, so
  // the fraction of them present in BOTH per-type sketches estimates
  // Jaccard, and J × union-estimate gives the intersection. When the
  // union sketch is not full the answer is EXACT (the sketches ARE the
  // sets). Per-pair work is pure array algebra over two ≤ k-long rows —
  // with T types, T(T−1)/2 tiny rows total, raw data touched only for
  // the audit columns. k = 256 here (overlap needs more resolution than
  // q65's cardinality-only 64).
  // ---------------------------------------------------------------------
  private val OvK = 256
  private val OvEstConst: Double = (OvK - 1).toDouble * 1152921504606846976.0
  private val q186 = QueryDef(
    "q186_sketch_overlap",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{KmvSketchAgg, Portable}
      val hashed = Tables.events(spark, dir)
        .filter($"user_id".isNotNull)
        .select($"event_type",
          Portable.md5Hash64($"user_id".cast("string")).as("h"))
      val sketches = hashed.groupBy($"event_type")
        .agg(KmvSketchAgg.sketchArray($"h", OvK).as("sk"))
      val pairsEst = sketches.as("a")
        .join(sketches.as("b"), col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          col("a.sk").as("ska"), col("b.sk").as("skb"))
        .withColumn("u", slice(array_sort(array_union($"ska", $"skb")), 1, OvK))
        .withColumn("n_u", size($"u").cast("long"))
        .withColumn("shared", size(filter($"u",
          x => array_contains($"ska", x) && array_contains($"skb", x))).cast("long"))
        .withColumn("est_union",
          when($"n_u" < OvK, $"n_u".cast("double"))
            .otherwise(lit(OvEstConst) / element_at($"u", OvK).cast("double")))
        .withColumn("est_jaccard", $"shared".cast("double") / $"n_u".cast("double"))
        .withColumn("est_inter",
          $"shared".cast("double") / $"n_u".cast("double") * $"est_union")
      val ha = hashed.distinct()
      val exactInter = ha.as("x").join(ha.as("y"),
          col("x.h") === col("y.h") && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairsEst.join(exactInter, Seq("type_a", "type_b"), "left")
        .na.fill(0L, Seq("exact_inter"))
        .select($"type_a", $"type_b", $"n_u", $"shared",
          $"est_union", $"est_jaccard", $"est_inter", $"exact_inter")
        .orderBy($"type_a", $"type_b")
    },
    Some(s"""
      WITH h AS (
        SELECT DISTINCT event_type,
               ${graft.functions.Portable.md5Hash64Sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events WHERE user_id IS NOT NULL),
      ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h),
      sk AS (
        SELECT event_type, list(h ORDER BY h) AS sk
        FROM ranked WHERE rn <= $OvK GROUP BY 1),
      p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.sk AS ska, b.sk AS skb,
               list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:$OvK] AS u
        FROM sk a JOIN sk b ON a.event_type < b.event_type),
      est AS (
        SELECT type_a, type_b,
               CAST(len(u) AS BIGINT) AS n_u,
               CAST(len(list_filter(u,
                 x -> list_contains(ska, x) AND list_contains(skb, x)))
                 AS BIGINT) AS shared,
               CASE WHEN len(u) < $OvK THEN CAST(len(u) AS DOUBLE)
                    ELSE $OvEstConst / CAST(u[$OvK] AS DOUBLE) END AS est_union,
               ska, skb, u
        FROM p),
      ex AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS exact_inter
        FROM h x JOIN h y ON x.h = y.h AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT e.type_a, e.type_b, e.n_u, e.shared, e.est_union,
             CAST(e.shared AS DOUBLE) / CAST(e.n_u AS DOUBLE) AS est_jaccard,
             CAST(e.shared AS DOUBLE) / CAST(e.n_u AS DOUBLE) * e.est_union
               AS est_inter,
             COALESCE(ex.exact_inter, 0) AS exact_inter
      FROM est e LEFT JOIN ex ON ex.type_a = e.type_a AND ex.type_b = e.type_b
      ORDER BY e.type_a, e.type_b"""))

  // ---------------------------------------------------------------------
  // q192 — ROLLING 7-DAY DISTINCT USERS, SKETCHED: the famously
  // expensive sliding-window COUNT(DISTINCT) made cheap by mergeable
  // state — daily HLL registers (q161's) merged across the trailing
  // week with a rolling MAX per (type, bucket), then folded to the
  // estimate. The naive exact form must re-deduplicate every window
  // (7× data touched per day emitted); the sketch form's window pass
  // moves 64 longs per (type, day) whatever the event volume. The
  // register grid is densified FIRST ((type, day) × 64 buckets) so the
  // ROWS −6..0 frame really means 7 calendar days; the exact rolling
  // distinct rides alongside as the audit. Register merge by max is
  // exactly the q173 streaming-state argument applied to windows.
  // ---------------------------------------------------------------------
  private val q192 = QueryDef(
    "q192_rolling_distinct",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val h = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull)
        .select($"event_type", to_date($"ts").as("day"),
          Portable.md5Hash64($"user_id".cast("string")).as("h"))
      val dayReg = h
        .withColumn("bkt", expr("h % 64"))
        .withColumn("w", expr("h div 64"))
        .withColumn("rho",
          when($"w" === 0, lit(HllW + 1L))
            .otherwise(lit(HllW + 1L) - length(conv($"w", 10, 2)).cast("long")))
        .groupBy($"event_type", $"day", $"bkt")
        .agg(max(least($"rho", lit(HllRCap.toLong))).as("r"))
      val grid = h.select($"event_type", $"day").distinct()
        .select($"event_type", $"day", explode(sequence(lit(0L), lit(63L))).as("bkt"))
      val dense = grid.join(dayReg, Seq("event_type", "day", "bkt"), "left")
        .na.fill(0L, Seq("r"))
        .withColumn("ed", expr("unix_date(day)"))
      val wRoll = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type", $"bkt")
        .orderBy($"ed").rangeBetween(-6, 0)
      val rolled = dense
        .withColumn("r7", max($"r").over(wRoll))
        .groupBy($"event_type", $"day")
        .agg(
          expr(s"sum(shiftleft(CAST(1 AS BIGINT), CAST($HllRCap - r7 AS INT)))")
            .as("s_int"))
        .withColumn("est_distinct", lit(HllEstConst) / $"s_int".cast("double"))
      val du = h.distinct()
      val exact = h.select($"event_type", $"day").distinct().as("g")
        .join(du.select($"event_type".as("et2"), $"day".as("d2"), $"h"),
          $"event_type" === $"et2" && $"d2".between(date_sub($"day", 6), $"day"))
        .groupBy($"event_type", $"day")
        .agg(countDistinct($"h").as("exact_distinct"))
      rolled.join(exact, Seq("event_type", "day"))
        .orderBy($"event_type", $"day")
    },
    Some(s"""
      WITH h AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ${graft.functions.Portable.md5Hash64Sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      dayreg AS (
        SELECT event_type, day, h % 64 AS bkt,
               max(least(CASE WHEN h // 64 = 0 THEN ${HllW + 1}
                     ELSE ${HllW + 1} - length(format('{:b}', h // 64)) END,
                 $HllRCap)) AS r
        FROM h GROUP BY 1, 2, 3),
      grid AS (
        SELECT t.event_type, t.day, CAST(b AS BIGINT) AS bkt
        FROM (SELECT DISTINCT event_type, day FROM h) t
        CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
      dense AS (
        SELECT g.event_type, g.day, g.bkt, COALESCE(dr.r, 0) AS r
        FROM grid g LEFT JOIN dayreg dr
          ON dr.event_type = g.event_type AND dr.day = g.day AND dr.bkt = g.bkt),
      rolled AS (
        SELECT event_type, day, bkt,
               max(r) OVER (PARTITION BY event_type, bkt ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS r7
        FROM dense),
      folded AS (
        SELECT event_type, day,
               CAST(sum(CAST(1 AS BIGINT) << ($HllRCap - r7)) AS BIGINT) AS s_int
        FROM rolled GROUP BY 1, 2),
      du AS (SELECT DISTINCT event_type, day, h FROM h),
      exact AS (
        SELECT g.event_type, g.day, CAST(count(DISTINCT du.h) AS BIGINT)
                 AS exact_distinct
        FROM (SELECT DISTINCT event_type, day FROM h) g
        JOIN du ON du.event_type = g.event_type
               AND du.day BETWEEN g.day - 6 AND g.day
        GROUP BY 1, 2)
      SELECT f.event_type, f.day, f.s_int,
             $HllEstConst / CAST(f.s_int AS DOUBLE) AS est_distinct,
             e.exact_distinct
      FROM folded f JOIN exact e
        ON e.event_type = f.event_type AND e.day = f.day
      ORDER BY f.event_type, f.day"""))

  // ---------------------------------------------------------------------
  // q264 — SHUFFLE-SKEW PROFILER: the diagnostic a 100 TB shuffle plan
  // is sized from — for each join/agg keyspace the engine actually
  // shuffles on (events per user, fills per ticker, postings per
  // gram), the shape of the per-key mass distribution: max key, p50 /
  // p99 keys, max-to-median ratio, top-key share, and the GINI of key
  // mass — computed EXACTLY and WITHOUT sorting keys: every statistic
  // derives from the count-VALUE domain rollup (per distinct mass c:
  // how many keys carry it), over which quantiles are cumulative-count
  // cuts and the Gini's Σ rank·mass telescopes in closed form per
  // value group (keys sharing a mass occupy consecutive ranks, so
  // Σ_i i·x_i = Σ_c c·(k_c·R_prev + k_c(k_c+1)/2) — all integers).
  // G = (2S − (n+1)T)/(nT) ≥ 0 exactly; gini_milli is one plain
  // integer division. Int64 envelope: S ≤ n·T — exact while n·T <
  // 9·10¹⁸ (per-keyspace; the gram keyspace is the largest and is
  // vocab-, not corpus-, sized). The cumulative window runs on the
  // ≤ |distinct mass values| grid per keyspace (declared `ks` bound).
  // ---------------------------------------------------------------------
  private val q264 = QueryDef(
    "q264_skew_profiler",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      def stats(masses: DataFrame, name: String): DataFrame = {
        val x = masses.toDF("x")
        // r14 (guide §2.4): the count-value domain fed the cumulative
        // window (→ s, p50, p99) and the raw masses fed a separate
        // totals agg — the base-table aggregation re-executed ~5× per
        // keyspace as lineage copies (the before-plan held 118
        // Exchanges / 36 scans across the three keyspaces). Materialize
        // the ≤|distinct mass values| domain once; totals derive from
        // it exactly (n = Σk, t = Σx·k, max = max(x)).
        val dom = Scoped.materialize()(
          x.groupBy($"x").agg(count(lit(1)).as("k"))
            .withColumn("ks", lit(name)))
        val w = Window.partitionBy("ks").orderBy("x")
        val cum = dom
          .withColumn("cumk", sum($"k").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("rprev", coalesce(sum($"k").over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("srow",
            $"x" * ($"k" * $"rprev" + expr("(k * (k + 1)) div 2")))
        val tot = dom.groupBy($"ks").agg(sum($"k").as("n"),
          sum($"x" * $"k").as("t"), max($"x").as("max_x"))
          .select($"n", $"t", $"max_x", $"ks")
        val s = cum.groupBy($"ks").agg(sum($"srow").as("s"))
        val q = cum.join(broadcast(tot.select($"ks", $"n")), "ks")
        val p50 = q.filter($"cumk" * 2 >= $"n")
          .groupBy($"ks").agg(min($"x").as("p50"))
        val p99 = q.filter($"cumk" * 100 >= $"n" * 99)
          .groupBy($"ks").agg(min($"x").as("p99"))
        tot.join(s, "ks").join(p50, "ks").join(p99, "ks")
          .withColumn("gini_milli",
            expr("(1000 * (2 * s - (n + 1) * t)) div (n * t)"))
          .withColumn("top1_share_milli", expr("(1000 * max_x) div t"))
          .withColumn("max_to_p50_milli", expr("(1000 * max_x) div p50"))
          .select($"ks", $"n".as("n_keys"), $"t".as("total_rows"),
            $"max_x", $"p50", $"p99", $"gini_milli",
            $"top1_share_milli", $"max_to_p50_milli")
      }
      val users = Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull)
        .groupBy($"user_id").agg(count(lit(1)).as("x")).select($"x")
      val tickers = Tables.lineitem(spark, dir)
        .groupBy($"l_suppkey").agg(count(lit(1)).as("x")).select($"x")
      val grams = Dedup.word3grams(spark, dir)
        .groupBy($"lang", $"lb", $"s").agg(count(lit(1)).as("x"))
        .select($"x")
      stats(users, "user_events")
        .unionByName(stats(tickers, "ticker_fills"))
        .unionByName(stats(grams, "gram_postings"))
        .orderBy($"ks")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang, n_chars // 100 AS lb,
               ${graft.functions.Portable.tokensSql("text")} AS w
        FROM documents),
      grams AS (
        SELECT doc_id, lang, lb, s FROM (
          SELECT doc_id, lang, lb, unnest(list_distinct(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS s
          FROM toks)
        WHERE s IS NOT NULL),
      masses AS (
        SELECT 'user_events' AS ks, CAST(count(*) AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id
        UNION ALL
        SELECT 'ticker_fills', CAST(count(*) AS BIGINT)
        FROM lineitem GROUP BY l_suppkey
        UNION ALL
        SELECT 'gram_postings', CAST(count(*) AS BIGINT)
        FROM grams GROUP BY lang, lb, s),
      dom AS (
        SELECT ks, x, CAST(count(*) AS BIGINT) AS k
        FROM masses GROUP BY ks, x),
      cum AS (
        SELECT *, CAST(sum(k) OVER w AS BIGINT) AS cumk,
               coalesce(CAST(sum(k) OVER (PARTITION BY ks ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS rprev
        FROM dom WINDOW w AS (PARTITION BY ks ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      tot AS (
        SELECT ks, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT)
                 AS t, CAST(max(x) AS BIGINT) AS max_x
        FROM masses GROUP BY ks),
      sacc AS (
        SELECT ks, CAST(sum(x * (k * rprev + (k * (k + 1)) // 2))
                 AS BIGINT) AS s
        FROM cum GROUP BY ks),
      p50 AS (
        SELECT c.ks, CAST(min(c.x) AS BIGINT) AS p50
        FROM cum c JOIN tot ON c.ks = tot.ks
        WHERE c.cumk * 2 >= tot.n GROUP BY c.ks),
      p99 AS (
        SELECT c.ks, CAST(min(c.x) AS BIGINT) AS p99
        FROM cum c JOIN tot ON c.ks = tot.ks
        WHERE c.cumk * 100 >= tot.n * 99 GROUP BY c.ks)
      SELECT tot.ks, tot.n AS n_keys, tot.t AS total_rows, tot.max_x,
             p50.p50, p99.p99,
             CAST((1000 * (2 * sacc.s - (tot.n + 1) * tot.t))
               // (tot.n * tot.t) AS BIGINT) AS gini_milli,
             CAST((1000 * tot.max_x) // tot.t AS BIGINT)
               AS top1_share_milli,
             CAST((1000 * tot.max_x) // p50.p50 AS BIGINT)
               AS max_to_p50_milli
      FROM tot
      JOIN sacc ON sacc.ks = tot.ks
      JOIN p50 ON p50.ks = tot.ks
      JOIN p99 ON p99.ks = tot.ks
      ORDER BY tot.ks"""))

  // ---------------------------------------------------------------------
  // q311 — MERGEABLE QUANTILE SKETCH (functions.QuantileSketchAgg): the
  // rank/quantile hole in the sketch family (r12 verdict "Next round"
  // #2). q70's exact percentile is a sort-based aggregate (fine at type
  // grain, unshippable per-partition); q144's equi-width histogram needs
  // global min/max and degrades on skewed long tails. The bottom-k
  // hash-rank sketch is the mergeable middle: bounded state (k pairs),
  // exact-merge (k smallest of a union = k smallest of the union of
  // per-part k smallest — the KMV property, so two-level re-aggregation
  // is bit-exact and partitioning never changes the value), and a DKW
  // rank guarantee audited IN THE ROW: each percentile estimate carries
  // its realized rank error next to the declared ε-budget
  // (ceil(n·ε), ε = sqrt(ln(2/δ)/2k) ≈ 5.09% at k=1024, δ=1%), the
  // q144 exact-vs-estimate discipline. SketchGraphSpec asserts every
  // row lands within budget at both fixture SFs plus partition
  // invariance; the scaladoc on QuantileSketchAgg records why a
  // compaction-based KLL state cannot satisfy the engine's
  // any-partitioning determinism contract.
  // Scale: one map-side-combined sketch pass (k pairs per partition per
  // type on the shuffle) + one broadcast-join audit pass (fan-out ≤ 5
  // percentile rows per type — statically bounded). The audit join is
  // the VERIFICATION stage, not the sketch: a 100 TB deployment ships
  // only the first pass and reads quantiles straight off the sample.
  // ---------------------------------------------------------------------
  private[graft] val QskK = 1024
  private[graft] val QskPcts = Seq(25L, 50L, 75L, 90L, 99L)
  /** ceil(1e6 · sqrt(ln(2/δ)/(2k))) at δ = 1%: the DKW ε in ppm, kept
    * integer so the budget `ceil(n·ε)` is exact integer arithmetic on
    * both engines (the KmvEstConst discipline, minus the float).
    */
  private val QskEpsPpm: Long = 50864L
  require(QskEpsPpm >= math.ceil(1e6 *
    math.sqrt(math.log(2.0 / 0.01) / (2.0 * QskK))).toLong,
    "declared ppm budget must dominate the DKW epsilon")

  private val q311 = QueryDef(
    "q311_quantile_sketch",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{Portable, QuantileSketchAgg}
      val ev = Tables.events(spark, dir)
        .filter($"value".isNotNull && $"event_id".isNotNull)
        .withColumn("cents",
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("h", Portable.md5Hash64(
          concat(lit("qsk|"), $"event_id".cast("string"))))
      val ests = ev.groupBy($"event_type")
        .agg(QuantileSketchAgg.sketch($"h", $"cents", QskK).as("sk"))
        .select($"event_type", $"sk.n".as("n"), $"sk.sample".as("sample"))
        .withColumn("sample_n", size($"sample").cast("long"))
        .withColumn("p_pct", explode(typedLit(QskPcts)))
        .withColumn("est_cents", element_at($"sample",
          expr("(p_pct * sample_n + 99) div 100").cast("int")))
        .select($"event_type", $"p_pct", $"n", $"sample_n", $"est_cents")
      ev.select($"event_type", $"cents")
        .join(broadcast(ests), "event_type")
        .groupBy($"event_type", $"p_pct", $"n", $"sample_n", $"est_cents")
        .agg(
          sum(when($"cents" < $"est_cents", 1L).otherwise(0L)).as("cnt_lt"),
          sum(when($"cents" <= $"est_cents", 1L).otherwise(0L)).as("cnt_le"))
        .withColumn("target_rank", expr("(p_pct * n + 99) div 100"))
        .withColumn("rank_err",
          when($"target_rank" >= $"cnt_lt" + 1L &&
            $"target_rank" <= $"cnt_le", 0L)
            .otherwise(least(
              abs($"target_rank" - ($"cnt_lt" + 1L)),
              abs($"target_rank" - $"cnt_le"))))
        .withColumn("rank_budget",
          expr(s"(n * $QskEpsPpm + 999999) div 1000000"))
        .withColumn("within_budget",
          when($"rank_err" <= $"rank_budget", 1L).otherwise(0L))
        .select($"event_type", $"p_pct", $"n", $"sample_n", $"est_cents",
          $"target_rank", $"rank_err", $"rank_budget", $"within_budget")
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
      samp AS (SELECT event_type, cents FROM hranked WHERE rn <= $QskK),
      sstat AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sample_n
                FROM samp GROUP BY 1),
      nstat AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                FROM c GROUP BY 1),
      sorted AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY cents) AS vr
        FROM samp),
      pcts AS (SELECT CAST(unnest([${QskPcts.mkString(", ")}]) AS BIGINT)
                 AS p_pct),
      est AS (
        SELECT s.event_type, p.p_pct, ns.n, ss.sample_n,
               s.cents AS est_cents
        FROM sorted s
        JOIN sstat ss ON ss.event_type = s.event_type
        JOIN nstat ns ON ns.event_type = s.event_type
        CROSS JOIN pcts p
        WHERE s.vr = (p.p_pct * ss.sample_n + 99) // 100),
      cnt AS (
        SELECT e.event_type, e.p_pct, e.n, e.sample_n, e.est_cents,
               CAST(sum(CASE WHEN c.cents < e.est_cents THEN 1 ELSE 0 END)
                 AS BIGINT) AS cnt_lt,
               CAST(sum(CASE WHEN c.cents <= e.est_cents THEN 1 ELSE 0 END)
                 AS BIGINT) AS cnt_le
        FROM est e JOIN c ON c.event_type = e.event_type
        GROUP BY 1, 2, 3, 4, 5),
      audit AS (
        SELECT *, (p_pct * n + 99) // 100 AS target_rank,
               (n * $QskEpsPpm + 999999) // 1000000 AS rank_budget
        FROM cnt),
      err AS (
        SELECT *,
               CASE WHEN target_rank BETWEEN cnt_lt + 1 AND cnt_le THEN 0
                    ELSE least(abs(target_rank - (cnt_lt + 1)),
                               abs(target_rank - cnt_le)) END AS rank_err
        FROM audit)
      SELECT event_type, p_pct, n, sample_n, est_cents,
             CAST(target_rank AS BIGINT) AS target_rank,
             CAST(rank_err AS BIGINT) AS rank_err,
             CAST(rank_budget AS BIGINT) AS rank_budget,
             CAST(CASE WHEN rank_err <= rank_budget THEN 1 ELSE 0 END
               AS BIGINT) AS within_budget
      FROM err
      ORDER BY event_type, p_pct"""))

  // ---------------------------------------------------------------------
  // q314 — QUANTILE-SKETCH RE-AGGREGATION (the q133 pre-aggregated-cube
  // discipline applied to q311): per-(type, day) bottom-k sketches in
  // STORAGE form (exact row count + the h-ordered (h, v) pairs,
  // functions.QuantileSketchArrayAgg) stand in for a materialized daily
  // cube; the corpus quantile estimate then comes from a DECLARATIVE
  // exact merge of the stored pairs — explode → min-v-per-hash → k
  // smallest hashes — never touching raw events again. The merge is
  // EXACT: h ≤ global kth ⟹ h ≤ every day's kth where h occurs (a
  // union's k-th smallest only moves DOWN), so every globally-retained
  // hash was retained by each day that saw it, and min-v-per-hash
  // recovers the collision rule — the oracle is therefore the DIRECT
  // one-level corpus SQL (q311's sample CTEs), unchanged: the hash gate
  // proves two-level merge ≡ one-level sketch. At 100 TB the daily cube
  // rows are ≤ k pairs each — any date range's quantile estimate is a
  // merge over a few hundred tiny rows.
  // Scale: the merge window partitions by event_type over DAILY-SKETCH
  // pair rows — ≤ |days|·k rows per type, the per-day-calendar grain
  // the WindowBounds `event_type` declaration covers.
  // ---------------------------------------------------------------------
  private val q314 = QueryDef(
    "q314_quantile_reaggregate",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{Portable, QuantileSketchAgg}
      val ev = Tables.events(spark, dir)
        .filter($"value".isNotNull && $"event_id".isNotNull)
        .withColumn("cents",
          ($"value".cast(DecimalType(28, 2)) * 100).cast("long"))
        .withColumn("h", Portable.md5Hash64(
          concat(lit("qsk|"), $"event_id".cast("string"))))
        .withColumn("day", to_date($"ts"))
      // level 1: the stored daily cube (≤ k pairs per type+day)
      val daily = ev.groupBy($"event_type", $"day")
        .agg(QuantileSketchAgg.sketchArray($"h", $"cents", QskK).as("sk"))
      // level 2: exact declarative merge — raw data never re-read
      val n2 = daily.groupBy($"event_type").agg(sum($"sk.n").as("n"))
      val wH = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"h")
      val merged = daily
        .select($"event_type", explode($"sk.pairs").as("p"))
        .groupBy($"event_type", $"p.h".as("h"))
        .agg(min($"p.v").as("v"))
        .withColumn("rn", row_number().over(wH))
        .filter($"rn" <= QskK)
        .groupBy($"event_type")
        .agg(sort_array(collect_list($"v")).as("sample"))
      merged.join(n2, "event_type")
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
      samp AS (SELECT event_type, cents FROM hranked WHERE rn <= $QskK),
      sstat AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sample_n
                FROM samp GROUP BY 1),
      nstat AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                FROM c GROUP BY 1),
      sorted AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY cents) AS vr
        FROM samp),
      pcts AS (SELECT CAST(unnest([${QskPcts.mkString(", ")}]) AS BIGINT)
                 AS p_pct)
      SELECT s.event_type, p.p_pct, ns.n, ss.sample_n,
             s.cents AS est_cents
      FROM sorted s
      JOIN sstat ss ON ss.event_type = s.event_type
      JOIN nstat ns ON ns.event_type = s.event_type
      CROSS JOIN pcts p
      WHERE s.vr = (p.p_pct * ss.sample_n + 99) // 100
      ORDER BY s.event_type, p.p_pct"""))

  override val defs: Seq[QueryDef] =
    Seq(q59, q60, q65, q66, q87, q133, q144, q161, q180, q186, q192, q264,
      q311, q314)
}
