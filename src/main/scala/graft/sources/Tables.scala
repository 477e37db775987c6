package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scans over the fixture catalog (TESTDATA.md). One parquet file per
  * logical table; reads go through [[Parquet.read]] (schema inferred once
  * per session and file version) and stay plain parquet scans, so
  * Catalyst keeps filter pushdown + column pruning all the way into the
  * scan.
  *
  * At cluster scale these would be partitioned/bucketed tables (SURVEY.md
  * §4: partition by date so the reference's date-range access pattern —
  * stock_pipeline.py:159-168 — prunes partitions); the loader API is the
  * same either way.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** The events fixture's `ts` column has shipped in two physical layouts:
    * parquet TIMESTAMP(MICROS) without UTC adjustment (current — Spark 4
    * reads it as TIMESTAMP_NTZ) and TIMESTAMP(NANOS) (older generations —
    * Spark 4 only reads it via the legacy nanos-as-long conf). Normalize
    * both to session-zoned TimestampType at microsecond precision: sessions
    * here pin UTC, so the NTZ→TZ cast is value-identity and matches DuckDB's
    * naive-TIMESTAMP view of the same file exactly.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // harness init normally pins this at session build (Verify/Bench/spec
    // builders); the guarded set below is a first-read fallback for ad-hoc
    // sessions. It is safe where variable conf mutation is not: the value
    // is a process-lifetime constant ("true", never restored), so no
    // concurrently-planning query can observe a transient state.
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) fixture read as raw nanos
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP(MICROS)/NTZ fixture: wall-clock == UTC instant
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every fixture table as a temp view so users can hit the whole
    * catalog through `spark.sql(...)` — the SQL surface of the engine.
    * The events view goes through [[events]] (nanos conf + µs truncation):
    * a raw parquet read would fail on a fresh session (Spark 4 rejects
    * TIMESTAMP(NANOS)) and expose `ts` as a raw nanosecond BIGINT on a
    * session where the legacy conf was already set — either way
    * inconsistent with every query's and oracle's timestamp semantics.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings")
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }
}
