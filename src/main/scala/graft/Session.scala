package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session policy. Every session a main or a spec
  * builds comes from [[local]]; every per-query conf override is a
  * [[withConfs]] clone, so no code changes a live session's conf while
  * other queries plan on it (Catalyst reads the session's SQLConf when it
  * analyses, optimizes and plans).
  */
object Session {
  /** Every non-default conf an engine session sets. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // legacy-fixture back-compat (TIMESTAMP(NANOS) generations): pinned at
    // session build, so clones inherit it and no read sets it; the current
    // TIMESTAMP(MICROS) fixture ignores this conf entirely
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // a long-lived session plans far more than the default 100 generated
    // classes; evictions force Janino recompiles mid-run
    "spark.sql.codegen.cache.maxEntries" -> "4000")

  /** `SPARK_GRAFT_CPUS` (default 4): the core count of a main's session. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The local session on `cpus` cores, logging at WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = confs(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A clone of `spark` (same SparkContext, caches and files; its own
    * SQLConf) with `kv` set: the one way to override a conf. The clone
    * starts from the SparkContext's conf, not from `spark`'s overrides, so
    * pass every override a query needs in one call.
    */
  def withConfs(spark: SparkSession, kv: (String, String)*): SparkSession = {
    val ss = spark.newSession()
    kv.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }
}
