package graft.sources

import org.apache.spark.sql.SparkSession

/** Schema fingerprint of the driver-generated fixture tables, stamped
  * into every bench/verify artifact. Round 6 was lost to a SILENT fixture
  * regeneration (events.ts changed physical timestamp type and 31 queries
  * failed with opaque analysis errors); FixtureCanarySpec now pins the
  * layouts, and this fingerprint makes any future generation change
  * visible in the artifact DIFF — the BENCH/CORRECTNESS JSON records what
  * schema it ran against, so "the numbers moved" and "the fixtures moved"
  * are distinguishable after the fact.
  *
  * The hash is over the RAW parquet schema (column name + Spark logical
  * type, in file order) — upstream of the readers' normalization, so it
  * moves exactly when the driver's generator does.
  */
object FixtureFingerprint {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** table → 12-hex-digit schema hash ("absent" for unreadable files). */
  def perTable(spark: SparkSession, dir: String): Seq[(String, String)] =
    TableNames.map { t =>
      val fp =
        try {
          val schema = Parquet.read(spark, s"$dir/$t.parquet").schema
            .map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
          md5hex(schema).take(12)
        } catch { case _: Exception => "absent" }
      t -> fp
    }

  /** One 12-hex digest over all per-table hashes — the compact stamp. */
  def combined(spark: SparkSession, dir: String): String =
    md5hex(perTable(spark, dir)
      .map { case (t, h) => s"$t=$h" }.mkString(";")).take(12)

  /** The per-table map as a JSON object string. */
  def json(spark: SparkSession, dir: String): String =
    perTable(spark, dir)
      .map { case (t, h) => s""""$t":"$h"""" }.mkString("{", ",", "}")
}
