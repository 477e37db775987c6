package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, CoreBatch, Corpus, CrossSection, Curation, Dedup, Extras, Graph, Indicators, Multimodal, Risk, ScalePatterns, Scoring, Search, Serde, Series, Similarity, Temporal, TextOps, WindowFeatures}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 is registered here as a named query; each
  * SQL-expressible one also carries a DuckDB oracle. Queries are grouped in
  * [[QueryModule]]s under graft.operators.
  */
object SparkEntry {

  private def modules: Seq[QueryModule] = Seq(
    CoreBatch, WindowFeatures, TextOps, Scoring, Dedup, Similarity,
    Streams, Multimodal, Extras, Serde, ScalePatterns, Curation, Temporal,
    Indicators, Search, Analytics, Corpus, Series, Graph, CrossSection,
    Risk)

  private lazy val allDefs: Seq[QueryDef] = {
    val ds = modules.flatMap(_.defs)
    require(ds.map(_.name).distinct.size == ds.size, "duplicate query names")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreBatch.goldDaily(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, served through
    * [[Prepared]]: a repeated request reuses its analyzed plan while the
    * version of its inputs holds. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> Prepared(d.name, d.build)).toMap

  /** The raw builders: every call builds cold (the census times these). */
  private[graft] def coldQueries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
