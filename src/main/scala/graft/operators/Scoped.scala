package graft.operators

import graft.sources.{Memo, Parquet}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** Cache-lifetime hygiene for query builders that persist intermediates.
  *
  * A builder that `persist()`s a subtree referenced by several branches of
  * its returned plan cannot unpersist before returning — the caller's
  * action would recompute the subtree from scratch — so without a scope
  * boundary every invocation leaks cache entries for the life of the
  * session (executor memory pressure; an OOM at 100 TB operating scale,
  * where a long-lived service would run thousands of such queries).
  *
  * `materialize` closes the scope: it runs the terminal action itself by
  * writing the builder's (small, post-aggregation) result to a temp
  * parquet, releases every persisted input, and hands back the re-read.
  * The caches live exactly as long as the computation that needs them.
  * Row order is not preserved across the round-trip — apply the final
  * `orderBy` to the returned frame, not the argument.
  */
private[graft] object Scoped {

  // Every scratch dir the engine creates (materialize and shared tables,
  // stream outputs, checkpoints, replay feeds) is registered here and
  // deleted on JVM shutdown, or earlier through `dropTempDir` — a
  // long-lived session would otherwise accumulate one parquet copy per
  // materialized scope on local disk for its whole life.
  // (At cluster scale these would be managed silver tables with a
  // retention policy; the shutdown hook is the in-process analog.)
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private[graft] def newTempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    tempDirs.add(dir)
    dir
  }

  private def deleteDir(d: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(d)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
    } catch { case _: Exception => () } // best-effort cleanup

  /** Delete a registered temp dir now instead of at JVM exit. */
  private[graft] def dropTempDir(d: String): Unit = {
    tempDirs.remove(d)
    deleteDir(d)
  }

  sys.addShutdownHook(tempDirs.forEach(deleteDir(_)))

  def materialize(persisted: DataFrame*)(result: DataFrame): DataFrame = {
    val spark = result.sparkSession
    val out = newTempDir("graft_mat_")
    result.write.mode("overwrite").parquet(out)
    persisted.foreach(_.unpersist())
    Parquet.read(spark, out, Some(result.schema))
  }

  /** Materialized DERIVED TABLE, built once per (name, dir) and input version.
    *
    * Several queries consume the same expensive intermediate (the verified
    * MinHash pair table feeds q35, the curation funnel and the cluster
    * pass; the global row-number table feeds both split queries). At
    * cluster scale these are silver tables you'd write once and read many
    * times — never recompute per query. This is that pattern in-process:
    * first caller builds + writes parquet and releases its caches; every
    * later caller (any query, any pass) reads the parquet. Unlike
    * `persist()` reuse, nothing occupies executor memory between queries.
    *
    * Read-back: the build's writer keeps the schema of the frame it wrote
    * next to the path, and every read (first or later caller, any session)
    * re-reads the parquet through [[graft.sources.Parquet.read]] with that
    * schema — a warm read starts no Spark job (no footer inference).
    *
    * The table is a [[Memo]] entry keyed `name:dir` (plain `name` for a
    * table with no input dir) at the dir's [[Parquet.inputVersion]]: a
    * file rewritten under `dir` rebuilds the table on its next read and
    * deletes the superseded dir.
    */
  private final case class Table(path: String, schema: StructType, dir: String)
  private val tables = new Memo[Table](t => dropTempDir(t.path))

  /** The path of every shared table built over `dir` or over no dir: the
    * tables a plan over `dir` reads at `dir`'s input version. */
  private[graft] def sharedOver(dir: String): Set[String] =
    tables.values.collect { case t if t.dir.isEmpty || t.dir == dir => t.path }.toSet

  /** Every key a shared build has run for this session (servebench's
    * dashboard counts silver misses off it).
    */
  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def builtKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    built.asScala.toSet
  }

  def shared(spark: SparkSession, name: String, dir: String = "")(
      build: => (Seq[DataFrame], DataFrame)): DataFrame = {
    val key = if (dir.isEmpty) name else s"$name:$dir"
    val version = if (dir.isEmpty) "" else Parquet.inputVersion(spark, Seq(dir))
    val table = tables(key, version) {
      built.add(key)
      val (persisted, result) = build
      // embed the logical name in the dir so plans/listings show WHICH
      // derived table a scan reads
      val out = newTempDir(s"graft_shared_${name.replaceAll("[^A-Za-z0-9_]", "_")}_")
      result.write.mode("overwrite").parquet(out)
      persisted.foreach(_.unpersist())
      Table(out, result.schema, dir)
    }
    Parquet.read(spark, table.path, Some(table.schema))
  }

  /** Clear every memo: derived tables, replay feeds and prepared plans
    * are dropped and the tables' dirs deleted (the next caller rebuilds);
    * a frame still reading a dropped table fails. */
  def invalidate(): Unit = Memo.clearAll()
}
