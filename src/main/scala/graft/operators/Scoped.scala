package graft.operators

import graft.sources.Parquet
import org.apache.spark.sql.DataFrame
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

  /** Materialized DERIVED TABLE, built once per (key) per session.
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
    * ASSUMES IMMUTABLE INPUTS for the life of the session: the cache keys
    * on the logical name (which embeds the input dir path), so if the
    * files under that path are rewritten the cached derivation is stale.
    * That matches the fixture contract (driver-generated parquet, never
    * mutated); a deployment with mutable inputs would key on a content
    * fingerprint (e.g. max modification time + file count) instead —
    * call `invalidate()` to drop the cache explicitly.
    */
  private val sharedPaths = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** Every key a shared build has run for this session (servebench's
    * dashboard counts silver misses off it).
    */
  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def builtKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    built.asScala.toSet
  }

  def shared(spark: org.apache.spark.sql.SparkSession, key: String)(
      build: => (Seq[DataFrame], DataFrame)): DataFrame = {
    // NOT computeIfAbsent: derived tables nest (the global-rn build reads
    // the bars table), and a nested computeIfAbsent on the same map is a
    // recursive-update error. A lost race just builds twice into separate
    // temp dirs; the loser deletes its own dir at once and reads the
    // winner's.
    var table = sharedPaths.get(key)
    if (table == null) {
      built.add(key)
      val (persisted, result) = build
      // embed the logical name in the dir so plans/listings show WHICH
      // derived table a scan reads (the slug drops the input-dir path)
      val slug = key.takeWhile(_ != ':').replaceAll("[^A-Za-z0-9_]", "_")
      val out = newTempDir(s"graft_shared_${slug}_")
      result.write.mode("overwrite").parquet(out)
      persisted.foreach(_.unpersist())
      val prev = sharedPaths.putIfAbsent(key, (out, result.schema))
      table = if (prev == null) (out, result.schema) else {
        dropTempDir(out)
        prev
      }
    }
    Parquet.read(spark, table._1, Some(table._2))
  }

  /** Drop every cached derived table and delete its dir (next caller
    * rebuilds). For tests and for callers that know an input dir changed
    * under its path; a frame still reading a dropped table fails. */
  def invalidate(): Unit = sharedPaths.keySet.forEach { k =>
    Option(sharedPaths.remove(k)).foreach(t => dropTempDir(t._1))
  }
}
