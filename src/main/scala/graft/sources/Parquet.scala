package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet read of every table the engine owns: fixture tables
  * (`Tables.table`, the fingerprint), silver tables and the model store
  * (`Scoped.shared`), materialize barriers and streaming sinks.
  *
  * Spark infers a parquet schema on every `spark.read.parquet`: a
  * one-task footer job plus its closure cleaning, which a warm dashboard
  * request would pay for every table it scans. A read with a given schema
  * starts no job. So:
  *   - a writer that re-reads what it just wrote passes the schema of the
  *     frame it wrote (`schema`), and the read starts no job;
  *   - an input the engine did not write (a fixture file) is inferred
  *     once per session and INPUT VERSION: the names, sizes and mtimes of
  *     its data files, plus the session's parquet confs (inference reads
  *     e.g. `spark.sql.legacy.parquet.nanosAsLong`). A file rewritten
  *     under the same path is a new version and is inferred again.
  * The memo holds one entry per path per session, valid only for the
  * version it was inferred at, and an entry dies with its session.
  */
object Parquet {

  private val inferred = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]]()

  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    spark.read.schema(schema.getOrElse(inferredSchema(spark, path))).parquet(path)

  private def inferredSchema(spark: SparkSession, path: String): StructType = {
    val memo = inferred.synchronized {
      inferred.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap())
    }
    val version = inputVersion(spark, path)
    memo.get(path) match {
      case (v, s) if v == version => s
      case _ =>
        // a lost race infers twice; both threads put the same value
        val s = spark.read.parquet(path).schema
        memo.put(path, (version, s))
        s
    }
  }

  /** Data files (hidden `_`/`.` entries skipped, as Spark's listing
    * does) with their sizes and mtimes, then the session's parquet confs.
    * Plain FileStatus listing: `listFiles` builds LocatedFileStatus, which
    * looks up owner and permissions — about 5 ms a call on the local file
    * system, against 40 µs for `getFileStatus`. */
  private def inputVersion(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[String] =
      if (!st.isDirectory) Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(files)
    val confs = spark.conf.getAll.filter(_._1.contains("parquet"))
      .map { case (k, v) => s"$k=$v" }
    (files(fs.getFileStatus(p)).sorted ++ confs.toSeq.sorted).mkString(";")
  }
}
