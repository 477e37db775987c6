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
  *     once per [[inputVersion]] and set of parquet confs (inference
  *     reads e.g. `spark.sql.legacy.parquet.nanosAsLong`), whatever
  *     session reads it: a `Session.withConfs` clone with the same parquet
  *     confs reads with no job. A file rewritten under the same path, or
  *     a read under other parquet confs, infers again and replaces the
  *     path's one [[Memo]] entry.
  */
object Parquet {

  private val schemas = new Memo[StructType]()

  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    spark.read.schema(schema.getOrElse(inferredSchema(spark, path))).parquet(path)

  private def inferredSchema(spark: SparkSession, path: String): StructType = {
    val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
    val version = s"${inputVersion(spark, Seq(path))};$confs"
    schemas(path, version)(spark.read.parquet(path).schema)
  }

  /** The version every [[Memo]] keys its inputs on: each data file under
    * `paths` (hidden `_`/`.` entries skipped, as Spark's listing does)
    * with its size and mtime. Plain FileStatus listing: `listFiles` builds
    * LocatedFileStatus, which looks up owner and permissions — about 5 ms
    * a call on the local file system, against 40 µs for `getFileStatus`. */
  def inputVersion(spark: SparkSession, paths: Seq[String]): String =
    paths.map(new Path(_)).flatMap { p =>
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(st: FileStatus): Seq[String] =
        if (!st.isDirectory) Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
          .flatMap(files)
      files(fs.getFileStatus(p))
    }.sorted.mkString(";")
}
