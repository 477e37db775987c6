package graft.sources

import graft.{Session, SparkEntry, TestSpark}
import graft.operators.Silver
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** The parquet read seam (Parquet.read): warm reads of fixture and silver
  * tables start no Spark job, a file rewritten under its path is read
  * with its new schema, and every carried schema is the one inference
  * would give.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous but ordered, so a marker job run afterwards flushes
    * every earlier job start to the listener. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("parquet-read-marker", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var n = 0
      var g = groups.poll(60, TimeUnit.SECONDS)
      while (g != "parquet-read-marker") {
        assert(g != null, "the marker job never reached the listener")
        n += 1
        g = groups.poll(60, TimeUnit.SECONDS)
      }
      n
    } finally sc.removeSparkListener(listener)
  }

  /** (root path, schema the read resolved to) of every parquet scan. */
  private def parquetScans(df: DataFrame): Seq[(String, StructType)] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation =>
        r.location.rootPaths.map(_.toString -> r.dataSchema) }
      .flatten

  test("warm fixture and silver reads start no Spark job") {
    val dailyBars = Silver.tables.find(_.name == "daily_bars").get
    // cold: inference and the silver build may run jobs
    Tables.table(spark, TestSpark.Sf001, "orders")
    Tables.events(spark, TestSpark.Sf001)
    dailyBars.build(spark, TestSpark.Sf001)
    assert(jobsDuring(Tables.table(spark, TestSpark.Sf001, "orders")) === 0)
    assert(jobsDuring(Tables.events(spark, TestSpark.Sf001)) === 0)
    assert(jobsDuring(dailyBars.build(spark, TestSpark.Sf001)) === 0)
    // the memo is per input version and parquet confs, not per session:
    // a clone with the same parquet confs reads with no job, a clone with
    // another parquet conf infers again
    assert(jobsDuring(Tables.table(Session.withConfs(spark), TestSpark.Sf001, "orders")) === 0)
    assert(jobsDuring(Tables.table(Session.withConfs(spark,
      "spark.sql.parquet.binaryAsString" -> "true"), TestSpark.Sf001, "orders")) > 0)
  }

  test("a fixture file rewritten under the same path is read with its new schema") {
    val dir = Files.createTempDirectory("graft_parquet_read_").toString
    def writeTable(df: DataFrame): Unit = {
      val tmp = s"$dir/_tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeTable(Seq((1L, "a")).toDF("id", "s"))
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq === Seq("id", "s"))
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq === Seq("id", "s"))
    writeTable(Seq((2L, "b", 2.5)).toDF("id", "s", "x"))
    val re = Tables.table(spark, dir, "t")
    assert(re.schema.fieldNames.toSeq === Seq("id", "s", "x"))
    assert(re.as[(Long, String, Double)].collect().toSeq === Seq((2L, "b", 2.5)))
  }

  test("a shared build that loses the race deletes its own temp dir at once") {
    import graft.operators.Scoped
    // a declared slug, so the registry audit still covers the key
    val dir = Files.createTempDirectory("graft_race_").toString
    def liveDirs = new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .count(_.startsWith("graft_shared_daily_bars_"))
    val before = liveDirs
    // the outer build runs a nested build of the same key, which wins
    val df = Scoped.shared(spark, "daily_bars", dir)({
      Scoped.shared(spark, "daily_bars", dir)((Nil, Seq(2L).toDF("x")))
      (Nil, Seq(1L).toDF("x"))
    })
    assert(df.as[Long].collect().toSeq === Seq(2L))
    assert(liveDirs === before + 1)
  }

  test("carried schemas equal inference: every silver table and a materialize site") {
    val scans = Silver.tables.map { t =>
      val s = parquetScans(t.build(spark, TestSpark.Sf001))
        .filter(_._1.contains("graft_shared_"))
      assert(s.nonEmpty, s"${t.name} reads no shared table")
      s
    } :+ {
      // q118's position table is a Scoped.materialize round-trip
      val s = parquetScans(SparkEntry.queries("q118_substring_dedup")(
        spark, TestSpark.Sf001)).filter(_._1.contains("graft_mat_"))
      assert(s.nonEmpty, "q118 reads no materialized table")
      s
    }
    scans.flatten.distinct.foreach { case (path, carried) =>
      assert(carried === spark.read.parquet(path).schema, path)
    }
  }
}
