package graft.sources

import graft.{SparkEntry, TestSpark}
import graft.operators.{Scoped, Silver}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Every cached derivation keys on the version of its inputs, not on
  * their path: a fixture file rewritten under the same path changes the
  * silver-derived answers and the trained model state read from it, and
  * the superseded silver dir is deleted.
  */
class InputRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A writable copy of the sf0.001 fixture (deleted at JVM exit). */
  private def fixtureCopy(): String = {
    val dir = Scoped.newTempDir("graft_rewrite_")
    new java.io.File(TestSpark.Sf001).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(dir, f.getName)))
    dir
  }

  /** Replace `dir/<table>.parquet` with `df` as one file (a new size and
    * mtime under the same path). */
  private def rewrite(dir: String, table: String, df: DataFrame): Unit = {
    val tmp = Scoped.newTempDir("graft_rewrite_tmp_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$dir/$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Half of an sf0.001 fixture table, read as stored. */
  private def half(table: String, id: String) =
    spark.read.parquet(s"${TestSpark.Sf001}/$table.parquet").filter(s"$id % 2 = 0")

  private def answer(q: String, dir: String) =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq

  test("a rewritten events file rebuilds daily_events and deletes the superseded dir") {
    val (dir, fresh) = (fixtureCopy(), fixtureCopy())
    rewrite(fresh, "events", half("events", "event_id"))
    val dailyEvents = Silver.tables.find(_.name == "daily_events").get
    def tableDir(d: String) = new java.io.File(
      new java.net.URI(dailyEvents.build(spark, d).inputFiles.head)).getParentFile
    val before = answer("q07_interval_join", dir)
    val superseded = tableDir(dir)
    assert(superseded.getName.startsWith("graft_shared_daily_events_"))
    rewrite(dir, "events", half("events", "event_id"))
    val after = answer("q07_interval_join", dir)
    assert(after !== before)
    assert(after === answer("q07_interval_join", fresh))
    assert(!superseded.exists(), s"$superseded survived the rewrite")
    assert(tableDir(dir) != superseded)
  }

  test("a rewritten documents file retrains q117's BPE merge table") {
    val (dir, fresh) = (fixtureCopy(), fixtureCopy())
    rewrite(fresh, "documents", half("documents", "doc_id"))
    val before = answer("q117_bpe_train", dir)
    rewrite(dir, "documents", half("documents", "doc_id"))
    val after = answer("q117_bpe_train", dir)
    assert(after !== before)
    assert(after === answer("q117_bpe_train", fresh))
  }
}
