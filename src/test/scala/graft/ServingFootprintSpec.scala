package graft

import graft.sources.Memo
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived serving session has a bounded footprint: repeating the
  * dashboard's queries over unchanged inputs creates no temp dir and no
  * memo entry after the first round.
  */
class ServingFootprintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def liveTempDirs: Int =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .count(_.startsWith("graft_"))

  test("five dashboard rounds leave as many temp dirs and memo entries as the first") {
    def round(): Unit = TestSpark.Dashboard.foreach(q =>
      SparkEntry.queries(q)(spark, TestSpark.Sf001)
        .write.format("noop").mode("overwrite").save())
    round()
    val (dirs, entries) = (liveTempDirs, Memo.size)
    for (r <- 2 to 5) {
      round()
      assert(liveTempDirs === dirs, s"temp dirs after round $r")
      assert(Memo.size === entries, s"memo entries after round $r")
    }
  }
}
