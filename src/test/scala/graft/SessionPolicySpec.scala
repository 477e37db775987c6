package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** The session policy ([[Session]]) holds: only `graft/Session.scala`
  * builds a session or sets a conf, and a query that needs an override
  * leaves the shared session's conf as it found it.
  */
class SessionPolicySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("only graft/Session.scala builds a session or changes a live session's conf") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val policy = root.resolve("graft/Session.scala")
    val forbidden = Seq("SparkSession.builder", ".conf.set(", ".conf.unset(")
    val sites = Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p != policy)
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if forbidden.exists(l.contains) =>
              s"${root.relativize(p)}:${i + 1}: ${l.trim}"
          }
        }.toList.sorted
    }
    assert(sites.isEmpty, "\n" + sites.mkString("\n"))
  }

  test("q78 restates only the purchase partition and leaves the session conf static") {
    import spark.implicits._
    // event_type -> (n, value_cents)
    def byType(rows: Array[Row]) =
      rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val plain = byType(graft.sources.Tables.events(spark, TestSpark.Sf001)
      .filter($"ts".isNotNull).groupBy($"event_type")
      .agg(count(lit(1)), sum(($"value".cast(DecimalType(28, 2)) * 100).cast("long")))
      .collect())
    val got = byType(
      SparkEntry.queries("q78_incremental_overwrite")(spark, TestSpark.Sf001).collect())
    assert(plain.size === 5 && plain.contains("purchase"), plain)
    assert(got.keySet === plain.keySet)
    plain.foreach { case (t, (n, c)) =>
      assert(got(t) === (if (t == "purchase") (n, 2 * c) else (n, c)), t)
    }
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode").equalsIgnoreCase("static"))
  }
}
