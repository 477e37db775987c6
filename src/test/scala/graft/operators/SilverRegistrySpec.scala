package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The silver-table registry: every declared table builds and reads back
  * non-empty, names are unique, and — the audit the registry exists for —
  * every derived table Scoped.shared ACTUALLY materializes across the
  * query surface (PlanCensus) is covered by a declaration. A new Scoped.shared call site without a
  * registry entry fails here.
  */
class SilverRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registry names are unique and every table builds non-empty") {
    assert(Silver.names.distinct.size === Silver.names.size)
    Silver.tables.foreach { t =>
      val df = t.build(spark, TestSpark.Sf001)
      assert(df.schema.nonEmpty, t.name)
      assert(df.limit(1).count() === 1L, s"${t.name} is empty")
      assert(t.consumers.nonEmpty, s"${t.name} declares no consumers")
    }
  }

  test("every Scoped.shared key built this session is a declared silver table") {
    // every shared table the full query surface builds (the census's
    // shared writes, by the slug in their dir); none may be undeclared
    val undeclared = graft.PlanCensus.sharedSlugs.filterNot(Silver.covers)
    assert(undeclared.isEmpty,
      s"undeclared silver tables: ${undeclared.mkString(", ")} — " +
        "add them to Silver.tables")
  }

  test("covers() matches exact and parameterized slugs only") {
    assert(Silver.covers("daily_bars:/some/dir"))
    assert(Silver.covers("kmeans_cents_5:/some/dir"))
    assert(Silver.covers("gbt_model_store"))
    assert(!Silver.covers("mystery_table:/some/dir"))
    assert(!Silver.covers("daily_barsx:/some/dir"))
  }
}
