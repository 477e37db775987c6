package graft.plans

import graft.{PlanCensus, PlanRecorder, SparkEntry, TestSpark}
import graft.operators.Scoped
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The silver-reuse CI (r9 verdict "Next round" #5): no two independent
  * top-level builds (queries or silver tables) may plan the SAME
  * canonical fact-scanning Aggregate subtree — a structural duplicate
  * means one of them rebuilds a derived frame the other already
  * materializes (or both should share a new silver table). Within one
  * plan Spark's ReuseExchange already deduplicates; ACROSS queries only
  * this audit does. See [[SharedSubtrees]] for the allowlist contract.
  */
class SharedSubtreeSpec extends AnyFunSuite {
  /** Base FACT tables — the scans worth guarding. Dimension tables
    * (region/nation/supplier/customer/part) are cheap to re-scan by
    * design and excluded.
    */
  private val factTables = Set("lineitem", "orders", "events", "documents",
    "embeddings")

  private def factScans(p: LogicalPlan): Set[String] =
    p.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet.intersect(factTables)

  /** The canonical rendering of `a` with what differs between two builds of
    * the same code blanked: temp-dir digits, RDD and physical plan ids,
    * exprIds, the file listings of a file index, the class and identity of
    * a lambda and the numbering of distinct groups. */
  private def fingerprint(a: Aggregate): String = distinctGroupsSorted(a).canonicalized.toString
    .replaceAll("(graft_[a-z0-9_]*?_)\\d+", "$1N")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("#\\d+", "#N")
    .replaceAll("\\$Lambda[^\\s,]*", "\\$Lambda")
    .replaceAll("(FileIndex)(\\(\\d+ paths\\))?\\[[^\\]]*\\]", "$1[..]")

  /** `p` with each distinct-aggregate `Expand` in one fixed layout: the
    * optimizer orders its columns and numbers its groups (`gid`) in hash
    * order, which changes between two builds of the same query. Columns
    * (and the grouping of the aggregate above) go in name order, rows in
    * their rendered order, and `gid` is renumbered to match. */
  private def distinctGroupsSorted(p: LogicalPlan): LogicalPlan = {
    def hasGid(e: Expand) = e.output.exists(_.name == "gid")
    def rendered(row: Seq[Expression]) = row.mkString(",").replaceAll("#\\d+", "")
    val byName = p.transformUp {
      case e: Expand if hasGid(e) =>
        val order = e.output.indices.sortBy(e.output(_).name)
        e.copy(projections = e.projections.map(r => order.map(r)), output = order.map(e.output))
      case a @ Aggregate(keys, outs, e: Expand, _) if hasGid(e) =>
        a.copy(groupingExpressions = keys.sortBy(_.toString.replaceAll("#\\d+", "")),
          aggregateExpressions = outs.sortBy(_.name))
    }
    val renumber = byName.collect {
      case e: Expand if hasGid(e) =>
        val g = e.output.indexWhere(_.name == "gid")
        e.output(g).exprId -> e.projections.sortBy(r => rendered(r.patch(g, Nil, 1)))
          .zipWithIndex.map { case (r, i) => r(g) -> i }.toMap
    }.toMap
    def gid(l: Literal, a: Attribute): Literal =
      renumber(a.exprId).get(l).map(Literal.create(_, l.dataType)).getOrElse(l)
    byName.transformUp {
      case e: Expand if hasGid(e) =>
        val g = e.output.indexWhere(_.name == "gid")
        e.copy(projections = e.projections.sortBy(r => rendered(r.patch(g, Nil, 1))).map(r =>
          r(g) match {
            case l: Literal => r.updated(g, gid(l, e.output(g)))
            case _ => r
          }))
    }.transformAllExpressions {
      case EqualTo(l: Literal, a: Attribute) if renumber.contains(a.exprId) => EqualTo(gid(l, a), a)
      case EqualTo(a: Attribute, l: Literal) if renumber.contains(a.exprId) => EqualTo(a, gid(l, a))
    }
  }

  /** (canonical fingerprint, human signature) per Aggregate subtree that
    * reads a base fact table. The fingerprint is the canonicalized
    * logical plan rendering — ExprIds normalized, so two structurally
    * identical builds from different call sites compare equal (the
    * ReuseExchange equality, applied cross-query) — with what changes
    * between builds blanked ([[fingerprint]]).
    */
  private def heavyAggs(p: LogicalPlan): Seq[(String, String)] =
    p.collectWithSubqueries {
      case a: Aggregate =>
        val facts = factScans(a)
        if (facts.isEmpty) Nil
        else {
          val keys = a.groupingExpressions
            .map(_.sql.replace("`", "")).sorted.mkString(",")
          Seq(fingerprint(a) ->
            s"[$keys] @ ${facts.toSeq.sorted.mkString("+")}")
        }
    }.flatten

  test("no two top-level builds plan the same canonical fact-scanning aggregate") {
    // fingerprint -> (signature, owning builds). Silver builds come FIRST
    // so a shared subtree attributes to its declared owner, then every
    // query (which, consuming the silver parquet, must NOT re-plan the
    // build's aggregates structurally); mid-query materialize boundaries
    // are walked too (their pre-write plans hide aggregates)
    val owners = mutable.Map.empty[String, (String, mutable.SortedSet[String])]
    PlanCensus.attributed(PlanCensus.silverFirst).foreach { case (name, plans) =>
      plans.flatMap(heavyAggs).foreach { case (fp, sig) =>
        owners.getOrElseUpdate(fp, (sig, mutable.SortedSet.empty[String]))._2 += name
      }
    }
    val buildErrors = PlanCensus.buildErrors
    assert(buildErrors.isEmpty,
      s"builds failed:\n  ${buildErrors.mkString("\n  ")}")

    val dups = owners.values
      .filter { case (sig, names) =>
        names.size > 1 && !SharedSubtrees.allowed.contains(sig)
      }
      .groupBy(_._1)
      .map { case (sig, hits) =>
        sig -> hits.flatMap(_._2).to(mutable.SortedSet)
      }
    val report = dups.toSeq.sortBy(_._1).map { case (sig, names) =>
      s"$sig rebuilt by: ${names.mkString(", ")}"
    }.mkString("\n  ")
    assert(dups.isEmpty,
      "structurally-equal heavy aggregates planned by multiple builds —" +
        s" promote to Silver or allow in SharedSubtrees with a reason:\n  $report")
  }

  test("registry hygiene: allowlist reasons non-empty") {
    SharedSubtrees.allowed.foreach { case (sig, why) =>
      assert(why.trim.nonEmpty, s"$sig: empty allowlist rationale")
    }
  }

  test("a build's fingerprints are the same after Scoped.invalidate()") {
    val (spark, dir) = (TestSpark.spark, TestSpark.Sf001)
    def fingerprints(q: String): Seq[String] = {
      val (df, rec) = PlanRecorder.record(SparkEntry.coldQueries(q)(spark, dir))
      (rec.executions.flatMap(_.writeInput) :+ df.queryExecution.optimizedPlan)
        .flatMap(heavyAggs).map(_._1).sorted
    }
    val qs = Seq("q87_bloom_filtered_join", "q90_dq_audit", "q168_split_leakage",
      "q226_wordpiece_encode", "q263_ranker_auc", "q301_luhn_audit", "q321_range_vol")
    Scoped.invalidate()
    val first = qs.map(fingerprints)
    Scoped.invalidate()
    val unstable = qs.zip(first).collect { case (q, fps) if fingerprints(q) != fps => q }
    assert(unstable.isEmpty, "fingerprints changed between two builds")
  }
}
