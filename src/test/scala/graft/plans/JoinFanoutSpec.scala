package graft.plans

import graft.{PlanCensus, SparkEntry, TestSpark}
import graft.operators.Silver
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BinaryComparison, EqualNullSafe, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The join-fanout-bound CI (VERDICT r11 "Next round" #1): walk the
  * optimized plan of EVERY SparkEntry query and every Silver build,
  * classify each join node, auto-accept the shapes whose output is
  * bounded by construction, and fail on any remaining MULTIPLYING join
  * in a query with no [[JoinFanoutBounds]] declaration. This turns the
  * per-round "is this pair screen a 100× blow-up?" audit into a build
  * failure at the moment the join is introduced — the WindowBounds
  * move (r9) applied to the last undeclared invariant class.
  *
  * Acceptance ladder (a join is auto-safe when ANY rung holds):
  *   1. semi/anti/existence join — output ≤ left rows by definition;
  *   2. a side with statically-known maxRows ≤ 1 — a scalar/summary
  *      frame multiplies nothing;
  *   3. equality-only condition where one side is UNIQUE on its equi
  *      keys (an Aggregate grouped by a subset of those keys, or a
  *      Deduplicate on them, reachable through row-preserving nodes) —
  *      each probe row matches ≤ 1 build row;
  *   4. equality-only condition between sides sharing NO leaf source —
  *      a fact×dim (or fact×other-fact) enrichment equi-join, the
  *      shuffle-or-broadcast hash join Catalyst already sizes.
  * Everything else — cartesian with a non-scalar side, any non-equi
  * (range/theta) component, or an equality SELF-join where neither side
  * is key-unique (the pair-generation shape) — must be declared with
  * its blocking keys and per-cell bound; declared blocking keys are
  * validated against the join's actual equi-key names.
  */
class JoinFanoutSpec extends AnyFunSuite with PredicateHelper {
  private lazy val spark = TestSpark.spark

  /** Identity of every leaf data source under a plan: parquet root
    * paths for file relations, RDD ids for checkpointed tapes. Ranges,
    * local relations and one-row relations are not sources (they cannot
    * make a join "self-keyed").
    */
  private def leafSources(p: LogicalPlan): Set[String] = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    p.collectWithSubqueries {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).toSet
        case other => Set(other.toString)
      }
      case rdd: org.apache.spark.sql.execution.LogicalRDD =>
        Set(s"rdd:${rdd.rdd.id}")
    }.flatten.toSet
  }

  /** One side is unique on its equi keys when an Aggregate grouped by
    * (a subset of) them — including RENAMED grouping keys, the
    * `groupBy($"tkr".as("ctkr"))` chunk-summary idiom — a Deduplicate on
    * them, or a base-table scan declared unique on them, is reachable
    * through row-count-preserving nodes: each probe row matches ≤ 1 row.
    */
  private def uniqueOn(p: LogicalPlan, keys: AttributeSet): Boolean = p match {
    case Project(plist, c) =>
      // translate renamed keys through the projection; an unmappable key
      // is dropped, which is conservative (uniqueness on a SUBSET of the
      // equi keys implies uniqueness on all of them)
      val translated = keys.toSeq.map { k =>
        plist.collectFirst {
          case al: org.apache.spark.sql.catalyst.expressions.Alias
            if al.exprId == k.exprId => al.child
        }.getOrElse(k)
      }.collect { case a: Attribute => a }
      uniqueOn(c, AttributeSet(translated))
    case Filter(_, c)         => uniqueOn(c, keys)
    case s: Sort              => uniqueOn(s.child, keys)
    case w: Window            => uniqueOn(w.child, keys)
    case l: GlobalLimit       => uniqueOn(l.child, keys)
    case l: LocalLimit        => uniqueOn(l.child, keys)
    case r: RepartitionOperation => uniqueOn(r.child, keys)
    case h: ResolvedHint      => uniqueOn(h.child, keys)
    case jn: Join if jn.joinType == LeftSemi || jn.joinType == LeftAnti =>
      // semi/anti joins FILTER the left side — row-preserving
      uniqueOn(jn.left, keys)
    case jn: Join if keys.subsetOf(jn.left.outputSet) &&
        rowPreservingFor(jn, probeLeft = true) =>
      // 1:1 attach (other side scalar, or unique on its equi keys):
      // each left row survives at most once
      uniqueOn(jn.left, keys)
    case jn: Join if keys.subsetOf(jn.right.outputSet) &&
        rowPreservingFor(jn, probeLeft = false) =>
      uniqueOn(jn.right, keys)
    case a: Aggregate =>
      // the OUTPUT attribute of each grouping expression (grouping keys
      // surface either as the bare attribute or as an Alias of it)
      val groupOut: Seq[Option[Attribute]] = a.groupingExpressions.map { g0 =>
        // grouping exprs may themselves be Aliases (groupBy($"x".as("y")))
        val g = g0 match {
          case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child
          case x => x
        }
        a.aggregateExpressions.collectFirst {
          case al: org.apache.spark.sql.catalyst.expressions.Alias
            if al.child.semanticEquals(g) || al.child.semanticEquals(g0) =>
            al.toAttribute
          case ar: Attribute if ar.semanticEquals(g) => ar
        }
      }
      a.groupingExpressions.nonEmpty &&
        groupOut.forall(_.exists(keys.contains))
    case d: Deduplicate => d.keys.forall(keys.contains)
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          val roots = fs.location.rootPaths.map(_.toString)
          JoinFanoutBounds.uniqueScanKeys.exists { case (table, pk) =>
            roots.exists(_.endsWith(table)) &&
              keys.exists(a => a.name == pk)
          }
        case _ => false
      }
    case _ => false
  }

  /** The equality conjuncts of a join whose two operand sides split
    * cleanly across the join's children, plus the key AttributeSets they
    * pin on each side.
    */
  private def equiOf(j: Join): (Seq[Expression], AttributeSet, AttributeSet) = {
    val conjuncts = j.condition.map(splitConjunctivePredicates).getOrElse(Nil)
    def sidesSplit(l: Expression, r: Expression): Boolean =
      (l.references.subsetOf(j.left.outputSet) &&
        r.references.subsetOf(j.right.outputSet)) ||
        (l.references.subsetOf(j.right.outputSet) &&
          r.references.subsetOf(j.left.outputSet))
    val equi: Seq[Expression] = conjuncts.collect {
      case e @ EqualTo(l, r) if sidesSplit(l, r) => e
      case e @ EqualNullSafe(l, r) if sidesSplit(l, r) => e
    }
    def sideKeys(side: AttributeSet) = AttributeSet(equi.flatMap {
      case e: BinaryComparison =>
        Seq(e.left, e.right).filter(_.references.subsetOf(side))
          .flatMap(_.references)
      case _ => Nil
    })
    (equi, sideKeys(j.left.outputSet), sideKeys(j.right.outputSet))
  }

  /** True when joining cannot DUPLICATE rows of the probe side: the
    * build side is a ≤1-row summary, or the join is an equality attach
    * against a side unique on its equi keys.
    */
  private def rowPreservingFor(jn: Join, probeLeft: Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftOuter, RightOuter}
    val typeOk = jn.joinType match {
      case Inner | Cross | FullOuter => true
      case LeftOuter => probeLeft
      case RightOuter => !probeLeft
      case _ => false
    }
    if (!typeOk) return false
    val build = if (probeLeft) jn.right else jn.left
    if (build.maxRows.exists(_ <= 1L)) return true
    val (equi, lKeys, rKeys) = equiOf(jn)
    equi.nonEmpty && uniqueOn(build, if (probeLeft) rKeys else lKeys)
  }

  private case class Hazard(
      kind: String, equiKeyNames: Set[String], detail: String)

  /** Classify one join; None = auto-safe. */
  private def classify(j: Join): Option[Hazard] = {
    j.joinType match {
      case LeftSemi | LeftAnti | _: ExistenceJoin => return None
      case _ =>
    }
    // a side with a statically-known row bound ≤ 64 is a fold-grid /
    // mask / seed frame: replication by a ≤64 constant is a deliberate,
    // optimizer-visible multiplier (CSCV masks, CV folds, AMS seeds),
    // not an unbounded fan-out
    def smallSide(p: LogicalPlan) = p.maxRows.exists(_ <= 64L)
    if (smallSide(j.left) || smallSide(j.right)) return None

    val conjuncts = j.condition.map(splitConjunctivePredicates).getOrElse(Nil)
    val cross = conjuncts.filter { c =>
      c.references.subsetOf(j.left.outputSet ++ j.right.outputSet) &&
        c.references.intersect(j.left.outputSet).nonEmpty &&
        c.references.intersect(j.right.outputSet).nonEmpty
    }
    val (equi, lKeys, rKeys) = equiOf(j)
    val residual = cross.filterNot(equi.contains(_))

    val equiNames: Set[String] = equi.flatMap {
      case e: BinaryComparison =>
        Seq(e.left, e.right).collect { case a: Attribute => a.name }
      case _ => Nil
    }.toSet

    // unique-side rung FIRST: when one side matches ≤ 1 row per probe on
    // the equi keys, any residual non-equi conjunct only FILTERS that
    // single match — no fan-out regardless of the residual's shape
    if (equi.nonEmpty && (uniqueOn(j.left, lKeys) || uniqueOn(j.right, rKeys)))
      return None

    val nonEquiComparison = residual.exists {
      case _: BinaryComparison => true
      case _ => false
    }

    if (equi.isEmpty && cross.isEmpty)
      return Some(Hazard("cartesian", equiNames,
        s"no cross-side condition; left maxRows=${j.left.maxRows}" +
          s" right maxRows=${j.right.maxRows}"))
    if (nonEquiComparison || (equi.isEmpty && residual.nonEmpty))
      return Some(Hazard("range", equiNames,
        s"non-equi component: ${residual.map(_.sql).mkString(" AND ").take(120)}"))

    val overlap = leafSources(j.left).intersect(leafSources(j.right))
    if (overlap.nonEmpty)
      Some(Hazard("self-equi", equiNames,
        s"shared sources: ${overlap.map(_.split('/').last).mkString(",").take(80)}"))
    else None // fact×dim / fact×fact enrichment equi-join
  }

  private def hazards(plan: LogicalPlan): Seq[Hazard] =
    plan.collectWithSubqueries { case j: Join => classify(j) }.flatten

  test("every multiplying join across the full query surface is declared bounded") {
    val undeclared = mutable.SortedMap.empty[String, mutable.ListBuffer[Hazard]]
    val keyMismatch = mutable.ListBuffer.empty[String]
    val buildErrors = PlanCensus.buildErrors
    val hazardQueries = mutable.SortedSet.empty[String]

    // every query, then every Silver build, each with its
    // pre-materialization plans (where the pair joins live)
    PlanCensus.attributed(PlanCensus.queriesFirst).foreach { case (name, plans) =>
      val hs = plans.flatMap(hazards)
      if (hs.nonEmpty) {
        hazardQueries += name
        val sites = JoinFanoutBounds.sitesFor(name)
        if (sites.isEmpty) {
          undeclared.getOrElseUpdate(name, mutable.ListBuffer.empty) ++= hs
        } else {
          // every declared blocking key must appear among SOME hazard
          // join's equi keys (empty blockKeys = declared cartesian)
          val allEqui = hs.flatMap(_.equiKeyNames).toSet
          sites.foreach { s =>
            val missing = s.blockKeys.filterNot(allEqui.contains)
            if (missing.nonEmpty)
              keyMismatch += s"$name: declared blockKeys ${missing.mkString(",")}" +
                s" not among plan equi keys ${allEqui.toSeq.sorted.mkString(",")}"
          }
        }
      }
    }

    assert(buildErrors.isEmpty,
      s"query builds failed:\n  ${buildErrors.mkString("\n  ")}")
    val report = undeclared.map { case (q, hs) =>
      s"$q:\n    " + hs.map(h =>
        s"[${h.kind}] equi={${h.equiKeyNames.toSeq.sorted.mkString(",")}} ${h.detail}")
        .mkString("\n    ")
    }.mkString("\n  ")
    assert(undeclared.isEmpty,
      "multiplying joins with no JoinFanoutBounds declaration — declare" +
        s" the blocking keys and per-cell bound:\n  $report")
    assert(keyMismatch.isEmpty,
      s"declared blocking keys drift from the plan:\n  ${keyMismatch.mkString("\n  ")}")
    // a declaration whose query no longer plans any hazard join is a
    // stale row — the registry must shrink with the code
    val stale = JoinFanoutBounds.declared.map(_.query).toSet -- hazardQueries
    assert(stale.isEmpty,
      s"stale declarations (no hazard join in the plan anymore): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("classifier discriminates: pair self-join flagged, rollup-unique and dim joins pass") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // parquet-backed (leaf-source identity is what makes a join "self");
    // k = n_regionkey is deliberately NON-unique in nation
    val facts = spark.read.parquet(s"${TestSpark.Sf001}/nation.parquet")
      .select($"n_regionkey".as("k"), ($"n_nationkey" % 13).as("mon"),
        $"n_nationkey".as("v"))
    // the hazard shape: raw self pair-join with a range component
    val a = facts.as("a"); val b = facts.as("b")
    val pair = a.join(b, col("a.mon") === col("b.mon") && col("a.v") < col("b.v"))
    assert(hazards(pair.queryExecution.optimizedPlan).exists(_.kind == "range"),
      "range pair join not flagged")
    // equality-only self pair-join (neither side unique on k)
    val selfEq = a.join(b, col("a.k") === col("b.k"))
    assert(hazards(selfEq.queryExecution.optimizedPlan).exists(_.kind == "self-equi"),
      "equality self-join not flagged")
    // safe: join against own rollup (unique side)
    val roll = facts.groupBy($"k").agg(sum($"v").as("s"))
    val enrich = facts.join(roll, "k")
    assert(hazards(enrich.queryExecution.optimizedPlan).isEmpty,
      "rollup-unique enrichment wrongly flagged")
    // safe: scalar summary cross join
    val scalar = facts.crossJoin(broadcast(facts.agg(sum($"v").as("tot"))))
    assert(hazards(scalar.queryExecution.optimizedPlan).isEmpty,
      "scalar cross join wrongly flagged")
  }

  test("registry hygiene: queries exist, rationales non-empty, keys non-trivial") {
    val names = SparkEntry.queries.keySet ++
      Silver.tables.map(t => s"silver:${t.name}").toSet
    JoinFanoutBounds.declared.foreach { s =>
      assert(names.contains(s.query), s"${s.query}: unknown query in registry")
      assert(s.cellBound.trim.length > 40,
        s"${s.query}: cell bound rationale too thin to review against")
    }
    val dup = JoinFanoutBounds.declared.groupBy(s => (s.query, s.blockKeys))
      .filter(_._2.size > 1).keys
    assert(dup.isEmpty, s"duplicate declarations: $dup")
  }
}
