package graft

import graft.operators.{Scoped, Silver}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.collection.mutable
import scala.util.Try

/** The query surface built ONCE per test JVM for every plan audit: after
  * `Scoped.invalidate()`, every Silver table, then every SparkEntry query
  * by name, is built at sf0.001 under [[PlanRecorder]]. Per builder the
  * census keeps its top optimized and physical plans, the input plan of
  * every `Scoped` write made while it built — its own materialize inputs
  * and each shared build it triggered, keyed by the `graft_shared_<slug>_`
  * dir written — and every dir anything it ran read.
  *
  * A shared table is built once, by the first builder in census order
  * that needs it; [[attributed]] credits its plans as if the builders had
  * run in the audit's own order after an invalidate: to the first builder
  * of that order whose plans reach the table's dir, directly or through
  * another shared table. What one build ran since its previous shared
  * write is taken as the next shared build's own.
  */
object PlanCensus {

  final case class SharedBuild(dir: String, plans: Seq[LogicalPlan], scans: Set[String])

  final case class Build(
      top: Try[LogicalPlan], physical: Try[String],
      own: Seq[LogicalPlan], shared: Seq[SharedBuild], scans: Set[String])

  private def silverNames = Silver.tables.map(t => s"silver:${t.name}")
  private def queryNames = SparkEntry.queries.keys.toSeq.sorted
  def queriesFirst: Seq[String] = queryNames ++ silverNames
  def silverFirst: Seq[String] = silverNames ++ queryNames

  lazy val builds: Map[String, Build] = {
    val (spark, dir) = (TestSpark.spark, TestSpark.Sf001)
    def mk(name: String) =
      if (name.startsWith("silver:"))
        Silver.tables.find(t => name == s"silver:${t.name}").get.build(spark, dir)
      else SparkEntry.queries(name)(spark, dir)
    Scoped.invalidate()
    silverFirst.map { name =>
      val (df, rec) = PlanRecorder.record(Try(mk(name)))
      val top = df.map(_.queryExecution.optimizedPlan)
      val shared = mutable.ListBuffer.empty[SharedBuild]
      val plans = mutable.ListBuffer.empty[LogicalPlan]
      val scans = mutable.Set.empty[String]
      rec.executions.foreach { e =>
        scans ++= e.scans
        val path = e.writePath.getOrElse("")
        if (path.contains("/graft_mat_") || path.contains("/graft_shared_"))
          plans ++= e.writeInput
        if (path.contains("/graft_shared_")) {
          shared += SharedBuild(path, plans.toList, scans.toSet)
          plans.clear(); scans.clear()
        }
      }
      name -> Build(top, df.flatMap(d => Try(d.queryExecution.executedPlan.toString)),
        plans.toList, shared.toList,
        rec.executions.flatMap(_.scans).toSet ++ shared.map(_.dir) ++
          top.map(PlanRecorder.scannedDirs).getOrElse(Set.empty))
    }.toMap
  }

  /** `name: message` for every builder that failed to build. */
  def buildErrors: Seq[String] = silverFirst.flatMap(n =>
    builds(n).top.failed.toOption.map(e => s"$n: ${e.getMessage}"))

  /** Every builder that built, in `order`, with every plan to audit: its
    * own materialize inputs, the shared builds credited to it, its top. */
  def attributed(order: Seq[String]): Seq[(String, Seq[LogicalPlan])] = {
    val sharedBuilds = builds.toSeq.flatMap { case (n, b) => b.shared.map(n -> _) }
    val byDir = sharedBuilds.map { case (_, s) => s.dir -> s }.toMap
    def reach(b: Build): Set[String] = {
      val seen = mutable.Set.empty[String]
      def visit(d: String): Unit =
        if (seen.add(d)) byDir.get(d).foreach(_.scans.foreach(visit))
      b.scans.foreach(visit)
      seen.toSet
    }
    val reached = order.map(n => n -> reach(builds(n)))
    val credited = sharedBuilds.groupMap { case (builtBy, s) =>
      reached.collectFirst { case (n, r) if r.contains(s.dir) => n }.getOrElse(builtBy)
    }(_._2)
    order.flatMap(n => builds(n).top.toOption.map(top =>
      n -> (builds(n).own ++ credited.getOrElse(n, Nil).flatMap(_.plans) :+ top)))
  }

  /** The slug of every shared table the surface builds. */
  def sharedSlugs: Set[String] = builds.values.flatMap(_.shared).map(s =>
    s.dir.split('/').last.stripPrefix("graft_shared_").replaceAll("_\\d+$", "")).toSet
}
