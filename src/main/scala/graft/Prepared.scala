package graft

import graft.operators.Scoped
import graft.sources.{Memo, Parquet}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.bridge

/** The serving path of [[SparkEntry.queries]]. A dashboard asks the same
  * queries every few seconds over inputs that change only when a batch
  * commits, and on small inputs building the DataFrame (the builder, its
  * eager jobs, file listing and Catalyst's analyzer) costs more than the
  * data work. So the analyzed plan of a build is kept in one [[Memo]]
  * entry per `name:dir`, versioned on the caller's session (by reference)
  * and the [[Parquet.inputVersion]] of `dir`. A later request at that
  * version wraps the plan again, and the analyzer passes an analyzed plan
  * through unchanged; the optimizer, the planner and execution still run
  * on every request, so each answer is computed fresh from the data.
  *
  * Only a plan whose every leaf, subqueries included, is covered by that
  * version is served: a file scan under `dir`, a `Scoped.shared` table
  * built over `dir` or over no dir, or a `LocalRelation`, `OneRowRelation`
  * or `Range`. Any other leaf (a materialize or stream output dir, a
  * `LogicalRDD`, a streaming relation) means the build runs on every call,
  * side effects included.
  */
private[graft] object Prepared {

  /** The session the build's frame lives on (the caller's, or a clone the
    * builder made for its confs) and its analyzed plan; None: not servable. */
  private val plans = new Memo[Option[(SparkSession, LogicalPlan)]]()

  def apply(name: String, build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (spark, dir) => {
    var fresh: Option[DataFrame] = None
    val prepared = plans(s"$name:$dir", (spark, Parquet.inputVersion(spark, Seq(dir)))) {
      val df = build(spark, dir)
      fresh = Some(df)
      val plan = df.queryExecution.analyzed
      if (servable(spark, plan, dir)) Some((df.sparkSession, plan)) else None
    }
    fresh.orElse(prepared.map { case (s, plan) => bridge.dataset(s, plan) })
      .getOrElse(build(spark, dir))
  }

  /** Whether every leaf of `plan` is versioned with `dir`. */
  private def servable(spark: SparkSession, plan: LogicalPlan, dir: String): Boolean = {
    def qualified(p: String) = {
      val path = new Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(path).toString
    }
    val under = qualified(dir) + "/"
    val shared = Scoped.sharedOver(dir).map(qualified)
    plan.collectWithSubqueries { case l: LeafNode => l }.forall {
      case lr: LogicalRelation => !lr.isStreaming && (lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          .forall(p => p.startsWith(under) || shared(p))
        case _ => false
      })
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case _ => false
    }
  }
}
