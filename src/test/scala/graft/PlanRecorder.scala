package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation, WriteFiles}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.{bridge, listenerBridge}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Records what Spark posts on the SparkContext listener bus while test
  * code runs: every job start, the `QueryExecution` of every finished SQL
  * execution (any session of the context) and every streaming progress. Plans the engine
  * hides behind a `Scoped` write, a `localCheckpoint` or a stream show here.
  */
object PlanRecorder {

  final case class Execution(name: Option[String], qe: QueryExecution) {
    private def insert = Try(qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c }).toOption.flatten

    /** The dir a file write wrote to. */
    def writePath: Option[String] = insert.map(_.outputPath.toString)

    /** Every parquet dir this execution read. */
    def scans: Set[String] = Try(scannedDirs(qe.analyzed)).getOrElse(Set.empty)

    /** A write's input plan, as optimized for the write. */
    def writeInput: Option[LogicalPlan] = qe.optimizedPlan.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.query match {
        case w: WriteFiles => w.child
        case p => p
      }
    }

    /** A write's input planned afresh (its initial physical plan). */
    def replannedInput: Option[String] = insert.map(c =>
      bridge.dataset(qe.sparkSession, c.query).queryExecution.executedPlan.toString)
  }

  final class Recording {
    private[PlanRecorder] val events = new ConcurrentLinkedQueue[AnyRef]()
    def executions: Seq[Execution] =
      events.asScala.toSeq.collect { case e: Execution => e }

    /** Every `Scoped.materialize` write, in write order. */
    def materialized: Seq[Execution] =
      executions.filter(_.writePath.exists(_.contains("/graft_mat_")))

    /** Every streaming progress, in posting order. */
    def progress: Seq[StreamingQueryProgress] =
      events.asScala.toSeq.collect { case p: StreamingQueryProgress => p }

    /** Σ numRowsTotal of the last streaming progress (−1: none posted). */
    def stateRows: Long = progress.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)

    /** How many Spark jobs started. */
    def jobs: Int = events.asScala.count(_.isInstanceOf[SparkListenerJobStart])
  }

  private val active = new CopyOnWriteArrayList[Recording]()

  private lazy val listener: Unit =
    TestSpark.spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        active.forEach(_.events.add(job))
      override def onOtherEvent(event: SparkListenerEvent): Unit = {
        val recorded = event match {
          case e: SparkListenerSQLExecutionEnd =>
            Execution(listenerBridge.executionName(e), listenerBridge.queryExecution(e))
          case p: StreamingQueryListener.QueryProgressEvent => p.progress
          case _ => null
        }
        if (recorded != null) active.forEach(_.events.add(recorded))
      }
    })

  /** Run `body`, recording every execution and progress event it posts. */
  def record[T](body: => T): (T, Recording) = {
    listener
    val sc = TestSpark.spark.sparkContext
    val rec = new Recording
    listenerBridge.drain(sc)
    active.add(rec)
    try {
      val out = body
      listenerBridge.drain(sc)
      (out, rec)
    } finally active.remove(rec)
  }

  /** Every parquet dir the plan reads. */
  def scannedDirs(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString) }
      .flatten.toSet
}
