package graft.servebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of work. `layer` names the engine layer the time
  * belongs to (operators, plans, exec, sources, streaming, silver, ...).
  */
final case class Span(
    id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
    "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs)
}

/** Epoch-microsecond clock with nanoTime resolution. */
object Clock {
  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private val baseNs = System.nanoTime()
  def us(nano: Long): Long = baseUs + (nano - baseNs) / 1000
  def nowUs(): Long = us(System.nanoTime())
}

/** Request context the benchmark stamps on every job it submits: the job
  * group ties Spark jobs to one request, the phase property says whether
  * a job ran while the query was being BUILT (an eager job) or EXECUTED.
  */
object Props {
  val GroupKey = "spark.jobGroup.id"
  val PhaseKey = "servebench.phase"
  val BatchKey = "streaming.sql.batchId"
  val QueryKey = "sql.streaming.queryId"
}

/** Traced-mode recorder. Listeners aggregate job, stage and task events per
  * request; spans stay in memory and are written as one file at the end.
  * Untraced runs never construct one.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)

  private final class Job(val id: Int, val group: String, val phase: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
    @volatile var ok: Boolean = true
  }
  private final class Stage(val id: Int) {
    var submitMs = 0L; var endMs = 0L; var failed = false
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedDelayMs = 0L; var shufW = 0L; var shufR = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var taskFails = 0L
    def attrs: Map[String, Any] = Map(
      "tasks" -> tasks, "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6,
      "gc_ms" -> gcMs, "scheduler_delay_ms" -> schedDelayMs,
      "shuffle_write_bytes" -> shufW, "shuffle_read_bytes" -> shufR,
      "spill_bytes" -> spill, "bytes_read" -> inBytes,
      "records_read" -> inRecords, "bytes_written" -> outBytes,
      "task_failures" -> taskFails, "failed" -> failed)
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, Stage]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def groupOf(p: java.util.Properties): Option[String] =
    if (p == null) None
    else Option(p.getProperty(Props.BatchKey)) match {
      case Some(b) => Option(p.getProperty(Props.QueryKey)).map(q => s"stream:$q:$b")
      case None => Option(p.getProperty(Props.GroupKey))
          .filter(_.startsWith("t-"))
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groupOf(e.properties).foreach { g =>
        val phase = Option(e.properties.getProperty(Props.PhaseKey)).getOrElse("exec")
        jobs(e.jobId) = new Job(e.jobId, g, phase, e.time, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      groupOf(e.properties).foreach { _ =>
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
        s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        s.failed = e.stageInfo.failureReason.isDefined
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        if (e.reason != Success) s.taskFails += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shufW += m.shuffleWriteMetrics.bytesWritten
          s.shufR += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecords += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
          // the web UI's scheduler delay: task wall minus the time the
          // executor spent deserializing, running and serializing it
          val i = e.taskInfo
          s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            i.gettingResultTime)
        }
      }
    }
  }

  /** The `noop` write re-plans the query it writes (a new QueryExecution
    * around the command); its analysis/optimization/planning phases are
    * planning time, not execution time.
    */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val noop = qe.logical.toString.contains("noop-table")
      if (noop) lastNoopPlanMs.synchronized(lastNoopPlanMs += ms)
    }
  }
  private val lastNoopPlanMs = mutable.ArrayBuffer[Double]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
  }

  private val cg0 = Tracer.codegen()

  /** Attach (true) or detach (false) every listener. The traced run
    * detaches them around its untraced control requests, which measure
    * the tracing overhead.
    */
  def active(on: Boolean): Unit =
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.servebench.Bus.drain(sc)

  /** Re-planning ms of the noop writes delivered since the last call. */
  def takeWritePlanMs(): Double = lastNoopPlanMs.synchronized {
    val s = lastNoopPlanMs.sum
    lastNoopPlanMs.clear()
    s
  }

  /** Attach job and stage spans under `execSpan` / `buildSpan` for every
    * job of `group` (by the phase property the job was submitted with).
    */
  private def jobSpans(group: String, parentByPhase: String => Long): Unit = {
    val mine = synchronized(jobs.values.filter(_.group == group).toList)
    mine.foreach { j =>
      val jid = nextId()
      val st = synchronized(j.stageIds.flatMap(stages.get).toList)
      add(Span(jid, parentByPhase(j.phase), "job", "job", j.startMs * 1000,
        j.endMs * 1000, Map("job_id" -> j.id, "phase" -> j.phase, "ok" -> j.ok,
          "stages" -> st.size)))
      st.foreach { s =>
        add(Span(nextId(), jid, "stage", "stage", s.submitMs * 1000,
          math.max(s.endMs, s.submitMs) * 1000, s.attrs + ("stage_id" -> s.id)))
      }
    }
  }

  /** Close a request: the request span, its build/plan/exec children, and
    * the Spark jobs of its group. Times are System.nanoTime readings.
    */
  def request(group: String, kind: String, name: String, parent: Long,
      t0: Long, t1: Long, t2: Long, t3: Long, ok: Boolean): Long = {
    drain()
    val replanMs = takeWritePlanMs()
    val replanUs = math.min((replanMs * 1000).toLong, Clock.us(t3) - Clock.us(t2))
    val rid = nextId()
    val bid = nextId(); val pid = nextId(); val eid = nextId()
    add(Span(rid, parent, kind, "request", Clock.us(t0), Clock.us(t3),
      Map("query" -> name, "ok" -> ok, "group" -> group)))
    add(Span(bid, rid, "operators.build", "operators", Clock.us(t0), Clock.us(t1), Map()))
    add(Span(pid, rid, "plans.plan", "plans", Clock.us(t1), Clock.us(t2),
      Map("write_replan_us" -> replanUs)))
    add(Span(eid, rid, "exec", "exec", Clock.us(t2), Clock.us(t3),
      Map("write_replan_us" -> replanUs)))
    jobSpans(group, ph => if (ph == "build") bid else eid)
    rid
  }

  /** Micro-batch spans from every StreamingQueryProgress received so far,
    * each with its jobs (by query id + batch id) under its exec child.
    */
  def streamBatches(parent: Long, phase: String): Unit = {
    drain()
    var e = progress.poll()
    while (e != null) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      def ms(k: String) = d.getOrElse(k, 0L)
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val rid = nextId()
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
      val stateCommit = p.stateOperators.map(_.commitTimeMs).sum
      add(Span(rid, parent, "streaming.batch", "streaming", startUs,
        startUs + ms("triggerExecution") * 1000,
        Map("batch_id" -> p.batchId, "phase" -> phase, "rows" -> p.numInputRows,
          "trigger_ms" -> ms("triggerExecution"), "planning_ms" -> ms("queryPlanning"),
          "add_batch_ms" -> ms("addBatch"),
          "wal_commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
          "offset_ms" -> (ms("latestOffset") + ms("getBatch")),
          "state_rows" -> stateRows, "state_bytes" -> stateBytes,
          "state_commit_ms" -> stateCommit)))
      var at = startUs
      def child(name: String, layer: String, dur: Long): Long = {
        val id = nextId()
        add(Span(id, rid, name, layer, at, at + dur * 1000, Map()))
        at += dur * 1000
        id
      }
      child("sources.offset", "sources", ms("latestOffset") + ms("getBatch"))
      child("plans.plan", "plans", ms("queryPlanning"))
      val eid = child("exec", "exec", ms("addBatch"))
      child("streaming.commit", "streaming", ms("walCommit") + ms("commitOffsets"))
      jobSpans(s"stream:${p.id}:${p.batchId}", _ => eid)
      e = progress.poll()
    }
  }

  /** Write every span plus run-level attributes as one JSON file. */
  def write(path: String, runAttrs: Map[String, Any]): Unit = {
    drain()
    val cg1 = Tracer.codegen()
    val attrs = runAttrs ++ Map(
      "codegen_classes" -> (cg1._1 - cg0._1),
      "codegen_compile_ms" -> (cg1._2 - cg0._2))
    val doc = Map("run" -> attrs, "spans" -> spans.asScala.toSeq.sortBy(_.id).map(_.toMap))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json(doc).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** (classes compiled, total compile ms) from Spark's CodegenMetrics
    * source. The compile-time histogram keeps a decaying sample, so the
    * total is count x sample mean.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
