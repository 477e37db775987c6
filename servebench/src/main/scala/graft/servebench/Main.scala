package graft.servebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the serving benchmark (see ../README.md). `run.py` generates
  * the inputs, launches this main once per run, and checks the outputs it
  * leaves behind against DuckDB. Arguments are `--key value` pairs:
  *
  *   --workload dashboard|ingest  --seconds S  --trace 0|1
  *   --work DIR  --out FILE  --launch-us EPOCH_US  --cpus N
  *   --inject-failure 0|1   (self-test: one request for a missing query)
  *
  * plus the workload's inputs (see each workload object).
  */
object Main {
  /** Every non-default conf the benchmark session sets. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "4000")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = a.getOrElse("cpus", "4").toInt
    val spark = confs(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a)
    val body = a("workload") match {
      case "dashboard" => Dashboard(run)
      case "ingest" => Ingest(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = body ++ run.summary()
    run.tracer.foreach(_.write(Paths.get(a("work"), "trace.json").toString,
      out.getOrElse("trace_run", Map()).asInstanceOf[Map[String, Any]] +
        ("jvm_gc_ms" -> run.measuredGcMs)))
    Files.write(Paths.get(a("out")), Json(out - "trace_run").getBytes("UTF-8"))
    spark.stop()
  }
}

/** Shared state of one benchmark run: the session, the optional tracer,
  * the request runner and the failure log.
  */
final class Run(val spark: SparkSession, val args: Map[String, String]) {
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args.getOrElse("trace", "0") == "1"
  val work: String = args("work")
  val injectFailure: Boolean = args.getOrElse("inject-failure", "0") == "1"
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  tracer.foreach(_.active(true))
  private val sc = spark.sparkContext
  private var seq = 0L
  var attempted = 0L
  val failures = mutable.ArrayBuffer[Map[String, Any]]()
  var setupDoneUs = 0L
  private var gcAtMeasure = 0L
  var measuredGcMs = 0L

  /** JVM-wide GC milliseconds so far (executors share this JVM locally). */
  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** CPU milliseconds this JVM has used, all threads. Time the hypervisor
    * steals is not charged to the process, so this moves less than wall
    * time when other tenants contend for the host (shared caches still
    * slow it).
    */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Host-wide CPU time stolen by the hypervisor so far, in seconds. */
  def stealS(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().split("\\s+")(8).toDouble / 100.0 finally f.close()
    } catch { case _: Exception => 0.0 }

  private var cpuAtMeasure, stealAtMeasure = 0.0
  var measuredCpuMs, measuredStealS = 0.0

  /** Setup ends and the measured phase begins. */
  def measureStart(): Unit = {
    mark("setup")
    setupDoneUs = Clock.nowUs()
    gcAtMeasure = gcMs()
    cpuAtMeasure = cpuMs()
    stealAtMeasure = stealS()
  }

  /** The measured phase ends (checks and reporting follow). */
  def measureEnd(): Unit = {
    mark("measure")
    measuredGcMs = gcMs() - gcAtMeasure
    measuredCpuMs = cpuMs() - cpuAtMeasure
    measuredStealS = stealS() - stealAtMeasure
    heapRetainedMb = retainedHeapMb()
  }
  var heapRetainedMb = 0.0

  /** Heap still in use after full collections: what the engine keeps alive
    * between requests (caches, registries, broadcast blocks). Collections
    * repeat until the heap stops shrinking: the context cleaner releases
    * blocks only after a collection has found their owners unreachable.
    */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = Double.MaxValue
    var cur = collect()
    var rounds = 1
    while (cur < prev - 1.0 && rounds < 6) {
      Thread.sleep(200)
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }
  private val launchUs = args.getOrElse("launch-us", Clock.nowUs().toString).toLong
  /** Seconds since launch at which each named phase of the run ended. */
  val marks = mutable.LinkedHashMap[String, Double]()
  def mark(phase: String): Unit = marks(phase) = (Clock.nowUs() - launchUs) / 1e6
  mark("session")

  def fail(kind: String, name: String, msg: String): Unit = failures.synchronized {
    failures += Map(
      "kind" -> kind, "name" -> name, "error" -> Option(msg).getOrElse("").take(300))
  }

  /** Build, plan and execute (into a `noop` sink, or a parquet result at
    * `saveTo`) one request. Jobs carry a per-request job group and the
    * phase they were submitted in, so a traced run can tie every job to its
    * request. Returns the latency in ms; an exception counts as a failed
    * operation and returns None.
    */
  def request(kind: String, name: String, parent: Long,
      traceIt: Boolean = true, saveTo: Option[String] = None)(
      build: => DataFrame): Option[Double] = {
    val id = synchronized { seq += 1; attempted += 1; seq }
    val on = traceIt && tracer.isDefined
    val group = (if (on) "t-" else "u-") + id
    sc.setJobGroup(group, s"$kind $name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    var t1 = t0; var t2 = t0; var t3 = t0
    var ok = false
    try {
      sc.setLocalProperty(Props.PhaseKey, "build")
      val df = build
      t1 = System.nanoTime()
      sc.setLocalProperty(Props.PhaseKey, "plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      sc.setLocalProperty(Props.PhaseKey, "exec")
      saveTo match {
        case Some(path) => df.write.mode("overwrite").parquet(path)
        case None => df.write.format("noop").mode("overwrite").save()
      }
      t3 = System.nanoTime()
      ok = true
      Some((t3 - t0) / 1e6)
    } catch {
      case e: Throwable =>
        t3 = System.nanoTime()
        fail(kind, name, e.toString)
        None
    } finally {
      sc.setLocalProperty(Props.PhaseKey, null)
      sc.clearJobGroup()
      if (on) tracer.foreach(_.request(group, kind, name, parent,
        t0, math.max(t1, t0), math.max(t2, t1), t3, ok))
    }
  }

  /** Run `body` for each name on a few threads: the untimed warm-up and
    * check passes, which are a run's slowest parts after the measured one.
    */
  def concurrently(names: Seq[String])(body: String => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(PassThreads)
    try names.map(n => pool.submit((() => body(n)): Runnable)).foreach(_.get())
    finally pool.shutdown()
  }
  private val PassThreads = 3

  /** Run `body` with every trace listener detached: the traced run's
    * control requests, against which tracing overhead is measured.
    */
  def untraced[T](body: => T): T = tracer match {
    case Some(t) =>
      t.active(false)
      try body finally t.active(true)
    case None => body
  }

  /** Open a grouping span (setup, measure, a stream phase); returns
    * its id and a closer.
    */
  def span(name: String, layer: String, parent: Long = 0L): (Long, Map[String, Any] => Unit) =
    tracer match {
      case Some(t) =>
        val id = t.nextId()
        val s = Clock.nowUs()
        (id, attrs => t.add(Span(id, parent, name, layer, s, Clock.nowUs(), attrs)))
      case None => (0L, _ => ())
    }

  /** Whether the silver registry lists query `name` (by its id, e.g. q18)
    * among the consumers of table `t`.
    */
  def reads(t: graft.operators.Silver.SilverTable, name: String): Boolean = {
    val id = name.takeWhile(_ != '_')
    t.consumers.exists(_.split("[ :,]+").contains(id))
  }

  /** Lookups query `name` makes into the silver registry. */
  def silverLookups(name: String): Int =
    graft.operators.Silver.tables.count(reads(_, name))

  /** Where the result of query `name` is saved for the oracle compare. */
  def resultPath(name: String): String = Paths.get(work, "results", name).toString

  /** Oracle SQL for the queries whose results were saved, generated with
    * the deferred oracles' input dir set to `dir`.
    */
  def oracles(dir: String, names: Seq[String]): Map[String, String] = {
    graft.OracleContext.dir = dir
    val all = graft.SparkEntry.oracleSql
    names.flatMap(n => all.get(n).map(n -> _)).toMap
  }

  def summary(): Map[String, Any] = Map(
    "attempted" -> attempted,
    "failures" -> failures.toList,
    "setup_done_us" -> setupDoneUs,
    "phase_end_s" -> marks.toMap,
    "peak_rss_mb" -> Stats.peakRssMb(),
    "heap_retained_mb" -> heapRetainedMb,
    "measured_cpu_ms" -> measuredCpuMs,
    "measured_steal_s" -> measuredStealS,
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "scala_version" -> scala.util.Properties.versionNumberString,
    "conf" -> Main.confs(args.getOrElse("cpus", "4").toInt).toMap)
}

object Stats {
  /** Linear-interpolated percentile (numpy's default) of `xs`, p in [0,1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** VmHWM of this JVM in MiB (0 where /proc is unavailable). */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  /** Traced-versus-untraced overhead in percent of the untraced median. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else (pct(traced, 0.5) / pct(untraced, 0.5) - 1.0) * 100.0
}
