package graft.servebench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, timestamp_micros}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.Streams

/** `ingest`: the stream path. Two phases share the run's seconds:
  *
  *  - live (the first `LiveShare` of the time): a generator thread moves
  *    the staged event files (`--staged`) into a watched directory, one
  *    every `--rate-ms` (open loop); `Streams.features15m` consumes them
  *    through a file-source stream into a foreachBatch update sink,
  *    triggered every `TriggerMs`, phase-locked to the generator.
  *    Freshness of a file = commit time of the micro-batch that first read
  *    it minus the time the file was due to appear.
  *  - catch-up (the rest): the backlog (`--backlog`, a parquet events
  *    table) drains through `kafka-replay` with `MaxOffsets` per trigger,
  *    `from_json` decode, then `features15m`; repeated until the time is
  *    up, each drain with a fresh checkpoint. Throughput is every drained
  *    event over the drains' whole wall time, query start-up included.
  *
  * Setup warms both plans: `WarmFiles` staged files through the live
  * plan, and one whole drain of the backlog, so that every measured drain
  * runs equally warm.
  *
  * Correctness: each sink's final state must equal batch `features15m`
  * over the same events.
  */
object Ingest {
  private val LiveShare = 0.6
  // well above a micro-batch's time, as in the reference pipeline (15 s to
  // 2 min triggers), so files queue only for the trigger, not for a backlog
  private val TriggerMs = 2000L
  private val MaxOffsets = 1250
  private val WarmFiles = 2

  private val fileSchema = new StructType()
    .add("event_id", LongType).add("ts", TimestampNTZType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)
  // the replay connector's JSON wire schema: ts is epoch microseconds
  private val wireSchema = new StructType()
    .add("event_id", LongType).add("ts", LongType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)

  private def rowKey(r: Row): String = r.getAs[Any]("window_start").toString + "|" +
    r.getAs[String]("event_type")

  /** Final state of an update-mode sink: last emitted row per window key. */
  private final class Sink {
    val state = new ConcurrentHashMap[String, String]()
    def apply(b: DataFrame, id: Long): Unit =
      b.collect().foreach(r => state.put(rowKey(r), r.toString))
    def rows: Set[String] = state.values.asScala.toSet
  }

  private def start(df: DataFrame, sink: Sink, ckpt: String,
      trigger: Trigger): StreamingQuery =
    df.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .start()

  private def batchRows(df: DataFrame): Set[String] =
    Streams.features15m(df).collect().map(_.toString).toSet

  def apply(run: Run): Map[String, Any] = {
    val spark = run.spark
    val work = run.work
    val staged = Files.list(Paths.get(run.args("staged"))).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toVector.sorted
    val backlog = run.args("backlog")
    val rateNs = (run.args("rate-ms").toDouble * 1e6).toLong
    val liveS = run.seconds * LiveShare
    val backlogEvents = spark.read.parquet(backlog).count()
    var drainSeq = 0

    def readEvents(df: DataFrame): DataFrame = df.withColumn("ts", col("ts").cast(TimestampType))

    def buildLive(dir: String): DataFrame =
      Streams.features15m(readEvents(spark.readStream.schema(fileSchema).parquet(dir)))

    def buildReplay(path: String): DataFrame = {
      val raw = spark.readStream.format("kafka-replay")
        .option("path", path).option("topic", "events")
        .option("numPartitions", "3").option("maxOffsetsPerTrigger", MaxOffsets.toString)
        .load()
      Streams.features15m(raw
        .select(from_json(col("value").cast("string"), wireSchema).as("d"))
        .select("d.*").withColumn("ts", timestamp_micros(col("ts"))))
    }

    /** One full backlog drain, start-up included; returns (events, ns, sink). */
    def drain(parent: Long): (Long, Long, Sink) = {
      drainSeq += 1
      val sink = new Sink
      val t0 = System.nanoTime()
      val df = timedBuild(run, parent, "catchup")(buildReplay(backlog))
      val q = start(df, sink, s"$work/ckpt-replay-$drainSeq", Trigger.AvailableNow())
      q.awaitTermination()
      q.stop()
      (q.recentProgress.map(_.numInputRows).sum, System.nanoTime() - t0, sink)
    }

    // --- setup: warm the live plan on a few files, and one whole drain ---
    val (setupId, closeSetup) = run.span("setup", "run")
    run.untraced {
      val warmDir = s"$work/warm"
      Files.createDirectories(Paths.get(warmDir))
      staged.takeRight(WarmFiles).foreach(f =>
        Files.copy(Paths.get(f), Paths.get(warmDir, Paths.get(f).getFileName.toString)))
      val q = start(buildLive(warmDir), new Sink, s"$work/ckpt-warm", Trigger.AvailableNow())
      q.awaitTermination(); q.stop()
      drain(setupId)
    }
    closeSetup(Map())
    run.measureStart()

    // --- live phase ---
    val liveDir = s"$work/live"
    Files.createDirectories(Paths.get(liveDir))
    val liveCkpt = s"$work/ckpt-live"
    val liveSink = new Sink
    val (liveId, closeLive) = run.span("live", "run")
    val liveDf = timedBuild(run, liveId, "live")(buildLive(liveDir))
    val liveQ = start(liveDf, liveSink, liveCkpt, Trigger.ProcessingTime(TriggerMs))
    val toOffer = staged.dropRight(WarmFiles)
    val created = mutable.LinkedHashMap[String, Long]()
    val lateMs = mutable.ArrayBuffer[Double]()
    // processing-time triggers fire on multiples of the interval since the
    // epoch: start the generator half a file interval after one, so every
    // run offers files at the same phases of the trigger cycle
    val startMs = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs +
      rateNs / 2000000
    Thread.sleep(math.max(0L, startMs - System.currentTimeMillis()))
    val g0 = System.nanoTime()
    val liveEnd = g0 + (liveS * 1e9).toLong
    var k = 0
    while (k < toOffer.size && g0 + k * rateNs < liveEnd) {
      val due = g0 + k * rateNs
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val src = Paths.get(toOffer(k))
      Files.move(src, Paths.get(liveDir, src.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
      // freshness counts from when the file was due, so a late generator
      // or a stall shows up in it (gen.late_ms_p95 reports the lateness)
      created(src.getFileName.toString) = Clock.us(due)
      lateMs += (System.nanoTime() - due) / 1e6
      k += 1
    }
    val liveEndUs = Clock.us(math.max(liveEnd, System.nanoTime()))
    if (run.injectFailure) created("part-missing.parquet") = Clock.nowUs()
    var liveError: Option[String] = None
    try liveQ.processAllAvailable()
    catch { case e: Exception => liveError = Some(e.toString) }
    liveQ.stop()
    run.tracer.foreach(_.streamBatches(liveId, "live"))
    closeLive(Map("files" -> created.size))
    val readBy = fileBatches(s"$liveCkpt/sources/0")
    val commitUs = commitTimes(s"$liveCkpt/commits")
    val fresh = mutable.ArrayBuffer[Double]()
    var backlogFiles = 0
    created.foreach { case (f, c) =>
      run.attempted += 1
      readBy.get(f).flatMap(commitUs.get) match {
        case Some(u) =>
          fresh += (u - c) / 1000.0
          if (u > liveEndUs) backlogFiles += 1
        case None =>
          backlogFiles += 1
          run.fail("live-file", f, liveError.getOrElse("not committed by end of run"))
      }
    }

    // --- catch-up phase ---
    val (catchId, closeCatch) = run.span("catchup", "run")
    var events, drainNs = 0L
    val rates, controlRates = mutable.ArrayBuffer[Double]()
    var lastSink: Sink = null
    val catchDeadline = System.nanoTime() + ((run.seconds - liveS) * 1e9).toLong
    var d = 0
    while (d == 0 || System.nanoTime() < catchDeadline) {
      run.attempted += 1
      // the traced run alternates traced drains with untraced controls
      val control = run.traced && d % 2 == 1
      try {
        val (n, ns, sink) = if (control) run.untraced(drain(catchId)) else drain(catchId)
        if (n != backlogEvents) run.fail("drain", s"drain-$d", s"drained $n of $backlogEvents")
        events += n
        drainNs += ns
        (if (control) controlRates else rates) += n / (ns / 1e9)
        lastSink = sink
      } catch { case e: Exception => run.fail("drain", s"drain-$d", e.toString) }
      d += 1
    }
    run.tracer.foreach(_.streamBatches(catchId, "catchup"))
    closeCatch(Map("drains" -> d))
    run.measureEnd()

    // --- correctness: sink state == batch features15m over the same events ---
    def check(name: String, got: Set[String], want: => Set[String]): Unit = {
      run.attempted += 1
      val w = want
      if (got != w) run.fail("state", name,
        s"stream state has ${got.size} rows, batch ${w.size}; ${(got diff w).size} differ")
    }
    val liveEvents = readEvents(spark.read.schema(fileSchema).parquet(liveDir))
    check("live_state", liveSink.rows, batchRows(liveEvents))
    if (lastSink != null)
      check("catchup_state", lastSink.rows, batchRows(readEvents(spark.read.parquet(backlog))))
    run.mark("check")

    val rate = events / math.max(drainNs / 1e9, 1e-9)
    val ingested = liveEvents.count() + events
    Map(
      "workload" -> "ingest",
      "e2e" -> Map(
        "cpu_ms_per_op" -> run.measuredCpuMs / (ingested / 1000.0),
        "latency_p50_ms" -> Stats.pct(fresh.toSeq, 0.5),
        "latency_tail_ms" -> Stats.pct(fresh.toSeq, 0.95),
        "throughput_per_s" -> rate),
      "named" -> Map(
        "freshness_p50_ms" -> Stats.pct(fresh.toSeq, 0.5),
        "freshness_p95_ms" -> Stats.pct(fresh.toSeq, 0.95),
        "catchup_events_per_s" -> rate),
      "files_offered" -> created.size,
      "drains" -> d,
      "fixture_fp" -> Map(liveDir -> graft.sources.FixtureFingerprint.combined(spark, liveDir)),
      "trace_run" -> Map(
        "gen_late_ms_p95" -> Stats.pct(lateMs.toSeq, 0.95),
        "backlog_files" -> backlogFiles,
        "overhead_pct" -> Stats.overheadPct(controlRates.toSeq, rates.toSeq)))
  }

  /** Time constructing a streaming frame as an operators.build span. */
  private def timedBuild(run: Run, parent: Long, name: String)(df: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = df
    run.tracer.foreach(t => t.add(Span(t.nextId(), parent, "operators.build", "operators",
      Clock.us(t0), Clock.nowUs(), Map("stream" -> name))))
    out
  }

  /** File name -> first micro-batch that read it, from the file source's
    * metadata log (`sources/0`: a version line, then one JSON entry per
    * file; `.compact` files repeat earlier batches' entries).
    */
  private def fileBatches(logDir: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val out = mutable.HashMap[String, Long]()
    Option(new java.io.File(logDir).listFiles()).getOrElse(Array()).filterNot(
      f => f.getName.startsWith(".")).foreach { f =>
      scala.io.Source.fromFile(f).getLines().drop(1).foreach {
        case entry.unanchored(p, b) =>
          val name = p.substring(p.lastIndexOf('/') + 1)
          out(name) = math.min(out.getOrElse(name, Long.MaxValue), b.toLong)
        case _ => ()
      }
    }
    out.toMap
  }

  /** Batch id -> commit time (epoch us): the commit-log file's mtime. */
  private def commitTimes(dir: String): Map[Long, Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(_.getName.forall(_.isDigit)).map { f =>
        f.getName.toLong -> Files.getLastModifiedTime(f.toPath)
          .to(java.util.concurrent.TimeUnit.MICROSECONDS)
      }.toMap
}
