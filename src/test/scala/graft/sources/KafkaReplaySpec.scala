package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** kafka-replay DSv2 connector: record-schema fidelity, round-robin
  * partition/offset invariants, JSON decode round-trip, and streaming
  * admission control (maxOffsetsPerTrigger ⇒ multiple micro-batches that
  * drain exactly once under AvailableNow).
  */
class KafkaReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val NParts = 3
  private def load() = spark.read.format("kafka-replay")
    .option("path", s"${TestSpark.Sf001}/events.parquet")
    .option("topic", "events").option("numPartitions", NParts.toString)
    .load()

  private val wire = new StructType()
    .add("event_id", LongType).add("ts", LongType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType)
    .add("props", StringType)

  test("batch scan emits the exact spark-sql-kafka record schema") {
    val df = load()
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq === Seq(
      "key" -> BinaryType, "value" -> BinaryType, "topic" -> StringType,
      "partition" -> IntegerType, "offset" -> LongType,
      "timestamp" -> TimestampType, "timestampType" -> IntegerType))
  }

  test("round-robin partitions and contiguous per-partition offsets") {
    val rows = load()
      .select($"partition", $"offset", $"topic", $"timestampType")
      .collect()
    val total = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet").count()
    assert(rows.length === total)
    assert(rows.forall(_.getString(2) == "events"))
    assert(rows.forall(_.getInt(3) == 0)) // CreateTime
    val byPart = rows.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(1)).sorted)
    assert(byPart.keySet === (0 until NParts).toSet)
    // unkeyed round-robin: partition sizes differ by at most 1
    val sizes = byPart.values.map(_.length).toSeq
    assert(sizes.max - sizes.min <= 1)
    // offsets are 0..n_p-1 with no gaps, like a real topic partition
    byPart.foreach { case (p, offs) =>
      assert(offs.toSeq === (0L until offs.length.toLong), s"partition $p")
    }
  }

  test("value bytes decode losslessly back to the source rows") {
    val decoded = load()
      .select(from_json($"value".cast("string"), wire).as("d"))
      .select($"d.*")
      .withColumn("ts", timestamp_micros($"ts"))
    // a single malformed JSON value (bad escaping) nulls every field of
    // its row — the anti-join catches any such row
    assert(decoded.filter($"event_id".isNull).count() === 0)
    val src = graft.sources.Tables.events(spark, TestSpark.Sf001)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(decoded.select(cols.map(col): _*)
      .exceptAll(src.select(cols.map(col): _*)).count() === 0)
    assert(src.select(cols.map(col): _*)
      .exceptAll(decoded.select(cols.map(col): _*)).count() === 0)
  }

  test("maxOffsetsPerTrigger rate-limits into multiple exactly-once micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val ss = graft.Session.withConfs(spark, "spark.sql.shuffle.partitions" -> "4")
    val raw = ss.readStream.format("kafka-replay")
      .option("path", s"${TestSpark.Sf001}/events.parquet")
      .option("topic", "events").option("numPartitions", NParts.toString)
      .option("maxOffsetsPerTrigger", "300") // 1000 fixture rows ⇒ ≥ 4 batches
      .load()
    val batches = new AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = raw.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet()
        rows.addAndGet(b.count())
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_kr_ckpt_").toString)
      .start()
    q.awaitTermination()
    q.stop()
    val total = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet").count()
    assert(rows.get() === total) // drained exactly once
    assert(batches.get() >= 4,
      s"admission control did not split the replay (batches=${batches.get()})")
  }

  test("row-group seek: a late slice on a multi-row-group file reads exactly its records") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // synthesize a single parquet FILE with many small row groups so the
    // seek path (skipNextRowGroup below the slice start) actually runs
    val dir = java.nio.file.Files.createTempDirectory("graft_kr_rg_").toString
    spark.range(20000).select(
        $"id".as("event_id"),
        (lit(1600000000000000000L) + $"id" * 1000000000L).as("ts"),
        ($"id" % 97).as("user_id"),
        concat(lit("t"), ($"id" % 5).cast("string")).as("event_type"),
        ($"id" * 0.5).as("value"),
        lit("{}").as("props"))
      .coalesce(1)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.getAbsolutePath
    val pf = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), new org.apache.hadoop.conf.Configuration()))
    val nGroups = try pf.getRowGroups.size() finally pf.close()
    assert(nGroups >= 3, s"fixture must span several row groups, got $nGroups")
    // slice [5000, 5010) of partition 1 → global rows 3·off+1, event_id = idx
    val cfg = KafkaReplay.Config(file, "events", NParts, None)
    val reader = new ReplayReader(ReplayPartition(cfg, 1, 5000L, 5010L))
    val got = Iterator.continually(reader)
      .takeWhile(_.next())
      .map { r =>
        val json = new String(r.get().getBinary(1), java.nio.charset.StandardCharsets.UTF_8)
        val id = "\"event_id\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toLong
        (r.get().getLong(4), id)
      }.toSeq
    reader.close()
    assert(got === (5000L until 5010L).map(off => off -> (off * NParts + 1)))
  }

  test("admission control admits exactly min(cap, lag) rows, even when cap < partitions") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val cfg = KafkaReplay.Config(s"${TestSpark.Sf001}/events.parquet", "events", NParts, Some(2L))
    val mb = new KafkaReplayMicroBatch(cfg)
    val total = spark.read.parquet(cfg.path).count()
    var cur = mb.initialOffset().asInstanceOf[ReplayOffset]
    var steps = 0
    val maxSteps = (total / 2 + NParts + 2).toInt
    while (cur.counts.sum < total && steps < maxSteps) {
      val nxt = mb.latestOffset(cur, ReadLimit.maxRows(2)).asInstanceOf[ReplayOffset]
      val admitted = nxt.counts.sum - cur.counts.sum
      assert(admitted > 0, "rate limit stalled with lag remaining")
      assert(admitted <= 2, s"batch exceeded the cap: $admitted")
      cur = nxt
      steps += 1
    }
    assert(cur.counts.sum === total, "drain did not complete under a sub-partition-count cap")
    // a drained topic admits nothing more
    val fin = mb.latestOffset(cur, ReadLimit.maxRows(2)).asInstanceOf[ReplayOffset]
    assert(fin.counts.toSeq === cur.counts.toSeq)
  }

  test("checkpoint restart resumes from the committed offsets, no replay, no loss") {
    import org.apache.spark.sql.streaming.Trigger
    val ss = graft.Session.withConfs(spark, "spark.sql.shuffle.partitions" -> "4")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kr_restart_").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def reader() = ss.readStream.format("kafka-replay")
      .option("path", s"${TestSpark.Sf001}/events.parquet")
      .option("topic", "events").option("numPartitions", NParts.toString)
      .option("maxOffsetsPerTrigger", "300")
      .load()
    def record(b: org.apache.spark.sql.DataFrame): Unit =
      b.select($"partition".cast("long") * 1000000L + $"offset")
        .as[Long].collect().foreach(seen.add)
    // first run: let exactly ONE rate-limited batch commit, then ABORT
    // batch 1 with a deliberate failure before it records or commits — a
    // mid-topic checkpoint (Trigger.Once can't produce one: it ignores
    // admission control). Batch 1 spins on a volatile flag instead of
    // blocking on an unbounded latch: stop()'s interrupt can land inside
    // one of the stream thread's uninterruptible sections and be
    // deferred past the point of delivery, in which case a latch-parked
    // foreachBatch never wakes and stop()'s join hangs the suite — the
    // flag+throw path needs no interrupt at all (and if the interrupt
    // DOES arrive mid-sleep, the InterruptedException aborts the batch
    // identically).
    val firstDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var stopRequested = false
    val q1 = reader().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id > 0) {
          while (!stopRequested) Thread.sleep(20)
          throw new RuntimeException("test: abort batch 1 uncommitted")
        }
        record(b)
        firstDone.countDown()
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    assert(firstDone.await(120, java.util.concurrent.TimeUnit.SECONDS))
    // wait for batch 0's COMMIT-log entry to be durable before stopping:
    // stopping mid-commit-write leaves batch 0 uncommitted and the
    // restart re-runs it (correct at-least-once foreachBatch semantics,
    // but this test pins the clean-resume path)
    val commit0 = new java.io.File(s"$ckpt/commits/0")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!commit0.exists() && System.nanoTime() < deadline) Thread.sleep(50)
    assert(commit0.exists(), "batch 0 commit never became durable")
    stopRequested = true
    q1.stop()
    val afterFirst = seen.size()
    assert(afterFirst > 0 && afterFirst < 1000, s"first run consumed $afterFirst")
    // second run resumes from the checkpointed ReplayOffset and drains
    import org.apache.spark.sql.streaming.Trigger
    val q2 = reader().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        record(b); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q2.awaitTermination()
    q2.stop()
    val all = seen.asScala.toSeq
    val dups = all.groupBy(identity).filter(_._2.size > 1)
    assert(all.size === 1000,
      s"expected full drain, got ${all.size} (first run $afterFirst, " +
        s"dup keys ${dups.size}, ckpt=${new java.io.File(ckpt + "/commits").list().toSeq})")
    assert(all.distinct.size === 1000, "record replayed across restart")
  }
}
