package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-behavior evidence that needs a harness, not an oracle: AQE's
  * skew-join split actually engages on a skewed key, and results are
  * invariant to the shuffle-partition count (the conf a cluster retunes
  * most often).
  */
class ScaleBehaviorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // fixture-sized thresholds: anything over ~64KB counts as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // 200k rows, 95% on one key — the classic skewed fact
      val fact = spark.range(0, 200000)
        .select(
          when($"id" % 20 =!= 0, lit(7L)).otherwise($"id" % 1000).as("k"),
          concat(lit("payload_payload_payload_payload_"), $"id").as("v"))
      val dim = spark.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("w"))
      // global aggregate: its partial phase accepts any partitioning, so
      // AQE is free to split the skewed join partition (a groupBy on the
      // join key would pin the partitioning and veto the split)
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(length($"v")).as("bytes"))
      val row = joined.collect()(0)
      assert(row.getLong(0) === 200000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.linesIterator.take(25).mkString("\n"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("codebook law: k capped, assignment O(n^1.5), model state bounded") {
    import graft.operators.Corpus
    // the fixture sizes pin the concrete values both engines derive
    assert(Corpus.derivedK(500L) === 92L)   // sf0.001/sf0.01 — 4·⌈√500⌉
    assert(Corpus.derivedK(2000L) === 180L) // sf0.1 — 4·⌈√2000⌉
    for (n <- Seq(1L, 7L, 100L, 512L, 513L, 100000L, 10000000L,
        1562500000000L, Long.MaxValue / 4)) {
      val k = Corpus.derivedK(n)
      assert(k >= 1 && k <= n)
      // (a) hard cap: broadcast codebook / driver model state never exceeds
      // MaxK×64 longs, no matter the corpus
      assert(k <= Corpus.MaxCodebookK, s"n=$n k=$k exceeds MaxK")
      // (b) sub-quadratic assignment: k ≤ max(MinK, C·⌈√n⌉), so per-pass
      // work n·k ∈ O(n^1.5) — the law that kills the old n²/cell shape
      val sqrtBound =
        math.max(8L, Corpus.SqrtCoefC * math.ceil(math.sqrt(n.toDouble)).toLong)
      assert(k <= sqrtBound, s"n=$n k=$k exceeds C·⌈√n⌉ bound $sqrtBound")
    }
    // the cap actually engages for planet-scale corpora
    assert(Corpus.derivedK(Long.MaxValue / 4) === Corpus.MaxCodebookK.toLong)
    // the Spark count path and the pure formula agree on real data
    assert(Corpus.derivedK(spark, TestSpark.Sf001) === Corpus.derivedK(500L))
  }

  test("q108 pair work is window-capped: ≤ PairWindow candidates per vector") {
    import graft.operators.Similarity
    val W = Similarity.SemPairWindow
    // one deliberately oversized cell — 4× the window — with distinct
    // distances; the windowed join must NOT go quadratic in cell size
    val n = 4 * W
    val assign = spark.range(0, n).select(
      $"id".as("vec_id"), lit(0L).as("cell"), ($"id" * 7L).as("d"),
      transform(sequence(lit(1), lit(64)),
        i => (i + $"id").cast("float")).as("embedding"),
      lit(1000000L).as("nrm"))
    val pairs = Similarity.rankWindowPairs(assign)
      .select($"i", $"j").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exact candidate count: sum over rank r of min(r-1, W)
    val expected = (1 to n).map(r => math.min(r - 1, W)).sum
    assert(pairs.length === expected,
      s"windowed pair count ${pairs.length} != $expected (n=$n W=$W)")
    // no pair reaches farther back than W ranks (rank = vec_id here since
    // d is monotone in vec_id)
    assert(pairs.forall { case (i, j) => j - i >= 1 && j - i <= W })
    // and it is genuinely sub-quadratic: the full self-join would be n(n-1)/2
    assert(pairs.length < n.toLong * (n - 1) / 2)
  }

  test("Zipf-skewed postings: gap windows bounded by PostingsBucket; df attach frequency-splits") {
    import graft.operators.Search
    // a deliberately Zipf-shaped postings table the fixtures can't
    // produce: one stop-shingle owns half of 120k postings, a hot tail
    // owns most of the rest — the distribution the 100 TB claim rides on
    val posts = spark.range(0, 120000).select(
      $"id".as("doc_id"),
      when($"id" % 2 === 0, lit("the quick brown"))
        .when($"id" % 3 === 0, concat(lit("hot "), ($"id" % 7).cast("string")))
        .otherwise(concat(lit("tail "), ($"id" % 20000).cast("string")))
        .as("term"))
    // (a) the sharding law itself: no (term, doc_id div PostingsBucket)
    // cell — i.e. no lag-window partition — can exceed the bucket width,
    // because doc ids are distinct within a posting list
    val maxCell = posts
      .groupBy($"term", expr(s"doc_id div ${Search.PostingsBucket}").as("bkt"))
      .agg(count(lit(1)).as("n"))
      .agg(max($"n")).head.getLong(0)
    assert(maxCell <= Search.PostingsBucket,
      s"window partition of $maxCell rows exceeds bucket ${Search.PostingsBucket}")
    // (b) the factored q190 roll-up preserves the posting census and
    // pays the sharding cost explicitly: every df>threshold term emits
    // more absolute heads than terms (the hot lists really split)
    val out = Search.q190Rollup(posts)
      .select($"df_bitband", $"n_terms", $"n_postings", $"n_abs_heads")
      .collect()
    assert(out.map(_.getLong(2)).sum === 120000L, out.mkString("; "))
    val topBand = out.maxBy(_.getLong(0))
    assert(topBand.getLong(3) > topBand.getLong(1),
      s"hot band never sharded: $topBand")
    // (c) the frequency-split df attach — q190/q191's replacement for
    // the term window. Note a plain shuffle join would NOT be saved by
    // AQE here: the df side's final aggregate sits between its shuffle
    // and the join sort, so OptimizeSkewedJoin's
    // SMJ(Sort(Shuffle), Sort(Shuffle)) pattern never matches — which is
    // exactly why attachDf splits by frequency instead of hoping.
    val attached = Search.attachDf(posts)
    // census preserved: every posting gets exactly one df row
    assert(attached.count() === 120000L)
    // hot postings join a BROADCAST head — they never shuffle on term
    val plan = attached.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      plan.linesIterator.take(30).mkString("\n"))
    // the cold shuffle is skew-free BY CONSTRUCTION: no surviving term
    // carries more than DfShard rows
    val coldMax = attached.filter($"df" <= Search.DfShard)
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .agg(max($"n")).head.getLong(0)
    assert(coldMax <= Search.DfShard, s"cold side skewed: $coldMax")
  }

  test("hot-day sweep: chunk windows bounded; hierarchical peak == naive window peak") {
    import graft.operators.Analytics
    // a deliberately hot-day boundary-point table the fixtures can't
    // produce: one day owns 50k of 60k points — the distribution that
    // made the old per-day sweep window serial at event scale.
    // Fixture-sized rows all fit one AQE-coalesced partition, which
    // would hide the split — pin cluster-shaped chunking for the proof
    // (at operating scale the advisory byte size bounds chunks the same
    // way the partition count does here).
    val confs = Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
    val n = 60000L
    val hot = spark.range(0, 50000).select(
      lit(java.sql.Date.valueOf("2024-03-01")).as("day"),
      // session i spans [i, i+7000) seconds: deep overlap, and every
      // end coincides with a later session's start — the exact-instant
      // tie the +1-before-−1 rule (delta desc) must resolve identically
      // on both the naive and the chunked path
      expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, " +
        "(id div 2) + CASE WHEN id % 2 = 1 THEN 7000 ELSE 0 END)").as("ts"),
      when($"id" % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("delta"))
    val cold = spark.range(0, 10000).select(
      to_date(lit("2024-03-02").cast("date") + ($"id" % 5).cast("int")).as("day"),
      expr("timestamp'2024-03-02 06:00:00' + make_interval(0,0,0,0,0,0, id)").as("ts"),
      when($"id" % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("delta"))
    val points = hot.unionByName(cold)
    // (a) the chunking law: no running-sum window partition — a
    // (day, _pid) cell — holds more than a balanced share of the data;
    // in particular the hot day REALLY splits across chunks
    val chunks = Analytics.sweepChunks(points).collect()
    val maxCell = chunks.map(_.getAs[Long]("chunk_rows")).max
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // rangepartition balances by sampled size; 4× slack over the ideal
    // share covers sampling error while still proving the split
    assert(maxCell <= 4L * n / parts,
      s"chunk of $maxCell rows — hot day not split (ideal ${n / parts})")
    assert(chunks.count(_.getAs[java.sql.Date]("day").toString == "2024-03-01") > 1,
      "hot day landed in a single chunk")
    // census preserved across the decomposition
    assert(chunks.map(_.getAs[Long]("chunk_rows")).sum === n)
    // (b) exactness: the hierarchical peak equals the naive
    // single-window-per-day sweep on the same points
    import org.apache.spark.sql.expressions.Window
    val wDay = Window.partitionBy($"day").orderBy($"ts", $"delta".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = points
      .withColumn("running", sum($"delta").over(wDay))
      .groupBy($"day")
      .agg(max($"running").as("peak_concurrent"),
        sum(when($"delta" === 1L, 1L).otherwise(0L)).as("n_segments"))
      .orderBy($"day").collect().map(_.toString)
    val hier = Analytics.sweepPeaks(points)
      .orderBy($"day").collect().map(_.toString)
    assert(hier.toSeq === naive.toSeq)
    // (c) plan shape: the sweep rides a RANGE partitioning exchange —
    // the sort parallelizes — and no window partitions on day alone
    // over the raw points (the offsets window sees only chunk rows)
    val plan = Analytics.sweepPeaks(points)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan.linesIterator.take(30).mkString("\n"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("query results are invariant to spark.sql.shuffle.partitions") {
    // q111/q112 are here because their whole point is reproducibility:
    // the shuffle permutation and the fractional-epoch sample must not
    // depend on how the data happens to be partitioned; q122 because the
    // trained weights must not depend on row order (integer batch updates
    // are order-independent sums — the property that makes in-engine
    // training reproducible at all)
    val names = Seq("q01_pricing_summary", "q63_sessionize", "q83_outlier_days",
      "q85_heavy_hitters", "q88_retention_cohorts", "q111_shuffle_shards",
      "q112_source_mixture", "q122_perceptron_train")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def runAll(): Map[String, Seq[String]] =
      names.map { n =>
        n -> SparkEntry.queries(n)(spark, TestSpark.Sf001)
          .collect().map(_.toString).toSeq
      }.toMap
    try {
      spark.conf.set(key, "3")
      val a = runAll()
      spark.conf.set(key, "17")
      val b = runAll()
      names.foreach(n => assert(a(n) === b(n), s"$n diverged across partition counts"))
      assert(a(names.head).nonEmpty)
    } finally spark.conf.set(key, prev)
  }

  test("hot symbol-day tick tape: chunk windows bounded; chunked flow == naive global window") {
    import graft.operators.Series
    // a deliberately hyper-liquid symbol-day the fixtures can't produce:
    // one (tkr, day) owns 50k of 61k ticks — the tape shape that made
    // the pre-r10 per-(tkr, day) window serial at 100 TB scale (the r9
    // verdict's last data-dependent bound). AQE coalesce off + pinned
    // partition count so the fixture-sized rows can't collapse into one
    // chunk and hide the split.
    val confs = Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // hot day: price path with FLAT RUNS (id div 3 repeats each price
      // 3×) so the tick-rule sign is null on two of three ticks and the
      // last-non-null carry must really stitch across chunk seams
      val hot = spark.range(0, 50000).select(
        lit(1L).as("tkr"),
        lit(java.sql.Date.valueOf("2024-03-01")).as("day"),
        $"id".as("seq"),
        (lit(1000000L) + (($"id" / 3).cast("long") * 7919L) % 997L - 498L)
          .as("cents"))
      // cold days on the same + other tickers, including days BEFORE and
      // AFTER the hot day so the cross-day carry/base stitching is live
      val cold = spark.range(0, 11000).select(
        ($"id" % 4L + 1L).as("tkr"),
        to_date(lit("2024-02-27").cast("date") + ($"id" % 7).cast("int"))
          .as("day"),
        ($"id" + 100000L).as("seq"),
        (lit(1000000L) + ($"id" * 31L) % 1009L - 504L).as("cents"))
        // drop the hot (tkr=1, 2024-03-01) overlap — seq must not collide
        .filter(!($"tkr" === 1L && $"day" === lit("2024-03-01").cast("date")))
      val tape = hot.unionByName(cold)
      val n = tape.count()
      // (a) the chunking law: no running-state window partition — a
      // (tkr, day, _pid) cell — holds more than a balanced share, and
      // the hot symbol-day REALLY splits across chunks
      val (flow, rec) = PlanRecorder.record(Series.flowFromTape(tape))
      val cells = flow.groupBy($"tkr", $"day", $"_pid")
        .agg(count(lit(1)).as("rows")).collect()
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val maxCell = cells.map(_.getAs[Long]("rows")).max
      assert(maxCell <= 4L * n / parts,
        s"chunk of $maxCell rows — hot symbol-day not split (ideal ${n / parts})")
      assert(cells.count(r => r.getAs[Long]("tkr") == 1L &&
        r.getAs[java.sql.Date]("day").toString == "2024-03-01") > 1,
        "hot symbol-day landed in a single chunk")
      assert(cells.map(_.getAs[Long]("rows")).sum === n)
      // (b) exactness: the chunk-stitched cumulative and sign carry
      // equal the naive single-global-window-per-ticker reference
      import org.apache.spark.sql.expressions.Window
      val wG = Window.partitionBy($"tkr").orderBy($"day", $"seq")
      val naive = tape
        .withColumn("cum0", sum($"cents").over(wG))
        .withColumn("prev", lag($"cents", 1).over(wG))
        .withColumn("s",
          when($"prev".isNull, lit(null).cast("int"))
            .when($"cents" > $"prev", 1)
            .when($"cents" < $"prev", -1))
        .withColumn("s_filled",
          coalesce(last($"s", ignoreNulls = true).over(wG), lit(1)))
        .select($"tkr", $"seq", $"cum0", $"s_filled")
        .orderBy($"tkr", $"seq").collect().map(_.toString)
      val chunked = flow.select($"tkr", $"seq", $"cum0", $"s_filled")
        .orderBy($"tkr", $"seq").collect().map(_.toString)
      assert(chunked.toSeq === naive.toSeq)
      // (c) plan shape: since the r11 chunk-id pin the range exchange
      // lives BEHIND the localCheckpoint boundary — downstream plans show
      // the checkpointed Scan ExistingRDD (proof the chunk ids are pinned
      // by materialization, not exchange reuse), and the recorded
      // pre-checkpoint plan still shows the rangepartitioning that
      // parallelizes the sort
      val plan = flow.queryExecution.executedPlan.toString
      assert(plan.contains("Scan ExistingRDD"),
        plan.linesIterator.take(30).mkString("\n"))
      val chunkInput = rec.executions.filter(_.name.contains("localCheckpoint"))
        .map(_.qe.executedPlan.toString).mkString("\n")
      assert(chunkInput.contains("rangepartitioning"),
        chunkInput.linesIterator.take(30).mkString("\n"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hot user event tape: chunk windows bounded; chunked scan == naive global window") {
    import graft.operators.Analytics
    // a deliberately bot-shaped tape the fixtures can't produce: one user
    // owns 50k of 60k events — the r10 verdict's "declared user_id
    // contract" hazard made concrete. AQE coalesce off + pinned partition
    // count so fixture-sized rows can't collapse into one chunk.
    val confs = Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // hot user: 1-minute cadence with a >30-min gap every 40 events
      // (sessions must stitch across chunk seams), event types in runs of
      // 3 (version carry must stitch too), and tus TIES in pairs (the
      // event_id tiebreak must order identically on both paths)
      val hot = spark.range(0, 50000).select(
        lit(7L).as("user_id"),
        (($"id" / 2).cast("long") * 60000000L +
          ($"id" / 40).cast("long") * 3600000000L).as("tus"),
        concat(lit("e"), format_string("%06d", $"id")).as("event_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (($"id" / 3) % 3 + 1).cast("int")).as("event_type"))
      val cold = spark.range(0, 10000).select(
        ($"id" % 50L + 100L).as("user_id"),
        ($"id" * 45000000L).as("tus"),
        concat(lit("c"), format_string("%06d", $"id")).as("event_id"),
        element_at(array(lit("view"), lit("click")),
          ($"id" % 2 + 1).cast("int")).as("event_type"))
      val tape = hot.unionByName(cold)
      val n = tape.count()
      val scanned = Analytics.chunkedUserScan(tape)
      // (a) the chunking law: no running-state window partition — a
      // (user_id, _pid) cell — holds more than a balanced share, and the
      // hot user REALLY splits across chunks
      val cells = scanned.groupBy($"user_id", $"_pid")
        .agg(count(lit(1)).as("rows")).collect()
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val maxCell = cells.map(_.getAs[Long]("rows")).max
      assert(maxCell <= 4L * n / parts,
        s"chunk of $maxCell rows — hot user not split (ideal ${n / parts})")
      assert(cells.count(_.getAs[Long]("user_id") == 7L) > 1,
        "hot user landed in a single chunk")
      assert(cells.map(_.getAs[Long]("rows")).sum === n)
      // (b) exactness: stitched lags + session/version islands equal the
      // naive single-global-window-per-user reference
      import org.apache.spark.sql.expressions.Window
      val wG = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
      val wGr = wG.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = tape
        .withColumn("prev_tus", lag($"tus", 1).over(wG))
        .withColumn("prev_type", lag($"event_type", 1).over(wG))
        .withColumn("has_prev", $"prev_tus".isNotNull)
        .withColumn("sid", sum(
          when($"prev_tus".isNull ||
            $"tus" - $"prev_tus" > Analytics.SessionGapUs, 1L)
            .otherwise(0L)).over(wGr))
        .withColumn("version", sum(
          when($"prev_tus".isNull || $"prev_type" =!= $"event_type", 1L)
            .otherwise(0L)).over(wGr))
        .select($"user_id", $"event_id", $"prev_tus", $"prev_type",
          $"has_prev", $"sid", $"version")
        .orderBy($"user_id", $"event_id").collect().map(_.toString)
      val chunked = scanned
        .select($"user_id", $"event_id", $"prev_tus", $"prev_type",
          $"has_prev", $"sid", $"version")
        .orderBy($"user_id", $"event_id").collect().map(_.toString)
      assert(chunked.toSeq === naive.toSeq)
      // (c) plan shape: the stitch is a keyed join on (user_id, _pid) and
      // every window spec naming user_id ALSO carries _pid or the cu
      // summary grain — no raw per-user window anywhere. (The range
      // exchange itself sits behind the pinning localCheckpoint, so it is
      // not visible in this plan string; the chunk-balance law in (a) is
      // the evidence it ran.)
      val plan = scanned.queryExecution.executedPlan.toString
      val rawUserWindows = plan.linesIterator.filter { l =>
        l.contains("windowspecdefinition(user_id") &&
          !l.contains("_pid") && !l.contains("cu#")
      }.toSeq
      assert(rawUserWindows.isEmpty, rawUserWindows.mkString("\n"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hot document plant: the MaxDocChars guard quarantines it and leaves the corpus result untouched") {
    import graft.operators.TextOps
    import java.nio.file.Files
    // a pathological concatenation the fixtures can't produce: one doc
    // 40% over MaxDocChars, whose text REPEATS a real fixture phrase so
    // an un-guarded run would flood the substring-dedup span table and
    // perturb every other doc's manifest — quarantine must be total
    val baseDir = Files.createTempDirectory("graft_hotdoc_")
    val plantDir = s"$baseDir/sf"
    try {
      val base = spark.read.parquet(s"${TestSpark.Sf001}/documents.parquet")
      val phrase = base.orderBy($"doc_id").select($"text").head.getString(0)
        .split("\\s+").take(12).mkString(" ") + " "
      val reps = (TextOps.MaxDocChars * 14 / 10 / phrase.length).toInt + 1
      val plant = spark.range(1).select(
        lit(999999L).as("doc_id"),
        concat_ws("", array_repeat(lit(phrase), reps)).as("text"),
        lit("en").as("lang"), lit("plant").as("source"),
        lit(phrase.length.toLong * reps).as("n_chars"))
      base.unionByName(plant)
        .write.mode("overwrite").parquet(s"$plantDir/documents.parquet")
      // the guard law itself: over-cap excluded, at-cap retained
      val lens = graft.operators.TextOps
        .guardedDocs(spark, plantDir).agg(
          count(lit(1)).as("n"), max(length($"text")).cast("long").as("mx")).head
      assert(lens.getLong(0) === 500L, "plant not quarantined")
      assert(lens.getLong(1) <= TextOps.MaxDocChars)
      // the operator law: the guarded sequential operators produce
      // byte-identical manifests with and without the plant — the
      // oversized doc never reaches a window, and its repeated spans
      // never contaminate other docs' rows
      for (q <- Seq("q118_substring_dedup", "q225_winnowing",
          "q172_token_entropy")) {
        val clean = SparkEntry.queries(q)(spark, TestSpark.Sf001)
          .collect().map(_.toString).toSeq
        val planted = SparkEntry.queries(q)(spark, plantDir)
          .collect().map(_.toString).toSeq
        assert(planted === clean, s"$q drifted under the hot-doc plant")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(baseDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  test("dynamic partition pruning fires on a partitioned fact × filtered dim join") {
    // the runtime analog of q59's static pruning: the fact is partitioned
    // by event_type, the dim filter is only known at run time (it sits on
    // a non-partition column of the OTHER side), and Catalyst must plant
    // a DynamicPruning subquery on the fact scan so only the surviving
    // partitions are read — the join-shaped scan reduction a 100 TB
    // star-schema read lives on.
    import java.nio.file.Files
    val baseDir = Files.createTempDirectory("graft_dpp_")
    val base = baseDir.toString
    graft.sources.Tables.events(spark, TestSpark.Sf001)
      .filter($"ts".isNotNull)
      .write.mode("overwrite").partitionBy("event_type").parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    Seq(("purchase", 1L), ("click", 2L), ("view", 3L))
      .toDF("t", "weight")
      .write.mode("overwrite").parquet(s"$base/dim")
    val dim = spark.read.parquet(s"$base/dim")
    val keys = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      // the benefit heuristic uses size stats — a KB-sized fixture fact
      // never clears it, so pin the fallback ratio path for the proof
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
    val prevs = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val joined = fact.join(dim.filter($"weight" === 1L), fact("event_type") === dim("t"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        plan.linesIterator.take(25).mkString("\n"))
      assert(joined.head().getLong(0) > 0L)
    } finally {
      prevs.foreach { case (k, v) => spark.conf.set(k, v) }
      // the fixture parquet is test-local scratch — delete it or every
      // run leaks a copy of the events table into the temp filesystem
      import scala.jdk.CollectionConverters._
      Files.walk(baseDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  test("hot region plant: q298's blocked pair screen emits exactly the per-cell budget, no cross-region leak") {
    import graft.operators.CrossSection
    // a deliberately lopsided universe the fixture can't produce: region
    // 1 holds HALF of 64 tickers (the JoinFanoutBounds q298 contract made
    // concrete) — per-cell pair volume must still be exactly
    // |cell|·(|cell|−1)/2 with zero unblocked leakage, proving the pair
    // stage is quadratic in the universe DIMENSION and in nothing else
    val nT = 64; val nM = 30
    val universe = spark.range(nT).select(
      $"id".as("ticker"),
      when($"id" < nT / 2, lit(1L)).otherwise($"id" % 4 + 2).as("reg"))
    val rets = universe.crossJoin(
        spark.range(nM).select($"id".as("mon")))
      .withColumn("y", ($"ticker" * 37 + $"mon" * 11) % 97 - 48)
    val pairs = CrossSection.regionBlockedPairs(rets)
    // (a) exact per-cell budget: every (reg, mon) cell holds C(|reg|, 2)
    val regSizes = universe.groupBy($"reg").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cells = pairs.groupBy($"reg", $"mon").count().collect()
    assert(cells.length === regSizes.size * nM,
      "missing (reg, mon) cells — a region dropped out of the screen")
    cells.foreach { c =>
      val n = regSizes(c.getLong(0))
      assert(c.getLong(2) === n * (n - 1) / 2,
        s"cell (${c.getLong(0)}, ${c.getLong(1)}) holds ${c.getLong(2)}" +
          s" pairs, budget ${n * (n - 1) / 2}")
    }
    // the hot region dominates by its quadratic share and no more:
    // 32 tickers → 496 pairs/month vs 8² regions → 28
    assert(regSizes(1L) === nT / 2)
    val total = cells.map(_.getLong(2)).sum
    assert(total === nM * regSizes.values.map(n => n * (n - 1) / 2).sum)
    // (b) no cross-region leak: both endpoints carry the cell's region
    val regOf = universe.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.select($"reg", $"i", $"j").distinct().collect().foreach { p =>
      assert(regOf(p.getLong(1)) === p.getLong(0) &&
        regOf(p.getLong(2)) === p.getLong(0),
        s"cross-region pair leaked: $p")
    }
    // (c) plan shape: the pair stage is a keyed equi-join on the blocking
    // keys, never a cartesian with a post-filter
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "pair stage degenerated to a cartesian product")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      plan.linesIterator.take(20).mkString("\n"))
  }

  test("gram-key contract: expected 60-bit key collisions stay below 1e-3 at the rated corpus size") {
    import graft.operators.Dedup.{GramKeyRatedGrams, gramKeyExpectedCollisions}
    // the pinned bound: C(n, 2) / 2^60 at the declared rating
    assert(GramKeyRatedGrams === (1L << 25))
    assert(gramKeyExpectedCollisions(GramKeyRatedGrams) <= 1e-3,
      gramKeyExpectedCollisions(GramKeyRatedGrams))
    // the formula's shape on a key cut to 20 bits, where collisions are
    // frequent enough to count: 4096 distinct grams expect
    // C(4096, 2) / 2^20 ≈ 8 colliding pairs
    val keys = (0 until 4096).map(i => graft.functions.Portable
      .md5Hash64Jvm(s"gram $i") >>> 40)
    val pairs = keys.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val expected = 4096.0 * 4095 / 2 / math.pow(2, 20)
    assert(pairs >= 1 && pairs <= 3 * expected, s"$pairs colliding pairs, expected ≈ $expected")
    // the fixture itself: every distinct word 3-gram has its own key
    val grams = graft.operators.Silver.tables.find(_.name == "word3grams").get
      .build(spark, TestSpark.Sf001)
    val Array(nS, nHs) = grams.agg(countDistinct($"s"), countDistinct($"hs"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    assert(nS === nHs)
  }
}
