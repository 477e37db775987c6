package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the scale properties the builder brief
  * demands (pushdown reaches the scan, small dims broadcast, top-k avoids
  * global sort, hot paths stay in whole-stage codegen, nothing goes
  * cartesian). These lock in `.explain`-level behavior so a refactor that
  * silently degrades a plan fails CI, not the cluster.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.Sf001)
    df.queryExecution.executedPlan.toString
  }

  /** Every plan Scoped.materialize wrote while the query built (read off
    * the listener bus), each as the initial physical plan of the write's
    * input — the pre-write plans the FileScan boundary would otherwise
    * hide.
    */
  private def materializedPlanOf(name: String): String =
    PlanRecorder.record(SparkEntry.queries(name)(spark, TestSpark.Sf001))._2
      .materialized.flatMap(_.replannedInput).mkString("\n")

  test("q10: filters push down into the parquet scan") {
    val p = planOf("q10_range_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), p.linesIterator.take(20).mkString("\n"))
    assert(p.contains("GreaterThanOrEqual(")) // range predicates reached the scan
  }

  test("q10: scan schema is pruned to referenced columns only") {
    val p = planOf("q10_range_filter")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      readSchema)
  }

  test("q05/q17: dimension joins broadcast the small side") {
    assert(planOf("q05_stream_static_join").contains("BroadcastHashJoin"))
    assert(planOf("q17_semi_anti_join").contains("BroadcastHashJoin"))
  }

  test("q14: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q14_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q01: aggregation runs inside whole-stage codegen") {
    // AQE only finalizes (and codegens) the plan at execution time:
    // execute, then look for the *(n) codegen-stage markers in the final
    // adaptive plan
    val df = SparkEntry.queries("q01_pricing_summary")(spark, TestSpark.Sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("*("), p.linesIterator.take(10).mkString("\n"))
  }

  test("q07: interval join is a distributed equi-join (no type-only skew key)") {
    val p = planOf("q07_interval_join")
    assert(!p.contains("CartesianProduct"))
    // join keys include the exploded candidate date, not event_type alone
    assert(p.contains("date"), p)
  }

  test("no lazily-planned query goes cartesian") {
    // exclude queries that execute eagerly when built (streaming runs,
    // sink round-trips) — their side effects don't belong in a plan test
    val eager = Set("q41_stream_features_15m", "q42_stream_static_join",
      "q43_stream_sink_roundtrip", "q46_csv_roundtrip", "q47_upsert_latest",
      "q66_bucketed_join", "q74_stream_session_window", "q77_stream_dedup",
      "q78_incremental_overwrite", "q79_schema_evolution",
      "q86_stream_stream_join", "q87_bloom_filtered_join",
      // r8: these materialize their persist scope at build time; their
      // BUILD plans are asserted in the dedicated df-window test above
      "q190_postings_size", "q191_allpairs_cosine")
    SparkEntry.queries.keys.filterNot(eager).foreach { name =>
      assert(!PlanCensus.builds(name).physical.get.contains("CartesianProduct"),
        s"$name is cartesian")
    }
  }

  test("q22: sequential split range-partitions the sort instead of a global window") {
    // the only SinglePartition exchange allowed is the ≤32-row offsets side
    // table; the bars-sized sort must be a rangepartitioning exchange.
    // q22's own plan reads the materialized derived table, so the
    // assertion targets the table's BUILD plan.
    val (persisted, numbered) =
      graft.operators.WindowFeatures.globalRnBuild(spark, TestSpark.Sf001)
    try {
      val p = numbered.queryExecution.executedPlan.toString
      assert(p.contains("rangepartitioning"), p.linesIterator.take(15).mkString("\n"))
    } finally persisted.foreach(_.unpersist())
  }

  test("q73: min-max scaler broadcasts the per-key stats side") {
    assert(planOf("q73_minmax_scaler").contains("BroadcastHashJoin"))
  }

  test("q58: vocab top-k plans TakeOrderedAndProject, not rank-then-filter") {
    assert(planOf("q58_vocab_build").contains("TakeOrderedAndProject"))
  }

  test("q62: as-of join broadcasts the exploded interval side — fact never shuffles for it") {
    val p = planOf("q62_asof_join")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(15).mkString("\n"))
    // the event fact must not be exchanged on the join key before the join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q59: partition-column filter prunes partitions at the scan") {
    val df = graft.operators.ScalePatterns.prunedRead(spark, TestSpark.Sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("q66: bucketed fact-fact join has no Exchange on either input") {
    // at fixture scale the planner would rather broadcast the small side
    // (also fine — also shuffle-free); pin both sides big to force the
    // merge path the 100 TB layout relies on
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.ScalePatterns.bucketedJoin(spark, TestSpark.Sf001)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.linesIterator.take(10).mkString("\n"))
      assert(!p.contains("hashpartitioning(l_orderkey") &&
        !p.contains("hashpartitioning(o_orderkey"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q97: rank-filter top-k plans WindowGroupLimit (per-partition k-row cap)") {
    val p = planOf("q97_grouped_topk")
    assert(p.contains("WindowGroupLimit"), p.linesIterator.take(15).mkString("\n"))
  }

  test("q94: native as-of join plans the custom exec with sorted co-partitioned inputs") {
    val p = planOf("q94_asof_native")
    assert(p.contains("AsOfJoin"), p.linesIterator.take(20).mkString("\n"))
    // the merge-scan's input contract materialized: sorts feeding the exec
    assert(p.contains("Sort ["), p)
  }

  test("q87: runtime bloom filter prunes the fact scan before the join shuffle") {
    graft.operators.ScalePatterns.withBloomConfs(spark) {
      val df = graft.operators.ScalePatterns.bloomJoinFrame(spark, TestSpark.Sf001)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), p.linesIterator.take(20).mkString("\n"))
      assert(p.contains("bloom_filter_agg"), p)
    }
  }

  test("q36: simhash candidates join on band buckets, never the lang block alone") {
    val p = planOf("q36_simhash")
    // every equi-join in the plan either keys on the band bits (the
    // pigeonhole bucket) or is the pair-verify re-join on doc ids; a
    // lang-only join key would be O(n²) inside the dominant language
    val joinKeyLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("lang")).toSeq
    assert(joinKeyLines.forall(_.contains("bits")),
      joinKeyLines.mkString("\n"))
  }

  test("q37/q96: candidate grams are df-capped at the shared gram scan") {
    // the df column is precomputed in the materialized word3grams table;
    // the candidate side must apply the df ≤ cap cut as a PUSHED filter on
    // that scan (a post-scan window recomputation would mean the cap never
    // shrinks what's read, and an uncapped candidate join means stop-grams
    // go quadratic)
    Seq("q37_ngram_jaccard", "q96_fuzzy_editdist").foreach { q =>
      val p = planOf(q)
      assert(p.contains("word3grams"), s"$q does not read word3grams:\n" +
        p.linesIterator.take(15).mkString("\n"))
      assert(p.contains("LessThanOrEqual(df,50)"),
        s"$q has no pushed df-cap filter on the gram scan")
    }
  }

  test("q111: shuffle-shard manifest plans exactly one aggregation exchange") {
    // the per-row permutation hash + shard assignment must stay map-side;
    // the only shuffle the manifest needs is the shard groupBy (plus the
    // tiny final sort) — a second aggregation exchange would mean the
    // hash or token work leaked into a shuffled stage
    val p = planOf("q111_shuffle_shards")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q112: mixture copies come from a generator, not a join or extra shuffle") {
    // fractional-epoch duplication must be explode(array_repeat(...)) —
    // per-row generator work — never a join against a copies table
    val p = planOf("q112_source_mixture")
    assert(p.contains("Generate explode"), p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q115: BM25 broadcasts the tiny sides and plans top-k, not a global sort") {
    val p = planOf("q115_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q108: rank-window pairs join as a pure equi-join, never cartesian") {
    // the windowed pair builder must plan a hash/sort-merge equi-join on
    // (cell, rank) — a range-condition formulation would fall back to
    // BroadcastNestedLoopJoin/CartesianProduct and go quadratic per cell
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val assign = spark.range(0, 64).select(
      $"id".as("vec_id"), ($"id" % 4).as("cell"), ($"id" * 3L).as("d"),
      transform(sequence(lit(1), lit(64)),
        i => (i + $"id").cast("float")).as("embedding"),
      lit(1000000L).as("nrm"))
    val p = graft.operators.Similarity.rankWindowPairs(assign)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("Generate explode"), p.take(800)) // the window offsets
  }

  test("q118: substring dedup shuffles 8-byte gram keys, no cartesian") {
    // every plan materialized during the q118 build, not whichever
    // materialize ran last
    val (p, rec) = PlanRecorder.record(planOf("q118_substring_dedup"))
    val built = rec.materialized.flatMap(_.replannedInput)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the occurrence count groups on the md5 gram hash, not the gram
    // text; since r14 the position table is materialized once, so the
    // explode lives in the BUILD plan behind the materialize boundary
    // (the q22/q177 discipline)
    assert(built.exists(_.contains("Generate posexplode")),
      built.map(_.take(800)).mkString("\n---\n"))
  }

  test("q102: artifact scoring stays native — no UDF in the plan") {
    // the deserialized GBT compiles to when/otherwise literals; a UDF
    // here would fence whole-stage codegen on every scored row
    val p = planOf("q102_model_artifact_score")
    assert(!p.toLowerCase.contains("batchevalpython"))
    assert(!p.contains("UDF"), p.linesIterator.filter(_.contains("UDF")).mkString("\n"))
  }

  test("q120: LM scoring is UDF-free and never falls back to a cartesian") {
    // the surprisal arithmetic (integer quotient + conv-based bit length)
    // must stay native expressions inside codegen; the count-table joins
    // must be equi-joins on the md5 keys (shuffled or, at fixture size,
    // AQE-broadcast — either is a hash join, never a nested loop over the
    // bigram stream). Asserted on the lm_doc_bits BUILD plan — the query
    // itself reads the materialized silver table (a FileScan)
    val p = graft.operators.Search
      .lmAllDocsBuild(spark, TestSpark.Sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("Generate explode"), p.take(800))
  }

  test("q121: shard packing plans exactly one aggregation exchange") {
    // like q111: the salted hash + shard assignment are map-side; the one
    // shuffle is the shard groupBy feeding the per-shard tar build. The
    // tar encode/parse runs inside the typed map after the aggregate —
    // more exchanges would mean per-member work leaked into extra stages
    val p = planOf("q121_webdataset_shards")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q123: the volume predicate pushes into the ORC scan") {
    // the round-trip's read side must prune on ORC min/max stripe stats at
    // scale — a post-scan filter would decode every stripe of a 100 TB
    // export just to drop rows
    val df = SparkEntry.queries("q123_orc_roundtrip")(spark, TestSpark.Sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("OrcScan") || p.contains("Format: ORC") ||
      p.toLowerCase.contains("orc"), p.linesIterator.take(20).mkString("\n"))
    assert(p.contains("PushedFilters: [IsNotNull(volume), GreaterThan(volume"),
      p.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
  }

  test("q124: sessionize plans one user_id exchange shared by windows and agg") {
    // gaps-and-islands = two window passes + a groupBy, all keyed by
    // user_id: Catalyst must reuse the single hashpartitioning(user_id)
    // exchange — a second exchange would re-shuffle the full event stream
    // per pass at cluster scale
    val df = SparkEntry.queries("q124_batch_sessionize")(spark, TestSpark.Sf001)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q125: rank iterations join edge-to-rank as equi-joins, never cartesian") {
    val df = SparkEntry.queries("q125_textrank")(spark, TestSpark.Sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the broadcast-cross attach of
    // the 1-row convergence-residual summary (the q300 scalar pattern) —
    // a CONDITIONED nested loop (equi fallback) would be a plan bug
    val bnlj = "BroadcastNestedLoopJoin [^,\n]*, Cross".r.findAllIn(p).size
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === bnlj, p)
    // the final top-20 is a bounded top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q126: extents broadcast to the scan side; one exchange for the block rollup") {
    // the 1-row extents frame must reach every row as a broadcast (a
    // shuffle against a single row would serialize the whole table); the
    // only hash exchange is the final block groupBy
    val df = SparkEntry.queries("q126_zorder_layout")(spark, TestSpark.Sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges\n$p")
  }

  test("q129: the fixed-width weight table broadcasts to the instance stream") {
    // the 4096-bucket weight table must join map-side: a shuffle join here
    // would re-exchange every token instance of a 100 TB corpus against a
    // table that fits in one broadcast block
    val df = SparkEntry.queries("q129_dsir_importance")(spark, TestSpark.Sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q140: the probe side joins the broadcast sketch, never a shuffle of cells") {
    // the d*w-cell sketch must broadcast: a shuffle join here re-exchanges
    // the (tiny, bounded) sketch against every probe at scale for nothing
    val p = planOf("q140_cms_frequency")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q137: calendar bounds broadcast; the only cross is the 1-row bounds frame") {
    val p = planOf("q137_gap_fill")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q148: every power-iteration round broadcasts the direction — no cartesian") {
    val p = planOf("q148_power_iteration")
    assert(!p.contains("CartesianProduct"), p)
    // three rounds -> at least three broadcast exchanges of the 1-row frame
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, p)
  }

  test("q149: NB scoring never goes cartesian and keeps broadcast for the class table") {
    // note: at fixture scale the planner ALSO auto-broadcasts the weight
    // table (it is below the threshold — correct); at corpus scale its
    // stats exceed the threshold and the same plan degrades to a shuffle
    // join on its own, which is why the code carries no broadcast hint on
    // the weights
    val p = planOf("q149_naive_bayes_langid")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q153: VWAP is one partial+final aggregate straight off the scan") {
    val p = planOf("q153_vwap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // exactly one shuffle: the rollup's exchange (plus nothing else)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q155: drawdown shares ONE ticker exchange between window and rollup") {
    val p = planOf("q155_max_drawdown")
    // bars build has its own exchanges; the drawdown stage adds at most
    // one ticker hash exchange reused by the running-max sort and groupBy
    assert(!p.contains("CartesianProduct"))
    val drawdownExchanges = "Exchange hashpartitioning\\(ticker".r.findAllIn(p).size
    assert(drawdownExchanges <= 1, p)
  }

  test("q160: every PageRank round is an equi-join — no cartesian, rank never collected") {
    val p = planOf("q160_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    // rank rounds stay equi-joins; the single nested loop is the 1-row
    // residual-summary broadcast cross (the q300 scalar pattern)
    val bnlj = "BroadcastNestedLoopJoin [^,\n]*, Cross".r.findAllIn(p).size
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === bnlj, p)
  }

  test("q161: HLL registers aggregate with map-side partial max") {
    val p = planOf("q161_hll_registers")
    // the (event_type, bkt) register rollup must carry partial_max
    // through the exchange — the bounded-state property the sketch is for
    assert(p.contains("partial_max") || p.contains("max#"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("rank-limit windows execute with WindowGroupLimit pre-shuffle pruning") {
    // WindowBoundsSpec auto-accepts row_number/rank ≤ k windows because
    // Catalyst turns them into a partial WindowGroupLimit BEFORE the
    // shuffle (post-shuffle ≤ k·|map partitions| rows per key). This
    // asserts the physical operator actually appears for the two shapes
    // that rely on it: latest-per-key (q08) and grouped top-k (q39).
    Seq("q08_latest_per_key", "q39_knn_brute").foreach { q =>
      val p =
        if (q == "q39_knn_brute") materializedPlanOf(q)
        else planOf(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q lost its group-limit prune:\n" + p.linesIterator.take(25).mkString("\n"))
    }
  }

  test("q164: cleanup dedup is map work + aggregates + one ckey attach join — no window") {
    // materialized since r9: the group census attaches via GROUP-BY +
    // JOIN instead of collect_set OVER (PARTITION BY ckey), so no task
    // ever buffers a whole duplicate group — the attach join may shuffle
    // (skew-splittable), a window may not
    val p = materializedPlanOf("q164_unicode_cleanup")
    assert(!p.contains("Window"), "q164 re-grew a dup-group window:\n" +
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q166: phrase postings shrink through broadcast joins before the adjacency join") {
    val p = planOf("q166_phrase_search")
    assert(p.contains("BroadcastHashJoin"), p) // term filter is broadcast
    assert(!p.contains("CartesianProduct"))
  }

  test("q171: native set ops plan as aggregates/joins with no global sort") {
    val df = SparkEntry.queries("q171_set_ops")(spark, TestSpark.Sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    // the only sort allowed is the final ORDER BY (rangepartitioning);
    // intersect/except themselves must not introduce global sorts.
    // (count inside the Final Plan only — the adaptive dump repeats the
    // Initial Plan below it)
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Exchange rangepartitioning".r.findAllIn(finalPlan).size <= 1, finalPlan)
    assert(!p.contains("CartesianProduct"))
  }

  test("q172: entropy is aggregates + one doc-keyed window — join-free") {
    val p = planOf("q172_token_entropy")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"), p)
  }

  test("q177: RRF fuses off ONE shared postings build, pool-bounded ranks, no cartesian") {
    // materialized since r9 (pool'd RRF): pre-write plan still carries
    // the broadcast df/corpus joins, and each ranker's rank window must
    // sit above a TakeOrdered/Limit pool cut, never the raw matched set
    val p = materializedPlanOf("q177_rrf_hybrid")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "rank pools lost their TakeOrdered cut:\n" +
        p.linesIterator.take(30).mkString("\n"))
  }

  test("q190/q191: df never computes through an unsplittable term window") {
    // count(*) OVER (PARTITION BY term) puts every posting of a hot term
    // in ONE window task — a Zipf-skew straggler AQE cannot split (skew
    // handling applies to joins/aggregates, not window exchanges). df
    // must come from a partial aggregate + term-keyed join: q191 then
    // plans no Window operator at all, and q190's remaining lag windows
    // key on (term, bkt), whose row count PostingsBucket bounds.
    // both queries materialize their scope, so the assertions target the
    // BUILD plans (the q22 discipline), not the post-materialize re-read
    val (persisted191, r191) =
      graft.operators.Search.q191Build(spark, TestSpark.Sf001)
    try {
      val p191 = r191.queryExecution.executedPlan.toString
      assert(!p191.contains("Window"),
        p191.linesIterator.filter(_.contains("Window")).mkString("\n"))
    } finally persisted191.foreach(_.unpersist())
    val p190 = graft.operators.Search
      .q190Rollup(graft.operators.Search.q190Posts(spark, TestSpark.Sf001))
      .queryExecution.executedPlan.toString
    val winLines = p190.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, "q190 lost its gap-sort window entirely")
    assert(winLines.forall(_.contains("bkt")), winLines.mkString("\n"))
  }

  test("q178: the row-level drill is gated behind the bad-block semi join") {
    val p = planOf("q178_merkle_diff")
    assert(p.contains("LeftSemi"), p) // block pruning reaches both sides
    assert(!p.contains("CartesianProduct"))
  }

  test("q180: bitmap rollup carries partial bit_or through the exchange") {
    val p = planOf("q180_bitmap_presence")
    assert(p.contains("partial_bit_or") || p.contains("bit_or"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q184: the sweep window partitions by day — never one global sort task") {
    val df = SparkEntry.queries("q184_concurrency_sweep")(spark, TestSpark.Sf001)
    val p = df.queryExecution.executedPlan.toString
    // the running-sum window must be keyed (hashpartitioning on day),
    // not a single-partition global window (Exchange SinglePartition)
    assert(p.contains("hashpartitioning(day"), p.linesIterator.take(30).mkString("\n"))
  }

  test("q204: PQ codes and ADC LUT join broadcast — the corpus never shuffles by distance") {
    val p = materializedPlanOf("q204_pq_adc_search")
    // the (m, code) LUT join is a broadcast hash join
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"), "q204 went cartesian")
  }

  test("q205: anchor gram table broadcasts; candidates are bounded by the df window") {
    val p = materializedPlanOf("q205_hard_negatives")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"), "q205 went cartesian")
  }

  test("q207: bucket thresholds broadcast back to the doc scan (no per-doc rank window)") {
    val p = materializedPlanOf("q207_ccnet_buckets")
    // no window operator on a per-doc key anywhere: thresholds come from
    // the value-domain histogram, docs bucket by broadcast compare
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(40).mkString("\n"))
    val windowOnDoc = p.linesIterator.exists(l =>
      l.contains("Window ") && l.contains("doc_id"))
    assert(!windowOnDoc, "per-doc window found in q207 plan")
  }

  test("q210: pHash pairs come from band-bucket equi-join, never a cartesian product") {
    val p = materializedPlanOf("q210_image_phash_dedup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"), "q210 went cartesian")
  }

  test("dot_scaled is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT dot_scaled(
        |  array(CAST(0.5 AS FLOAT), CAST(1.0 AS FLOAT)),
        |  array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0).getLong(0)
    // 0.5*2*1e15 + 1*3*1e15 = 4e15
    assert(got === 4_000_000_000_000_000L)
  }
}
