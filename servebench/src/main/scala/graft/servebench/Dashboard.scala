package graft.servebench

import scala.collection.mutable

import graft.SparkEntry
import graft.operators.{Scoped, Silver}

/** `dashboard`: a warm serving session. Setup pre-builds the silver tables
  * the serving queries read and runs each query once; the measured phase
  * is a closed loop of one client issuing the seeded request order
  * (`--requests`: back-to-back permutations of `--queries`, one name per
  * line) against `--corpus` for `--seconds` (at least one whole
  * permutation). Latency percentiles cover the whole permutations served.
  * Afterwards each query runs once more, untimed, and its result is saved
  * for the oracle compare.
  */
object Dashboard {
  def apply(run: Run): Map[String, Any] = {
    val spark = run.spark
    val dir = run.args("corpus")
    val names = run.args("queries").split(',').toSeq
    val order = scala.io.Source.fromFile(run.args("requests")).getLines().toVector
    val fixtureFp = graft.sources.FixtureFingerprint.combined(spark, dir)

    val (setupId, closeSetup) = run.span("setup", "run")
    val silverMs = Silver.tables.filter(t => names.exists(run.reads(t, _)))
      .flatMap(t => run.request("silver", t.name, setupId)(t.build(spark, dir))
        .map(t.name -> _))
    run.mark("silver_prebuild")
    // two passes: the first compiles each query's generated code, the
    // second lets the JIT settle on the driver-side paths every request takes
    for (_ <- 1 to 2)
      run.concurrently(names)(n => run.request("warmup", n, setupId, traceIt = false)(
        SparkEntry.queries(n)(spark, dir)))
    closeSetup(Map())
    run.measureStart()

    val keys0 = Scoped.builtKeys
    var lookups = 0L
    val lat = mutable.ArrayBuffer[Double]()
    val controlLat = mutable.ArrayBuffer[Double]()
    val (measureId, closeMeasure) = run.span("measure", "run")
    val t0 = System.nanoTime()
    val deadline = t0 + (run.seconds * 1e9).toLong
    var i = 0
    var wholeEnd = t0
    val cpu0 = run.cpuMs()
    var wholeCpuMs = 0.0
    // latency percentiles and throughput cover whole permutations only, so
    // every run measures the same query mix; the first one always completes
    while (System.nanoTime() < deadline || i < names.size) {
      val name = order(i % order.size)
      def go(traceIt: Boolean) = run.request("request", name, measureId,
        traceIt = traceIt)(SparkEntry.queries(name)(spark, dir))
      go(traceIt = true).foreach(lat += _)
      lookups += run.silverLookups(name)
      // the traced run repeats each request untraced, as the control its
      // tracing overhead is measured against
      if (run.traced) run.untraced(go(traceIt = false)).foreach(controlLat += _)
      i += 1
      if (i % names.size == 0) {
        wholeEnd = System.nanoTime()
        wholeCpuMs = run.cpuMs() - cpu0
      }
      if (run.injectFailure && i == 1)
        run.request("request", "q00_missing_query", measureId)(
          SparkEntry.queries("q00_missing_query")(spark, dir))
    }
    val whole = lat.take(i / names.size * names.size).toSeq
    val wholeS = (wholeEnd - t0) / 1e9
    val misses = (Scoped.builtKeys -- keys0).size
    val hitRatio =
      if (lookups == 0) 0.0 else math.max(0L, lookups - misses).toDouble / lookups
    closeMeasure(Map("silver_lookups" -> lookups, "silver_misses" -> misses))
    run.measureEnd()

    // untimed: each query runs once more and its result is saved for the
    // oracle compare, so a result that goes wrong only on a repeated
    // request fails the run; the oracle SQL is generated meanwhile
    val oracleSql = java.util.concurrent.CompletableFuture.supplyAsync(
      () => run.oracles(dir, names))
    run.concurrently(names)(n => run.request("check", n, 0L, traceIt = false,
      saveTo = Some(run.resultPath(n)))(SparkEntry.queries(n)(spark, dir)))
    val oracle = oracleSql.get()
    run.mark("check")
    Map(
      "workload" -> "dashboard",
      "e2e" -> Map(
        "cpu_ms_per_op" -> wholeCpuMs / whole.size,
        "latency_p50_ms" -> Stats.pct(whole, 0.5),
        "latency_tail_ms" -> Stats.pct(whole, 0.9),
        "throughput_per_s" -> whole.size / wholeS),
      "named" -> Map(
        "query_p50_ms" -> Stats.pct(whole, 0.5),
        "query_p90_ms" -> Stats.pct(whole, 0.9),
        "queries_per_s" -> whole.size / wholeS),
      "latency_samples" -> whole.size,
      "requests" -> i,
      "latencies_ms" -> lat.toList,
      "oracle_dir" -> dir,
      "oracle_sql" -> oracle,
      "fixture_fp" -> Map(dir -> fixtureFp),
      "trace_run" -> Map(
        "silver_hit_ratio" -> hitRatio,
        "silver_setup_ms" -> silverMs.toMap,
        "overhead_pct" -> Stats.overheadPct(lat.toSeq, controlLat.toSeq)))
  }
}
