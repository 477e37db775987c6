package graft

/** Perf snapshot: one JSON line with per-query seconds on the bench SF,
  * printed to stdout AND written to a file (`SPARK_GRAFT_BENCH_OUT`,
  * default `bench_out.json` in the working directory) so the harness can
  * parse it even when a log tail truncates stdout.
  *
  * Each query is executed three times — one warmup pass absorbing
  * JVM/codegen/parquet-footer warmup (which otherwise lands entirely on
  * whichever query runs first and misattributes ~5 s to it), then TWO
  * timed passes — and the per-query MINIMUM of the timed passes is the
  * reported number. Min-of-2 is interference-resistant: a host-noise
  * window (GC of a co-tenant, page-cache eviction) inflates one pass but
  * almost never the same query in both, so the min tracks plan cost where
  * a single sample tracks host luck (round 4's driver run was 24% noise
  * that vanished on a quiet re-run). Both raw passes are emitted in the
  * output file alongside the min so variance is auditable per query.
  * Queries run in name order for stable output. Every call builds cold
  * (`SparkEntry.coldQueries`): the census times the builder and the
  * analyzer too, which the serving path skips on a repeated request.
  *
  * The timed action is a `noop`-format write, not `count()`: count lets
  * Catalyst prune every unreferenced output expression and drop the final
  * sort, which flatters projection-heavy queries (q33's struct assembly,
  * q21's sequence arrays). The noop sink consumes every output column at
  * full width — write-path cost without any disk I/O.
  *
  * A query that throws is reported in a `failures` list and EXCLUDED from
  * the total (a -1 sentinel summed into the total would silently shrink
  * the headline number instead of surfacing the failure).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Session.local(Session.envCpus)
    // what fixture generation this run measured — a schema change in the
    // driver-regenerated parquet shows up in the artifact diff, not as a
    // pile of mystery analysis errors (the round-6 lesson)
    val fixtureFp = graft.sources.FixtureFingerprint.combined(spark, sfDir)
    val fixtureJson = graft.sources.FixtureFingerprint.json(spark, sfDir)
    // silver tables build FIRST, individually timed: their cost is
    // attributed to the table, not to whichever query's warmup happened
    // to reach the Scoped.shared key before the others
    val silver = graft.operators.Silver.tables.map { t =>
      val t0 = System.nanoTime()
      try {
        t.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        t.name -> ((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => t.name -> -1.0 }
    }
    // optional comma-separated name filter for local iteration
    // (SPARK_GRAFT_BENCH_ONLY=q191_allpairs_cosine); unset = full surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    // optional FIXED-cohort mode (SPARK_GRAFT_BENCH_COHORT=k/n): run only
    // the queries whose stable name hash lands in cohort k of n, so the
    // full surface can be benched as n separate JVMs — the census-churn
    // term (codegen-cache + GC pressure, ~0.2–0.5 s/query in a JVM
    // holding the whole surface) stays bounded by the cohort size
    // instead of growing with every added query. Hash-based, not
    // index-based, so adding a query never moves existing ones between
    // cohorts (budgets stay comparable round over round).
    val cohort = sys.env.get("SPARK_GRAFT_BENCH_COHORT").map { s =>
      val Array(k, n) = s.split('/').map(_.trim.toInt)
      require(n > 0 && k >= 0 && k < n, s"bad cohort spec $s")
      (k, n)
    }
    val names = SparkEntry.coldQueries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filter(nm => cohort.forall { case (k, n) =>
        math.floorMod(nm.hashCode, n) == k })
    // Either(seconds) or the failure message
    def time(name: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.coldQueries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    }
    // Warmup pass: absorbs JVM JIT + Janino codegen compilation (seconds
    // per distinct generated class, pure fixed cost) and materializes the
    // persisted signature tables, so the timed pass measures steady-state
    // engine throughput.
    names.foreach(time)
    val pass1 = names.map(n => n -> time(n)).toMap
    val pass2 = names.map(n => n -> time(n)).toMap
    // a query is OK only if BOTH timed passes succeeded; min is the report
    val results = names.map { n =>
      (pass1(n), pass2(n)) match {
        case (Right(a), Right(b)) => n -> Right(math.min(a, b))
        case (Left(m), _)         => n -> Left(m)
        case (_, Left(m))         => n -> Left(m)
      }
    }
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val failed = results.collect { case (k, Left(msg)) => k -> msg }
    def qmap(entries: Seq[(String, Double)], fmt: Double => String) =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val fs = failed.map { case (k, msg) =>
      "\"" + k + "\":\"" + msg.replaceAll("[\"\\\\\n\r\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val silverJson = silver
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def line(qs: String, v: String, extra: String = "") =
      s"""{"metric":"total","value":$v,"unit":"sec","timing":"min_of_2","queries":$qs$extra,"failures":$fs,"n_failed":${failed.size},"silver_build_sec":$silverJson,"fixture_fp":"$fixtureFp","sf":"$sfDir"}"""
    // stdout gets a COMPACT line — short `qNN` keys, millisecond precision
    // — because the harness parses a bounded tail of the log: round 1/2
    // both truncated the full-name line mid-key and recorded parsed:null.
    // ~1.3 kB for ~100 queries fits any reasonable tail window.
    val shortOk = ok.map { case (k, v) => k.split('_').head -> v }
    println(line(qmap(shortOk, v => f"$v%.3f"), f"$total%.3f"))
    // the file keeps full query names at full precision, plus both raw
    // passes so per-query variance is auditable
    def rawPass(p: Map[String, Either[String, Double]]) =
      qmap(names.flatMap(n => p(n).toOption.map(n -> _)), _.toString)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      line(qmap(ok, _.toString), total.toString,
        s""","queries_pass1":${rawPass(pass1)},"queries_pass2":${rawPass(pass2)},"fixture_tables":$fixtureJson""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // a failing query must fail the bench loudly, not shrink the total
    if (failed.nonEmpty) sys.exit(1)
  }
}
