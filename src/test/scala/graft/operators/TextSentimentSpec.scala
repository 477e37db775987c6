package graft.operators

import graft.TestSpark
import graft.functions.{Portable, SentimentLex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the text/sentiment expression surface — the edge cases
  * the reference hits in data (SURVEY.md §5.2): null/empty title+body,
  * suffix-matching regex quirk, lexicon scoring.
  */
class TextSentimentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("extractTickers: null and empty text yield empty arrays, not nulls") {
    val df = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "buy $SPARK and JOIN now"),
      (4L, "customer stream")) // no whitelisted short token
      .toDF("id", "text")
      .withColumn("tickers", TextOps.extractTickers($"text"))
    val got = df.orderBy($"id").collect().map(_.getSeq[String](2).toSet)
    assert(got(0) === Set.empty)
    assert(got(1) === Set.empty)
    assert(got(2) === Set("SPARK", "JOIN"))
    assert(got(3) === Set.empty)
  }

  test("sentiment rawScore sums lexicon valences over tokens (1e-5 scale)") {
    val df = Seq(
      "fast fast slow",    // 200000 + 200000 - 200000
      "great terrible",    // 310000 - 210000
      "unknown words only" // 0
    ).toDF("text")
      .withColumn("raw", SentimentLex.rawScore(Portable.tokens($"text")))
    assert(df.select("raw").as[Long].collect().toSeq ===
      Seq(200000L, 100000L, 0L))
  }

  test("q31 lexicon lookup: ANSI on gives the ANSI-off result (absent tokens score 0)") {
    def q31(ansi: Boolean): Seq[String] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      graft.SparkEntry.queries("q31_sentiment_score")(s, TestSpark.Sf001)
        .collect().map(_.toString).toSeq.sorted
    }
    val on = q31(ansi = true)
    assert(on.nonEmpty)
    assert(on === q31(ansi = false))
  }

  test("sentiment negation flips and damps by -0.74 (VADER N_SCALAR)") {
    val df = Seq(
      "good",           // 190000
      "not good",       // -74 × 1900 = -140600
      "never bad",      // -74 × -2500 = 185000
      "not not good"    // only the adjacent negator applies → -140600
    ).toDF("text")
      .withColumn("raw", SentimentLex.rawScore(Portable.tokens($"text")))
    assert(df.select("raw").as[Long].collect().toSeq ===
      Seq(190000L, -140600L, 185000L, -140600L))
  }

  test("sentiment boosters shift magnitude by ±0.293 (VADER B_INCR/B_DECR)") {
    val df = Seq(
      "very good",      // 190000 + 29300
      "very bad",       // -250000 - 29300
      "slightly good",  // 190000 - 29300
      "slightly sorry", // -50000 + 29300 = -20700 (damped toward zero, no flip)
      "VERY GOOD"       // ALL-caps text → no caps boost, plain boosted hit
    ).toDF("text")
      .withColumn("raw", SentimentLex.rawScore(Portable.tokens($"text")))
    assert(df.select("raw").as[Long].collect().toSeq ===
      Seq(219300L, -279300L, 160700L, -20700L, 219300L))
  }

  test("sentiment multi-clause negation: each clause's negator scopes only its own hit") {
    val df = Seq(
      // two independently negated clauses: -140600 + 185000
      "not good and never bad",
      // negation then boost ACROSS a contrastive but: the pre-but clause
      // halves (-140600/2), the post-but boosted hit gains 3/2
      // ((310000 + 29300) × 3/2)
      "not good but very great",
      // "so" intensifies good (negator out of lookback scope); "that"
      // breaks never's scope: (190000 + 29300) + (-250000)
      "not so good and never that bad",
      // clause break resets context AND the post-but hit is re-weighted:
      // 190000 × 3/2
      "not today but good news",
      // three clauses, expanded-lexicon words, no but:
      // -74×2600 + (220000 + 29300) + -74×-2400
      "not lovely yet very fascinating and never nasty"
    ).toDF("text")
      .withColumn("raw", SentimentLex.rawScore(Portable.tokens($"text")))
    assert(df.select("raw").as[Long].collect().toSeq ===
      Seq(44400L, -70300L + 508950L, -30700L, 285000L, 234500L))
  }

  test("VADER emphasis: caps, bangs and contrastive-but variants order correctly") {
    def s(t: String): Long =
      Seq(t).toDF("text")
        .select(SentimentLex.rawScore(Portable.tokens($"text"))).as[Long].head()
    // ALL-CAPS emphasis (+0.733) applies only in MIXED-case text
    assert(s("GREAT day") === 310000L + 73300L)
    assert(s("great day") === 310000L)
    assert(s("GREAT DAY") === 310000L) // allcap differential: no boost
    assert(s("GREAT day") > s("great day"))
    // exclamation amplification (+0.292 each), capped at 3 bangs
    assert(s("great day!") === 310000L + 29200L)
    assert(s("great day!!!") === 310000L + 3 * 29200L)
    assert(s("great day!!!!!") === s("great day!!!"))
    assert(s("bad!") === -250000L - 29200L) // amplifies toward the sign
    // trailing punctuation strips to the lexicon core; negation looks
    // back through stripped cores too
    assert(s("not good.") === -140600L)
    assert(s("good,") === 190000L)
    // contrastive but: pre-but halves, post-but gains 3/2 — the post-but
    // clause dominates
    assert(s("good but bad") === 190000L / 2 - 250000L * 3 / 2)
    assert(s("bad but good") === -250000L / 2 + 190000L * 3 / 2)
    assert(s("good but bad") < 0 && s("bad but good") > 0)
    // stacked: caps + bang + negation stay exact integers
    assert(s("not GREAT news!") === -74L * ((310000L + 73300L) / 100L) - 29200L)
  }

  test("expanded lexicon: distinct keys, VADER-scale magnitudes, both polarities covered") {
    val words = SentimentLex.Lexicon.map(_._1)
    assert(words.distinct.size === words.size)
    assert(SentimentLex.Lexicon.size >= 2500, s"lexicon shrank: ${words.size}")
    assert(SentimentLex.Lexicon.count(_._2 > 0) >= 1000)
    assert(SentimentLex.Lexicon.count(_._2 < 0) >= 1200)
    // decivalence range matches VADER's [-4, 4] valence band
    assert(SentimentLex.Lexicon.forall { case (_, v) => v >= -40 && v <= 40 })
    // every key must be a clean lowercase token (the lookup lowercases,
    // and the oracle CASE quotes keys with single quotes)
    assert(words.forall(w => w.nonEmpty && w == w.toLowerCase && !w.contains("'")))
    // lookback modifier words must not double as lexicon entries (a word
    // can't be both a hit and the next word's modifier in this design)
    val mods = (SentimentLex.Negations ++ SentimentLex.Intensifiers ++
      SentimentLex.Dampeners).toSet
    assert(words.forall(!mods.contains(_)))
  }

  test("morphological derivation spells standard inflections correctly") {
    import SentimentLex._
    assert(sForm("rally") === "rallies")
    assert(sForm("harass") === "harasses")
    assert(sForm("vex") === "vexes")
    assert(sForm("relish") === "relishes")
    assert(sForm("decay") === "decays")
    assert(pastForm("please") === "pleased")
    assert(pastForm("clarify") === "clarified")
    assert(pastForm("excel") === "excelled")
    assert(pastForm("flop") === "flopped")
    assert(pastForm("abhor") === "abhorred")
    assert(ingForm("embrace") === "embracing")
    assert(ingForm("shun") === "shunning")
    assert(ingForm("decay") === "decaying")
    assert(lyForm("dainty") === "daintily")
    assert(lyForm("majestic") === "majestically")
    assert(lyForm("sensible") === "sensibly")
    assert(lyForm("masterful") === "masterfully")
    // derived entries landed in the merged lexicon with the stem valence
    val lex = Lexicon.toMap
    assert(lex("applauded") === lex("applaud"))
    assert(lex("daintily") === lex("dainty"))
    assert(lex("allies") === lex("ally"))
    // r12 batch spot checks (the doubling whitelist + compound idioms)
    assert(lex("skimming") === lex("skim"))
    assert(lex("wooed") === lex("woo"))
    assert(lex("surpluses") === lex("surplus"))
    assert(lex("tailspins") === lex("tailspin"))
    assert(lex("pump-and-dump") === -18)
  }

  test("r12 growth batch is collision-free: no earlier batch masks a batch-5 valence") {
    // first-occurrence-wins means a batch-5 word colliding with an
    // earlier entry is silently DEAD (its valence ignored) — the
    // collision-check discipline requires every new stem's derived forms
    // to either be novel or agree exactly with the surviving entry
    import SentimentLex.{sForm, pastForm, ingForm, lyForm}
    import graft.functions.SentimentLexGrowth._
    val batch5: Seq[(String, Int)] =
      VerbStems5.flatMap { case (w, v) =>
        Seq(w -> v, sForm(w) -> v, pastForm(w) -> v, ingForm(w) -> v) } ++
      AdjStems5.flatMap { case (w, v) => Seq(w -> v, lyForm(w) -> v) } ++
      NounStems5.flatMap { case (w, v) => Seq(w -> v, sForm(w) -> v) } ++
      ExtraWords4
    val lexMap = SentimentLex.Lexicon.toMap
    val masked = batch5.filter { case (w, v) => lexMap.get(w).exists(_ != v) }
    assert(masked.isEmpty,
      s"batch-5 entries masked by earlier batches: ${masked.take(10)}")
    assert(batch5.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1),
      "intra-batch duplicate with conflicting valence")
  }

  test("r13 growth batch is collision-free: no earlier batch masks a batch-6 valence") {
    import SentimentLex.{sForm, pastForm, ingForm, lyForm}
    import graft.functions.SentimentLexGrowth._
    val batch6: Seq[(String, Int)] =
      VerbStems6.flatMap { case (w, v) =>
        Seq(w -> v, sForm(w) -> v, pastForm(w) -> v, ingForm(w) -> v) } ++
      AdjStems6.flatMap { case (w, v) => Seq(w -> v, lyForm(w) -> v) } ++
      NounStems6.flatMap { case (w, v) => Seq(w -> v, sForm(w) -> v) } ++
      ExtraWords5
    val lexMap = SentimentLex.Lexicon.toMap
    val masked = batch6.filter { case (w, v) => lexMap.get(w).exists(_ != v) }
    assert(masked.isEmpty,
      s"batch-6 entries masked by earlier batches: ${masked.take(10)}")
    assert(batch6.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1),
      "intra-batch duplicate with conflicting valence")
    // doubling whitelist + derived-form spot checks for the new batch
    val lex = SentimentLex.Lexicon.toMap
    assert(lex("propelled") === lex("propel"))
    assert(lex("scuttling") === lex("scuttle"))
    assert(lex("quandaries") === lex("quandary"))
    assert(lex("flummoxes") === lex("flummox"))
    assert(lex("pluckily") === lex("plucky"))
    assert(lex("dead-cat-bounce") === -12)
  }

  test("broad-sample scoring matches hand-computed valences and compounds") {
    // sentences spanning the finance, slang/emoticon, derived-inflection,
    // modifier and emphasis machinery; expected raws derived by hand from
    // the documented arithmetic (1e-5 scale: base v*10000, negation
    // -74*(base/100), booster ±29300, but-weighting ½ / 3/2)
    val samples = Seq(
      // stonks 15, rallied 17, moon 22, :) 20 — no modifiers, no emphasis
      "stonks rallied to the moon :)" ->
        (150000L + 170000L + 220000L + 200000L),
      // not bullish → -74*1900; bloodbath -22
      "not bullish on this bloodbath" -> (-74L * 1900L - 220000L),
      // very stoked → 200000+29300; slightly worried → least(0, -180000+29300)
      "very stoked and slightly worried" -> (229300L - 150700L),
      // paperhands -12, panic -23, lol 16
      "paperhands panic selling lol" -> (-120000L - 230000L + 160000L),
      // applauded 17 (derived from applaud), heartwarming 24, rally 17
      "applauded the heartwarming rally" -> (170000L + 240000L + 170000L),
      // daintily 10 halves before the but; woefully -18 and mediocre -11
      // gain 3/2 after it
      "daintily decorated but woefully mediocre" ->
        (100000L / 2 - 180000L * 3 / 2 - 110000L * 3 / 2),
      // rugpull -23, rekt -21, :( -19
      "total rugpull got rekt :(" -> (-230000L - 210000L - 190000L),
      "" -> 0L)
    val df = samples.map(_._1).toDF("text")
      .withColumn("raw", SentimentLex.rawScore(Portable.tokens($"text")))
      .withColumn("c", SentimentLex.compound($"raw"))
    val got = df.select("raw", "c").as[(Long, Double)].collect()
    got.zip(samples).foreach { case ((raw, c), (text, expected)) =>
      assert(raw === expected, s"raw mismatch on: $text")
      val r = expected.toDouble / 100000.0
      assert(math.abs(c - r / math.sqrt(r * r + 15.0)) < 1e-12, s"compound on: $text")
    }
  }

  test("codegen sentiment expression equals the declarative HOF form on the corpus") {
    val docs = graft.sources.Tables.documents(spark, graft.TestSpark.Sf001)
    val mismatches = docs
      .withColumn("a", SentimentLex.rawScore(Portable.tokens($"text")))
      .withColumn("b", SentimentLex.rawScoreDeclarative(Portable.tokens($"text")))
      .filter($"a" =!= $"b")
      .count()
    assert(mismatches === 0L)
  }

  test("compound normalization is odd, bounded and monotone") {
    val df = Seq(-10L, -1L, 0L, 1L, 10L).toDF("raw")
      .withColumn("c", SentimentLex.compound($"raw"))
    val cs = df.orderBy($"raw").select("c").as[Double].collect()
    assert(cs(2) === 0.0)
    assert(cs.forall(c => c > -1 && c < 1))
    assert(cs.sorted.toSeq === cs.toSeq)     // monotone
    assert(cs(0) === -cs(4) && cs(1) === -cs(3)) // odd symmetry
  }

  test("q117 BPE training: invariants of the merge table") {
    val rows = graft.SparkEntry.queries("q117_bpe_train")(
      spark, graft.TestSpark.Sf001).collect()
    assert(rows.length === 20)
    assert(rows.map(_.getAs[Long]("merge_round")).toSeq === (1L to 20L))
    rows.foreach { r =>
      // the merged symbol is the concatenation of its parents, all [a-z]+
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("lhs") + r.getAs[String]("rhs"))
      assert(r.getAs[String]("merged").matches("[a-z]+"))
      assert(r.getAs[Long]("pair_freq") >= 1L)
    }
    // the argmax pair frequency never increases round over round: every
    // post-merge pair instance derives from a pre-merge adjacency
    val freqs = rows.map(_.getAs[Long]("pair_freq")).toSeq
    assert(freqs.zip(freqs.tail).forall { case (a, b) => b <= a },
      s"pair_freq not non-increasing: $freqs")
  }

  test("q119 BPE encode: token counts bounded by chars and words, real compression") {
    val rows = graft.SparkEntry.queries("q119_bpe_encode")(
      spark, graft.TestSpark.Sf001).collect()
    var chars = 0L; var toks = 0L
    rows.foreach { r =>
      val (w, c, t) = (r.getAs[Long]("n_alpha_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_bpe_tokens"))
      // every word encodes to between 1 and len(word) symbols
      assert(t <= c, s"doc ${r.getAs[Long]("doc_id")}: more tokens than chars")
      assert(t >= w, s"doc ${r.getAs[Long]("doc_id")}: fewer tokens than words")
      chars += c; toks += t
    }
    // 20 trained merges must compress the corpus overall
    assert(toks < chars, s"no corpus-level compression: $toks tokens / $chars chars")
  }

  test("q304 BPE round-trip: zero decode failures, zero OOV tokens, counts agree with q119") {
    val rows = graft.SparkEntry.queries("q304_bpe_roundtrip")(
      spark, graft.TestSpark.Sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the release-gate invariants: decode is lossless and encode never
      // emits a unit training did not produce
      assert(r.getAs[Long]("n_roundtrip_fail") === 0L,
        s"${r.getAs[String]("source")}: decode lost content")
      assert(r.getAs[Long]("n_oov_tokens") === 0L,
        s"${r.getAs[String]("source")}: out-of-vocabulary token emitted")
      assert(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words"))
    }
    // totals reconcile with q119's per-doc accounting (same corpus pass)
    val q119 = graft.SparkEntry.queries("q119_bpe_encode")(
      spark, graft.TestSpark.Sf001).collect()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum ===
      q119.map(_.getAs[Long]("n_bpe_tokens")).sum)
    assert(rows.map(_.getAs[Long]("n_words")).sum ===
      q119.map(_.getAs[Long]("n_alpha_words")).sum)
  }

  test("q308 chat audit: buckets are a partition and match the planted malformation classes") {
    val rows = graft.SparkEntry.queries("q308_chat_template_audit")(
      spark, graft.TestSpark.Sf001).collect()
    val docs = graft.sources.Tables.documents(spark, graft.TestSpark.Sf001)
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val ms = ds.map { case (id, _) => Portable.md5Hash64Jvm(s"chat|$id") % 4 }
      // m0 valid, m1 role violation, m2 empty content, m3 parse fail
      src -> (ms.count(_ == 3L).toLong, ms.count(_ == 1L).toLong,
        ms.count(_ == 2L).toLong, ms.count(_ == 0L).toLong)
    }
    rows.foreach { r =>
      val (pf, rv, ec, ok) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_parse_fail") === pf)
      assert(r.getAs[Long]("n_role_violation") === rv)
      assert(r.getAs[Long]("n_empty_content") === ec)
      assert(r.getAs[Long]("n_valid") === ok)
      // the four buckets partition the census exactly
      assert(pf + rv + ec + ok === r.getAs[Long]("n_convos"))
    }
  }

  test("rolling hash: order-sensitive, deterministic") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
      .withColumn("fp", Portable.rollingHash(Portable.tokens($"text")))
    val fps = df.select("fp").as[Long].collect()
    assert(fps(0) === fps(2))
    assert(fps(0) !== fps(1))
  }

  test("md5Hash64 matches a known value (portability anchor)") {
    // first 15 hex chars of md5('hello') = 5d41402abc4b2a7
    val got = Seq("hello").toDF("s")
      .select(Portable.md5Hash64($"s")).as[Long].head()
    assert(got === java.lang.Long.parseLong("5d41402abc4b2a7", 16))
  }

  test("q211/q212: growth curves are monotone and reconcile with direct counts") {
    val dir = TestSpark.Sf001
    val growth = graft.SparkEntry.queries("q211_vocab_growth")(spark, dir)
      .orderBy($"decile").collect()
    assert(growth.length === 10)
    val vc = growth.map(_.getAs[Long]("vocab_cum"))
    assert(vc.zip(vc.tail).forall { case (a, b) => b >= a }, "vocab_cum dipped")
    // final cumulative vocabulary equals the directly-counted type count
    val direct = graft.sources.Tables.documents(spark, dir)
      .select(explode(Portable.tokens(lower($"text"))).as("t"))
      .agg(countDistinct($"t")).as[Long].head()
    assert(vc.last === direct)
    val decay = graft.SparkEntry.queries("q212_novelty_decay")(spark, dir)
      .orderBy($"decile").collect()
    assert(decay.length === 10)
    decay.foreach { r =>
      assert(r.getAs[Long]("novelty_milli") <= 1000L)
      assert(r.getAs[Long]("n_first_decile_instances") >=
        r.getAs[Long]("n_new_grams"))
    }
    // every decile-0 instance's gram first appears in decile 0
    assert(decay.head.getAs[Long]("n_first_decile_instances") ===
      decay.head.getAs[Long]("n_grams"))
    assert(decay.head.getAs[Long]("novelty_milli") === 1000L)
  }

  test("q257: Zipf head fit brackets the true log-log slope and covers every source") {
    val dir = TestSpark.Sf001
    val out = graft.SparkEntry.queries("q257_zipf_exponent")(spark, dir)
      .collect()
    val nSources = graft.sources.Tables.documents(spark, dir)
      .select($"source").distinct().count()
    assert(out.length === nSources, "a source dropped out of the fit")
    // brute-force the bitlen points per source and verify the regression
    val freqs = graft.sources.Tables.documents(spark, dir)
      .select($"source", explode(Portable.tokens($"text")).as("w"))
      .groupBy($"source", $"w").count()
      .as[(String, String, Long)].collect()
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val naive = freqs.groupBy(_._1).map { case (src, rows) =>
      val head = rows.sortBy(r => (-r._3, r._2)).take(64)
      val pts = head.zipWithIndex.map { case (r, i) =>
        (bitlen(i + 1L), bitlen(r._3))
      }
      val n = pts.length.toLong
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      src -> (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    }
    out.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Double]("slope") === naive(src), s"slope mismatch $src")
      // heavy-tail direction: the head is non-increasing, slope ≤ 0
      assert(r.getAs[Double]("slope") <= 0.0)
      if (r.getAs[Double]("slope") < 0.0)
        assert(r.getAs[Long]("zipf_s_milli") ===
          math.floor(-1000.0 * r.getAs[Double]("slope")).toLong)
    }
  }

  test("q259 kappa: confusion identities hold, both raters fire, TOTAL pools the sources") {
    val dir = TestSpark.Sf001
    val rows = graft.SparkEntry.queries("q259_rater_agreement")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val (tot, srcs) = (rows("TOTAL"), rows - "TOTAL")
    def cells(r: org.apache.spark.sql.Row) =
      Seq("n11", "n10", "n01", "n00").map(r.getAs[Long])
    srcs.values.foreach { r =>
      assert(cells(r).sum === r.getAs[Long]("n"))
    }
    Seq("n", "n11", "n10", "n01", "n00").foreach { c =>
      assert(tot.getAs[Long](c) === srcs.values.map(_.getAs[Long](c)).sum,
        s"TOTAL $c is not the source sum")
    }
    // both raters discriminate on the pooled corpus (the rewrite away
    // from the never-firing repetition flag exists for exactly this)
    assert(tot.getAs[Long]("n11") + tot.getAs[Long]("n10") > 0, "rater A dead")
    assert(tot.getAs[Long]("n11") + tot.getAs[Long]("n01") > 0, "rater B dead")
    // kappa recomputes from the counts
    val n = tot.getAs[Long]("n").toDouble
    val Seq(n11, n10, n01, n00) = cells(tot).map(_.toDouble)
    val po = (n11 + n00) / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    assert(math.abs(tot.getAs[Double]("kappa") - (po - pe) / (1.0 - pe)) < 1e-12)
    assert(math.abs(tot.getAs[Double]("kappa")) <= 1.0)
  }

  test("q214: the integer interval really contains the float KL excess") {
    val dir = TestSpark.Sf001
    val out = graft.SparkEntry.queries("q214_source_divergence")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // true excess bits n_s·KL(p_s ‖ p_corpus) from exact counts, in double
    val counts = graft.sources.Tables.documents(spark, dir)
      .select($"source", explode(Portable.tokens(lower($"text"))).as("t"))
      .groupBy($"source", $"t").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val n = counts.map(_._3).sum.toDouble
    val cw = counts.groupBy(_._2).map { case (t, rs) => t -> rs.map(_._3).sum }
    val bySource = counts.groupBy(_._1)
    bySource.foreach { case (src, rs) =>
      val ns = rs.map(_._3).sum.toDouble
      val excess = rs.map { case (_, t, c) =>
        c * (math.log(n / cw(t)) - math.log(ns / c)) / math.log(2.0)
      }.sum
      val row = out(src)
      val lo = row.getAs[Long]("cross_lo") - row.getAs[Long]("self_hi")
      val hi = row.getAs[Long]("cross_hi") - row.getAs[Long]("self_lo")
      assert(lo <= excess && excess <= hi,
        s"$src: excess $excess outside [$lo, $hi]")
    }
  }

  test("q226 WordPiece: greedy longest-match semantics and vocab coverage") {
    // pure-function checks against a hand vocab
    val v = Set("ab", "abc", "##cd", "##d", "##bcd")
    assert(TextOps.wpEncodeCount("abcd", v) === 2L)   // abc (longest first) + ##d
    assert(TextOps.wpEncodeCount("ab", v) === 1L)
    assert(TextOps.wpEncodeCount("xyz", v) === 3L)    // char fallback
    assert(TextOps.wpEncodeCount("aabcd", v) === 3L)  // a + ##a + ##bcd
    assert(TextOps.wpEncodeCount("", v) === 0L)
    // the trained vocab: total char coverage in both forms, bounded size
    val dir = TestSpark.Sf001
    val vocab = TextOps.wordpieceVocab(spark, dir)
      .collect().map(_.getString(0))
    assert(vocab.distinct.length === vocab.length)
    val words = graft.sources.Tables.documents(spark, dir)
      .select(explode(Portable.tokens(lower($"text"))).as("w"))
      .distinct().collect().map(_.getString(0))
    // positional coverage: chars enter the form(s) they were observed in
    words.map(_.head).distinct.foreach { c =>
      assert(vocab.contains(c.toString), s"missing start char '$c'")
    }
    words.filter(_.length >= 2).flatMap(_.drop(1).toCharArray).distinct
      .foreach { c =>
        assert(vocab.contains("##" + c), s"missing cont char '##$c'")
      }
    val multi = vocab.filterNot(p =>
      p.stripPrefix("##").length == 1)
    assert(multi.length <= TextOps.WpTopM)
    // fertility sanity on the shipped query: pieces per word in [1, len]
    val out = graft.SparkEntry.queries("q226_wordpiece_encode")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val f = r.getAs[Long]("fertility_milli")
      assert(f >= 1000L, s"fertility below 1 piece/word: $f")
      assert(r.getAs[Long]("max_word_pieces") >= 1L)
    }
    // the multi-char pieces must actually reduce fertility below the
    // all-chars ceiling for at least most docs (the vocab is useful)
    val fert = out.map(_.getAs[Long]("fertility_milli"))
    assert(fert.min < 4000L, s"fertility never compressed: min ${fert.min}")
  }

  test("q213: shifted-domain quotient brackets the exact PMI and both paths execute") {
    val dir = TestSpark.Sf001
    // rebuild the pair censuses exactly as q213 does (pre-top-20, so the
    // path census covers every scored bigram, not just the winners)
    val pairs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", Portable.tokens(lower($"text")).as("w"))
      .select(explode(transform(
        sequence(lit(1), greatest(size($"w") - 1, lit(1))),
        i => struct(element_at($"w", i).as("w1"),
          element_at($"w", i + 1).as("w2")))).as("p"))
      .filter($"p.w1".isNotNull && $"p.w2".isNotNull)
      .select($"p.w1".as("w1"), $"p.w2".as("w2"))
    val big = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      .filter($"c12" >= 5).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val c1 = pairs.groupBy($"w1").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val c2 = pairs.groupBy($"w2").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = pairs.count()
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val ks = big.map { case ((a, b), cc) =>
      math.max(0, bitlen(cc) + bitlen(n) - TextOps.PmiProductBits)
    }
    assert(ks.exists(_ > 0), "escape path never taken — PmiProductBits too large for the fixture")
    assert(ks.exists(_ == 0), "exact path never taken — PmiProductBits too small for the fixture")
    // per scored bigram: the shipped shifted quotient q' = ((c12·(n>>k))
    // div (c1·c2)) << k is ≤ the exact quotient, and its floor-log₂ is
    // within ±1 bit of exact — so pmi_bits rankings survive the escape
    big.foreach { case ((a, b), cc) =>
      val k = math.max(0, bitlen(cc) + bitlen(n) - TextOps.PmiProductBits)
      val qAppr = ((cc * (n >> k)) / (c1(a) * c2(b))) << k
      val qExact = (BigInt(cc) * BigInt(n) / (BigInt(c1(a)) * BigInt(c2(b)))).toLong
      assert(qAppr <= qExact, s"($a,$b): q' $qAppr above exact $qExact")
      if (qExact >= 1 && qAppr >= 1) {
        val d = math.abs((bitlen(qAppr) - 1) - (bitlen(qExact) - 1))
        assert(d <= 1, s"($a,$b): bits drift $d (q'=$qAppr exact=$qExact)")
      }
    }
    // and the shipped query stays internally consistent: every reported q
    // is a multiple of 2^k for its own (c12, n)
    graft.SparkEntry.queries("q213_pmi_collocations")(spark, dir).collect()
      .foreach { r =>
        val k = math.max(0,
          bitlen(r.getAs[Long]("c12")) + bitlen(n) - TextOps.PmiProductBits)
        assert(r.getAs[Long]("q") % (1L << k) === 0L, r.toString)
      }
  }
}
