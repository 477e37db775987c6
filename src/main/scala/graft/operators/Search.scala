package graft.operators

import graft.{QueryDef, QueryModule}
import graft.functions.{FreqSketchAgg, Portable}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus search / frequency operators over the documents table — the
  * retrieval side of a training-data pipeline (keyword relevance ranking
  * for corpus inspection; heavy-hitter token stats for vocabulary and
  * contamination audits).
  *
  * Scale notes: q84 never shuffles the corpus — the postings are filtered
  * to the query terms at the scan (predicate on the exploded term), the
  * df/N sides are tiny broadcast aggregates, and the final top-k is a
  * TakeOrderedAndProject. q85 is the two-pass sketch-then-verify shape:
  * pass 1 is a bounded Misra–Gries aggregate (k entries per partition on
  * the shuffle, never the token dictionary — the dictionary of a 100 TB
  * corpus does not fit in any single hash-agg), pass 2 recounts ONLY the
  * ≤ k candidates through a broadcast semi-join.
  *
  * Determinism: relevance uses integer-scaled idf (floor(10^6·N/df) by
  * integer division — identical on both engines) instead of float ln();
  * ranking ties break on doc_id. q85's candidate set may vary with
  * partitioning near the sketch's error floor, but the emitted rows are
  * exact counts filtered by an exact threshold that the MG invariant
  * guarantees is inside the candidate set — so the RESULT is engine- and
  * partitioning-independent.
  */
object Search extends QueryModule {

  // ---------------------------------------------------------------------
  // q84 — keyword search: tf·idf relevance top-20 for a fixed query over
  // the corpus. idf is the scaled-integer variant idf(t) = ⌊10^6·N/df(t)⌋
  // — rarer terms weigh more, engine-portable by construction (float
  // ln-idf differs at ulp level between libm implementations and would
  // break the hash gate; the ranking is order-isomorphic for single-term
  // weights).
  // ---------------------------------------------------------------------
  private val QueryTerms = Seq("spark", "join", "window", "vector", "stream")

  /** SILVER: the df-annotated postings slice for the demo query terms —
    * (doc_id, term, tf, df), the inverted-index fragment both rankers
    * (q84 tf·idf, q115 BM25) score from. Promoted by the SharedSubtreeSpec
    * audit: each ranker planned the same corpus tokenization + postings +
    * df aggregates independently; at 100 TB the postings ARE the
    * materialized index, never a per-query corpus pass.
    */
  private[operators] def queryPostings(
      spark: org.apache.spark.sql.SparkSession, dir: String) =
    Scoped.shared(spark, s"query_postings:$dir")({
      import spark.implicits._
      val postings = Tables.documents(spark, dir)
        .select($"doc_id", explode(Portable.tokens(lower($"text"))).as("term"))
        .filter($"term".isInCollection(QueryTerms))
        .groupBy($"doc_id", $"term")
        .agg(count(lit(1)).as("tf"))
      val dfCounts = postings.groupBy($"term")
        .agg(countDistinct($"doc_id").as("df"))
      (Nil, postings.join(broadcast(dfCounts), "term")
        .select($"doc_id", $"term", $"tf", $"df"))
    })

  private val q84 = QueryDef(
    "q84_keyword_search",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      queryPostings(spark, dir)
        .crossJoin(broadcast(nDocs))
        .withColumn("idf_scaled", expr("(1000000 * n_docs) div df"))
        .groupBy($"doc_id")
        .agg(
          sum($"tf" * $"idf_scaled").as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy($"score".desc, $"doc_id")
        .limit(20)
    },
    Some {
      val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(${Portable.tokensSql("lower(text)")}) AS term
        FROM documents),
      p AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term IN ($termList) GROUP BY 1, 2),
      d AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents)
      SELECT p.doc_id,
             CAST(sum(p.tf * ((1000000 * n.n_docs) // d.df)) AS BIGINT) AS score,
             count(*) AS n_terms
      FROM p, d, n WHERE p.term = d.term
      GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20"""
    })

  // ---------------------------------------------------------------------
  // q115 — BM25 ranking: the standard retrieval scorer q84's tf·idf
  // lacks — doc-length normalization (k1 = 1.2, b = 0.75), so long
  // keyword-stuffed docs stop dominating. Engine-portability discipline:
  // idf is q84's scaled-integer variant (no libm ln), and the per-term
  // length-normalized tf is FLOORED to an integer (the double arithmetic
  // inside the floor is a fixed sequence of IEEE ops, bit-identical on
  // both engines) so the per-doc aggregation sums exact integers — a
  // float sum's addition ORDER differs between engines and would break
  // the hash gate. Scale shape matches q84: postings filtered to the
  // query terms at the scan; the doc-length table is the one extra
  // full-corpus aggregate (at 100 TB it's a column you materialize once
  // next to the corpus, not a per-query pass); df/avgdl are tiny
  // broadcast sides; top-k is a TakeOrderedAndProject. The 10^6 idf and
  // 2.2·10^6 tf scale factors fit fixture N comfortably in a BIGINT
  // product; at extreme corpus sizes the scale constants shrink in step.
  // ---------------------------------------------------------------------
  private val q115 = QueryDef(
    "q115_bm25",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val toks = docs
        .select($"doc_id", explode(Portable.tokens(lower($"text"))).as("term"))
      val docLen = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      val corpus = docLen.agg(
        sum($"dl").as("sum_dl"), count(lit(1)).as("n_docs"))
      // postings + df come from the query_postings silver slice
      queryPostings(spark, dir)
        .join(docLen, "doc_id")
        .crossJoin(broadcast(corpus))
        .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs".cast("double"))
        .withColumn("idf_scaled", expr("(1000000 * n_docs) div df"))
        .withColumn("denom",
          $"tf".cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * ($"dl".cast("double") / $"avgdl")))
        .withColumn("tfn_scaled",
          floor(($"tf".cast("double") * lit(2200000.0)) / $"denom").cast("long"))
        .groupBy($"doc_id")
        .agg(
          sum($"idf_scaled" * $"tfn_scaled").as("score"),
          count(lit(1)).as("n_terms"),
          max($"dl").as("dl"))
        .orderBy($"score".desc, $"doc_id")
        .limit(20)
    },
    Some {
      val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(${Portable.tokensSql("lower(text)")}) AS term
        FROM documents),
      dlt AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      corpus AS (
        SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               count(*) AS n_docs
        FROM dlt),
      p AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term IN ($termList) GROUP BY 1, 2),
      d AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
      scored AS (
        SELECT p.doc_id,
               ((1000000 * c.n_docs) // d.df) *
               CAST(floor((CAST(p.tf AS DOUBLE) * CAST(2200000.0 AS DOUBLE)) /
                 (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                   (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                     (CAST(dlt.dl AS DOUBLE) / c.avgdl)))) AS BIGINT) AS s,
               dlt.dl AS dl
        FROM p JOIN d ON p.term = d.term JOIN dlt ON dlt.doc_id = p.doc_id, corpus c)
      SELECT doc_id, CAST(sum(s) AS BIGINT) AS score,
             count(*) AS n_terms, max(dl) AS dl
      FROM scored GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20"""
    })

  // ---------------------------------------------------------------------
  // q85 — heavy-hitter tokens (exact counts for every token with
  // frequency ≥ 1% of the corpus) via sketch-then-verify: Misra–Gries
  // candidates (functions.FreqSketchAgg, k=256 ⇒ every token with count
  // > n/257 survives ⊇ all tokens ≥ n/100), then an exact recount of
  // candidates only. The threshold compare is pure integer arithmetic
  // (100·cnt ≥ n) — no division semantics to align.
  // ---------------------------------------------------------------------
  private val FreqK = 256

  private val q85 = QueryDef(
    "q85_heavy_hitters",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select(explode(Portable.tokens(lower($"text"))).as("token"))
      val cands = toks
        .agg(FreqSketchAgg.sketch($"token", FreqK).as("cands"))
        .select(explode($"cands").as("token"))
      val total = toks.agg(count(lit(1)).as("n_tokens"))
      toks
        .join(broadcast(cands), Seq("token"), "leftsemi")
        .groupBy($"token")
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter($"cnt" * 100 >= $"n_tokens")
        .orderBy($"cnt".desc, $"token")
    },
    Some(s"""
      WITH toks AS (
        SELECT unnest(${Portable.tokensSql("lower(text)")}) AS token
        FROM documents)
      SELECT token, count(*) AS cnt,
             (SELECT count(*) FROM toks) AS n_tokens
      FROM toks GROUP BY token
      HAVING 100 * count(*) >= (SELECT count(*) FROM toks)
      ORDER BY cnt DESC, token"""))

  // ---------------------------------------------------------------------
  // q92 — bigram-novelty quality signal (the KenLM-filter shape without
  // the float log-probs): corpus-frequent bigrams (count ≥ 5) form the
  // "language model"; a document's novelty is the fraction of its bigram
  // instances outside that set. High-novelty docs are gibberish/OCR-noise
  // candidates. The flag is integer-exact (5·novel > total ⟺ novelty >
  // 0.2), the reported ratio one double division. Scale shape: one
  // explode, one hash-agg for the frequent set, one shuffle join on the
  // gram key (the frequent set is NOT broadcast — at corpus scale it is
  // itself large), per-doc and per-source roll-ups.
  // ---------------------------------------------------------------------
  private val q92 = QueryDef(
    "q92_bigram_novelty",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val bigrams = docs
        .withColumn("w", Portable.tokens(lower($"text")))
        .select($"doc_id", $"source",
          explode(transform(
            sequence(lit(1), greatest(size($"w") - 1, lit(1))),
            i => concat(element_at($"w", i), lit(" "),
              element_at($"w", i + 1)))).as("g"))
        .filter($"g".isNotNull)
      val frequent = bigrams.groupBy($"g")
        .agg(count(lit(1)).as("c"))
        .filter($"c" >= 5)
        .select($"g", lit(1L).as("known"))
      val perDoc = bigrams
        .join(frequent, Seq("g"), "left")
        .groupBy($"doc_id", $"source")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(coalesce($"known", lit(0L))).as("n_known"))
        .withColumn("n_novel", $"n_bigrams" - $"n_known")
      // docs too short for a bigram: (0, 0), never flagged
      docs.select($"doc_id", $"source")
        .join(perDoc.drop("source"), Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_bigrams", "n_novel"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"n_novel" * 5 > $"n_bigrams", 1L).otherwise(0L)).as("n_flagged"),
          sum($"n_bigrams").as("total_bigrams"),
          sum($"n_novel").as("novel_bigrams"))
        .withColumn("novelty_ratio",
          $"novel_bigrams".cast("double") / $"total_bigrams".cast("double"))
        .orderBy($"source")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source, ${Portable.tokensSql("lower(text)")} AS w
        FROM documents),
      bigrams AS (
        SELECT doc_id, source, g FROM (
          SELECT doc_id, source,
                 unnest([w[i] || ' ' || w[i+1]
                         for i in range(1, greatest(len(w) - 1, 1) + 1)]) AS g
          FROM toks)
        WHERE g IS NOT NULL),
      freq AS (
        SELECT g FROM (SELECT g, count(*) AS c FROM bigrams GROUP BY g)
        WHERE c >= 5),
      perdoc AS (
        SELECT b.doc_id, b.source,
               count(*) AS n_bigrams,
               CAST(sum(CASE WHEN f.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM bigrams b LEFT JOIN freq f ON b.g = f.g
        GROUP BY 1, 2),
      alldocs AS (
        SELECT d.doc_id, d.source,
               COALESCE(p.n_bigrams, 0) AS n_bigrams,
               COALESCE(p.n_novel, 0) AS n_novel
        FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN n_novel * 5 > n_bigrams THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
             CAST(sum(n_novel) AS BIGINT) AS novel_bigrams,
             CAST(sum(n_novel) AS DOUBLE) / CAST(sum(n_bigrams) AS DOUBLE) AS novelty_ratio
      FROM alldocs GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q120 — n-gram LM perplexity filter (the REAL KenLM-shaped curation op
  // q92 approximates): an add-one-smoothed word-bigram language model is
  // trained on the trusted reference slice (lang = 'en' — the CCNet
  // discipline of scoring everything against a clean-corpus LM), and
  // every document is scored by its total smoothed surprisal. Surprisal
  // is EXACT log-domain integer arithmetic — no libm: for a smoothed
  // probability p = (c12+1)/(c1+V) with c12 ≤ c1, the per-bigram
  // surprisal ⌊log₂(1/p)⌋ equals bitlen((c1+V) div (c12+1)) − 1, because
  // for any rational ≥ 1 the integer quotient shares its floor-log₂.
  // Both engines compute bitlen as the length of the base-2 digit string
  // (Spark `conv(q,10,2)`, DuckDB `format('{:b}', q)`), so the per-doc
  // sums are exact integers and the hash gate holds. The tail threshold
  // is corpus-derived, CCNet-style: one whole bit above the reference
  // slice's own mean bits-per-bigram (exact integer millibits).
  //
  // Scale shape: the unigram/bigram count tables come from the reference
  // slice only and join the scored bigram stream on 8-byte md5 keys —
  // corpus-scale SHUFFLE joins, never broadcast (a 100 TB corpus's bigram
  // dictionary is itself large; q92's discipline). V and the reference
  // mean are 1-row broadcast scalars; everything else is one explode, two
  // hash-joins, and per-doc/per-lang roll-ups — no windows, no collect.
  // ---------------------------------------------------------------------
  /** Oracle twin of [[lmAllDocs]]: CTEs from `documents` to `alldocs`
    * (doc_id, lang, source, n_big, tb, milli, bpt_bin). Shared by q120
    * and q207.
    */
  private[operators] val lmAllDocsCtes: String = s"""toks AS (
        SELECT doc_id, lang, ${Portable.tokensSql("lower(text)")} AS w
        FROM documents),
      pairs AS (
        SELECT doc_id, lang, p['w1'] AS w1, p['w2'] AS w2 FROM (
          SELECT doc_id, lang,
                 unnest([{'w1': w[i], 'w2': w[i+1]}
                         for i in range(1, greatest(len(w) - 1, 1) + 1)]) AS p
          FROM toks)
        WHERE p['w1'] IS NOT NULL AND p['w2'] IS NOT NULL),
      uni AS (
        SELECT ${Portable.md5Hash64Sql("t")} AS th, count(*) AS c1
        FROM (SELECT unnest(w) AS t FROM toks WHERE lang = 'en')
        GROUP BY 1),
      big AS (
        SELECT ${Portable.md5Hash64Sql("w1 || ' ' || w2")} AS gh,
               count(*) AS c12
        FROM pairs WHERE lang = 'en' GROUP BY 1),
      vocab AS (
        SELECT count(DISTINCT t) AS v
        FROM (SELECT unnest(w) AS t FROM toks WHERE lang = 'en')),
      scored AS (
        SELECT p.doc_id, p.lang,
               length(format('{:b}',
                 (COALESCE(u.c1, 0) + v.v) // (COALESCE(b.c12, 0) + 1))) - 1
                 AS bits
        FROM pairs p
        LEFT JOIN uni u ON ${Portable.md5Hash64Sql("p.w1")} = u.th
        LEFT JOIN big b
          ON ${Portable.md5Hash64Sql("p.w1 || ' ' || p.w2")} = b.gh,
        vocab v),
      perdoc AS (
        SELECT doc_id, lang, count(*) AS n_big, sum(bits) AS tb
        FROM scored GROUP BY 1, 2),
      alldocs AS (
        SELECT d.doc_id, d.lang, d.source,
               COALESCE(p.n_big, 0) AS n_big, COALESCE(p.tb, 0) AS tb,
               CAST(CASE WHEN COALESCE(p.n_big, 0) > 0
                    THEN (1000 * p.tb) // p.n_big ELSE 0 END AS BIGINT) AS milli,
               CAST(CASE WHEN COALESCE(p.n_big, 0) > 0
                    THEN p.tb // p.n_big ELSE -1 END AS BIGINT) AS bpt_bin
        FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id)"""

  /** Per-doc LM score table (doc_id, lang, source, n_big, tb, milli,
    * bpt_bin): every document's exact integer bits-per-bigram under the
    * reference-slice bigram LM. A Scoped.shared derived table (Silver
    * "lm_doc_bits"): the scoring pipeline q120 reports on and q207
    * buckets — built once per corpus, same arithmetic.
    */
  private[operators] def lmAllDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Scoped.shared(spark, s"lm_doc_bits:$dir")((Nil, lmAllDocsBuild(spark, dir)))

  private[graft] def lmAllDocsBuild(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", Portable.tokens(lower($"text")).as("w"))
    val pairs = toks
      .select($"doc_id", $"lang",
        explode(transform(
          sequence(lit(1), greatest(size($"w") - 1, lit(1))),
          i => struct(element_at($"w", i).as("w1"),
            element_at($"w", i + 1).as("w2")))).as("p"))
      .filter($"p.w1".isNotNull && $"p.w2".isNotNull)
      .select($"doc_id", $"lang", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val refToks = toks.filter($"lang" === "en")
      .select(explode($"w").as("t"))
    val uni = refToks
      .groupBy(Portable.md5Hash64($"t").as("th"))
      .agg(count(lit(1)).as("c1"))
    val big = pairs.filter($"lang" === "en")
      .groupBy(Portable.md5Hash64(concat($"w1", lit(" "), $"w2")).as("gh"))
      .agg(count(lit(1)).as("c12"))
    val vocab = refToks.agg(countDistinct($"t").as("v"))
    val perDoc = pairs
      .join(uni, Portable.md5Hash64($"w1") === uni("th"), "left")
      .join(big,
        Portable.md5Hash64(concat($"w1", lit(" "), $"w2")) === big("gh"),
        "left")
      .crossJoin(broadcast(vocab))
      .withColumn("q",
        expr("(coalesce(c1, 0L) + v) div (coalesce(c12, 0L) + 1L)"))
      .withColumn("bits", (length(conv($"q", 10, 2)) - 1).cast("long"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_big"), sum($"bits").as("tb"))
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source")
      .join(perDoc.drop("lang"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_big", "tb"))
      .withColumn("milli",
        when($"n_big" > 0, expr("(1000L * tb) div n_big")).otherwise(0L))
      .withColumn("bpt_bin",
        when($"n_big" > 0, expr("tb div n_big")).otherwise(-1L))
  }

  private val q120 = QueryDef(
    "q120_lm_perplexity",
    (spark, dir) => {
      import spark.implicits._
      val allDocs = lmAllDocs(spark, dir)
      val refMean = allDocs
        .filter($"lang" === "en" && $"n_big" > 0)
        .agg(expr("sum(milli) div count(1)").as("ref_milli"))
      allDocs
        .crossJoin(broadcast(refMean))
        .groupBy($"lang", $"bpt_bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"milli").as("sum_milli_bpt"),
          sum(when($"milli" > $"ref_milli" + 1000L, 1L).otherwise(0L))
            .as("n_tail"))
        .orderBy($"lang", $"bpt_bin")
    },
    Some(s"""
      WITH $lmAllDocsCtes,
      refm AS (
        SELECT sum(milli) // count(*) AS ref_milli
        FROM alldocs WHERE lang = 'en' AND n_big > 0)
      SELECT lang, bpt_bin, count(*) AS n_docs,
             CAST(sum(milli) AS BIGINT) AS sum_milli_bpt,
             CAST(sum(CASE WHEN milli > r.ref_milli + 1000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_tail
      FROM alldocs, refm r
      GROUP BY lang, bpt_bin, r.ref_milli
      ORDER BY lang, bpt_bin"""))

  // ---------------------------------------------------------------------
  // q207 — CCNet HEAD/MIDDLE/TAIL perplexity buckets per source: the
  // step CCNet actually ships after LM scoring — each source's documents
  // split into perplexity terciles, and the downstream mixture trains on
  // head(+middle) while the tail is dropped or down-weighted. Thresholds
  // are computed from a per-(source, milli) HISTOGRAM with a cumulative
  // census over the VALUE DOMAIN — never a per-doc rank window: a
  // source's documents are unbounded (a window partition by source is
  // the q190-class straggler), but distinct milli values are bounded by
  // the score range, so the threshold scan is value-domain-sized and the
  // bucket assignment is a broadcast-threshold map pass. Ties at a
  // boundary all take the lower bucket (value-thresholded semantics —
  // what a production percentile cut does), so bucket membership is a
  // pure function of (source, milli). Oracle replays histogram →
  // cumulative → thresholds → assignment identically.
  // ---------------------------------------------------------------------
  private val q207 = QueryDef(
    "q207_ccnet_buckets",
    (spark, dir) => {
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
      val docs = lmAllDocs(spark, dir).filter($"n_big" > 0).persist()
      val hist = docs.groupBy($"source", $"milli").agg(count(lit(1)).as("c"))
      val wH = w.partitionBy($"source").orderBy($"milli".asc)
        .rowsBetween(w.unboundedPreceding, w.currentRow)
      val cum = hist.withColumn("cum", sum($"c").over(wH))
      val totals = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      // t1/t2 = smallest milli whose cumulative count reaches ⌈n/3⌉ and
      // ⌈2n/3⌉ (3·cum ≥ n ⇔ cum ≥ ⌈n/3⌉ for integer cum)
      val thr = cum.join(totals, "source")
        .groupBy($"source")
        .agg(
          min(when($"cum" * 3 >= $"n", $"milli")).as("t1"),
          min(when($"cum" * 3 >= $"n" * 2, $"milli")).as("t2"))
      val out = docs.join(broadcast(thr), "source")
        .withColumn("bucket",
          when($"milli" <= $"t1", lit("head"))
            .when($"milli" <= $"t2", lit("middle"))
            .otherwise(lit("tail")))
        .groupBy($"source", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"milli").as("sum_milli"),
          min($"milli").as("min_milli"),
          max($"milli").as("max_milli"))
      Scoped.materialize(docs)(out).orderBy($"source", $"bucket")
    },
    Some(s"""
      WITH $lmAllDocsCtes,
      scored2 AS (SELECT * FROM alldocs WHERE n_big > 0),
      hist AS (
        SELECT source, milli, count(*) AS c FROM scored2 GROUP BY 1, 2),
      cum AS (
        SELECT source, milli,
               sum(c) OVER (PARTITION BY source ORDER BY milli
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hist),
      tot AS (SELECT source, count(*) AS n FROM scored2 GROUP BY 1),
      thr AS (
        SELECT source,
               min(CASE WHEN cum * 3 >= n THEN milli END) AS t1,
               min(CASE WHEN cum * 3 >= n * 2 THEN milli END) AS t2
        FROM cum JOIN tot USING (source) GROUP BY source)
      SELECT s.source,
             CASE WHEN milli <= t1 THEN 'head'
                  WHEN milli <= t2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             count(*) AS n_docs,
             CAST(sum(milli) AS BIGINT) AS sum_milli,
             CAST(min(milli) AS BIGINT) AS min_milli,
             CAST(max(milli) AS BIGINT) AS max_milli
      FROM scored2 s JOIN thr USING (source)
      GROUP BY 1, 2
      ORDER BY source, bucket"""))

  // ---------------------------------------------------------------------
  // q125 — TextRank keyword extraction: PageRank over the word
  // co-occurrence graph (nodes = alphabetic tokens ≥3 chars, undirected
  // edges = adjacent-token pairs weighted by corpus co-occurrence count),
  // damping 0.85, 3 unrolled iterations, top-20 keywords. The classic
  // graph-centrality phrase miner (Mihalcea & Tarau 2004), and the
  // engine's iterative-sparse-matvec shape: each iteration is rank ⋈
  // edges on src → groupBy dst — the PageRank-on-Spark pattern, where at
  // cluster scale the edge table is hash-partitioned by src ONCE (it is a
  // Scoped.shared derived table, built and materialized a single time)
  // and every iteration reuses that partitioning for its join.
  //
  // Arithmetic is integer fixed-point end-to-end (rank scale 10^6, per
  // edge floor((r·w)/wdeg), update 150000 + floor(85·Σ/100)) so the
  // result is bit-equal cross-engine — float mat-vec would diverge under
  // partial-sum reordering. Bounds: Σ contributions into a node ≤ total
  // mass n·10^6, per-term r·w ≤ mass·max_w — both orders of magnitude
  // inside int64 even at 10^9-token vocabularies.
  // ---------------------------------------------------------------------
  /** Weighted undirected co-occurrence edges with per-src weighted degree:
    * (src, dst, w, wdeg) — one derived table per corpus, shared by the 3
    * rank iterations (and any future graph query) via Scoped.shared.
    */
  private[operators] def textrankEdges(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Scoped.shared(spark, s"textrank_edges:$dir")((Nil, {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .withColumn("w", regexp_extract_all(lower($"text"), lit("[a-z]{3,}"), lit(0)))
        .filter(size($"w") >= 2)
      val bi = toks.select(
        explode(transform(
          sequence(lit(1), size($"w") - 1),
          i => struct(element_at($"w", i).as("a"), element_at($"w", i + 1).as("b")))).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
        .filter($"a" =!= $"b")
      val und = bi.select($"a".as("src"), $"b".as("dst"))
        .unionAll(bi.select($"b".as("src"), $"a".as("dst")))
      val e = und.groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      val deg = e.groupBy($"src").agg(sum($"w").as("wdeg"))
      e.join(deg, "src").select($"src", $"dst", $"w", $"wdeg")
    }))

  private val q125 = QueryDef(
    "q125_textrank",
    (spark, dir) => {
      import spark.implicits._
      val edges = textrankEdges(spark, dir)
      // every node of the undirected graph appears as a src (and has ≥1
      // in-edge), so the distinct src set IS the node set and the inner
      // join below never drops a node
      var prev: DataFrame = null
      var ranks = edges.select($"src".as("token")).distinct()
        .withColumn("r", lit(1000000L))
      for (_ <- 1 to 3) {
        prev = ranks
        ranks = edges
          .join(ranks.withColumnRenamed("token", "src"), "src")
          .select($"dst", expr("(r * w) div wdeg").as("c"))
          .groupBy($"dst").agg(sum($"c").as("cin"))
          .select($"dst".as("token"), expr("150000 + (85 * cin) div 100").as("r"))
      }
      // convergence residual (the q160 discipline): exact total rank
      // movement in the final round over ALL tokens (computed before the
      // top-20 cut), pinned per-SF by the hash gate
      val delta = ranks
        .join(prev.select($"token", $"r".as("r_prev")), "token")
        .agg(sum(abs($"r" - $"r_prev")).as("rank_delta_sum"))
      ranks.select($"token", $"r".as("rank_fp"))
        .orderBy($"rank_fp".desc, $"token").limit(20)
        .crossJoin(broadcast(delta))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z]{3,}') AS w
          FROM documents)
        WHERE len(w) >= 2),
      bi AS (
        SELECT p.a AS a, p.b AS b FROM (
          SELECT unnest([{'a': w[i], 'b': w[i+1]}
                         for i in range(1, len(w))]) AS p
          FROM toks)
        WHERE p.a <> p.b),
      und AS (SELECT a AS src, b AS dst FROM bi
              UNION ALL SELECT b AS src, a AS dst FROM bi),
      e AS (SELECT src, dst, count(*) AS w FROM und GROUP BY 1, 2),
      deg AS (SELECT src, sum(w) AS wdeg FROM e GROUP BY 1),
      ew AS (SELECT e.src, e.dst, e.w, d.wdeg FROM e JOIN deg d ON e.src = d.src),
      r0 AS (SELECT src AS token, CAST(1000000 AS BIGINT) AS r FROM deg),
      r1 AS (SELECT ew.dst AS token,
                    150000 + (85 * sum((p.r * ew.w) // ew.wdeg)) // 100 AS r
             FROM ew JOIN r0 p ON ew.src = p.token GROUP BY ew.dst),
      r2 AS (SELECT ew.dst AS token,
                    150000 + (85 * sum((p.r * ew.w) // ew.wdeg)) // 100 AS r
             FROM ew JOIN r1 p ON ew.src = p.token GROUP BY ew.dst),
      r3 AS (SELECT ew.dst AS token,
                    150000 + (85 * sum((p.r * ew.w) // ew.wdeg)) // 100 AS r
             FROM ew JOIN r2 p ON ew.src = p.token GROUP BY ew.dst),
      tdelta AS (
        SELECT CAST(sum(abs(r3.r - r2.r)) AS BIGINT) AS rank_delta_sum
        FROM r3 JOIN r2 ON r2.token = r3.token),
      top AS (
        SELECT token, CAST(r AS BIGINT) AS rank_fp FROM r3
        ORDER BY rank_fp DESC, token LIMIT 20)
      SELECT top.token, top.rank_fp, tdelta.rank_delta_sum
      FROM top, tdelta
      ORDER BY top.rank_fp DESC, top.token"""))

  // ---------------------------------------------------------------------
  // q166 — POSITIONAL PHRASE SEARCH: the inverted-index feature q84/q115
  // (bag-of-words ranking) cannot express — "these words ADJACENT, in
  // this order". Postings carry token positions; a phrase match is the
  // adjacency join p2.pos = p1.pos + 1 within a doc. The query set is
  // self-derived for determinism: the corpus's top-3 bigrams by
  // (count desc, w1, w2) — found via one gram-key rollup + global top-3
  // (TakeOrdered), then broadcast.
  //
  // Scale shape: BOTH posting sides are semi-joined down to the ≤ 6
  // query terms against the broadcast phrase table BEFORE the adjacency
  // join, so the self-join touches |postings(query terms)| rows, never
  // the corpus — the standard phrase-query plan of a positional inverted
  // index (Lucene's positional postings intersect, distributed). Per-doc
  // occurrence counts are exact integers; per-phrase doc ranking is
  // q97's grouped top-k discipline (rank window over small per-phrase
  // candidate sets, ties on doc_id).
  // ---------------------------------------------------------------------
  private val PhraseTopDocs = 10
  private val q166 = QueryDef(
    "q166_phrase_search",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", Portable.tokens(lower($"text")).as("w"))
      val posts = toks.select($"doc_id",
          posexplode($"w").as(Seq("pos", "term")))
      val phrases = toks
        .select($"doc_id",
          explode(transform(
            sequence(lit(1), greatest(size($"w") - 1, lit(1))),
            i => struct(element_at($"w", i).as("w1"),
              element_at($"w", i + 1).as("w2")))).as("p"))
        .filter($"p.w1".isNotNull && $"p.w2".isNotNull)
        .groupBy($"p.w1".as("w1"), $"p.w2".as("w2"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"w1", $"w2")
        .limit(3)
      val p1 = posts.join(broadcast(phrases), $"term" === $"w1")
        .select($"doc_id", $"pos", $"w1", $"w2")
      val p2 = posts.join(
          broadcast(phrases.select($"w2".as("t2")).distinct()),
          $"term" === $"t2")
        .select($"doc_id".as("d2"), $"pos".as("pos2"), $"term".as("term2"))
      val occ = p1.join(p2,
          $"doc_id" === $"d2" && $"pos2" === $"pos" + 1 && $"term2" === $"w2")
        .groupBy($"w1", $"w2", $"doc_id")
        .agg(count(lit(1)).as("n_occ"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"w1", $"w2").orderBy($"n_occ".desc, $"doc_id")
      occ.withColumn("rank", row_number().over(w))
        .filter($"rank" <= PhraseTopDocs)
        .select(concat($"w1", lit(" "), $"w2").as("phrase"),
          $"rank", $"doc_id", $"n_occ")
        .orderBy($"phrase", $"rank")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, ${Portable.tokensSql("lower(text)")} AS w
        FROM documents),
      posts AS (
        SELECT doc_id, CAST(p['i'] - 1 AS INT) AS pos, p['t'] AS term FROM (
          SELECT doc_id,
                 unnest([{'t': w[i], 'i': i} for i in range(1, len(w) + 1)]) AS p
          FROM toks)),
      bigr AS (
        SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS cnt FROM (
          SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
                         for i in range(1, greatest(len(w) - 1, 1) + 1)]) AS p
          FROM toks)
        WHERE p['w1'] IS NOT NULL AND p['w2'] IS NOT NULL
        GROUP BY 1, 2),
      phrases AS (
        SELECT w1, w2 FROM bigr ORDER BY cnt DESC, w1, w2 LIMIT 3),
      occ AS (
        SELECT ph.w1, ph.w2, a.doc_id, count(*) AS n_occ
        FROM phrases ph
        JOIN posts a ON a.term = ph.w1
        JOIN posts b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                    AND b.term = ph.w2
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY w1, w2 ORDER BY n_occ DESC, doc_id) AS rank
        FROM occ)
      SELECT w1 || ' ' || w2 AS phrase, rank, doc_id,
             CAST(n_occ AS BIGINT) AS n_occ
      FROM ranked WHERE rank <= $PhraseTopDocs
      ORDER BY phrase, rank"""))

  // ---------------------------------------------------------------------
  // q177 — HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION: the standard way
  // (RRF, Cormack et al.; the default hybrid combiner in every modern
  // search stack) to merge two rankers whose scores live on incomparable
  // scales — here q84's tf·idf and q115's BM25 over the same query. RRF
  // needs only the RANKS: score = Σ 1/(60 + rank), computed here as the
  // exact integer Σ 10⁹ div (60 + rank), so fusion adds zero float risk
  // on top of the scorers. Both scorers share ONE postings/df/doc-length
  // build (the plan reuse a separate-query fusion would lose); each
  // ranker's ranks live only inside its TakeOrdered top-RrfPool (the
  // k-bounded fusion form — the matched set itself is result-set-sized
  // and therefore NOT a lawful window partition at corpus scale), ties
  // on doc_id.
  // ---------------------------------------------------------------------
  private val RrfK = 60
  private val RrfPool = 1024
  private val q177 = QueryDef(
    "q177_rrf_hybrid",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val toks = docs
        .select($"doc_id", explode(Portable.tokens(lower($"text"))).as("term"))
      val docLen = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      val corpus = docLen.agg(sum($"dl").as("sum_dl"), count(lit(1)).as("n_docs"))
      val postings = toks
        .filter($"term".isInCollection(QueryTerms))
        .groupBy($"doc_id", $"term")
        .agg(count(lit(1)).as("tf"))
      val dfCounts = postings.groupBy($"term")
        .agg(countDistinct($"doc_id").as("df"))
      val scored = postings
        .join(broadcast(dfCounts), "term")
        .join(docLen, "doc_id")
        .crossJoin(broadcast(corpus))
        .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs".cast("double"))
        .withColumn("idf_scaled", expr("(1000000 * n_docs) div df"))
        .withColumn("denom",
          $"tf".cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * ($"dl".cast("double") / $"avgdl")))
        .withColumn("tfn_scaled",
          floor(($"tf".cast("double") * lit(2200000.0)) / $"denom").cast("long"))
        .groupBy($"doc_id")
        .agg(
          sum($"tf" * $"idf_scaled").as("s_tfidf"),
          sum($"idf_scaled" * $"tfn_scaled").as("s_bm25"))
      // RRF over per-ranker TOP-POOLS, the production fusion shape: each
      // ranker contributes ranks only for its TakeOrdered top-RrfPool
      // (distributed top-k — never a global rank over the whole matched
      // set, which is result-set-sized and unbounded at corpus scale);
      // the rank window then runs over ≤ RrfPool already-limited rows.
      // A doc outside a ranker's pool contributes 0 from that ranker
      // (Cormack et al.'s k-bounded form). At fixture scale the matched
      // set fits both pools, so the fused ranks equal the full-ranking
      // ones and the oracle below mirrors the pool cut exactly.
      val sc = scored.persist()
      val wT = org.apache.spark.sql.expressions.Window
        .orderBy($"s_tfidf".desc, $"doc_id")
      val wB = org.apache.spark.sql.expressions.Window
        .orderBy($"s_bm25".desc, $"doc_id")
      val tPool = sc.orderBy($"s_tfidf".desc, $"doc_id").limit(RrfPool)
        .withColumn("r_tfidf", row_number().over(wT).cast("long"))
        .select($"doc_id", $"r_tfidf")
      val bPool = sc.orderBy($"s_bm25".desc, $"doc_id").limit(RrfPool)
        .withColumn("r_bm25", row_number().over(wB).cast("long"))
        .select($"doc_id", $"r_bm25")
      val fused = tPool.join(bPool, Seq("doc_id"), "full_outer")
        .withColumn("rrf_scaled",
          expr(s"coalesce(1000000000L div ($RrfK + r_tfidf), 0L)" +
            s" + coalesce(1000000000L div ($RrfK + r_bm25), 0L)"))
        .orderBy($"rrf_scaled".desc, $"doc_id")
        .limit(20)
        .select($"doc_id", $"r_tfidf", $"r_bm25", $"rrf_scaled")
      Scoped.materialize(sc)(fused).orderBy($"rrf_scaled".desc, $"doc_id")
    },
    Some {
      val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(${Portable.tokensSql("lower(text)")}) AS term
        FROM documents),
      dlt AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      corpus AS (
        SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               count(*) AS n_docs
        FROM dlt),
      p AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term IN ($termList) GROUP BY 1, 2),
      d AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
      scored AS (
        SELECT p.doc_id,
               CAST(sum(p.tf * ((1000000 * c.n_docs) // d.df)) AS BIGINT)
                 AS s_tfidf,
               CAST(sum(((1000000 * c.n_docs) // d.df) *
                 CAST(floor((CAST(p.tf AS DOUBLE) * CAST(2200000.0 AS DOUBLE)) /
                   (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                     (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                       (CAST(dlt.dl AS DOUBLE) / c.avgdl)))) AS BIGINT))
                 AS BIGINT) AS s_bm25
        FROM p JOIN d ON p.term = d.term JOIN dlt ON dlt.doc_id = p.doc_id, corpus c
        GROUP BY 1),
      ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY s_tfidf DESC, doc_id) AS BIGINT)
                 AS r_tfidf,
               CAST(row_number() OVER (ORDER BY s_bm25 DESC, doc_id) AS BIGINT)
                 AS r_bm25
        FROM scored),
      pooled AS (
        -- the engine's per-ranker top-RrfPool cut: ranks survive only
        -- inside a pool; a doc outside one pool contributes 0 from it
        SELECT doc_id,
               CASE WHEN r_tfidf <= $RrfPool THEN r_tfidf END AS r_tfidf,
               CASE WHEN r_bm25 <= $RrfPool THEN r_bm25 END AS r_bm25
        FROM ranked
        WHERE r_tfidf <= $RrfPool OR r_bm25 <= $RrfPool)
      SELECT doc_id, r_tfidf, r_bm25,
             CAST(coalesce(1000000000 // ($RrfK + r_tfidf), 0)
                + coalesce(1000000000 // ($RrfK + r_bm25), 0) AS BIGINT)
               AS rrf_scaled
      FROM pooled
      ORDER BY rrf_scaled DESC, doc_id LIMIT 20"""
    })

  // ---------------------------------------------------------------------
  // q191 — SPARSE ALL-PAIRS tf·idf COSINE (Bayardo's all-pairs
  // similarity, the weighted-vector sibling of q37's set Jaccard): doc
  // pairs whose tf·idf vectors cosine ≥ 0.5. Blocking is q163's
  // multi-evidence rule on MID-FREQUENCY terms (2 ≤ df ≤ 50, shared ≥ 2)
  // — stop-terms can't explode candidates, unique terms can't pair, one
  // shared term is noise. Verification computes the FULL sparse dot
  // over every shared term of the pair. Exactness: idf at centi scale
  // ((100·N) div df) keeps w = tf·idf ≤ ~10⁸, so w², the norms and the
  // dot all fit int64 EXACTLY; cosine is one double division against
  // two IEEE sqrts. Same plan family as q37/q163: posting-keyed
  // candidate join + doc-keyed verify joins.
  // ---------------------------------------------------------------------
  private val ApMinShared = 2
  private val ApDfCap = 50
  private val q191 = QueryDef(
    "q191_allpairs_cosine",
    (spark, dir) => {
      import spark.implicits._
      val (persisted, result) = q191Build(spark, dir)
      Scoped.materialize(persisted: _*)(result).orderBy($"i", $"j")
    },
    Some(s"""
      WITH p AS (
        SELECT doc_id, ${Portable.md5Hash64Sql("g")} AS term,
               count(*) AS tf FROM (
          SELECT doc_id, unnest(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS g
          FROM (SELECT doc_id, ${Portable.tokensSql("lower(text)")} AS w
                FROM documents))
        WHERE g IS NOT NULL GROUP BY 1, 2),
      d AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      w AS (
        SELECT p.doc_id, p.term, d.df,
               CAST(p.tf * ((100 * n.n_docs) // d.df) AS BIGINT) AS w
        FROM p JOIN d ON p.term = d.term, n),
      norms AS (
        SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY 1),
      mid AS (
        SELECT doc_id, term FROM w WHERE df BETWEEN 2 AND $ApDfCap),
      cands AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM mid a JOIN mid b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= $ApMinShared),
      dots AS (
        SELECT c.i, c.j, CAST(count(*) AS BIGINT) AS n_shared_terms,
               CAST(sum(wa.w * wb.w) AS BIGINT) AS dot
        FROM cands c
        JOIN w wa ON wa.doc_id = c.i
        JOIN w wb ON wb.doc_id = c.j AND wb.term = wa.term
        GROUP BY 1, 2)
      SELECT dt.i, dt.j, dt.n_shared_terms, dt.dot,
             CAST(dt.dot AS DOUBLE) /
               (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               AS cosine
      FROM dots dt
      JOIN norms na ON na.doc_id = dt.i
      JOIN norms nb ON nb.doc_id = dt.j
      WHERE CAST(dt.dot AS DOUBLE) /
            (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5
      ORDER BY dt.i, dt.j"""))

  // ---------------------------------------------------------------------
  // q190 — DELTA-ENCODED POSTINGS SIZE ESTIMATOR: how big would the
  // inverted index actually be? Posting lists compress by storing doc-id
  // GAPS, and the exact-integer lower bound Σ bitlen(gap) (γ/δ-code
  // payload bits, computed with q120's bitlen trick) against the naive
  // 64-bit-per-posting layout is the capacity-planning number an index
  // build starts from. Grouped by the term's df bit-band, because the
  // compression story is df-shaped: frequent terms have small gaps
  // (great compression), rare terms don't — visible in the output as
  // ratio-by-band.
  //
  // Skew discipline: df comes from a partial aggregate + term-keyed join
  // (map-side combinable, AQE-splittable — never a term window), and the
  // per-term gap sort SUB-SHARDS giant posting lists: above DfShard
  // postings, a list is bucketed by doc-id range (doc_id div
  // PostingsBucket) and gaps are computed within buckets, each bucket
  // HEAD stored as an absolute doc id (doc_id + 1 bits — the same rule
  // the global list head always used). A window partition cannot be
  // split, so without this the hottest shingle's postings — Zipfian at
  // corpus scale — all sort in ONE task; with it, no lag window ever
  // sees more than PostingsBucket rows (ScaleBehaviorSpec asserts the
  // bound on a deliberately Zipf-skewed corpus). The encoding cost of
  // sharding is explicit in the output: n_abs_heads counts the absolute
  // bucket heads (= n_terms when nothing shards; the real index format's
  // skip-list entry points). Thresholds are FIXTURE-SIZED so the shard
  // path executes under the oracle at every SF; production uses the same
  // law with df > ~2^20 and bucket width ~2^20.
  // ---------------------------------------------------------------------
  private[graft] val DfShard = 4L
  private[graft] val PostingsBucket = 128L
  private val q190 = QueryDef(
    "q190_postings_size",
    (spark, dir) => {
      import spark.implicits._
      // df agg + both frequency-split joins read the postings — persist
      // once, close the scope through materialize (result is ≤ 64 bands)
      val posts = q190Posts(spark, dir).persist()
      Scoped.materialize(posts)(q190Rollup(posts)).orderBy($"df_bitband")
    },
    Some(s"""
      WITH posts AS (
        SELECT DISTINCT doc_id, term FROM (
          SELECT doc_id, unnest(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS term
          FROM (SELECT doc_id, ${Portable.tokensSql("lower(text)")} AS w
                FROM documents))
        WHERE term IS NOT NULL),
      d AS (SELECT term, count(*) AS df FROM posts GROUP BY 1),
      sharded AS (
        SELECT p.doc_id, p.term, d.df,
               CASE WHEN d.df > $DfShard THEN p.doc_id // $PostingsBucket
                    ELSE 0 END AS bkt
        FROM posts p JOIN d ON p.term = d.term),
      laged AS (
        SELECT doc_id, term, df,
               lag(doc_id) OVER (PARTITION BY term, bkt ORDER BY doc_id)
                 AS prev
        FROM sharded),
      gaps AS (
        SELECT term, CAST(df AS BIGINT) AS df,
               CASE WHEN prev IS NULL THEN doc_id + 1
                    ELSE doc_id - prev END AS gap,
               CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_head
        FROM laged)
      SELECT CAST(length(format('{:b}', df)) AS BIGINT) AS df_bitband,
             CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
             CAST(count(*) AS BIGINT) AS n_postings,
             CAST(sum(is_head) AS BIGINT) AS n_abs_heads,
             CAST(sum(length(format('{:b}', gap))) AS BIGINT) AS delta_bits,
             CAST(count(*) * 64 AS BIGINT) AS fixed64_bits,
             CAST((1000 * sum(length(format('{:b}', gap)))) // (count(*) * 64)
               AS BIGINT) AS ratio_milli
      FROM gaps GROUP BY 1 ORDER BY df_bitband"""))


  /** q191's pipeline up to (but not including) the materialize scope —
    * factored so PlanSpec can assert the pre-materialization plan (no
    * term window anywhere) and CacheHygiene stays testable. Returns the
    * persisted inputs and the unordered result.
    */
  private[graft] def q191Build(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (Seq[DataFrame], DataFrame) = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val postings = tfidfPostings(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // df via partial aggregate + frequency-split join (attachDf) — NOT
    // a count(*) OVER (PARTITION BY term) window. A window partition
    // cannot be split, so on a Zipfian shingle distribution the hottest
    // term's postings all land in ONE task (straggler → OOM at corpus
    // scale) and AQE's skew handling does not apply to window
    // exchanges. The aggregate combines map-side, hot terms ride a
    // broadcast of the (small) Zipf head, and the cold shuffle is
    // skew-free by the split predicate. (The FULL df table is
    // gram-cardinality, far too big to broadcast — only the head fits.)
    // weighted is referenced by norms/mid/both verify sides — persist
    // once and close the scope through materialize (the result is
    // ≤ pairs rows); postings reads come off the shared silver parquet
    val weighted = attachDf(postings)
      .crossJoin(broadcast(nDocs))
      .withColumn("w", $"tf" * expr("(100 * n_docs) div df"))
      .select($"doc_id", $"term", $"df", $"w")
      .persist()
    val norms = weighted.groupBy($"doc_id")
      .agg(sum($"w" * $"w").as("n2"))
    val midTerm = weighted
      .filter($"df" >= 2 && $"df" <= ApDfCap)
      .select($"doc_id", $"term")
    // r14 (guide §3.1): without hints the candidate self-join and BOTH
    // verify joins BROADCAST a postings-scale table (midTerm / the full
    // weighted table ×2) — each a single-threaded HashedRelation build
    // of ~1M rows (per-job timings: the 0.4–1 s broadcast-thread jobs that
    // dominated q191). A postings table must never be the broadcast
    // side at corpus scale; shuffled hash joins stream the candidate
    // explosion over parallel exchanges instead.
    val cands = midTerm.as("a").join(midTerm.as("b").hint("shuffle_hash"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("shared_mid"))
      .filter($"shared_mid" >= ApMinShared)
      .select($"i", $"j")
    val dots = cands
      .join(weighted.select($"doc_id".as("i"), $"term", $"w".as("wa"))
        .hint("shuffle_hash"), Seq("i"))
      .join(weighted.select($"doc_id".as("j"), $"term", $"w".as("wb"))
        .hint("shuffle_hash"), Seq("j", "term"))
      .groupBy($"i", $"j")
      .agg(count(lit(1)).as("n_shared_terms"), sum($"wa" * $"wb").as("dot"))
    val result = dots
      .join(norms.select($"doc_id".as("i"), $"n2".as("n2a")), Seq("i"))
      .join(norms.select($"doc_id".as("j"), $"n2".as("n2b")), Seq("j"))
      .withColumn("cosine",
        $"dot".cast("double") /
          (sqrt($"n2a".cast("double")) * sqrt($"n2b".cast("double"))))
      .filter($"cosine" >= 0.5)
      .select($"i", $"j", $"n_shared_terms", $"dot", $"cosine")
    (Seq(weighted), result)
  }

  /** tf·idf term postings (doc_id, term = md5-hashed word 3-gram, tf) —
    * the q191 corpus rollup as a shared silver table (r14; the
    * SharedSubtreeSpec promotion discipline): the tokenize → 3-gram
    * explode → hash → rollup pass is the expensive half of q191 and is
    * a pure function of the corpus — the postings index a search layer
    * materializes once, never per query.
    *
    * Term space = word 3-grams WITH multiplicity for tf: the fixture's
    * token vocabulary is tiny (every token df ≫ cap), so token-grain
    * mid-frequency blocking has nothing to block on — shingles restore
    * a real df distribution, exactly why shingle-based similarity is
    * the corpus-dedup default. Terms live as 8-byte md5 keys from the
    * scan on: every downstream shuffle (df agg, split joins, candidate
    * self-join, both verify joins) carries a long instead of a ~25-byte
    * shingle string — the q120 discipline; the oracle hashes
    * identically so the gate holds.
    */
  private[graft] def tfidfPostings(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, s"tfidf_postings:$dir")({
      import spark.implicits._
      val postings = Tables.documents(spark, dir)
        .select($"doc_id", Portable.tokens(lower($"text")).as("w"))
        .select($"doc_id", explode(transform(
          sequence(lit(1), greatest(size($"w") - 2, lit(1))),
          i => concat_ws(" ", element_at($"w", i),
            element_at($"w", i + 1), element_at($"w", i + 2)))).as("gram"))
        .filter(length($"gram") > 0 && size(split($"gram", " ")) === 3)
        .select($"doc_id", Portable.md5Hash64($"gram").as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      (Seq.empty, postings)
    })

  /** q190's distinct word-3-gram postings (doc_id, term) — factored so
    * PlanSpec can assert the pre-materialization plan shape.
    */
  private[graft] def q190Posts(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", Portable.tokens(lower($"text")).as("w"))
      .select($"doc_id", explode(array_distinct(transform(
        sequence(lit(1), greatest(size($"w") - 2, lit(1))),
        i => concat_ws(" ", element_at($"w", i),
          element_at($"w", i + 1), element_at($"w", i + 2))))).as("term"))
      .filter(size(split($"term", " ")) === 3)
  }

  /** q190's sharded gap roll-up over a (doc_id, term) postings frame —
    * factored out so ScaleBehaviorSpec can drive it with a synthetic
    * Zipf-skewed corpus and assert the window-partition row bound.
    */
  private[graft] def q190Rollup(posts: DataFrame): DataFrame = {
    import posts.sparkSession.implicits._
    val sharded = attachDf(posts)
      .withColumn("bkt",
        when($"df" > DfShard, expr(s"doc_id div $PostingsBucket"))
          .otherwise(lit(0L)))
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy($"term", $"bkt").orderBy($"doc_id")
    sharded
      .withColumn("prev", lag($"doc_id", 1).over(wShard))
      .withColumn("gap",
        when($"prev".isNull, $"doc_id" + 1).otherwise($"doc_id" - $"prev"))
      .withColumn("gbits", length(conv($"gap", 10, 2)).cast("long"))
      .groupBy(length(conv($"df", 10, 2)).cast("long").as("df_bitband"))
      .agg(
        countDistinct($"term").as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(when($"prev".isNull, 1L).otherwise(0L)).as("n_abs_heads"),
        sum($"gbits").as("delta_bits"))
      .withColumn("fixed64_bits", $"n_postings" * 64L)
      .withColumn("ratio_milli",
        expr("(1000 * delta_bits) div fixed64_bits"))
      .orderBy($"df_bitband")
  }

  /** Attach per-term document frequency to a postings frame WITHOUT a
    * Zipf straggler — the frequency-split join. A plain shuffle join on
    * term hashes every posting of a hot term into one reducer partition,
    * and AQE cannot split it (the df side's final aggregate sits between
    * its shuffle and the sort, so OptimizeSkewedJoin's pattern never
    * matches — verified in ScaleBehaviorSpec). Instead the df table
    * splits at the same threshold q190's gap buckets use:
    *
    *   hot  (df > DfShard): at most totalPostings/DfShard terms — the
    *        Zipf HEAD is small by construction — so it broadcasts, and
    *        hot postings never shuffle at all (map-side hash join);
    *   cold (df ≤ DfShard): shuffles on term, where no term carries more
    *        than DfShard rows — skew-free by the split predicate.
    *
    * Production tunes the threshold so both bounds hold (e.g. T = 10⁵ on
    * 10¹² postings: ≤ 10⁷-row broadcast, ≤ 10⁵-row reducer keys); the
    * fixture-sized DfShard makes the hot path execute under the oracle.
    * The double postings scan shares one exchange via AQE exchange reuse.
    */
  private[graft] def attachDf(postings: DataFrame): DataFrame = {
    import postings.sparkSession.implicits._
    val dfByTerm = postings.groupBy($"term").agg(count(lit(1)).as("df"))
    val hot = dfByTerm.filter($"df" > DfShard)
    val cold = dfByTerm.filter($"df" <= DfShard)
    postings.join(broadcast(hot), Seq("term"))
      .unionByName(postings.join(cold, Seq("term")))
  }

  // ---------------------------------------------------------------------
  // q205 — HARD-NEGATIVE MINING: the retrieval-training operator that
  // turns a corpus into contrastive training pairs. For each anchor
  // document, the hard negatives are the corpus docs MOST lexically
  // similar to it that are NOT near-duplicates — BM25-close but verified
  // non-positive, exactly what dense-retriever training mines from a
  // sparse index (the DPR/ANCE recipe). Pipeline:
  //   1. each anchor's query = its top-NegTermsPerAnchor rarest terms
  //      inside the mid-df window [NegDfLo, NegDfHi] (the q37/q163
  //      blocking discipline — stopwords carry no signal and their
  //      posting lists are the skew hazard; singletons match nothing);
  //   2. candidates score with q115's exact-integer BM25 arithmetic
  //      against the shared df/doc-length tables;
  //   3. near-dup POSITIVES are excluded by anti-joining the verified
  //      MinHash pair table (the "false negative" filter — training on a
  //      near-dup as a negative poisons the loss);
  //   4. top-NegK per anchor by (score desc, doc_id).
  // Scale shape: the anchor-term table is ≤ anchors×NegTermsPerAnchor
  // rows (broadcast); per-anchor candidates are bounded by Σ df of its
  // query terms ≤ NegTermsPerAnchor·NegDfHi — the df window is also the
  // candidate bound, so the rank window never sees an unbounded
  // partition; df/doc-length are the materialize-once corpus tables;
  // the pair anti-join reuses the minhash_pairs silver table.
  // ---------------------------------------------------------------------
  // The retrieval unit is the word 3-GRAM, not the token: the corpus
  // vocabulary is template-skewed (a handful of tokens appear in most
  // docs — the web-corpus boilerplate problem at miniature scale), so
  // token df carries no signal; shingles are where rarity lives, the
  // same reason q37/q96/q163 block on them. Shingle sets are distinct
  // per doc, so tf ≡ 1 and BM25 degenerates to its binary form — idf
  // times a pure length normalization — computed in q115's exact-integer
  // arithmetic.
  private val NegAnchors = 16
  private val NegTermsPerAnchor = 8
  private val NegDfLo = 2
  private val NegDfHi = 50
  private val NegK = 5

  private val q205 = QueryDef(
    "q205_hard_negatives",
    (spark, dir) => {
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
      // the shared gram silver table; lang/lb/block-df prune at the scan,
      // global gram df is this operator's own aggregate
      val grams = Dedup.word3grams(spark, dir).select($"doc_id", $"s")
      val docLen = grams.groupBy($"doc_id").agg(count(lit(1)).as("dl")).persist()
      val corpus = docLen.agg(
        sum($"dl").as("sum_dl"), count(lit(1)).as("n_docs"))
      val dfx = grams.groupBy($"s").agg(count(lit(1)).as("df"))
      val wT = w.partitionBy($"anchor_id").orderBy($"df".asc, $"s".asc)
      val qterms = grams.filter($"doc_id" < NegAnchors)
        .join(dfx, "s")
        .filter($"df" >= NegDfLo && $"df" <= NegDfHi)
        .select($"doc_id".as("anchor_id"), $"s", $"df")
        .withColumn("tr", row_number().over(wT))
        .filter($"tr" <= NegTermsPerAnchor)
        .select($"anchor_id", $"s", $"df")
      val pairs = Dedup.nearDupPairs(spark, dir).select($"i", $"j")
      val edges = pairs.select($"i".as("e_a"), $"j".as("e_b"))
        .unionByName(pairs.select($"j".as("e_a"), $"i".as("e_b")))
      val scored = grams
        .join(broadcast(qterms), "s")
        .filter($"doc_id" =!= $"anchor_id")
        .join(docLen, "doc_id")
        .crossJoin(broadcast(corpus))
        .withColumn("avgdl",
          $"sum_dl".cast("double") / $"n_docs".cast("double"))
        .withColumn("idf_scaled", expr("(1000000 * n_docs) div df"))
        .withColumn("denom",
          lit(1.0) + lit(1.2) *
            (lit(0.25) + lit(0.75) * ($"dl".cast("double") / $"avgdl")))
        .withColumn("tfn_scaled",
          floor(lit(2200000.0) / $"denom").cast("long"))
        .groupBy($"anchor_id", $"doc_id")
        .agg(sum($"idf_scaled" * $"tfn_scaled").as("score"),
          count(lit(1)).as("n_shared_grams"))
      val negs = scored.join(edges,
        scored("anchor_id") === edges("e_a") && scored("doc_id") === edges("e_b"),
        "left_anti")
      val wR = w.partitionBy($"anchor_id").orderBy($"score".desc, $"doc_id".asc)
      val out = negs
        .withColumn("rank", row_number().over(wR))
        .filter($"rank" <= NegK)
        .select($"anchor_id", $"rank", $"doc_id".as("neg_id"), $"score",
          $"n_shared_grams")
      Scoped.materialize(docLen)(out).orderBy($"anchor_id", $"rank")
    },
    Some(s"""
      WITH toksn AS (
        SELECT doc_id, ${Portable.tokensSql("text")} AS w FROM documents),
      grams AS (
        SELECT doc_id, s FROM (
          SELECT doc_id, unnest(list_distinct(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS s
          FROM toksn)
        WHERE s IS NOT NULL),
      dlt AS (SELECT doc_id, count(*) AS dl FROM grams GROUP BY 1),
      corpus AS (
        SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               count(*) AS n_docs
        FROM dlt),
      dfx AS (SELECT s, count(*) AS df FROM grams GROUP BY 1),
      qt AS (
        SELECT anchor_id, s, df FROM (
          SELECT g.doc_id AS anchor_id, g.s, dfx.df,
                 row_number() OVER (PARTITION BY g.doc_id
                                    ORDER BY dfx.df, g.s) AS tr
          FROM grams g JOIN dfx USING (s)
          WHERE g.doc_id < $NegAnchors
            AND dfx.df BETWEEN $NegDfLo AND $NegDfHi)
        WHERE tr <= $NegTermsPerAnchor),
      pairs AS (${Dedup.minhashOracle}),
      edges AS (
        SELECT i AS e_a, j AS e_b FROM pairs
        UNION ALL SELECT j, i FROM pairs),
      scored AS (
        SELECT qt.anchor_id, g.doc_id,
               ((1000000 * c.n_docs) // qt.df) *
               CAST(floor(CAST(2200000.0 AS DOUBLE) /
                 (CAST(1.0 AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                   (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                     (CAST(dlt.dl AS DOUBLE) / c.avgdl)))) AS BIGINT) AS sc
        FROM qt
        JOIN grams g ON g.s = qt.s AND g.doc_id <> qt.anchor_id
        JOIN dlt ON dlt.doc_id = g.doc_id, corpus c),
      agg AS (
        SELECT anchor_id, doc_id, CAST(sum(sc) AS BIGINT) AS score,
               count(*) AS n_shared_grams
        FROM scored GROUP BY 1, 2),
      neg AS (
        SELECT * FROM agg WHERE NOT EXISTS (
          SELECT 1 FROM edges e
          WHERE e.e_a = agg.anchor_id AND e.e_b = agg.doc_id))
      SELECT anchor_id, rank, doc_id AS neg_id, score, n_shared_grams FROM (
        SELECT anchor_id, doc_id, score, n_shared_grams,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM neg)
      WHERE rank <= $NegK
      ORDER BY anchor_id, rank"""))

  // ---------------------------------------------------------------------
  // q320 — RETRIEVAL EVALUATION (MRR / NDCG@10 / hit rates): the eval
  // harness the ranking family (q84 tf·idf, q115 BM25, q177 RRF) has
  // been missing — measured quality, not just scores. Relevance is
  // SELF-SUPERVISED (the standard zero-label corpus trick): a salted-
  // hash sample of docs become queries, each query's text is its own 3
  // RAREST distinct tokens (lowest df, ties by token — rare terms are
  // the ones that can find their source), and the one relevant doc for
  // a query is the doc it was drawn from. Candidates score under q115's
  // exact-integer BM25 (same idf/tfn scaling); the relevant doc's rank
  // within the query's top-10 (score desc, doc_id) yields per-query
  // reciprocal rank and single-relevant NDCG@10 = 1/log₂(rank+1) — the
  // ten possible NDCG values are PRECOMPUTED Scala constants emitted
  // into both engines (no runtime transcendental at all), quantized to
  // micro before the per-source integer mean (the house rule).
  // Scale: postings + df are the one corpus rollup (the index you
  // materialize once); the query side is sample-bounded; the candidate
  // join is keyed by RARE terms (a term only posts when it is one of
  // some doc's 3 lowest-df tokens), and both rank windows carry literal
  // rank caps (WindowGroupLimit — ≤ 3 / ≤ 10 rows buffered per cell).
  // ---------------------------------------------------------------------
  private val RevSampleMod = 16L
  private val RevTerms = 3
  private val RevK = 10
  /** floor(1e6 / log₂(rank+1)) for rank = 1..10 — computed once here so
    * neither engine evaluates a transcendental at query time.
    */
  private val NdcgMicro: Seq[Long] = (1 to RevK).map(r =>
    math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  private val q320 = QueryDef(
    "q320_retrieval_eval",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", $"source",
          explode(Portable.tokens(lower($"text"))).as("term"))
      // r13 OPTIMIZATION (guide §2.4): the tokenize+rollup postings
      // frame feeds FOUR lineage copies (df table, doc lengths, the
      // query-term pick and the BM25 candidate join) — each copy
      // re-executed the full explode+groupBy. Materialize once; every
      // consumer scans the tiny parquet. At corpus scale this IS the
      // one postings index rollup the FanoutSite note already promises.
      val postings = Scoped.materialize()(
        toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf")))
      // r14 (guide §2.4): dfT fed the query-term pick AND the BM25 score
      // join as two lineage copies (the full postings aggregation ran
      // twice as separate broadcast builds), docLen fed the score join
      // and the corpus rollup. Materialize each rollup once.
      val dfT = Scoped.materialize()(
        postings.groupBy($"term").agg(count(lit(1)).as("df")))
      val docLen = Scoped.materialize()(
        postings.groupBy($"doc_id").agg(sum($"tf").as("dl")))
      val corpus = docLen.agg(
        sum($"dl").as("sum_dl"), count(lit(1)).as("n_docs"))
      // query construction: sampled docs pick their 3 rarest terms.
      // r14 (guide §2.3): the salted-hash sample predicate is a PER-DOC
      // decision — evaluating it per POSTING row hashed the whole
      // postings table; hash the doc-grain docLen table instead and
      // broadcast-join the sampled ids.
      val qdocs = docLen
        .filter(Portable.md5Hash64(
          concat(lit("rev|"), $"doc_id".cast("string")))
          % RevSampleMod === 0L)
        .select($"doc_id")
      val wRare = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"df".asc, $"term".asc)
      val qterms = postings
        .join(broadcast(qdocs), "doc_id")
        .join(dfT, "term")
        .withColumn("rn", row_number().over(wRare))
        .filter($"rn" <= RevTerms) // literal cap → WindowGroupLimit
        .select($"doc_id".as("q_id"), $"term")
      // BM25 over the candidate set (q115's exact-integer form).
      // r14 (guide §2): materialized once — it feeds the self-score pick
      // and the rank count below.
      val cands = Scoped.materialize()(qterms
        .join(postings, "term")
        .join(dfT, "term")
        .join(docLen, "doc_id")
        .crossJoin(broadcast(corpus))
        .withColumn("avgdl",
          $"sum_dl".cast("double") / $"n_docs".cast("double"))
        .withColumn("idf_scaled", expr("(1000000 * n_docs) div df"))
        .withColumn("tfn_scaled",
          floor(($"tf".cast("double") * lit(2200000.0)) /
            ($"tf".cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) *
                ($"dl".cast("double") / $"avgdl")))).cast("long"))
        .groupBy($"q_id", $"doc_id")
        .agg(sum($"idf_scaled" * $"tfn_scaled").as("score")))
      // r14 (guide §2): only the RELEVANT doc's rank is ever read — the
      // old plan sorted every query's full candidate list through a rank
      // window (two WindowGroupLimit sorts over the candidate set) just
      // to read the self-doc's row. rank(self) under (score desc, doc_id
      // asc) row_number ≡ 1 + #{candidates strictly better than the self
      // pair} — a map-side-combinable conditional count, no sort, no
      // per-query buffering. The self pair always exists (a query's
      // terms are its own rarest terms), so the inner join is total.
      val selfS = cands.filter($"q_id" === $"doc_id")
        .select($"q_id", $"score".as("s_self"))
      // the relevant doc is the query's source doc; a miss scores 0
      val ndcgCase = NdcgMicro.zipWithIndex.foldLeft(lit(0L)) {
        case (acc, (v, i)) => when($"rank" === (i + 1).toLong, lit(v))
          .otherwise(acc)
      }
      val perQ = cands.join(broadcast(selfS), Seq("q_id"))
        .groupBy($"q_id")
        .agg((sum(when($"score" > $"s_self" ||
            ($"score" === $"s_self" && $"doc_id" < $"q_id"), 1L)
          .otherwise(0L)) + 1L).as("rank"))
        .filter($"rank" <= RevK)
        .select($"q_id",
          $"rank",
          expr("1000 div rank").as("rr_milli"),
          ndcgCase.as("ndcg_micro"))
      val srcOf = Tables.documents(spark, dir)
        .filter(Portable.md5Hash64(
          concat(lit("rev|"), $"doc_id".cast("string")))
          % RevSampleMod === 0L)
        .select($"doc_id".as("q_id"), $"source")
      srcOf.join(perQ, Seq("q_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_queries"),
          sum(when($"rank" === 1L, 1L).otherwise(0L)).as("hits_at_1"),
          sum(when($"rank".isNotNull, 1L).otherwise(0L)).as("hits_at_10"),
          sum(coalesce($"rr_milli", lit(0L))).as("sum_rr_milli"),
          sum(coalesce($"ndcg_micro", lit(0L))).as("sum_ndcg_micro"))
        .withColumn("mrr_milli", expr("sum_rr_milli div n_queries"))
        .withColumn("ndcg10_micro", expr("sum_ndcg_micro div n_queries"))
        .select($"source", $"n_queries", $"hits_at_1", $"hits_at_10",
          $"mrr_milli", $"ndcg10_micro")
        .orderBy($"source")
    },
    Some {
      val ndcgSql = NdcgMicro.zipWithIndex.map { case (v, i) =>
        s"WHEN rank = ${i + 1} THEN $v"
      }.mkString(" ")
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(${Portable.tokensSql("lower(text)")}) AS term
        FROM documents),
      p AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      d AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
      dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
              FROM p GROUP BY 1),
      corpus AS (
        SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               count(*) AS n_docs
        FROM dlt),
      qt AS (
        SELECT doc_id AS q_id, term FROM (
          SELECT p.doc_id, p.term,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY d.df ASC, p.term ASC) AS rn
          FROM p JOIN d ON d.term = p.term
          WHERE ${Portable.md5Hash64Sql(
            "'rev|' || CAST(p.doc_id AS VARCHAR)")} % $RevSampleMod = 0)
        WHERE rn <= $RevTerms),
      scored AS (
        SELECT qt.q_id, p.doc_id,
               CAST(sum(((1000000 * c.n_docs) // d.df) *
                 CAST(floor((CAST(p.tf AS DOUBLE)
                   * CAST(2200000.0 AS DOUBLE)) /
                   (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                     (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                       (CAST(dlt.dl AS DOUBLE) / c.avgdl))))
                   AS BIGINT)) AS BIGINT) AS score
        FROM qt
        JOIN p ON p.term = qt.term
        JOIN d ON d.term = qt.term
        JOIN dlt ON dlt.doc_id = p.doc_id, corpus c
        GROUP BY 1, 2),
      ranked AS (
        SELECT q_id, doc_id,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
        FROM scored),
      perq AS (
        SELECT q_id, rank, 1000 // rank AS rr_milli,
               CAST(CASE $ndcgSql ELSE 0 END AS BIGINT) AS ndcg_micro
        FROM ranked WHERE rank <= $RevK AND q_id = doc_id),
      qsrc AS (
        SELECT doc_id AS q_id, source FROM documents
        WHERE ${Portable.md5Hash64Sql(
          "'rev|' || CAST(doc_id AS VARCHAR)")} % $RevSampleMod = 0)
      SELECT s.source, CAST(count(*) AS BIGINT) AS n_queries,
             CAST(sum(CASE WHEN pq.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits_at_1,
             CAST(sum(CASE WHEN pq.rank IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits_at_10,
             CAST(sum(COALESCE(pq.rr_milli, 0)) AS BIGINT)
               // count(*) AS mrr_milli,
             CAST(sum(COALESCE(pq.ndcg_micro, 0)) AS BIGINT)
               // count(*) AS ndcg10_micro
      FROM qsrc s LEFT JOIN perq pq ON pq.q_id = s.q_id
      GROUP BY 1 ORDER BY s.source"""
    })

  override val defs: Seq[QueryDef] =
    Seq(q84, q85, q92, q115, q120, q125, q166, q177, q190, q191, q205, q207,
      q320)
}
