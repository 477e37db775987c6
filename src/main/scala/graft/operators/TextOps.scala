package graft.operators

import graft.{QueryDef, QueryModule}
import graft.functions.Portable
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis operators (SURVEY.md §2.8 F1 / §2.9 X1 / §2.7 U2 + the
  * training-data-pipeline text surface from the builder brief): ticker
  * extraction, token counting, language-ID heuristic, quality scoring and
  * document fingerprinting — all over the `documents` fixture table.
  *
  * The reference extracts tickers with a Python UDF
  * (data_collection/spark_consumer.py:35-41, data_processing/
  * reddit_pipeline.py:58-73) — a per-row Python round-trip that fences
  * whole-stage codegen and blocks filter pushdown (SURVEY.md §4). Here the
  * whole family is native `functions._` expression chains: codegen'd,
  * pushdown-transparent, and embarrassingly parallel (per-row map work, no
  * shuffle until the final small aggregation).
  */
object TextOps extends QueryModule {

  /** The engine's ticker whitelist — plays the 8-symbol KNOWN_TICKERS set
    * (spark_consumer.py:9) over the fixture vocabulary.
    */
  private val Whitelist = Seq("SPARK", "JOIN", "HASH", "SORT", "SCAN", "AGG",
    "KEY", "ROW", "BATCH")

  /** Regex v2 from the reference (reddit_pipeline.py:63, the "fixed" one
    * per SURVEY.md §7.4) simplified to its fixture-relevant core: optional
    * $ prefix, 1-5 uppercase letters at a word boundary.
    */
  private val TickerRe = "\\$?([A-Z]{1,5})\\b"

  /** Whitelist-filtered ticker extraction as one reusable expression:
    * null-safe (null text → empty array), distinct, whitelist-intersected.
    */
  private[graft] def extractTickers(text: Column): Column =
    array_intersect(
      array_distinct(regexp_extract_all(
        upper(coalesce(text, lit(""))), lit(TickerRe), lit(1))),
      lit(Whitelist.toArray))

  /** Ingest guard for per-document SEQUENTIAL operators — the ones whose
    * window partitions are doc_id cells at token/gram grain (substring
    * dedup q118, winnowing q225, token entropy q172, span corruption
    * q209, PPJoin prefixes q232). The r10 verdict's "declared contract"
    * gap: `doc_id` windows were bounded only by an ASSUMED max document
    * length, so a pathological 500 MB concatenation was a straggler
    * window no CI could see. This makes the bound a GUARD: documents
    * over MaxDocChars are quarantined from the sequential operators
    * (the published curation practice — Gopher/MassiveText retain only
    * docs under a length ceiling, and a production pipeline routes
    * oversized docs through the q68 chunker lane before re-admission).
    * The cap is mirrored verbatim in every consumer's oracle SQL, and
    * the hot-doc ScaleBehaviorSpec replays a >MaxDocChars plant to prove
    * the guard engages. 10⁶ chars ≈ 2.5× Gopher's 100k-word retention
    * ceiling — no legitimate single document is affected.
    */
  private[graft] val MaxDocChars = 1000000L

  /** The documents table with the [[MaxDocChars]] guard applied — the
    * entry point every doc_id-windowed operator must scan through
    * (WindowBoundsSpec enforces the registry row's construction/guard
    * story; the guard is this filter).
    */
  private[graft] def guardedDocs(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).filter(length($"text") <= MaxDocChars)
  }

  // ---------------------------------------------------------------------
  // q26 — ticker extraction (F1/X1/U2): upper → regexp_extract_all →
  // distinct → whitelist intersect → explode → per-ticker doc counts.
  // ---------------------------------------------------------------------
  private val q26 = QueryDef(
    "q26_ticker_extract",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .withColumn("tok", explode(extractTickers($"text")))
        .groupBy($"tok".as("ticker"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"ticker")
    },
    Some(s"""
      SELECT ticker, count(*) AS n_docs FROM (
        SELECT doc_id, unnest(list_distinct(
          regexp_extract_all(upper(text), '$TickerRe', 1))) AS ticker
        FROM documents)
      WHERE ticker IN (${Whitelist.map("'" + _ + "'").mkString(", ")})
      GROUP BY ticker ORDER BY ticker"""))

  // ---------------------------------------------------------------------
  // q27 — token counting: whitespace tokens and a BPE-ish regex
  // tokenization (letter runs / digit runs / single other chars),
  // aggregated per language. Counts are exact integers.
  // ---------------------------------------------------------------------
  private val BpeRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  private val q27 = QueryDef(
    "q27_token_counts",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .withColumn("ws_tokens", size(Portable.tokens($"text")))
        .withColumn("bpe_tokens",
          size(regexp_extract_all(lower($"text"), lit(BpeRe), lit(0))))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"ws_tokens").as("total_ws_tokens"),
          sum($"bpe_tokens").as("total_bpe_tokens"),
          max($"ws_tokens").as("max_ws_tokens"),
          (sum($"ws_tokens").cast("double") / count(lit(1)).cast("double"))
            .as("avg_ws_tokens"))
        .orderBy($"lang")
    },
    Some(s"""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
             CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
             max(ws_tokens) AS max_ws_tokens,
             CAST(sum(ws_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_ws_tokens
      FROM (
        SELECT lang,
               len(${Portable.tokensSql("text")}) AS ws_tokens,
               len(regexp_extract_all(lower(text), '$BpeRe')) AS bpe_tokens
        FROM documents)
      GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // q28 — language-ID heuristic: marker-token profiles per language
  // (configurable; fixture profiles are drawn from the synthetic vocab),
  // argmax score with a fixed precedence tie-break, then the confusion
  // matrix against the labeled lang column.
  // ---------------------------------------------------------------------
  private val Profiles: Seq[(String, String)] = Seq(
    "en" -> "the|a|data|row",
    "de" -> "batch|merge|window|stream",
    "es" -> "join|filter|value|key",
    "fr" -> "sort|order|group|line",
    "zh" -> "hash|scan|vector|column")

  private val q28 = QueryDef(
    "q28_lang_id",
    (spark, dir) => {
      import spark.implicits._
      val scored = Profiles.foldLeft(Tables.documents(spark, dir)) {
        case (df, (l, re)) =>
          df.withColumn(s"s_$l",
            size(regexp_extract_all($"text", lit(s"\\b($re)\\b"), lit(0))))
      }
      // argmax with precedence = Profiles order (strict > keeps earlier on tie)
      val guess = Profiles.map(_._1).tail.foldLeft(
        (lit(Profiles.head._1), col(s"s_${Profiles.head._1}"))) {
        case ((g, best), l) =>
          (when(col(s"s_$l") > best, lit(l)).otherwise(g),
            greatest(best, col(s"s_$l")))
      }._1
      scored.withColumn("guess", guess)
        .groupBy($"lang", $"guess")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"guess")
    },
    Some {
      val scores = Profiles.map { case (l, re) =>
        s"len(regexp_extract_all(text, '\\b($re)\\b')) AS s_$l"
      }.mkString(",\n               ")
      // same fold as the Spark side: later lang wins only on strictly greater
      val guess = Profiles.map(_._1).tail.foldLeft(
        (s"'${Profiles.head._1}'", s"s_${Profiles.head._1}")) {
        case ((g, best), l) =>
          (s"CASE WHEN s_$l > $best THEN '$l' ELSE $g END",
            s"greatest($best, s_$l)")
      }._1
      s"""
      SELECT lang, guess, count(*) AS n FROM (
        SELECT lang, $guess AS guess FROM (
          SELECT lang,
               $scores
          FROM documents))
      GROUP BY lang, guess ORDER BY lang, guess"""
    })

  /** Per-doc quality columns (ws_tokens, stop_ratio, avg_word_len,
    * score) — shared by q29 and the curation pipeline (q61).
    */
  private[operators] def withQuality(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("ws_tokens", size(Portable.tokens($"text")))
      .withColumn("stop_tokens",
        size(regexp_extract_all($"text", lit("\\b(the|a)\\b"), lit(0))))
      .withColumn("nospace_chars", length(regexp_replace($"text", "\\s", "")))
      .filter($"ws_tokens" > 0)
      .withColumn("stop_ratio",
        $"stop_tokens".cast("double") / $"ws_tokens".cast("double"))
      .withColumn("avg_word_len",
        $"nospace_chars".cast("double") / $"ws_tokens".cast("double"))
      .withColumn("score",
        lit(0.3) * least($"ws_tokens".cast("double") / lit(100.0), lit(1.0))
          + lit(0.4) * (lit(1.0) - $"stop_ratio")
          + lit(0.3) * least($"avg_word_len" / lit(8.0), lit(1.0)))
  }

  /** DuckDB twin of [[withQuality]] as a CTE body over `documents`. */
  private[operators] val qualitySql = s"""
        SELECT *, 0.3 * least(CAST(ws_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.4 * (1.0 - CAST(stop_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE))
               + 0.3 * least((CAST(nospace_chars AS DOUBLE) / CAST(ws_tokens AS DOUBLE)) / 8.0, 1.0)
               AS score
        FROM (
          SELECT doc_id, source, text,
                 len(${Portable.tokensSql("text")}) AS ws_tokens,
                 len(regexp_extract_all(text, '\\b(the|a)\\b')) AS stop_tokens,
                 length(regexp_replace(text, '\\s', '', 'g')) AS nospace_chars
          FROM documents)
        WHERE ws_tokens > 0"""

  // ---------------------------------------------------------------------
  // q29 — quality scoring: length / stopword-ratio / word-length signals
  // combined into a per-doc score (05-style feature engineering applied to
  // the corpus-curation use case). Pure double arithmetic over exact
  // integer counts — bit-identical on both engines, no aggregation of
  // floats.
  // ---------------------------------------------------------------------
  private val q29 = QueryDef(
    "q29_quality_score",
    (spark, dir) => {
      import spark.implicits._
      withQuality(Tables.documents(spark, dir))
        .withColumn("low_quality", ($"score" < 0.6).cast("int"))
        .select($"doc_id", $"source", $"ws_tokens", $"stop_ratio",
          $"avg_word_len", $"score", $"low_quality")
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id, source, ws_tokens,
             CAST(stop_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS stop_ratio,
             CAST(nospace_chars AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS avg_word_len,
             0.3 * least(CAST(ws_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.4 * (1.0 - CAST(stop_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE))
               + 0.3 * least((CAST(nospace_chars AS DOUBLE) / CAST(ws_tokens AS DOUBLE)) / 8.0, 1.0)
               AS score,
             CAST((0.3 * least(CAST(ws_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.4 * (1.0 - CAST(stop_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE))
               + 0.3 * least((CAST(nospace_chars AS DOUBLE) / CAST(ws_tokens AS DOUBLE)) / 8.0, 1.0))
               < 0.6 AS INT) AS low_quality
      FROM (
        SELECT doc_id, source,
               len(${Portable.tokensSql("text")}) AS ws_tokens,
               len(regexp_extract_all(text, '\\b(the|a)\\b')) AS stop_tokens,
               length(regexp_replace(text, '\\s', '', 'g')) AS nospace_chars
        FROM documents)
      WHERE ws_tokens > 0
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q30 — document fingerprinting: order-sensitive polynomial rolling hash
  // over the token stream (Portable.rollingHash — identical mod-arithmetic
  // fold on both engines), plus per-source distinct-fingerprint counts as
  // the exact-dedup building block.
  // ---------------------------------------------------------------------
  private val q30 = QueryDef(
    "q30_fingerprint",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .withColumn("fp", Portable.rollingHash(Portable.tokens($"text")))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"fp").as("n_distinct"),
          min($"fp").as("min_fp"),
          max($"fp").as("max_fp"))
        .orderBy($"source")
    },
    Some(s"""
      SELECT source, count(*) AS n_docs,
             count(DISTINCT fp) AS n_distinct,
             min(fp) AS min_fp, max(fp) AS max_fp
      FROM (
        SELECT source, ${Portable.rollingHashSql(Portable.tokensSql("text"))} AS fp
        FROM documents)
      GROUP BY source ORDER BY source"""))

  /** SILVER: the corpus word-frequency table — lowercased whitespace
    * tokens with exact counts, the one tokenization pass the vocabulary /
    * sketch / tokenizer-training family shares. Promoted by the
    * SharedSubtreeSpec audit (r9 verdict #5): q58, q140, q243 and the
    * wordpiece_vocab build each planned a structurally-identical corpus
    * token-count aggregate — at 100 TB, four full corpus scans for one
    * vocabulary-sized table. The shuffle carries |vocab|, not |tokens|
    * (map-side combine on the explode output).
    */
  private[operators] def wordCounts(
      spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "word_counts", dir)({
      import spark.implicits._
      (Nil, Tables.documents(spark, dir)
        .select(explode(Portable.tokens(lower($"text"))).as("w"))
        .groupBy($"w")
        .agg(count(lit(1)).as("cnt")))
    })

  // ---------------------------------------------------------------------
  // q58 — vocabulary build (training-pipeline op): corpus word-frequency
  // table with a min-count floor and deterministic rank (count desc, word
  // asc) — the tokenizer-training input shape, read from the word_counts
  // silver table (lowercased tokens — the tokenizer-training convention).
  // The top-k is orderBy+limit (TakeOrderedAndProject: per-partition
  // heaps, merge of 100-row finalists) — ranking the full vocab through a
  // global window first would funnel |vocab| rows into one task;
  // row_number here runs over the 100 surviving rows only.
  // ---------------------------------------------------------------------
  private val q58 = QueryDef(
    "q58_vocab_build",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy($"n".desc, $"word".asc)
      wordCounts(spark, dir)
        .select($"w".as("word"), $"cnt".as("n"))
        .filter($"n" >= 5)
        .orderBy($"n".desc, $"word".asc)
        .limit(100)
        .withColumn("rank", row_number().over(w))
        .orderBy($"rank")
    },
    Some(s"""
      SELECT word, n, rank FROM (
        SELECT word, n, row_number() OVER (ORDER BY n DESC, word ASC) AS rank
        FROM (
          SELECT word, count(*) AS n
          FROM (SELECT unnest(${Portable.tokensSql("lower(text)")}) AS word FROM documents)
          GROUP BY word)
        WHERE n >= 5)
      WHERE rank <= 100 ORDER BY rank"""))

  // ---------------------------------------------------------------------
  // q75 — Gopher-style repetition filter (Rae et al. 2021 quality signal;
  // C4 uses the same family): per doc, the fraction of word-3-gram
  // instances that belong to a gram occurring more than once in the doc.
  // Heavily templated/repetitive docs score high and get flagged at the
  // Gopher-ish 0.2 threshold — the flag test is exact integer arithmetic
  // (5·dup > total), so the verdict is engine- and partition-independent.
  // Scale shape: one explode (linear in tokens), one hash-agg keyed by
  // (doc, gram) with map-side combine, then per-doc and per-source
  // roll-ups — no joins over the gram table, no quadratic stage.
  // ---------------------------------------------------------------------
  private val q75 = QueryDef(
    "q75_repetition_filter",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val grams = docs
        .withColumn("w", Portable.tokens($"text"))
        .select($"doc_id", $"source",
          explode(transform(
            sequence(lit(1), greatest(size($"w") - 2, lit(1))),
            i => concat(element_at($"w", i), lit(" "),
              element_at($"w", i + 1), lit(" "),
              element_at($"w", i + 2)))).as("g"))
        .filter($"g".isNotNull)
      val perDoc = grams
        .groupBy($"doc_id", $"source", $"g").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id", $"source")
        .agg(sum($"c").as("total"),
          sum(when($"c" > 1, $"c").otherwise(0L)).as("dup"))
      // docs too short to form a 3-gram carry (0, 0) — never flagged
      val all = docs.select($"doc_id", $"source")
        .join(perDoc.drop("source"), Seq("doc_id"), "left")
        .na.fill(0L, Seq("total", "dup"))
      all.groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(lit(5L) * $"dup" > $"total", 1L).otherwise(0L)).as("n_repetitive"),
          sum($"total").as("total_grams"),
          sum($"dup").as("dup_grams"))
        .withColumn("rep_ratio",
          $"dup_grams".cast("double") / $"total_grams".cast("double"))
        .orderBy($"source")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source, ${Portable.tokensSql("text")} AS w
        FROM documents),
      grams AS (
        SELECT doc_id, source, g FROM (
          SELECT doc_id, source,
                 unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                         for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS g
          FROM toks)
        WHERE g IS NOT NULL),
      counts AS (
        SELECT doc_id, source, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
      perdoc AS (
        SELECT doc_id, source, sum(c) AS total,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
        FROM counts GROUP BY 1, 2),
      alldocs AS (
        SELECT d.doc_id, d.source,
               COALESCE(p.total, 0) AS total, COALESCE(p.dup, 0) AS dup
        FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN 5 * dup > total THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
             CAST(sum(total) AS BIGINT) AS total_grams,
             CAST(sum(dup) AS BIGINT) AS dup_grams,
             CAST(sum(dup) AS DOUBLE) / CAST(sum(total) AS DOUBLE) AS rep_ratio
      FROM alldocs GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q117 — BPE merge training (the tokenizer-training op q58's frequency
  // table feeds): iterative byte-pair encoding over the word-frequency
  // vocabulary — count adjacent symbol pairs weighted by word count,
  // merge the argmax pair everywhere (greedy left-to-right,
  // non-overlapping), repeat for BpeRounds rounds. Ties break on
  // (freq desc, lhs asc, rhs asc), so the merge table is fully
  // deterministic; the emitted rows are the trained artifact (ordered
  // merge rules + vocab-size trajectory), which IS a BPE tokenizer.
  //
  // Scale shape: training runs on the AGGREGATED word-freq table
  // (|vocab| rows — corpus size only enters the one token-count
  // aggregation), each round is one pair-count aggregation plus a 1-row
  // TakeOrdered argmax, and the merge itself is a per-row string map.
  // Symbol sequences live as single-space-delimited strings with
  // sentinel spaces, so the merge is a literal ' l r ' → ' lr '
  // replace — both engines scan left-to-right non-overlapping, which is
  // exactly BPE's greedy merge semantics. The per-round argmax collect
  // is model state (the merge table), the k-means discipline.
  // ---------------------------------------------------------------------
  private val BpeRounds = 20
  private val BpeMinCount = 2
  private val MergePasses = 3

  /** One trained BPE merge rule (round, lhs, rhs, merged, pair freq,
    * vocab size after).
    */
  private type BpeMerge = (Long, String, String, String, Long, Long)

  // driver-side memo of the trained merge table per corpus dir and input
  // version — the artifact is ~20 tiny rows of model state (the
  // Scoped.shared discipline, but the value is driver-resident like the
  // k-means seeds); q117 emits it and q119 applies it without retraining
  private val bpeTables = new graft.sources.Memo[Seq[BpeMerge]]()

  /** Train the BPE merge table on `dir`'s corpus (see q117 comment). */
  private[operators] def trainBpe(
      spark: SparkSession, dir: String): Seq[BpeMerge] =
    bpeTables(dir, graft.sources.Parquet.inputVersion(spark, Seq(dir))) {
      import spark.implicits._
      val sc = spark.sparkContext
      val cachedBefore = sc.getPersistentRDDs.keySet
      val words = Tables.documents(spark, dir)
        .select(explode(Portable.tokens($"text")).as("tok"))
        .select(lower($"tok").as("word"))
        .filter($"word".rlike("^[a-z]+$"))
        .groupBy($"word").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" >= BpeMinCount)
      // " a b c " — sentinel spaces make every symbol boundary explicit.
      // localCheckpoint each round: an iterative transform would otherwise
      // grow a 20-deep logical plan (the GraphX/ALS iteration discipline).
      var seqs = words.select(
        concat(lit(" "), regexp_replace($"word", "(.)", "$1 ")).as("seq"),
        $"cnt").localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer[BpeMerge]()
      for (r <- 1 to BpeRounds) {
        val best = seqs
          .select($"cnt", split(trim($"seq"), " ").as("s"))
          .filter(size($"s") >= 2)
          .select($"cnt", explode(transform(
            sequence(lit(1), size($"s") - 1),
            i => struct(element_at($"s", i).as("l"),
              element_at($"s", i + 1).as("r")))).as("p"))
          .groupBy($"p.l".as("lhs"), $"p.r".as("rhs"))
          .agg(sum($"cnt").as("f"))
          .orderBy($"f".desc, $"lhs".asc, $"rhs".asc).limit(1)
          .collect()(0)
        val (l, rr, f) =
          (best.getString(0), best.getString(1), best.getLong(2))
        // symbols are [a-z]+ by construction — safe to inline literally
        val next = seqs
          .select(expr(mergeExprSql("seq", l, rr)).as("seq"), $"cnt")
          .localCheckpoint()
        seqs = next
        val vocab = seqs
          .select(explode(split(trim($"seq"), " ")).as("sym"))
          .agg(countDistinct($"sym")).as[Long].head()
        merges += ((r.toLong, l, rr, l + rr, f, vocab))
      }
      // the merge table is driver state now — release every checkpoint
      // block the loop pinned (cache hygiene: a long-lived session must
      // not accumulate 21 RDDs per training run)
      (sc.getPersistentRDDs.keySet -- cachedBefore).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      merges.toSeq
    }

  /** The literal ' l r ' → ' lr ' merge, applied MergePasses times: the
    * replace consumes the shared delimiter space, so one pass can miss a
    * repeat that abuts a merged occurrence (" a b a b " → " ab a b ");
    * repeated application catches the leftovers — identical on the
    * oracle side.
    */
  private def mergeExprSql(col: String, l: String, r: String): String =
    (1 to MergePasses).foldLeft(col)((e, _) =>
      s"replace($e, ' $l $r ', ' $l$r ')")

  private val q117 = QueryDef(
    "q117_bpe_train",
    (spark, dir) => {
      import spark.implicits._
      trainBpe(spark, dir)
        .toDF("merge_round", "lhs", "rhs", "merged", "pair_freq", "vocab_size")
        .orderBy($"merge_round")
    },
    Some {
      s"""
      WITH $bpeTrainCtes
      SELECT * FROM (
        $bpeMergeUnionSql)
      ORDER BY merge_round"""
    })

  /** The full BPE-training pipeline as oracle CTEs (no WITH keyword):
    * word-freq table `w`, initial sequences `v0`, then per round r the
    * pair counts `p_r`, argmax `b_r`, merged sequences `v_r`, vocab size
    * `s_r`. Every CTE is MATERIALIZED: v(r-1) is referenced twice per
    * round (pair count + merge), so DuckDB's default inlining would
    * expand the 20-round chain into a 2^20-leaf plan. Shared by q117's
    * oracle (emits the merge table) and q119's (applies the rules).
    */
  private def bpeTrainCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""
        p$r AS MATERIALIZED (
          SELECT u.l AS lhs, u.r AS rhs, CAST(sum(cnt) AS BIGINT) AS f FROM (
            SELECT cnt, unnest([{'l': s[i], 'r': s[i + 1]}
                                for i in range(1, len(s))]) AS u
            FROM (SELECT cnt, string_split(trim(seq), ' ') AS s
                  FROM v${r - 1}))
          GROUP BY 1, 2),
        b$r AS MATERIALIZED (SELECT lhs, rhs, f FROM p$r
                ORDER BY f DESC, lhs, rhs LIMIT 1),
        v$r AS MATERIALIZED (SELECT ${(1 to MergePasses).foldLeft("seq")((e, _) =>
        s"replace($e, ' ' || b.lhs || ' ' || b.rhs || ' ', " +
          s"' ' || b.lhs || b.rhs || ' ')")} AS seq, cnt
                FROM v${r - 1}, b$r b),
        s$r AS MATERIALIZED (SELECT count(DISTINCT sym) AS vocab_size FROM (
                SELECT unnest(string_split(trim(seq), ' ')) AS sym FROM v$r))"""
    }.mkString(",")
    s"""w AS MATERIALIZED (
        SELECT word, count(*) AS cnt FROM (
          SELECT lower(t) AS word FROM (
            SELECT unnest(${Portable.tokensSql("text")}) AS t FROM documents))
        WHERE regexp_matches(word, '^[a-z]+$$')
        GROUP BY word HAVING count(*) >= $BpeMinCount),
      v0 AS MATERIALIZED (
        SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq, cnt
        FROM w),
      $rounds"""
  }

  private def bpeMergeUnionSql: String =
    (1 to BpeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_round, b.lhs, b.rhs,
                   b.lhs || b.rhs AS merged, b.f AS pair_freq,
                   s.vocab_size
            FROM b$r b, s$r s"""
    }.mkString("\n        UNION ALL\n        ")

  // ---------------------------------------------------------------------
  // q119 — BPE ENCODE (tokenizer application, the consumer of q117's
  // artifact): every document's alphabetic words are encoded with the
  // trained merge rules applied in training order, and the per-doc token
  // accounting is emitted — the token-counting step every training
  // pipeline runs with its REAL tokenizer rather than a whitespace
  // proxy (q27). Per doc: alpha word count, character count (= initial
  // symbol count), and the BPE token count after all merges; fewer
  // tokens than characters = the learned compression.
  //
  // Scale shape: the merge table is ~20 driver-held rules (model state,
  // memoized from q117's training); encoding is a per-row string map —
  // a 60-deep literal-replace chain inside whole-stage codegen, no
  // shuffle beyond the per-doc rollup. The oracle re-trains the same
  // rules via the shared CTE chain and applies them as scalar
  // subqueries, so a drift in EITHER training or application breaks the
  // hash.
  // ---------------------------------------------------------------------
  private val q119 = QueryDef(
    "q119_bpe_encode",
    (spark, dir) => {
      import spark.implicits._
      val merges = trainBpe(spark, dir)
      val encExpr = merges.foldLeft(
        "concat(' ', regexp_replace(word, '(.)', '$1 '))")(
        (e, m) => mergeExprSql(e, m._2, m._3))
      val encoded = Tables.documents(spark, dir)
        .select($"doc_id", explode(Portable.tokens($"text")).as("tok"))
        .select($"doc_id", lower($"tok").as("word"))
        .filter($"word".rlike("^[a-z]+$"))
        .select($"doc_id", length($"word").cast("long").as("n_chars"),
          expr(encExpr).as("seq"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_alpha_words"),
          sum($"n_chars").as("n_chars"),
          sum(size(split(trim($"seq"), " ")).cast("long")).as("n_bpe_tokens"))
      Tables.documents(spark, dir).select($"doc_id")
        .join(encoded, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_alpha_words", lit(0L)).as("n_alpha_words"),
          coalesce($"n_chars", lit(0L)).as("n_chars"),
          coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"))
        .orderBy($"doc_id")
    },
    Some {
      val encExpr = (1 to BpeRounds).foldLeft(
        "' ' || regexp_replace(word, '(.)', '\\1 ', 'g')") { (e, r) =>
        (1 to MergePasses).foldLeft(e)((e2, _) =>
          s"replace($e2, ' ' || (SELECT lhs FROM b$r) || ' ' || " +
            s"(SELECT rhs FROM b$r) || ' ', ' ' || (SELECT lhs FROM b$r) " +
            s"|| (SELECT rhs FROM b$r) || ' ')")
      }
      s"""
      WITH $bpeTrainCtes,
      dw AS (
        SELECT doc_id, lower(t) AS word FROM (
          SELECT doc_id, unnest(${Portable.tokensSql("text")}) AS t
          FROM documents)),
      enc AS (
        SELECT doc_id, len(word) AS n_chars,
               len(string_split(trim($encExpr), ' ')) AS n_tok
        FROM dw WHERE regexp_matches(word, '^[a-z]+$$')),
      agg AS (
        SELECT doc_id, count(*) AS n_alpha_words,
               sum(n_chars) AS n_chars, sum(n_tok) AS n_bpe_tokens
        FROM enc GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(coalesce(a.n_alpha_words, 0) AS BIGINT) AS n_alpha_words,
             CAST(coalesce(a.n_chars, 0) AS BIGINT) AS n_chars,
             CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
      FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
      ORDER BY d.doc_id"""
    })

  // ---------------------------------------------------------------------
  // q208 — TOKENIZER FERTILITY audit by language: q119's trained-BPE
  // encode re-aggregated at LANGUAGE grain — the multilingual-pipeline
  // health check that decides whether a tokenizer is fit for a corpus
  // slice. Fertility (tokens per word) and chars-per-token are THE
  // standard metrics (a tokenizer trained on English over-fragments
  // other languages → fertility balloons → effective context shrinks
  // and per-language training cost inflates); the unmerged-word rate
  // (words no merge rule touched, n_tok = n_chars) is the "tokenizer
  // has never seen this language" tail. All ratios are exact integer
  // millis (div), so the hash gate holds. Scale: the encode is the
  // same per-row literal-replace chain as q119 (codegen'd, no joins);
  // the rollup is one map-side-combinable aggregation to |langs| rows.
  // ---------------------------------------------------------------------
  private val q208 = QueryDef(
    "q208_tokenizer_fertility",
    (spark, dir) => {
      import spark.implicits._
      val merges = trainBpe(spark, dir)
      val encExpr = merges.foldLeft(
        "concat(' ', regexp_replace(word, '(.)', '$1 '))")(
        (e, m) => mergeExprSql(e, m._2, m._3))
      Tables.documents(spark, dir)
        .select($"lang", explode(Portable.tokens($"text")).as("tok"))
        .select($"lang", lower($"tok").as("word"))
        .filter($"word".rlike("^[a-z]+$"))
        .select($"lang", length($"word").cast("long").as("nc"),
          expr(encExpr).as("seq"))
        .withColumn("nt", size(split(trim($"seq"), " ")).cast("long"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_words"),
          sum($"nc").as("n_chars"),
          sum($"nt").as("n_tokens"),
          sum(when($"nt" === $"nc", 1L).otherwise(0L)).as("n_unmerged"))
        .withColumn("fertility_milli", expr("(1000 * n_tokens) div n_words"))
        .withColumn("chars_per_token_milli",
          expr("(1000 * n_chars) div n_tokens"))
        .withColumn("unmerged_milli", expr("(1000 * n_unmerged) div n_words"))
        .orderBy($"lang")
    },
    Some {
      val encExpr = (1 to BpeRounds).foldLeft(
        "' ' || regexp_replace(word, '(.)', '\\1 ', 'g')") { (e, r) =>
        (1 to MergePasses).foldLeft(e)((e2, _) =>
          s"replace($e2, ' ' || (SELECT lhs FROM b$r) || ' ' || " +
            s"(SELECT rhs FROM b$r) || ' ', ' ' || (SELECT lhs FROM b$r) " +
            s"|| (SELECT rhs FROM b$r) || ' ')")
      }
      s"""
      WITH $bpeTrainCtes,
      dw AS (
        SELECT lang, lower(t) AS word FROM (
          SELECT lang, unnest(${Portable.tokensSql("text")}) AS t
          FROM documents)),
      enc AS (
        SELECT lang, len(word) AS nc,
               len(string_split(trim($encExpr), ' ')) AS nt
        FROM dw WHERE regexp_matches(word, '^[a-z]+$$')),
      agg AS (
        SELECT lang, count(*) AS n_words, sum(nc) AS n_chars,
               sum(nt) AS n_tokens,
               sum(CASE WHEN nt = nc THEN 1 ELSE 0 END) AS n_unmerged
        FROM enc GROUP BY lang)
      SELECT lang,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_unmerged AS BIGINT) AS n_unmerged,
             CAST((1000 * n_tokens) // n_words AS BIGINT) AS fertility_milli,
             CAST((1000 * n_chars) // n_tokens AS BIGINT)
               AS chars_per_token_milli,
             CAST((1000 * n_unmerged) // n_words AS BIGINT) AS unmerged_milli
      FROM agg ORDER BY lang"""
    })

  // ---------------------------------------------------------------------
  // q172 — TOKEN-ENTROPY quality floor (the information-theoretic form
  // of q75's repetition heuristics): per document, the empirical token
  // distribution's Shannon entropy in FLOOR BITS — q120's exact
  // log-domain trick (⌊log₂(n/c)⌋ = bitlen(n div c) − 1 for c ≤ n)
  // summed as Σ c·(bitlen(n div c) − 1), so total_bits is an exact
  // integer on both engines (true entropy is within 1 bit/token above
  // it; the floor is a sound LOWER bound, which is the direction a
  // repetitiveness FILTER needs — a doc flagged low-entropy really is).
  // A doc of one repeated token scores 0; rich vocabulary scores near
  // log₂(n). Output: per (source, half-bit bin of milli-bits/token) doc
  // counts + the exact bit mass, the corpus fingerprint a curation run
  // tracks release-over-release.
  //
  // Scale: explode → (doc, token) rollup → doc-keyed window for the
  // total (doc-sized groups — embarrassingly parallel) → (doc) rollup;
  // every aggregation combines map-side, no joins, same envelope as q27.
  // ---------------------------------------------------------------------
  private val q172 = QueryDef(
    "q172_token_entropy",
    (spark, dir) => {
      import spark.implicits._
      // doc-length guard (MaxDocChars): the per-doc total window below is
      // bounded by guard, mirrored in the oracle
      val counts = guardedDocs(spark, dir)
        .select($"doc_id", $"source",
          explode(Portable.tokens(lower($"text"))).as("t"))
        .groupBy($"doc_id", $"source", $"t")
        .agg(count(lit(1)).as("c"))
      val perDoc = counts
        .withColumn("n", sum($"c").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
        .withColumn("bits",
          $"c" * (length(conv(expr("n div c"), 10, 2)) - 1).cast("long"))
        .groupBy($"doc_id", $"source")
        .agg(sum($"bits").as("total_bits"), max($"n").as("n_tokens"))
        .withColumn("milli_bpt",
          expr("(1000 * total_bits) div greatest(n_tokens, 1L)"))
      perDoc
        .groupBy($"source", expr("milli_bpt div 500").as("half_bit_bin"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"total_bits").as("sum_bits"),
          sum($"n_tokens").as("sum_tokens"))
        .orderBy($"source", $"half_bit_bin")
    },
    Some(s"""
      WITH counts AS (
        SELECT doc_id, source, t, count(*) AS c FROM (
          SELECT doc_id, source,
                 unnest(${Portable.tokensSql("lower(text)")}) AS t
          FROM documents WHERE length(text) <= $MaxDocChars)
        GROUP BY 1, 2, 3),
      perdoc AS (
        SELECT doc_id, source,
               CAST(sum(c * (length(format('{:b}', n // c)) - 1)) AS BIGINT)
                 AS total_bits,
               max(n) AS n_tokens
        FROM (SELECT *, CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
              FROM counts)
        GROUP BY 1, 2),
      binned AS (
        SELECT source,
               ((1000 * total_bits) // greatest(n_tokens, 1)) // 500
                 AS half_bit_bin,
               total_bits, n_tokens
        FROM perdoc)
      SELECT source, CAST(half_bit_bin AS BIGINT) AS half_bit_bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(total_bits) AS BIGINT) AS sum_bits,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      FROM binned GROUP BY 1, 2 ORDER BY source, half_bit_bin"""))

  // ---------------------------------------------------------------------
  // q213 — PMI COLLOCATIONS: the classic association miner (Church &
  // Hanks) — adjacent token pairs whose joint frequency beats the
  // independence prediction, ranked by pointwise mutual information in
  // the exact floor-log₂ integer form: pmi_bits = bitlen((c12·N) div
  // (c1·c2)) − 1 for ratio ≥ 1 (the q120 bitlen identity), with the
  // exact integer quotient as the tiebreaker. Min support 5 filters
  // noise. Scale shape: one bigram aggregation, one unigram
  // aggregation, two joins on the token key, TakeOrdered top-20 — all
  // map-side-combinable, no windows.
  //
  // Int64 ESCAPE (r9, the r8-documented fallback made real): the c12·N
  // product overflows int64 once N nears 3·10⁹ pair instances, so the
  // quotient is computed in a SHIFTED domain whenever the product nears
  // the bit budget: k = max(0, bitlen(c12) + bitlen(N) − PmiProductBits),
  // q = ((c12 · (N >> k)) div (c1·c2)) << k. For k = 0 this is exactly
  // the old quotient; for k > 0 the result is a multiple of 2^k whose
  // bit length (hence pmi_bits) is within ±1 of the exact value — the
  // relative error of N >> k is ≤ 2^(bitlen(c12) − PmiProductBits + 1),
  // vanishing at the production budget. PmiProductBits is 62 in
  // production; here it is FIXTURE-SIZED (the q190 DfShard trick) so
  // the DuckDB gate exercises BOTH paths at every SF — hot bigrams
  // (bitlen(c12) ≥ 6) escape, the long tail stays exact. The spec
  // asserts the ±1 bracket against the BigInt-exact quotient and that
  // both paths really execute.
  // ---------------------------------------------------------------------
  private val PmiMinCount = 5
  private[operators] val PmiProductBits = 20
  private val q213 = QueryDef(
    "q213_pmi_collocations",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", Portable.tokens(lower($"text")).as("w"))
      val pairs = toks
        .select(explode(transform(
          sequence(lit(1), greatest(size($"w") - 1, lit(1))),
          i => struct(element_at($"w", i).as("w1"),
            element_at($"w", i + 1).as("w2")))).as("p"))
        .filter($"p.w1".isNotNull && $"p.w2".isNotNull)
        .select($"p.w1".as("w1"), $"p.w2".as("w2"))
        .persist()
      val big = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val left = pairs.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val right = pairs.groupBy($"w2").agg(count(lit(1)).as("c2"))
      val total = pairs.agg(count(lit(1)).as("n"))
      val out = big.filter($"c12" >= PmiMinCount)
        .join(left, "w1").join(right, "w2")
        .crossJoin(broadcast(total))
        .withColumn("kk", greatest(lit(0),
          (length(conv($"c12", 10, 2)) + length(conv($"n", 10, 2))
            - lit(PmiProductBits)).cast("int")))
        .withColumn("q",
          expr("shiftleft((c12 * shiftright(n, kk)) div (c1 * c2), kk)"))
        .filter($"q" >= 1)
        .withColumn("pmi_bits", (length(conv($"q", 10, 2)) - 1).cast("long"))
        .select($"w1", $"w2", $"c12", $"c1", $"c2", $"q", $"pmi_bits")
        .orderBy($"pmi_bits".desc, $"q".desc, $"w1", $"w2")
        .limit(20)
      Scoped.materialize(pairs)(out)
        .orderBy($"pmi_bits".desc, $"q".desc, $"w1", $"w2")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, ${Portable.tokensSql("lower(text)")} AS w
        FROM documents),
      pairs AS (
        SELECT p['w1'] AS w1, p['w2'] AS w2 FROM (
          SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
                         for i in range(1, greatest(len(w) - 1, 1) + 1)]) AS p
          FROM toks)
        WHERE p['w1'] IS NOT NULL AND p['w2'] IS NOT NULL),
      big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
      l AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
      r AS (SELECT w2, count(*) AS c2 FROM pairs GROUP BY 1),
      n AS (SELECT count(*) AS n FROM pairs),
      kd AS (
        SELECT b.w1, b.w2, b.c12, l.c1, r.c2, n.n,
               greatest(0, length(format('{:b}', b.c12))
                 + length(format('{:b}', n.n)) - $PmiProductBits) AS kk
        FROM big b JOIN l USING (w1) JOIN r USING (w2), n
        WHERE b.c12 >= $PmiMinCount),
      scored AS (
        SELECT w1, w2, c12, c1, c2,
               ((c12 * (n >> kk)) // (c1 * c2)) << kk AS q
        FROM kd
        WHERE ((c12 * (n >> kk)) // (c1 * c2)) << kk >= 1)
      SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
             CAST(c2 AS BIGINT) AS c2, CAST(q AS BIGINT) AS q,
             CAST(length(format('{:b}', q)) - 1 AS BIGINT) AS pmi_bits
      FROM scored
      ORDER BY pmi_bits DESC, q DESC, w1, w2 LIMIT 20"""))

  // ---------------------------------------------------------------------
  // q214 — SOURCE LEXICAL DIVERGENCE, interval-bounded: how far each
  // source's unigram distribution sits from the corpus mixture — the
  // per-source number a mixture designer reads next to q194's weights.
  // True KL needs float logs, which are not hash-gate-portable; the
  // engine instead emits PROVABLE INTEGER BOUNDS. For a coding cost
  // Σ c·log₂(n/c), per-term floor and ceiling come from the two exact
  // quotient identities (q120's trick + its ceiling twin):
  //   ⌊log₂(n/c)⌋ = bitlen(n div c) − 1
  //   ⌈log₂(n/c)⌉ = bitlen(⌈n/c⌉ − 1)
  // so cross (source tokens coded under the CORPUS distribution) and
  // self (the source's own entropy) each get [lo, hi] integer bit
  // bounds, and the true excess coding cost is bracketed by
  // [cross_lo − self_hi, cross_hi − self_lo] — an interval that
  // CONTAINS KL(source‖corpus)·n_s, deterministically, with no float
  // anywhere. One (source, token) aggregation + a token aggregate
  // joined back on the 8-byte hash — map-combinable, no windows.
  // ---------------------------------------------------------------------
  private val q214 = QueryDef(
    "q214_source_divergence",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"source", explode(Portable.tokens(lower($"text"))).as("t"))
        .select($"source", Portable.md5Hash64($"t").as("th"))
      val st = toks.groupBy($"source", $"th").agg(count(lit(1)).as("c_ws"))
        .persist()
      val ct = st.groupBy($"th").agg(sum($"c_ws").as("c_w"))
      val totals = st.groupBy($"source").agg(sum($"c_ws").as("n_s"))
      val n = st.agg(sum($"c_ws").as("n"))
      def fbits(num: String, den: String) =
        s"(length(conv($num div $den, 10, 2)) - 1)"
      // ⌈log₂(num/den)⌉ = bitlen(⌈num/den⌉ − 1); ratio exactly 1 → 0
      def cbits(num: String, den: String) =
        s"(CASE WHEN $num <= $den THEN 0L ELSE " +
          s"length(conv(($num + $den - 1) div $den - 1, 10, 2)) END)"
      val out = st
        .join(ct, "th")
        .join(totals, "source")
        .crossJoin(broadcast(n))
        .withColumn("cross_lo_t", expr(s"c_ws * ${fbits("n", "c_w")}"))
        .withColumn("cross_hi_t", expr(s"c_ws * ${cbits("n", "c_w")}"))
        .withColumn("self_lo_t", expr(s"c_ws * ${fbits("n_s", "c_ws")}"))
        .withColumn("self_hi_t", expr(s"c_ws * ${cbits("n_s", "c_ws")}"))
        .groupBy($"source")
        .agg(max($"n_s").as("n_tokens"),
          sum($"cross_lo_t").as("cross_lo"),
          sum($"cross_hi_t").as("cross_hi"),
          sum($"self_lo_t").as("self_lo"),
          sum($"self_hi_t").as("self_hi"))
        .withColumn("excess_lo_milli",
          expr("(1000 * (cross_lo - self_hi)) div n_tokens"))
        .withColumn("excess_hi_milli",
          expr("(1000 * (cross_hi - self_lo)) div n_tokens"))
      Scoped.materialize(st)(out).orderBy($"source")
    },
    Some {
      def fbits(num: String, den: String) =
        s"(length(format('{:b}', $num // $den)) - 1)"
      def cbits(num: String, den: String) =
        s"(CASE WHEN $num <= $den THEN 0 ELSE " +
          s"length(format('{:b}', ($num + $den - 1) // $den - 1)) END)"
      s"""
      WITH toks AS (
        SELECT source, ${Portable.md5Hash64Sql("t")} AS th FROM (
          SELECT source, unnest(${Portable.tokensSql("lower(text)")}) AS t
          FROM documents)),
      st AS (
        SELECT source, th, count(*) AS c_ws FROM toks GROUP BY 1, 2),
      ct AS (SELECT th, CAST(sum(c_ws) AS BIGINT) AS c_w FROM st GROUP BY 1),
      tot AS (
        SELECT source, CAST(sum(c_ws) AS BIGINT) AS n_s FROM st GROUP BY 1),
      n AS (SELECT CAST(sum(c_ws) AS BIGINT) AS n FROM st),
      terms AS (
        SELECT s.source, tot.n_s,
               s.c_ws * ${fbits("n.n", "ct.c_w")} AS cross_lo_t,
               s.c_ws * ${cbits("n.n", "ct.c_w")} AS cross_hi_t,
               s.c_ws * ${fbits("tot.n_s", "s.c_ws")} AS self_lo_t,
               s.c_ws * ${cbits("tot.n_s", "s.c_ws")} AS self_hi_t
        FROM st s JOIN ct USING (th) JOIN tot USING (source), n)
      SELECT source,
             CAST(max(n_s) AS BIGINT) AS n_tokens,
             CAST(sum(cross_lo_t) AS BIGINT) AS cross_lo,
             CAST(sum(cross_hi_t) AS BIGINT) AS cross_hi,
             CAST(sum(self_lo_t) AS BIGINT) AS self_lo,
             CAST(sum(self_hi_t) AS BIGINT) AS self_hi,
             CAST((1000 * (sum(cross_lo_t) - sum(self_hi_t))) // max(n_s)
               AS BIGINT) AS excess_lo_milli,
             CAST((1000 * (sum(cross_hi_t) - sum(self_lo_t))) // max(n_s)
               AS BIGINT) AS excess_hi_milli
      FROM terms GROUP BY source ORDER BY source"""
    })

  // ---------------------------------------------------------------------
  // q226 — WORDPIECE GREEDY ENCODER (Schuster & Nakajima / BERT's
  // longest-match-first tokenizer — the second tokenizer family next to
  // q117/q119's merge-driven BPE): segment every word by repeatedly
  // taking the LONGEST vocab piece at the cursor, continuation pieces
  // carrying the "##" prefix. The vocab is corpus-trained model state
  // (silver table `wordpiece_vocab`): every single character in both
  // start and "##" form (total coverage — no UNK path on in-corpus text)
  // plus the top-[[WpTopM]] multi-char substrings (length 2–4) by
  // occurrence-weighted frequency, ties broken lexicographically.
  //
  // Scale shape: encoding runs over DISTINCT words only (the tokenizer
  // is a pure word function) and joins back onto the per-(doc, word)
  // counts — corpus length never meets the greedy loop. The vocab is
  // bounded broadcast model state (≤ alphabet·2 + WpTopM entries, the
  // P12 discipline). Oracle: DEFERRED (the q113 pattern) — the vocab the
  // silver build materialized is read back and embedded as a literal
  // list, and DuckDB replays the IDENTICAL greedy longest-match fold per
  // distinct word, so a wrong ranking cut, ## form, or match order
  // breaks the hash.
  // ---------------------------------------------------------------------
  private[operators] val WpMaxLen = 4
  private[operators] val WpTopM = 200

  /** Corpus-trained WordPiece vocabulary: (piece, weight), where piece
    * is the start form ("ab") or continuation form ("##ab").
    */
  private[operators] def wordpieceVocab(
      spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "wordpiece_vocab", dir)({
      import spark.implicits._
      // the corpus token-count pass comes from the word_counts silver
      // table (SharedSubtreeSpec promotion), not a private re-aggregation
      val wcounts = wordCounts(spark, dir).as[(String, Long)]
      val pieces = wcounts.flatMap { case (w, cnt) =>
        val L = w.length
        val out = scala.collection.mutable.ListBuffer.empty[(String, Long)]
        var i = 0
        while (i < L) {
          val cont = if (i == 0) "" else "##"
          out += ((cont + w.substring(i, i + 1), cnt))
          var l = 2
          while (l <= WpMaxLen && i + l <= L) {
            out += ((cont + w.substring(i, i + l), cnt))
            l += 1
          }
          i += 1
        }
        out
      }.toDF("piece", "cnt")
        .groupBy($"piece").agg(sum($"cnt").as("weight"))
      val chars = pieces.filter(
        length(regexp_replace($"piece", "^##", "")) === 1)
      val multi = pieces.filter(
        length(regexp_replace($"piece", "^##", "")) >= 2)
        .orderBy($"weight".desc, $"piece".asc)
        .limit(WpTopM)
      (Nil, chars.unionByName(multi).orderBy($"piece"))
    })

  /** Greedy longest-match piece count for one word — shared by the
    * engine, the spec, and (replayed in SQL) the oracle. Single-char
    * fallback is unconditional: the trained vocab carries total
    * character coverage, and pinning the fallback keeps both engines
    * identical even off-corpus.
    */
  private[operators] def wpEncodeCount(
      word: String, vocab: String => Boolean): Long = {
    val L = word.length
    var pos = 0
    var n = 0L
    while (pos < L) {
      var l = math.min(WpMaxLen, L - pos)
      var took = 1
      var done = false
      while (!done) {
        if (l <= 1) { took = 1; done = true }
        else {
          val s = word.substring(pos, pos + l)
          val key = if (pos == 0) s else "##" + s
          if (vocab(key)) { took = l; done = true } else l -= 1
        }
      }
      pos += took
      n += 1
    }
    n
  }

  private val q226 = QueryDef.deferred(
    "q226_wordpiece_encode",
    (spark, dir) => {
      import spark.implicits._
      val vocab = wordpieceVocab(spark, dir)
        .select($"piece").as[String].collect().toSet
      val docWords = Tables.documents(spark, dir)
        .select($"doc_id", explode(Portable.tokens(lower($"text"))).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("cnt"))
      val encoded = docWords.select($"w").distinct().as[String]
        .mapPartitions(_.map(w => (w, wpEncodeCount(w, vocab))))
        .toDF("w", "wp")
      docWords.join(encoded, "w")
        .groupBy($"doc_id")
        .agg(
          sum($"cnt").as("n_words"),
          sum($"cnt" * $"wp").as("n_pieces"),
          max($"wp").as("max_word_pieces"))
        .withColumn("fertility_milli",
          expr("(1000 * n_pieces) div n_words"))
        .select($"doc_id", $"n_words", $"n_pieces", $"max_word_pieces",
          $"fertility_milli")
        .orderBy($"doc_id")
    }) {
      // DEFERRED oracle: embed the vocab of the dir being dumped (read
      // back through the silver parquet, not the in-process set) and
      // replay the same greedy fold per DISTINCT word
      val spark = org.apache.spark.sql.SparkSession.active
      require(graft.OracleContext.dir != null, "q226 oracle needs OracleContext.dir")
      val voc = wordpieceVocab(spark, graft.OracleContext.dir)
        .select(col("piece")).collect().map(_.getString(0)).sorted
        .map(p => "'" + p.replace("'", "''") + "'").mkString(",")
      def tryLen(l: Int): String =
        s"""CASE WHEN p + ${l - 1} <= length(w) AND list_contains([$voc],
            CASE WHEN p = 1 THEN substr(w, CAST(p AS INT), $l)
                 ELSE '##' || substr(w, CAST(p AS INT), $l) END)
            THEN $l ELSE 0 END"""
      s"""
      WITH dw AS (
        SELECT doc_id, w, count(*) AS cnt FROM (
          SELECT doc_id, unnest(${Portable.tokensSql("lower(text)")}) AS w
          FROM documents)
        GROUP BY 1, 2),
      words AS (SELECT DISTINCT w FROM dw),
      enc AS (
        SELECT w, list_reduce(
          list_prepend({'pos': CAST(1 AS BIGINT), 'np': CAST(0 AS BIGINT)},
            list_transform(range(1, length(w) + 1),
              i -> {'pos': CAST(NULL AS BIGINT), 'np': CAST(NULL AS BIGINT)})),
          (a, e) -> list_transform([a.pos], p -> list_transform([a.np], n ->
            CASE WHEN p > length(w) THEN {'pos': p, 'np': n}
                 ELSE list_transform([greatest(
                        ${tryLen(4)}, ${tryLen(3)}, ${tryLen(2)}, 1)],
                      l -> {'pos': p + l, 'np': n + 1})[1]
            END)[1])[1]) AS r
        FROM words)
      SELECT dw.doc_id,
             CAST(sum(dw.cnt) AS BIGINT) AS n_words,
             CAST(sum(dw.cnt * enc.r['np']) AS BIGINT) AS n_pieces,
             CAST(max(enc.r['np']) AS BIGINT) AS max_word_pieces,
             CAST((1000 * sum(dw.cnt * enc.r['np'])) // sum(dw.cnt)
               AS BIGINT) AS fertility_milli
      FROM dw JOIN enc ON enc.w = dw.w
      GROUP BY 1 ORDER BY dw.doc_id"""
    }

  // ---------------------------------------------------------------------
  // q259 — INTER-RATER AGREEMENT (Cohen's κ) between two INDEPENDENT
  // quality raters: the THIN-CONTENT heuristic (n_chars below the
  // corpus mean — the cheap surface signal every pipeline starts with)
  // and the LM-surprisal rater (bits-per-bigram milli above the corpus
  // mean — the model evidence, off the lm_doc_bits silver table). A
  // curation pipeline that stacks filters needs to know whether they
  // agree beyond chance — κ near 0 means the second rater adds an
  // independent axis (stack them), κ near 1 means it is redundant
  // (drop one). Thresholds are corpus-mean splits (exact integer
  // division, 1-row broadcasts) so both raters fire on a meaningful
  // fraction at every SF — the Gopher repetition flag was tried first
  // and never fires on the synthetic corpus (dup-gram mass is ~0).
  // Per source + pooled TOTAL row: the 2×2 confusion counts are exact
  // integers; po, pe and κ are double divisions (NOT n²-scaled
  // integers — at 10¹⁰ docs n² overflows int64), NULL-guarded at
  // pe = 1 (a degenerate all-one-cell source).
  // ---------------------------------------------------------------------
  private val q259 = QueryDef(
    "q259_rater_agreement",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
      val meanLen = docs.agg(
        expr("sum(n_chars) div count(1)").as("mean_chars"))
      val lm = Search.lmAllDocs(spark, dir)
      val meanMilli = lm.agg(
        expr("sum(milli) div count(1)").as("mean_milli"))
      val flags = lm.select($"doc_id", $"source", $"milli")
        .join(docs, "doc_id")
        .crossJoin(broadcast(meanLen))
        .crossJoin(broadcast(meanMilli))
        .withColumn("a", ($"n_chars" < $"mean_chars").cast("long"))
        .withColumn("b", ($"milli" > $"mean_milli").cast("long"))
      val conf = flags
        .groupBy($"source").agg(
          count(lit(1)).as("n"),
          sum($"a" * $"b").as("n11"),
          sum($"a" * (lit(1L) - $"b")).as("n10"),
          sum((lit(1L) - $"a") * $"b").as("n01"),
          sum((lit(1L) - $"a") * (lit(1L) - $"b")).as("n00"))
      val total = conf.agg(
        sum($"n").as("n"), sum($"n11").as("n11"), sum($"n10").as("n10"),
        sum($"n01").as("n01"), sum($"n00").as("n00"))
        .withColumn("source", lit("TOTAL"))
        .select($"source", $"n", $"n11", $"n10", $"n01", $"n00")
      conf.unionByName(total)
        .withColumn("po",
          ($"n11" + $"n00").cast("double") / $"n".cast("double"))
        .withColumn("pe",
          (($"n11" + $"n10").cast("double") * ($"n11" + $"n01").cast("double") +
            ($"n01" + $"n00").cast("double") * ($"n10" + $"n00").cast("double")) /
            ($"n".cast("double") * $"n".cast("double")))
        .withColumn("kappa",
          when($"pe" < 1.0, ($"po" - $"pe") / (lit(1.0) - $"pe")))
        .select($"source", $"n", $"n11", $"n10", $"n01", $"n00", $"po",
          $"pe", $"kappa")
        .orderBy($"source")
    },
    Some(s"""
      WITH ${Search.lmAllDocsCtes},
      ml AS (SELECT sum(n_chars) // count(*) AS mean_chars FROM documents),
      mm AS (SELECT sum(milli) // count(*) AS mean_milli FROM alldocs),
      fl AS (
        SELECT d.source,
               CASE WHEN doc.n_chars < ml.mean_chars THEN 1 ELSE 0 END AS a,
               CASE WHEN d.milli > mm.mean_milli THEN 1 ELSE 0 END AS b
        FROM alldocs d
        JOIN documents doc ON doc.doc_id = d.doc_id, ml, mm),
      conf AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a * b) AS BIGINT) AS n11,
               CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
               CAST(sum((1 - a) * b) AS BIGINT) AS n01,
               CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM fl GROUP BY source
        UNION ALL
        SELECT 'TOTAL', CAST(count(*) AS BIGINT),
               CAST(sum(a * b) AS BIGINT),
               CAST(sum(a * (1 - b)) AS BIGINT),
               CAST(sum((1 - a) * b) AS BIGINT),
               CAST(sum((1 - a) * (1 - b)) AS BIGINT)
        FROM fl),
      k AS (
        SELECT *,
               CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
               (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                 + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        FROM conf)
      SELECT source, n, n11, n10, n01, n00, po, pe,
             CASE WHEN pe < CAST('1.0' AS DOUBLE)
               THEN (po - pe) / (CAST('1.0' AS DOUBLE) - pe) END AS kappa
      FROM k ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q275 — READABILITY (Flesch–Kincaid grade level, Kincaid et al. 1975):
  // the corpus-QC scalar every curation report carries next to q29's
  // quality score — grade = 0.39·(words/sentences) +
  // 11.8·(syllables/word) − 15.59. Counting is regex-portable:
  // sentences = runs of [.!?] (min 1), syllables = vowel-group runs
  // [aeiouy]+ per lowered text, floored at one per word (the standard
  // heuristic — exact syllabification needs a dictionary). The grade is
  // EXACT INTEGER MILLI: (390·W) div S + (11800·Y) div W − 15590, every
  // operand non-negative where divided (truncation ≡ floor on both
  // engines), so no float leaves the expression at all. Per-row map
  // work, no shuffle before the final sort — the q67/q29 linear-scan
  // shape at any corpus size.
  // ---------------------------------------------------------------------
  private val q275 = QueryDef(
    "q275_readability",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .withColumn("words",
          greatest(size(Portable.tokens($"text")).cast("long"), lit(1L)))
        .withColumn("sentences",
          greatest(size(regexp_extract_all($"text", lit("[.!?]+"), lit(0)))
            .cast("long"), lit(1L)))
        .withColumn("vgroups",
          size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0)))
            .cast("long"))
        .withColumn("syllables", greatest($"vgroups", $"words"))
        .withColumn("grade_milli",
          expr("(390 * words) div sentences") +
            expr("(11800 * syllables) div words") - lit(15590L))
        .select($"doc_id", $"source", $"words", $"sentences", $"syllables",
          $"grade_milli")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH c AS (
        SELECT doc_id, source,
               greatest(len(${Portable.tokensSql("text")}), 1) AS words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                 AS sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vgroups
        FROM documents)
      SELECT doc_id, source,
             CAST(words AS BIGINT) AS words,
             CAST(sentences AS BIGINT) AS sentences,
             CAST(greatest(vgroups, words) AS BIGINT) AS syllables,
             CAST((390 * words) // sentences
               + (11800 * greatest(vgroups, words)) // words
               - 15590 AS BIGINT) AS grade_milli
      FROM c ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q276 — STYLOMETRY (Burrows' Delta, Burrows 2002): the authorship /
  // style-drift distance between corpus slices — z-scores of the most
  // frequent FUNCTION words (style markers precisely because they are
  // topic-free), then Delta(s1, s2) = mean |z1 − z2| over the marker
  // set. The curation use is register drift: a crawl slice whose Delta
  // to every other slice jumps changed genre or got spammed.
  //
  // Exactness: per-source marker rates are exact integer micros
  // ((10⁶·count) div total — non-negative); the cross-source moments
  // (n, Σf, Σf²) are exact BIGINTs; z = (f − μ)/σ is a fixed double
  // expression (one sqrt), QUANTIZED to integer milli (floor — both
  // engines floor the identical double), so the pair distance is an
  // exact integer sum — order-free — and delta_milli an integer
  // division of non-negatives. Markers with zero cross-source variance
  // drop out identically on both engines.
  //
  // Scale: ONE corpus pass (explode filtered to the 20-marker set at
  // the scan); everything after is a |sources|×20 profile grid —
  // dimension-sized, broadcast-joinable; the pair matrix is |sources|²
  // over the tiny profile, never a corpus join.
  // ---------------------------------------------------------------------
  private val StyleMarkers = Seq(
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "was",
    "for", "on", "with", "as", "at", "by", "this", "but", "not", "are")
  private val q276 = QueryDef(
    "q276_stylometry_delta",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"source", explode(Portable.tokens(lower($"text"))).as("w"))
      val totals = toks.groupBy($"source")
        .agg(count(lit(1)).as("n_toks"))
      val markers = StyleMarkers.toDF("w")
      val grid = totals.crossJoin(broadcast(markers))
      val counts = toks.filter($"w".isInCollection(StyleMarkers))
        .groupBy($"source", $"w")
        .agg(count(lit(1)).as("c"))
      val prof = grid.join(counts, Seq("source", "w"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("f", expr("(1000000 * c) div n_toks"))
        .select($"source", $"w", $"f")
      val mom = prof.groupBy($"w")
        .agg(count(lit(1)).as("ns"), sum($"f").as("sf"),
          sum($"f" * $"f").as("sff"))
        .withColumn("varn", $"ns" * $"sff" - $"sf" * $"sf")
        .filter($"varn" > 0L) // zero-variance markers drop out
      val z = prof.join(broadcast(mom), "w")
        .withColumn("z",
          ($"ns".cast("double") * $"f".cast("double") -
            $"sf".cast("double")) /
            sqrt($"varn".cast("double")))
        .withColumn("zmilli", floor(lit(1000.0) * $"z").cast("long"))
        .select($"w", $"source", $"zmilli")
      val pairs = z.as("a")
        .join(z.as("b"), $"a.w" === $"b.w" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("s1"), $"b.source".as("s2"))
        .agg(count(lit(1)).as("n_markers"),
          sum(abs($"a.zmilli" - $"b.zmilli")).as("sum_abs"))
        .withColumn("delta_milli", expr("sum_abs div n_markers"))
      pairs.select($"s1", $"s2", $"n_markers", $"sum_abs", $"delta_milli")
        .orderBy($"s1", $"s2")
    },
    Some {
      val markerList = StyleMarkers.map(w => s"'$w'").mkString(", ")
      s"""
      WITH toks AS (
        SELECT source, unnest(${Portable.tokensSql("lower(text)")}) AS w
        FROM documents),
      totals AS (SELECT source, count(*) AS n_toks FROM toks GROUP BY 1),
      grid AS (
        SELECT t.source, t.n_toks, m.w
        FROM totals t CROSS JOIN (SELECT unnest([$markerList]) AS w) m),
      counts AS (
        SELECT source, w, count(*) AS c
        FROM toks WHERE w IN ($markerList) GROUP BY 1, 2),
      prof AS (
        SELECT g.source, g.w,
               (1000000 * coalesce(c.c, 0)) // g.n_toks AS f
        FROM grid g LEFT JOIN counts c
          ON c.source = g.source AND c.w = g.w),
      mom AS (
        SELECT w, CAST(count(*) AS BIGINT) AS ns,
               CAST(sum(f) AS BIGINT) AS sf,
               CAST(sum(f * f) AS BIGINT) AS sff
        FROM prof GROUP BY 1),
      vm AS (
        SELECT *, ns * sff - sf * sf AS varn FROM mom
        WHERE ns * sff - sf * sf > 0),
      z AS (
        SELECT p.w, p.source,
               CAST(floor(CAST('1000.0' AS DOUBLE) *
                 ((CAST(v.ns AS DOUBLE) * CAST(p.f AS DOUBLE)
                   - CAST(v.sf AS DOUBLE))
                  / sqrt(CAST(v.varn AS DOUBLE)))) AS BIGINT) AS zmilli
        FROM prof p JOIN vm v ON v.w = p.w)
      SELECT a.source AS s1, b.source AS s2,
             count(*) AS n_markers,
             CAST(sum(abs(a.zmilli - b.zmilli)) AS BIGINT) AS sum_abs,
             CAST(sum(abs(a.zmilli - b.zmilli)) AS BIGINT)
               // count(*) AS delta_milli
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2 ORDER BY s1, s2"""
    })

  // ---------------------------------------------------------------------
  // q284 — YULE'S K VOCABULARY RICHNESS per source (Yule 1944, "The
  // Statistical Study of Literary Vocabulary"): K = 10⁴·(Σ V_m·m² − N)/N²
  // over the word-frequency spectrum (V_m = types occurring m times,
  // N = tokens) — equivalently 10⁴·(Σ_types c² − N)/N², the repeat-rate
  // form computed here. K is length-insensitive (unlike raw type/token
  // ratio) and is the classic authorship/corpus-homogeneity readout —
  // the aggregate twin of q276's per-pair Burrows Delta. Hapax share
  // (V₁/V) rides along as the tail-mass diagnostic.
  //
  // Exactness: FULLY integer — counts, Σc², and the milli projections
  // via non-negative truncating division only (Σc² ≥ N always, so no
  // sign peel needed); the N² denominator is applied as TWO chained
  // single divisions (⌊⌊x/N⌋/N⌋ = ⌊x/N²⌋ for positive operands), which
  // keeps every intermediate < 2⁶³ without forming N². BIGINT budget:
  // Σc² fits while the top word's count stays ≤ 3·10⁹ (c_max² < 2⁶³);
  // beyond that scale the sum moves to the 128-bit/decimal lane — the
  // q213 bit-budget escape discipline, documented not silent.
  //
  // Scale: the (source, word) table is the source_word_counts silver
  // (one explode + one map-combinable hash-agg whose shuffle carries
  // |source|×|vocab| rows, the q99 tf·idf shape — built once, shared
  // with q292); this query adds only a |sources|-row rollup. No
  // windows, no joins.
  // ---------------------------------------------------------------------
  /** SILVER: per-(source, word) exact lowercased-token counts — the
    * source-conditioned twin of [[wordCounts]], shared by the
    * vocabulary-richness (q284) and dispersion (q292) readouts so the
    * corpus is tokenized once for both (the SharedSubtreeSpec
    * discipline applied at introduction time, not post-hoc).
    */
  private[operators] def sourceWordCounts(
      spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "source_word_counts", dir)({
      import spark.implicits._
      (Nil, Tables.documents(spark, dir)
        .select($"source", explode(Portable.tokens(lower($"text"))).as("w"))
        .groupBy($"source", $"w")
        .agg(count(lit(1)).as("c")))
    })

  private val q284 = QueryDef(
    "q284_yules_k",
    (spark, dir) => {
      import spark.implicits._
      val counts = sourceWordCounts(spark, dir)
      counts.groupBy($"source")
        .agg(
          sum($"c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum($"c" * $"c").as("s2"),
          sum(when($"c" === 1L, 1L).otherwise(0L)).as("v1"))
        .withColumn("k_milli",
          expr("((s2 - n_tokens) * 10000000) div n_tokens div n_tokens"))
        .withColumn("hapax_milli", expr("(v1 * 1000) div n_types"))
        .select($"source", $"n_tokens", $"n_types", $"s2", $"v1",
          $"k_milli", $"hapax_milli")
        .orderBy($"source")
    },
    Some(s"""
      WITH wc AS (
        SELECT source, w, count(*) AS c FROM (
          SELECT source, unnest(${Portable.tokensSql("lower(text)")}) AS w
          FROM documents)
        GROUP BY 1, 2),
      per AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c * c) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
        FROM wc GROUP BY source)
      SELECT source, n_tokens, n_types, s2, v1,
             ((s2 - n_tokens) * 10000000) // n_tokens // n_tokens AS k_milli,
             (v1 * 1000) // n_types AS hapax_milli
      FROM per ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q285 — RAKE KEYWORD EXTRACTION (Rose, Engel, Cramer & Cowley 2010,
  // "Automatic Keyword Extraction from Individual Documents"): candidate
  // phrases are maximal runs of content words between stopword/
  // punctuation delimiters; each word scores deg(w)/freq(w) — deg(w) =
  // Σ over the word's occurrences of its phrase's length (degree in the
  // phrase co-occurrence graph, self-loop included), freq(w) = its
  // occurrence count — and a phrase scores the sum of its member word
  // scores. Corpus-level variant: word stats pool over all documents
  // and the output is the global top-50 keyword table.
  //
  // Exactness: FULLY integer — deg/freq/len are exact counts, word
  // scores are quantized to milli by ONE non-negative truncating
  // division each, phrase scores are exact sums of those millis, and
  // the top-50 rank carries the (score, phrase) total tie-break.
  //
  // Scale: one positional explode (linear in tokens) through the
  // MaxDocChars ingest guard (doc_id-windowed running-break-count —
  // the declared GUARD bound, cap mirrored in the oracle); word stats
  // and phrase occurrence counts are map-combinable hash-aggs keyed by
  // word/phrase (vocabulary-sized shuffles); the member-word join fans
  // a DISTINCT-phrase table (not instances) against the word-score
  // table; final top-k is TakeOrderedAndProject.
  // ---------------------------------------------------------------------
  private val RakeStop: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "but", "of", "in", "on", "at", "to",
    "for", "with", "by", "from", "as", "is", "are", "was", "were", "be",
    "been", "it", "its", "this", "that", "these", "those", "we", "you",
    "they", "he", "she", "i", "not", "no", "has", "have", "had", "will")
  private val RakeTopK = 50

  private val q285 = QueryDef(
    "q285_rake_keywords",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val toks = guardedDocs(spark, dir)
        .select($"doc_id",
          posexplode(Portable.tokens(lower($"text"))).as(Seq("pos", "tok")))
        .withColumn("w", regexp_replace($"tok", "[^a-z0-9]", ""))
        .withColumn("brk", $"w" === "" || $"w".isInCollection(RakeStop))
      val wD = Window.partitionBy("doc_id").orderBy("pos")
      val phrases = toks
        .withColumn("grp", sum(when($"brk", 1L).otherwise(0L)).over(wD))
        .filter(!$"brk")
        .groupBy($"doc_id", $"grp")
        .agg(sort_array(collect_list(struct($"pos", $"w"))).as("ps"))
        .select(
          concat_ws(" ", transform($"ps", p => p("w"))).as("phrase"),
          size($"ps").cast("long").as("len"))
      val wstats = phrases
        .select($"len", explode(split($"phrase", " ")).as("w"))
        .groupBy($"w")
        .agg(count(lit(1)).as("freq"), sum($"len").as("deg"))
        .withColumn("wscore_milli", expr("(deg * 1000) div freq"))
        .select($"w", $"wscore_milli")
      phrases.groupBy($"phrase", $"len")
        .agg(count(lit(1)).as("n_occ"))
        .select($"phrase", $"len", $"n_occ",
          explode(split($"phrase", " ")).as("w"))
        .join(wstats, "w")
        .groupBy($"phrase", $"len", $"n_occ")
        .agg(sum($"wscore_milli").as("score_milli"))
        .orderBy($"score_milli".desc, $"phrase")
        .limit(RakeTopK)
    },
    Some {
      val stopList = RakeStop.map(s => s"'$s'").mkString(", ")
      s"""
      WITH toks AS (
        SELECT doc_id, CAST(p['i'] AS INT) AS pos,
               regexp_replace(p['t'], '[^a-z0-9]', '', 'g') AS w
        FROM (
          SELECT doc_id,
                 unnest([{'t': t[i], 'i': i} for i in range(1, len(t) + 1)]) AS p
          FROM (
            SELECT doc_id, ${Portable.tokensSql("lower(text)")} AS t
            FROM documents WHERE length(text) <= ${TextOps.MaxDocChars}))),
      marked AS (
        SELECT doc_id, pos, w,
               (w = '' OR w IN ($stopList)) AS brk
        FROM toks),
      isl AS (
        SELECT doc_id, pos, w, brk,
               sum(CASE WHEN brk THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM marked),
      phr AS (
        SELECT doc_id, grp,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               CAST(count(*) AS BIGINT) AS len
        FROM isl WHERE NOT brk GROUP BY doc_id, grp),
      mem AS (
        SELECT len, unnest(string_split(phrase, ' ')) AS w FROM phr),
      ws AS (
        SELECT w, (CAST(sum(len) AS BIGINT) * 1000) // count(*)
                 AS wscore_milli
        FROM mem GROUP BY w),
      dp AS (
        SELECT phrase, len, CAST(count(*) AS BIGINT) AS n_occ
        FROM phr GROUP BY 1, 2),
      dmem AS (
        SELECT phrase, len, n_occ,
               unnest(string_split(phrase, ' ')) AS w
        FROM dp)
      SELECT d.phrase, d.len, d.n_occ,
             CAST(sum(s.wscore_milli) AS BIGINT) AS score_milli
      FROM dmem d JOIN ws s ON s.w = d.w
      GROUP BY d.phrase, d.len, d.n_occ
      ORDER BY score_milli DESC, phrase LIMIT $RakeTopK"""
    })

  // ---------------------------------------------------------------------
  // q292 — WORD DISPERSION / BURSTINESS (Gries 2008, "Dispersions and
  // adjusted frequencies in corpus linguistics" — the DP measure): raw
  // frequency hides WHERE a word lives; a term with all its mass in one
  // source (bursty: boilerplate, topic jargon, a crawl artifact) and a
  // term spread evenly (grammatical glue) can share a count. DP(w) =
  // ½·Σ_parts |v_i − s_i| (v_i = word's proportion of its own mass in
  // part i, s_i = part's share of corpus tokens) ∈ [0, 1): 0 = perfectly
  // proportional, → 1 = concentrated in one tiny part. The curation
  // readout: high-DP high-frequency words flag source-specific
  // boilerplate the q75/q172 per-doc filters can't see (they look
  // inside docs, not across sources).
  //
  // Exactness: DP's fractions are cleared to the common denominator
  // F·T — each present part contributes |c_i·T − t_i·F| (exact BIGINT:
  // c ≤ F ≤ T, T² ≈ 10¹³ at sf0.1), ABSENT parts contribute t_i·F,
  // summed in closed form as F·(T − Σ_present t_i) — no per-(word ×
  // all-parts) fan-out, the sparse-representation trick. dp_milli =
  // 1000·num div (2·F·T), one non-negative truncating division.
  // BIGINT budget: F·T < 2⁶³ holds to ~3·10⁹-token corpora; past that
  // the sums move to the decimal/128-bit lane (q213 escape, documented).
  //
  // Scale: reads the source_word_counts silver (built once, shared with
  // q284); per-word stats are one map-combinable rollup; part totals
  // and the corpus total are |sources|-row broadcasts; final top-k is
  // TakeOrderedAndProject with the (dp, w) total tie-break.
  // ---------------------------------------------------------------------
  private val DispMinF = 100L
  private val DispTopK = 50

  private val q292 = QueryDef(
    "q292_word_dispersion",
    (spark, dir) => {
      import spark.implicits._
      val swc = sourceWordCounts(spark, dir)
      val parts = swc.groupBy($"source").agg(sum($"c").as("t_i"))
      val tot = parts.agg(sum($"t_i").as("bigT"))
      val wt = swc.groupBy($"w").agg(sum($"c").as("f"))
        .filter($"f" >= DispMinF)
      swc
        .join(broadcast(wt), "w")
        .join(broadcast(parts), "source")
        .crossJoin(broadcast(tot))
        .groupBy($"w", $"f", $"bigT")
        .agg(sum(abs($"c" * $"bigT" - $"t_i" * $"f")).as("sum_abs"),
          sum($"t_i").as("sum_ti"),
          count(lit(1)).as("n_present"))
        .withColumn("dp_num", $"sum_abs" + $"f" * ($"bigT" - $"sum_ti"))
        .withColumn("dp_milli",
          expr("(1000 * dp_num) div (2 * f * bigT)"))
        .select($"w", $"f", $"n_present", $"dp_milli")
        .orderBy($"dp_milli".desc, $"w")
        .limit(DispTopK)
    },
    Some(s"""
      WITH swc AS (
        SELECT source, w, count(*) AS c FROM (
          SELECT source, unnest(${Portable.tokensSql("lower(text)")}) AS w
          FROM documents)
        GROUP BY 1, 2),
      parts AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS t_i FROM swc GROUP BY 1),
      tot AS (SELECT CAST(sum(t_i) AS BIGINT) AS bigT FROM parts),
      wt AS (
        SELECT w, CAST(sum(c) AS BIGINT) AS f FROM swc
        GROUP BY 1 HAVING sum(c) >= $DispMinF),
      pr AS (
        SELECT s.w, wt.f, tot.bigT,
               CAST(sum(abs(s.c * tot.bigT - p.t_i * wt.f)) AS BIGINT)
                 AS sum_abs,
               CAST(sum(p.t_i) AS BIGINT) AS sum_ti,
               CAST(count(*) AS BIGINT) AS n_present
        FROM swc s
        JOIN wt ON wt.w = s.w
        JOIN parts p ON p.source = s.source
        CROSS JOIN tot
        GROUP BY s.w, wt.f, tot.bigT)
      SELECT w, f, n_present,
             (1000 * (sum_abs + f * (bigT - sum_ti))) // (2 * f * bigT)
               AS dp_milli
      FROM pr ORDER BY dp_milli DESC, w LIMIT $DispTopK"""))

  // ---------------------------------------------------------------------
  // q302 — GOPHER QUALITY-RULE CENSUS (Rae et al. 2021 §A1.1, the
  // multi-rule document filter every LLM-corpus pipeline runs before
  // training): unlike q29's single blended score, each named rule is a
  // SEPARATE column so the census shows WHICH rule rejects how much of
  // each source — the tuning surface curation teams actually look at.
  // Rules (thresholds set to discriminate on the fixture's 10–99-word
  // docs; the shape, not the constants, is the operator):
  //   r_words — word count outside [30, 80];
  //   r_mwl   — mean word length outside [4.0, 5.0] (double compare on
  //             exact integer counts, fixed order);
  //   r_alpha — alphabetic chars < 82% of all chars, as the EXACT
  //             integer predicate 50·alpha < 41·len (no division);
  //   r_stop  — fewer than 2 stopword hits (the|a|an|and|of).
  // A doc passes iff it violates NO rule. Pure per-row map work + one
  // per-source rollup — the q67/q273 linear-scan envelope at 100 TB.
  // ---------------------------------------------------------------------
  private val q302 = QueryDef(
    "q302_gopher_rules",
    (spark, dir) => {
      import spark.implicits._
      val scored = Tables.documents(spark, dir)
        .withColumn("n_words", size(Portable.tokens($"text")))
        .withColumn("alpha_chars",
          length(regexp_replace($"text", "[^A-Za-z]", "")))
        .withColumn("nospace_chars",
          length(regexp_replace($"text", "\\s", "")))
        .withColumn("stop_hits",
          size(regexp_extract_all($"text", lit("\\b(the|a|an|and|of)\\b"),
            lit(0))))
        .filter($"n_words" > 0)
        .withColumn("r_words", $"n_words" < 30 || $"n_words" > 80)
        .withColumn("mwl",
          $"nospace_chars".cast("double") / $"n_words".cast("double"))
        .withColumn("r_mwl", $"mwl" < 4.0 || $"mwl" > 5.0)
        .withColumn("r_alpha",
          lit(50L) * $"alpha_chars" < lit(41L) * length($"text"))
        .withColumn("r_stop", $"stop_hits" < 2)
        .withColumn("pass",
          !$"r_words" && !$"r_mwl" && !$"r_alpha" && !$"r_stop")
      scored.groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"r_words".cast("long")).as("v_words"),
          sum($"r_mwl".cast("long")).as("v_mwl"),
          sum($"r_alpha".cast("long")).as("v_alpha"),
          sum($"r_stop".cast("long")).as("v_stop"),
          sum($"pass".cast("long")).as("n_pass"),
          sum(when($"pass", $"doc_id").otherwise(0L)).as("pass_id_sum"))
        .orderBy($"source")
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id, source,
               len(${graft.functions.Portable.tokensSql("text")}) AS n_words,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
               length(regexp_replace(text, '\\s', '', 'g')) AS nospace_chars,
               len(regexp_extract_all(text, '\\b(the|a|an|and|of)\\b'))
                 AS stop_hits,
               length(text) AS n_chars_raw
        FROM documents),
      ruled AS (
        SELECT source, doc_id,
               (n_words < 30 OR n_words > 80) AS r_words,
               (CAST(nospace_chars AS DOUBLE) / CAST(n_words AS DOUBLE) < 4.0
                OR CAST(nospace_chars AS DOUBLE) / CAST(n_words AS DOUBLE) > 5.0)
                 AS r_mwl,
               50 * alpha_chars < 41 * n_chars_raw AS r_alpha,
               stop_hits < 2 AS r_stop
        FROM scored WHERE n_words > 0),
      flags AS (
        SELECT *, NOT r_words AND NOT r_mwl AND NOT r_alpha AND NOT r_stop
                 AS pass
        FROM ruled)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN r_words THEN 1 ELSE 0 END) AS BIGINT) AS v_words,
             CAST(sum(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS v_mwl,
             CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS v_alpha,
             CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS v_stop,
             CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             CAST(sum(CASE WHEN pass THEN doc_id ELSE 0 END) AS BIGINT)
               AS pass_id_sum
      FROM flags GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q304 — BPE ROUND-TRIP + OOV AUDIT: the tokenizer-release gate every
  // training pipeline runs before shipping a vocab — (a) DECODE is
  // lossless (concatenating the emitted tokens reproduces the word
  // exactly: BPE merges only ever join adjacent symbols, so a failure
  // means the merge chain corrupted a boundary), and (b) every emitted
  // token is IN-VOCABULARY (a single letter or one of the trained merge
  // outputs — any other string means encode invented a unit training
  // never produced). Both invariants are checked PER TOKEN corpus-wide
  // and censused per source; expected failures are zero, and the gate
  // hashes the counts so a drift in either engine's training or
  // application breaks the compare (the q119 discipline, pointed at the
  // decode direction). Per-row map work + one rollup — no new shuffle
  // class; the vocab is ~46 driver-held strings (model state).
  // ---------------------------------------------------------------------
  private val q304 = QueryDef(
    "q304_bpe_roundtrip",
    (spark, dir) => {
      import spark.implicits._
      val merges = trainBpe(spark, dir)
      val encExpr = merges.foldLeft(
        "concat(' ', regexp_replace(word, '(.)', '$1 '))")(
        (e, m) => mergeExprSql(e, m._2, m._3))
      val vocab = (('a' to 'z').map(_.toString) ++ merges.map(_._4)).distinct
      val toks = Tables.documents(spark, dir)
        .select($"source", explode(Portable.tokens($"text")).as("tok"))
        .select($"source", lower($"tok").as("word"))
        .filter($"word".rlike("^[a-z]+$"))
        .withColumn("seq", expr(encExpr))
        .withColumn("toks", split(trim($"seq"), " "))
        .withColumn("decoded", array_join($"toks", ""))
        .withColumn("rt_ok", $"decoded" === $"word")
        .withColumn("n_oov",
          size(filter($"toks", t => !t.isin(vocab: _*))))
      toks.groupBy($"source")
        .agg(
          count(lit(1)).as("n_words"),
          sum(size($"toks")).cast("long").as("n_tokens"),
          sum(when(!$"rt_ok", 1L).otherwise(0L)).as("n_roundtrip_fail"),
          sum($"n_oov".cast("long")).as("n_oov_tokens"),
          sum(Portable.md5Hash64($"decoded") % lit(Portable.P))
            .as("decoded_checksum"))
        .orderBy($"source")
    },
    Some {
      val encExpr = (1 to BpeRounds).foldLeft(
        "' ' || regexp_replace(word, '(.)', '\\1 ', 'g')") { (e, r) =>
        (1 to MergePasses).foldLeft(e)((e2, _) =>
          s"replace($e2, ' ' || (SELECT lhs FROM b$r) || ' ' || " +
            s"(SELECT rhs FROM b$r) || ' ', ' ' || (SELECT lhs FROM b$r) " +
            s"|| (SELECT rhs FROM b$r) || ' ')")
      }
      val letters = ('a' to 'z').map(c => s"'$c'").mkString(", ")
      val mergedVocab = (1 to BpeRounds)
        .map(r => s"SELECT lhs || rhs AS v FROM b$r").mkString(" UNION ")
      s"""
      WITH $bpeTrainCtes,
      vocab AS (SELECT unnest([$letters]) AS v UNION $mergedVocab),
      dw AS (
        SELECT source, lower(t) AS word FROM (
          SELECT source, unnest(${Portable.tokensSql("text")}) AS t
          FROM documents)),
      enc AS (
        SELECT source, word,
               string_split(trim($encExpr), ' ') AS toks
        FROM dw WHERE regexp_matches(word, '^[a-z]+$$')),
      aud AS (
        SELECT source, word, toks,
               array_to_string(toks, '') AS decoded
        FROM enc),
      oov AS (
        -- lambda bodies cannot hold subqueries in DuckDB, so the
        -- out-of-vocab count unnests to token grain and anti-filters
        SELECT source, CAST(count(*) AS BIGINT) AS n_oov
        FROM (SELECT source, unnest(toks) AS t FROM aud)
        WHERE t NOT IN (SELECT v FROM vocab)
        GROUP BY source),
      base AS (
        SELECT source, count(*) AS n_words,
               CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN decoded <> word THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_roundtrip_fail,
               CAST(sum(${Portable.md5Hash64Sql("decoded")} % ${Portable.P})
                 AS BIGINT) AS decoded_checksum
        FROM aud GROUP BY source)
      SELECT b.source, b.n_words, b.n_tokens, b.n_roundtrip_fail,
             CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov_tokens,
             b.decoded_checksum
      FROM base b LEFT JOIN oov o ON o.source = b.source
      ORDER BY b.source"""
    })

  override val defs: Seq[QueryDef] =
    Seq(q26, q27, q28, q29, q30, q58, q75, q117, q119, q172, q208, q213,
      q259,
      q214, q226, q275, q276, q284, q285, q292, q302, q304)
}
