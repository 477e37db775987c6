package graft.operators

import graft.{QueryDef, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The end-to-end corpus-curation pipeline (the 100 TB use case the
  * extension operators exist for): quality-filter → exact dedup →
  * MinHash near-dup removal → corpus stats, composed from the same
  * building blocks the standalone queries verify individually.
  *
  * Every stage is set-based: the quality filter is per-row map work, the
  * exact stage is one hash-groupBy, near-dup removal restricts the
  * LSH-verified pair set to survivors with semi-joins and drops the
  * higher doc_id of each pair (greedy-by-id — deterministic under
  * duplicate chains), and the final stats are one aggregation.
  */
object Curation extends QueryModule {

  // ---------------------------------------------------------------------
  // q61 — curation pipeline: per source, how many docs and tokens survive
  // each stage (emitted as survivors + drops per stage so the funnel is
  // visible and every number is oracle-checkable).
  // ---------------------------------------------------------------------
  private val q61 = QueryDef(
    "q61_curation_pipeline",
    (spark, dir) => {
      import spark.implicits._
      // stage 1: quality floor
      val quality = TextOps.withQuality(Tables.documents(spark, dir))
        .filter($"score" >= 0.6)
        .select($"doc_id", $"source", $"text", $"ws_tokens")
        .persist()
      // stage 2: exact dedup — keep the lowest doc_id per content hash
      val keepIds = quality.groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val exact = quality.join(keepIds, Seq("doc_id"), "left_semi").persist()
      // stage 3: near-dup removal — drop the higher id of every verified
      // pair whose BOTH endpoints survived the earlier stages
      val pairs = Dedup.nearDupPairs(spark, dir)
        .join(exact.select($"doc_id".as("i")), Seq("i"), "left_semi")
        .join(exact.select($"doc_id".as("j")), Seq("j"), "left_semi")
      val survivors = exact.join(
        pairs.select($"j".as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      val funnel = survivors
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"ws_tokens").as("n_tokens"),
          min($"doc_id").as("min_doc_id"),
          max($"doc_id").as("max_doc_id"))
      Scoped.materialize(quality, exact)(funnel).orderBy($"source")
    },
    Some(s"""
      WITH quality AS (${TextOps.qualitySql}),
      qfiltered AS (
        SELECT doc_id, source, text, ws_tokens FROM quality WHERE score >= 0.6),
      exact AS (
        SELECT * FROM qfiltered WHERE doc_id IN (
          SELECT min(doc_id) FROM qfiltered GROUP BY md5(text))),
      pairs AS (${Dedup.minhashOracle}),
      drops AS (
        SELECT DISTINCT p.j AS doc_id FROM pairs p
        WHERE p.i IN (SELECT doc_id FROM exact)
          AND p.j IN (SELECT doc_id FROM exact)),
      survivors AS (
        SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drops))
      SELECT source, count(*) AS n_docs,
             CAST(sum(ws_tokens) AS BIGINT) AS n_tokens,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      FROM survivors GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q64 — deterministic stratified downsampling: cap every source class at
  // ~TargetPerClass docs via a portable per-row hash test. keep iff
  // (h % 1e6) * n_class < target * 1e6 — pure integer arithmetic, so the
  // SAME rows are kept on any engine, any partitioning, any run; the class
  // sizes are a tiny broadcast-back aggregate (one pass + map-side filter,
  // no sort, no sample() nondeterminism).
  // ---------------------------------------------------------------------
  private val TargetPerClass = 120L
  private val q64 = QueryDef(
    "q64_stratified_sample",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n_class"))
      docs.join(broadcast(sizes), Seq("source"))
        .filter(
          pmod(graft.functions.Portable.md5Hash64($"doc_id".cast("string")),
            lit(1000000L)) * $"n_class" < lit(TargetPerClass * 1000000L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_sampled"),
          min($"doc_id").as("min_doc_id"),
          max($"doc_id").as("max_doc_id"),
          max($"n_class").as("n_class"))
        .orderBy($"source")
    },
    Some(s"""
      WITH sizes AS (
        SELECT source, count(*) AS n_class FROM documents GROUP BY source),
      kept AS (
        SELECT d.*, s.n_class
        FROM documents d JOIN sizes s USING (source)
        WHERE (${graft.functions.Portable.md5Hash64Sql("CAST(doc_id AS VARCHAR)")} % 1000000)
                * n_class < ${TargetPerClass} * 1000000)
      SELECT source, count(*) AS n_sampled,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
             max(n_class) AS n_class
      FROM kept GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q67 — PII scrub: email/phone patterns redacted corpus-wide, with an
  // audit row per source (docs touched, matches removed, checksum of the
  // scrubbed text). The fixture corpus carries no PII, so the query first
  // plants a deterministic contact suffix per doc — the operator under
  // test is the scrub + audit, which must then remove exactly one email
  // and one phone per doc on any engine. Pure per-row map work: no
  // shuffle beyond the final per-source audit aggregate.
  // ---------------------------------------------------------------------
  private val EmailRe = "[A-Za-z0-9.+_-]+@[A-Za-z0-9-]+\\.[A-Za-z.]+"
  private val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"
  private val q67 = QueryDef(
    "q67_pii_scrub",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val planted = Tables.documents(spark, dir)
        .withColumn("text2",
          concat($"text", lit(" contact u"), $"doc_id",
            lit("@mail.example tel 555-"), lpad(pmod($"doc_id", lit(1000)).cast("string"), 3, "0"),
            lit("-"), lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")))
      planted
        .withColumn("n_emails", size(regexp_extract_all($"text2", lit(EmailRe), lit(0))))
        .withColumn("n_phones", size(regexp_extract_all($"text2", lit(PhoneRe), lit(0))))
        .withColumn("clean",
          regexp_replace(regexp_replace($"text2", EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_emails").as("emails_redacted"),
          sum($"n_phones").as("phones_redacted"),
          sum(when($"clean".contains("<EMAIL>") && $"clean".contains("<PHONE>"), 1L)
            .otherwise(0L)).as("n_docs_clean_marked"),
          sum(Portable.md5Hash64($"clean") % lit(Portable.P)).as("corpus_checksum"))
        .orderBy($"source")
    },
    Some(s"""
      WITH planted AS (
        SELECT source,
               text || ' contact u' || doc_id || '@mail.example tel 555-' ||
                 lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
        FROM documents),
      scrubbed AS (
        SELECT source,
               len(regexp_extract_all(text2, '$EmailRe')) AS n_emails,
               len(regexp_extract_all(text2, '$PhoneRe')) AS n_phones,
               regexp_replace(regexp_replace(text2, '$EmailRe', '<EMAIL>', 'g'),
                 '$PhoneRe', '<PHONE>', 'g') AS clean
        FROM planted)
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_emails) AS BIGINT) AS emails_redacted,
             CAST(sum(n_phones) AS BIGINT) AS phones_redacted,
             CAST(sum(CASE WHEN contains(clean, '<EMAIL>') AND contains(clean, '<PHONE>')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_clean_marked,
             CAST(sum(${graft.functions.Portable.md5Hash64Sql("clean")} % ${graft.functions.Portable.P}) AS BIGINT)
               AS corpus_checksum
      FROM scrubbed GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q68 — token-window chunking: every doc split into ≤64-token windows
  // with 8-token overlap (stride 56) — the packing step before tokenizer
  // training / context assembly. One generate per doc (explode of the
  // chunk-start sequence), no shuffle until the audit aggregate; chunk
  // text round-trips as a portable hash so the compare covers content,
  // not just counts.
  // ---------------------------------------------------------------------
  private val ChunkLen = 64
  private val ChunkStride = 56

  /** Chunk a (doc_id, text) frame into ≤chunkLen-token windows advancing by
    * `stride` tokens (overlap = chunkLen − stride). Exposed for the
    * coverage/overlap invariant tests in `TemporalCurationSpec`.
    */
  private[operators] def chunked(
      docs: org.apache.spark.sql.DataFrame,
      chunkLen: Int = ChunkLen,
      stride: Int = ChunkStride): org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.Portable
    docs
      .withColumn("w", Portable.tokens($"text"))
      .withColumn("n", size($"w"))
      .filter($"n" > 0)
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          greatest(ceil(($"n" - lit(chunkLen)).cast("double") / stride).cast("int"), lit(0)))))
      .withColumn("chunk_words",
        slice($"w", $"chunk_id" * stride + 1, lit(chunkLen)))
      .withColumn("n_chunk_tokens", size($"chunk_words"))
      .withColumn("chunk_hash", Portable.md5Hash64(array_join($"chunk_words", " ")))
  }

  private val q68 = QueryDef(
    "q68_chunk_docs",
    (spark, dir) => {
      import spark.implicits._
      chunked(Tables.documents(spark, dir))
        .select($"doc_id", $"chunk_id", $"n_chunk_tokens", $"chunk_hash")
        .orderBy($"doc_id", $"chunk_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS w,
               len(${graft.functions.Portable.tokensSql("text")}) AS n
        FROM documents),
      chunks AS (
        SELECT doc_id, n, w,
               unnest(range(0, greatest(CAST(ceil(CAST(n - $ChunkLen AS DOUBLE) / $ChunkStride) AS INT), 0) + 1)) AS chunk_id
        FROM toks WHERE n > 0)
      SELECT doc_id, chunk_id,
             len(w[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen]) AS n_chunk_tokens,
             ${graft.functions.Portable.md5Hash64Sql(
               s"array_to_string(w[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen], ' ')")} AS chunk_hash
      FROM chunks ORDER BY doc_id, chunk_id"""))

  // ---------------------------------------------------------------------
  // q69 — benchmark decontamination: docs whose word-8-grams collide with
  // the held-out "benchmark" slice (doc_id % 50 = 0) are flagged. The
  // check is one equi-join on the shingle hash — shuffle keyed by
  // shingle, candidate set linear in true overlap, never O(n²); the
  // benchmark side would broadcast at real scale.
  // ---------------------------------------------------------------------
  private val DecontamN = 8
  private val q69 = QueryDef(
    "q69_decontaminate",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val grams = Tables.documents(spark, dir)
        .withColumn("w", Portable.tokens($"text"))
        .select($"doc_id", $"source",
          explode(array_distinct(transform(
            sequence(lit(1), greatest(size($"w") - (DecontamN - 1), lit(1))),
            i => Portable.md5Hash64(
              array_join(slice($"w", i, lit(DecontamN)), " "))))).as("g"))
      val bench = grams.filter($"doc_id" % 50 === 0).select($"g").distinct()
      val train = grams.filter($"doc_id" % 50 =!= 0)
      val contaminated = train.join(bench, Seq("g"), "left_semi")
        .select($"doc_id").distinct()
      Tables.documents(spark, dir)
        .filter($"doc_id" % 50 =!= 0)
        .join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_train"),
          sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
        .orderBy($"source")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source, ${graft.functions.Portable.tokensSql("text")} AS w
        FROM documents),
      grams AS (
        SELECT doc_id, source, unnest(list_distinct(
          [${graft.functions.Portable.md5Hash64Sql(
             s"array_to_string(w[i : i + ${DecontamN - 1}], ' ')")}
           for i in range(1, greatest(len(w) - ${DecontamN - 1}, 1) + 1)])) AS g
        FROM toks),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
      contaminated AS (
        SELECT DISTINCT doc_id FROM grams
        WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
      SELECT d.source, count(*) AS n_train,
             CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated
      FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
      WHERE d.doc_id % 50 <> 0
      GROUP BY d.source ORDER BY d.source"""))

  // ---------------------------------------------------------------------
  // q111 — deterministic corpus shuffle + shard manifest: the export step
  // of a training-data pipeline. Training order must be pseudorandom but
  // REPRODUCIBLE, so the permutation key is a salted portable hash of the
  // doc id (never `rand()` — non-reseedable across retries/engines), and
  // shard assignment is hash mod nShards. The query emits the per-shard
  // manifest (doc/token counts, order-hash extents, a content checksum,
  // and the hash-order boundary docs) that an exporter writes next to the
  // shard files; the write itself is `.write.partitionBy("shard")` on the
  // same frame. Scale shape: per-row map work + ONE shuffle (the shard
  // groupBy) — the sort-by-hash happens per shard file at write time, not
  // globally.
  // ---------------------------------------------------------------------
  private val ShuffleSalt = "shuf42:"
  private val NShards = 8
  private val q111 = QueryDef(
    "q111_shuffle_shards",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      Tables.documents(spark, dir)
        .withColumn("order_hash",
          Portable.md5Hash64(concat(lit(ShuffleSalt), $"doc_id".cast("string"))))
        .withColumn("shard", pmod($"order_hash", lit(NShards.toLong)))
        .withColumn("n_tokens", size(Portable.tokens($"text")).cast("long"))
        .groupBy($"shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("n_tokens"),
          min($"order_hash").as("min_hash"),
          max($"order_hash").as("max_hash"),
          // residues are summed in DECIMAL(38,0) — a Long sum of <1e9
          // residues silently overflows past ~9e9 rows per shard, while
          // the DuckDB oracle sums in HUGEINT; decimal holds to ~1e29 rows
          pmod(sum(pmod(Portable.md5Hash64($"text"), lit(Portable.P))
              .cast("decimal(38,0)")),
            lit(Portable.P).cast("decimal(38,0)"))
            .cast("long").as("doc_checksum"),
          min_by($"doc_id", $"order_hash").as("first_doc_id"),
          max_by($"doc_id", $"order_hash").as("last_doc_id"))
        .orderBy($"shard")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, text,
               ${graft.functions.Portable.md5Hash64Sql(
                 s"'$ShuffleSalt' || CAST(doc_id AS VARCHAR)")} AS order_hash,
               len(${graft.functions.Portable.tokensSql("text")}) AS n_tokens
        FROM documents)
      SELECT order_hash % $NShards AS shard,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             min(order_hash) AS min_hash,
             max(order_hash) AS max_hash,
             CAST(sum(${graft.functions.Portable.md5Hash64Sql("text")}
               % ${graft.functions.Portable.P}) % ${graft.functions.Portable.P}
               AS BIGINT) AS doc_checksum,
             arg_min(doc_id, order_hash) AS first_doc_id,
             arg_max(doc_id, order_hash) AS last_doc_id
      FROM h GROUP BY 1 ORDER BY shard"""))

  // ---------------------------------------------------------------------
  // q112 — source-weighted mixture (data mixing / epoch weights): each
  // source gets a fractional epoch weight (e.g. 2.5 = two full copies plus
  // a deterministic 50% sample of a third) — the standard way training
  // mixes up-weight high-quality sources. Weights are exact integer
  // millis; the fractional copy is chosen by salted hash, so the mixture
  // is reproducible row-by-row across engines and retries. The query
  // materializes the actual duplicated rows (array_repeat → explode — a
  // generator, zero shuffle) and aggregates the per-source manifest the
  // oracle recomputes in closed form.
  // ---------------------------------------------------------------------
  private val MixSalt = "mix42:"
  private val q112 = QueryDef(
    "q112_source_mixture",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val docs = Tables.documents(spark, dir)
        // weight class from the numeric source suffix: srcN → N % 4
        .withColumn("w_milli",
          element_at(
            array(lit(2500L), lit(1000L), lit(500L), lit(1500L)),
            (substring($"source", 4, 10).cast("int") % 4) + 1))
        .withColumn("extra",
          when(pmod(Portable.md5Hash64(
            concat(lit(MixSalt), $"doc_id".cast("string"))), lit(1000L))
            < $"w_milli" % 1000L, 1L).otherwise(0L))
        .withColumn("n_copies", floor($"w_milli" / 1000L).cast("long") + $"extra")
      docs
        .withColumn("copy", explode(array_repeat(lit(1), $"n_copies".cast("int"))))
        .groupBy($"source")
        .agg(count(lit(1)).as("mixture_docs"))
        .join(docs.groupBy($"source")
          .agg(count(lit(1)).as("input_docs"), max($"w_milli").as("weight_milli")),
          Seq("source"), "right")
        .select($"source", $"input_docs", $"weight_milli",
          coalesce($"mixture_docs", lit(0L)).as("mixture_docs"))
        .orderBy($"source")
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, source,
               CASE CAST(substr(source, 4) AS INT) % 4
                 WHEN 0 THEN 2500 WHEN 1 THEN 1000
                 WHEN 2 THEN 500 ELSE 1500 END AS w_milli
        FROM documents),
      c AS (
        SELECT source, w_milli,
               w_milli // 1000 +
               CASE WHEN ${graft.functions.Portable.md5Hash64Sql(
                 s"'$MixSalt' || CAST(doc_id AS VARCHAR)")} % 1000
                 < w_milli % 1000 THEN 1 ELSE 0 END AS n_copies
        FROM w)
      SELECT source, count(*) AS input_docs,
             CAST(max(w_milli) AS BIGINT) AS weight_milli,
             CAST(sum(n_copies) AS BIGINT) AS mixture_docs
      FROM c GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q129 — DSIR-style importance selection (Xie et al. 2023, "Data
  // Selection for Language Models via Importance Resampling"): documents
  // are scored by how much more likely their hashed-BIGRAM features are
  // under the TARGET distribution (here the lang='en' slice) than under
  // the raw corpus, and selection keeps docs with positive importance —
  // "more target-like than corpus-like". Bigrams, not unigrams, exactly
  // as in the paper — and measurably: this corpus's languages share one
  // unigram vocabulary (unigram ratios carry zero signal; an earlier
  // unigram variant separated nothing) while their Markov transition
  // structure differs, which is what hashed bigrams capture.
  //
  // The log-likelihood-ratio is exact-integer throughout (the hash-gate
  // discipline): per feature bucket b the smoothed ratio is
  // cross-multiplied FIRST and floored ONCE —
  //   w[b] = bitlen((ct[b]+1)·(Nr+1)) − bitlen((cr[b]+1)·(Nt+1))
  // ≈ log₂ of the add-one-smoothed probability ratio, via base-2
  // digit-string length (Spark `conv(x,10,2)`, DuckDB `format('{:b}',x)`
  // — the q120 discipline). Flooring each log term separately loses a
  // systematic ~1 bit per token (enough to flip every target doc's sign,
  // which the separation spec caught); the single-comparison form has
  // ±0.5-bit error with no systematic drift. Products stay ≤ ~10¹⁸ even
  // at 10⁹-instance corpora per bucket, inside int64. A doc's importance
  // is the SUM of its instances' bucket weights. Scale shape: feature hashing keeps the
  // weight table at a FIXED 4096 buckets however large the vocabulary —
  // two count aggregations over token instances, then the bucket weights
  // and instance totals broadcast (≤4096 rows + 1 row) into a map-side
  // join; per-doc scoring is one groupBy(doc_id). Nothing in the plan
  // grows with vocabulary size.
  // ---------------------------------------------------------------------
  private val q129 = QueryDef(
    "q129_dsir_importance",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val B = 4096
      val inst = Tables.documents(spark, dir)
        .withColumn("w", Portable.tokens(lower($"text")))
        .filter(size($"w") >= 2)
        .select($"doc_id", $"lang",
          explode(transform(
            sequence(lit(1), size($"w") - 1),
            i => concat(element_at($"w", i), lit(" "), element_at($"w", i + 1)))).as("g"))
        .withColumn("b", pmod(Portable.md5Hash64($"g"), lit(B.toLong)))
        .select($"doc_id", $"lang", $"b")
      val cr = inst.groupBy($"b").agg(count(lit(1)).as("cr"))
      val ct = inst.filter($"lang" === "en")
        .groupBy($"b").agg(count(lit(1)).as("ct"))
      val totals = inst.agg(
        count(lit(1)).as("nr"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("nt"))
      // bucket spine = buckets observed in the corpus (a bucket no doc
      // touches can never be scored); add-one smoothing covers ct=0
      val weights = cr.join(ct, Seq("b"), "left")
        .na.fill(0L, Seq("ct"))
        .crossJoin(broadcast(totals))
        .withColumn("w",
          (length(conv(($"ct" + 1) * ($"nr" + 1), 10, 2)) -
            length(conv(($"cr" + 1) * ($"nt" + 1), 10, 2))).cast("long"))
        .select($"b", $"w")
      val perDoc = inst
        .join(broadcast(weights), "b") // ≤4096 rows: map-side, no shuffle
        .groupBy($"doc_id", $"lang")
        .agg(sum($"w").as("importance"), count(lit(1)).as("n_toks"))
      perDoc
        .withColumn("kept", ($"importance" > 0).cast("boolean"))
        .groupBy($"lang", $"kept")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"importance").as("sum_importance"),
          sum($"n_toks").as("sum_toks"))
        .orderBy($"lang", $"kept")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang, w FROM (
          SELECT doc_id, lang,
                 ${graft.functions.Portable.tokensSql("lower(text)")} AS w
          FROM documents)
        WHERE len(w) >= 2),
      inst AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS b
        FROM (SELECT doc_id, lang,
                     unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
              FROM toks)),
      cr AS (SELECT b, count(*) AS cr FROM inst GROUP BY b),
      ct AS (SELECT b, count(*) AS ct FROM inst WHERE lang = 'en' GROUP BY b),
      tot AS (SELECT count(*) AS nr,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
              FROM inst),
      w AS (
        SELECT cr.b,
               CAST(length(format('{:b}', (COALESCE(ct.ct, 0) + 1) * (tot.nr + 1)))
                  - length(format('{:b}', (cr.cr + 1) * (tot.nt + 1))) AS BIGINT) AS w
        FROM cr LEFT JOIN ct ON cr.b = ct.b, tot),
      perdoc AS (
        SELECT i.doc_id, i.lang,
               CAST(sum(w.w) AS BIGINT) AS importance,
               count(*) AS n_toks
        FROM inst i JOIN w ON i.b = w.b
        GROUP BY 1, 2)
      SELECT lang, importance > 0 AS kept, count(*) AS n_docs,
             CAST(sum(importance) AS BIGINT) AS sum_importance,
             CAST(sum(n_toks) AS BIGINT) AS sum_toks
      FROM perdoc GROUP BY 1, 2 ORDER BY lang, kept"""))

  // ---------------------------------------------------------------------
  // q134 — token-budget apportionment (largest-remainder / Hamilton
  // method): a training run has a GLOBAL token budget; each source gets
  // floor(B·n_s / N) tokens, and the leftover B − Σfloor goes one token
  // at a time to the largest fractional remainders (ties broken by
  // source name — total order, so the allocation is unique). This is the
  // mixture-PLANNING step upstream of q112's mixture execution: exact
  // integers end-to-end, Σ alloc == B by construction (spec-asserted).
  // Scale shape: one aggregate over the corpus to get per-source counts
  // (sources are bounded — thousands, not corpus-sized), a 1-row totals
  // broadcast, and a rank window over the tiny source frame.
  // ---------------------------------------------------------------------
  private val BudgetTokens = 1000000L

  /** SILVER: per-source corpus token totals (the engine-wide chars-div-4
    * proxy) — the |sources|-row frame both apportionment queries (q134
    * Hamilton, q194 α-smoothed) plan from. Promoted by the
    * SharedSubtreeSpec audit: each planned the same full-corpus rollup.
    */
  private[operators] def sourceTokens(
      spark: org.apache.spark.sql.SparkSession, dir: String) =
    Scoped.shared(spark, s"source_tokens:$dir")({
      import spark.implicits._
      (Nil, Tables.documents(spark, dir)
        .groupBy($"source")
        .agg(sum(expr("n_chars div 4")).as("n_tokens")))
    })

  private val q134 = QueryDef(
    "q134_token_budget",
    (spark, dir) => {
      import spark.implicits._
      val perSource = sourceTokens(spark, dir)
      val totals = perSource.agg(sum($"n_tokens").as("total"))
      val floored = perSource.crossJoin(broadcast(totals))
        .withColumn("floor_alloc", expr(s"($BudgetTokens * n_tokens) div total"))
        .withColumn("remainder", expr(s"($BudgetTokens * n_tokens) % total"))
      val leftover = floored.agg(
        (lit(BudgetTokens) - sum($"floor_alloc")).as("leftover"))
      val w = Window.orderBy($"remainder".desc, $"source")
      floored.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(w))
        .withColumn("alloc",
          $"floor_alloc" + when($"rk" <= $"leftover", 1L).otherwise(0L))
        .select($"source", $"n_tokens", $"floor_alloc", $"remainder", $"alloc")
        .orderBy($"source")
    },
    Some(s"""
      WITH per_source AS (
        SELECT source, CAST(sum(n_chars // 4) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per_source),
      floored AS (
        SELECT source, n_tokens,
               ($BudgetTokens * n_tokens) // total AS floor_alloc,
               ($BudgetTokens * n_tokens) % total AS remainder
        FROM per_source, tot),
      lo AS (SELECT $BudgetTokens - CAST(sum(floor_alloc) AS BIGINT) AS leftover
             FROM floored),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY remainder DESC, source) AS rk
        FROM floored)
      SELECT source, n_tokens,
             CAST(floor_alloc AS BIGINT) AS floor_alloc,
             CAST(remainder AS BIGINT) AS remainder,
             CAST(floor_alloc + CASE WHEN rk <= lo.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      FROM ranked, lo ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q315 — NEYMAN-ALLOCATION STRATIFIED SAMPLE (Neyman 1934): q64 caps
  // every stratum uniformly and q199 takes a flat per-group sample;
  // the survey-sampling OPTIMAL design allocates a global budget B
  // across strata ∝ N_h·σ_h (minimum-variance estimator of the corpus
  // mean for fixed B) — big AND volatile strata get more rows. The
  // variance signal here is doc length (n_chars): σ_h from exact
  // integer moments through ONE fixed-order double expression,
  // floor-quantized to an integer milli-weight N_h·σ_h BEFORE any
  // cross-stratum arithmetic (the house no-float-agg rule), then the
  // q134 largest-remainder integerization apportions B exactly
  // (Σ alloc = B, ties on (remainder desc, source) — unique), and each
  // stratum's rows are picked by salted-hash rank (the q199 stable-
  // sample discipline: engine-, run- and partitioning-invariant).
  // Output: one row per sampled doc with its stratum's allocation
  // arithmetic attached.
  // Scale: one map-combinable 3-moment aggregate over the corpus, a
  // |sources|-row allocation frame (global largest-remainder window —
  // exempt, ≤ |sources| rows), and a rank-limited per-source hash
  // window (literal rn ≤ B cap → WindowGroupLimit: each partition
  // buffers ≤ B rows regardless of stratum size) before the dynamic
  // rn ≤ alloc cut.
  // ---------------------------------------------------------------------
  private val NeyBudget = 64L

  private val q315 = QueryDef(
    "q315_neyman_sample",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val x = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"n_chars")
      val mo = x.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("s"),
          sum($"n_chars" * $"n_chars").as("q"))
        .filter($"n_docs" >= 2L)
        .withColumn("sd",
          sqrt(($"n_docs" * $"q" - $"s" * $"s").cast("double") /
            ($"n_docs" * ($"n_docs" - 1L)).cast("double")))
        .withColumn("w_milli",
          floor(lit(1000.0) * $"n_docs".cast("double") * $"sd").cast("long"))
      val tot = mo.agg(sum($"w_milli").as("tot"))
      val floored = mo.crossJoin(broadcast(tot))
        .withColumn("floor_alloc", expr(s"($NeyBudget * w_milli) div tot"))
        .withColumn("remainder", expr(s"($NeyBudget * w_milli) % tot"))
      val leftover = floored.agg(
        (lit(NeyBudget) - sum($"floor_alloc")).as("leftover"))
      val wR = Window.orderBy($"remainder".desc, $"source")
      val alloc = floored.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(wR))
        .withColumn("alloc",
          $"floor_alloc" + when($"rk" <= $"leftover", 1L).otherwise(0L))
        .select($"source", $"n_docs", $"w_milli", $"alloc")
      val wS = Window.partitionBy($"source").orderBy($"hk", $"doc_id")
      x.withColumn("hk", Portable.md5Hash64(
          concat(lit("ney|"), $"doc_id".cast("string"))))
        .withColumn("rn", row_number().over(wS).cast("long"))
        .filter($"rn" <= NeyBudget) // literal cap → WindowGroupLimit
        .join(broadcast(alloc), "source")
        .filter($"rn" <= $"alloc")
        .select($"source", $"rn", $"doc_id", $"n_chars", $"n_docs",
          $"w_milli", $"alloc")
        .orderBy($"source", $"rn")
    },
    Some(s"""
      WITH mo AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS s,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS q
        FROM documents GROUP BY source HAVING count(*) >= 2),
      wgt AS (
        SELECT source, n_docs,
               CAST(floor(CAST('1000.0' AS DOUBLE) * CAST(n_docs AS DOUBLE)
                 * sqrt(CAST(n_docs * q - s * s AS DOUBLE)
                   / CAST(n_docs * (n_docs - 1) AS DOUBLE))) AS BIGINT)
                 AS w_milli
        FROM mo),
      tot AS (SELECT CAST(sum(w_milli) AS BIGINT) AS tot FROM wgt),
      floored AS (
        SELECT source, n_docs, w_milli,
               ($NeyBudget * w_milli) // tot AS floor_alloc,
               ($NeyBudget * w_milli) % tot AS remainder
        FROM wgt, tot),
      lo AS (SELECT $NeyBudget - CAST(sum(floor_alloc) AS BIGINT)
               AS leftover FROM floored),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY remainder DESC, source)
          AS rk
        FROM floored),
      alloc AS (
        SELECT source, n_docs, w_milli,
               CAST(floor_alloc + CASE WHEN rk <= lo.leftover THEN 1
                 ELSE 0 END AS BIGINT) AS alloc
        FROM ranked, lo),
      h AS (
        SELECT source, doc_id, n_chars,
               ${graft.functions.Portable.md5Hash64Sql(
                 "'ney|' || CAST(doc_id AS VARCHAR)")} AS hk
        FROM documents),
      r AS (
        SELECT source, doc_id, n_chars,
               CAST(row_number() OVER (
                 PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rn
        FROM h)
      SELECT r.source, r.rn, r.doc_id, r.n_chars, a.n_docs, a.w_milli,
             a.alloc
      FROM r JOIN alloc a ON a.source = r.source
      WHERE r.rn <= $NeyBudget AND r.rn <= a.alloc
      ORDER BY r.source, r.rn"""))

  // ---------------------------------------------------------------------
  // q316 — POPULATION STABILITY INDEX drift census (the credit-risk /
  // production-ML drift metric, PSI = Σ (p_A − p_B)·ln(p_A/p_B)): is a
  // corpus slice's doc-length profile stable between two cohorts? The
  // cohorts are a deterministic salted-hash A/B split of each source's
  // docs (the q199 hash discipline — partitioning/run/engine invariant,
  // no RNG), the variable is binned doc length (n_chars div 256 — a
  // value-domain grid, the q135 discipline), and empty-bin blowup is
  // handled by add-one smoothing over the source's observed bin count.
  // Exactness: bin counts are exact integers; each bin's PSI term is
  // ONE fixed-order double expression over those integers (two
  // divisions, one ln — the q305/q306 precedent) floor-quantized to
  // micro BEFORE the per-source sum, so no float is ever aggregated
  // (term ≥ 0 always: (p_A−p_B) and ln(p_A/p_B) share sign). The class
  // thresholds are the industry-standard 0.10/0.25 applied to the
  // integer micro value. An identical-distribution split reads ~0;
  // the hash split makes this the NULL-calibration census a drift
  // monitor is validated against before pointing it at release pairs.
  // PSI's known small-sample bias (add-one smoothing over few docs
  // inflates every term) is surfaced, not hidden: the `adequate` flag
  // requires ≥ 25 docs per bin per cohort (the practitioner floor),
  // and the class is only a calibrated verdict where adequate = 1 —
  // the spec's null-calibration assertion is scoped exactly there.
  // Scale: one (source, bin) grid rollup + a broadcast |sources|-row
  // totals join + one per-source rollup — all map-combinable, no
  // windows, no joins beyond the broadcast.
  // ---------------------------------------------------------------------
  private val PsiBinChars = 256L

  private val q316 = QueryDef(
    "q316_psi_drift",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val binned = Tables.documents(spark, dir)
        .withColumn("bin", expr(s"n_chars div $PsiBinChars"))
        .withColumn("grp", Portable.md5Hash64(
          concat(lit("psi|"), $"doc_id".cast("string"))) % 2)
        .groupBy($"source", $"bin")
        .agg(sum(when($"grp" === 0L, 1L).otherwise(0L)).as("c_a"),
          sum(when($"grp" === 1L, 1L).otherwise(0L)).as("c_b"))
      val totals = binned.groupBy($"source")
        .agg(sum($"c_a").as("n_a"), sum($"c_b").as("n_b"),
          count(lit(1)).as("k"))
      val terms = binned.join(broadcast(totals), "source")
        .withColumn("pa",
          ($"c_a" + 1L).cast("double") / ($"n_a" + $"k").cast("double"))
        .withColumn("pb",
          ($"c_b" + 1L).cast("double") / ($"n_b" + $"k").cast("double"))
        .withColumn("term_micro",
          floor(lit(1e6) * ($"pa" - $"pb") * log($"pa" / $"pb"))
            .cast("long"))
      terms.groupBy($"source", $"n_a", $"n_b", $"k")
        .agg(sum($"term_micro").as("psi_micro"),
          max($"term_micro").as("top_term_micro"),
          max_by($"bin", struct($"term_micro", -$"bin")).as("top_bin"))
        .withColumn("drift_class",
          when($"psi_micro" < 100000L, "stable")
            .when($"psi_micro" < 250000L, "shifting")
            .otherwise("drifted"))
        .withColumn("adequate",
          when(least($"n_a", $"n_b") >= lit(25L) * $"k", 1L).otherwise(0L))
        .select($"source", $"n_a", $"n_b", $"k".as("n_bins"),
          $"psi_micro", $"top_bin", $"top_term_micro", $"drift_class",
          $"adequate")
        .orderBy($"source")
    },
    Some(s"""
      WITH binned AS (
        SELECT source, n_chars // $PsiBinChars AS bin,
               CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_a,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_b
        FROM (
          SELECT source, n_chars,
                 ${graft.functions.Portable.md5Hash64Sql(
                   "'psi|' || CAST(doc_id AS VARCHAR)")} % 2 AS grp
          FROM documents)
        GROUP BY 1, 2),
      totals AS (
        SELECT source, CAST(sum(c_a) AS BIGINT) AS n_a,
               CAST(sum(c_b) AS BIGINT) AS n_b,
               CAST(count(*) AS BIGINT) AS k
        FROM binned GROUP BY 1),
      terms AS (
        SELECT b.source, b.bin, t.n_a, t.n_b, t.k,
               CAST(floor(1e6
                 * (CAST(b.c_a + 1 AS DOUBLE) / CAST(t.n_a + t.k AS DOUBLE)
                    - CAST(b.c_b + 1 AS DOUBLE) / CAST(t.n_b + t.k AS DOUBLE))
                 * ln((CAST(b.c_a + 1 AS DOUBLE) / CAST(t.n_a + t.k AS DOUBLE))
                      / (CAST(b.c_b + 1 AS DOUBLE) / CAST(t.n_b + t.k AS DOUBLE))))
                 AS BIGINT) AS term_micro
        FROM binned b JOIN totals t ON t.source = b.source),
      rolled AS (
        SELECT source, n_a, n_b, k AS n_bins,
               CAST(sum(term_micro) AS BIGINT) AS psi_micro,
               CAST(max(term_micro) AS BIGINT) AS top_term_micro,
               -((max(struct_pack(tm := term_micro, nb := -bin))).nb)
                 AS top_bin
        FROM terms GROUP BY 1, 2, 3, 4)
      SELECT source, n_a, n_b, n_bins, psi_micro,
             CAST(top_bin AS BIGINT) AS top_bin, top_term_micro,
             CASE WHEN psi_micro < 100000 THEN 'stable'
                  WHEN psi_micro < 250000 THEN 'shifting'
                  ELSE 'drifted' END AS drift_class,
             CAST(CASE WHEN least(n_a, n_b) >= 25 * n_bins THEN 1
               ELSE 0 END AS BIGINT) AS adequate
      FROM rolled ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q318 — SFT LOSS-MASK CONSTRUCTION: the supervised-fine-tuning data
  // prep step between q308's template audit and q106's packing — turn
  // each (prompt, response) example into the training pair (input
  // sequence, label sequence) where PROMPT positions are masked out of
  // the loss (the -100 ignore-index convention) and RESPONSE positions
  // carry their token. Examples derive deterministically from the
  // corpus (prompt = the doc's first 40 chars, response = the next 40 —
  // real text on both sides, no RNG); the label sequence is
  // materialized positionally (each prompt slot replaced by the "-100"
  // sentinel, then the response tokens) and pinned by the
  // order-sensitive rolling hash, so a masking bug that shifts, drops
  // or unmasks a single position changes the gated value. mask_ratio
  // is exact integer milli. Whitespace-token granularity: template /
  // special tokens ride the same per-position rule downstream.
  // Scale: one map-only pass over documents — no shuffle at all until
  // the final presentation sort.
  // ---------------------------------------------------------------------
  private val q318 = QueryDef(
    "q318_sft_loss_mask",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      Tables.documents(spark, dir)
        .filter(length($"text") > 40)
        .withColumn("p_toks", Portable.tokens(substring($"text", 1, 40)))
        .withColumn("r_toks", Portable.tokens(substring($"text", 41, 40)))
        .filter(size($"r_toks") > 0)
        .withColumn("labels",
          concat(transform($"p_toks", _ => lit("-100")), $"r_toks"))
        .withColumn("n_prompt", size($"p_toks").cast("long"))
        .withColumn("n_resp", size($"r_toks").cast("long"))
        .withColumn("n_total", $"n_prompt" + $"n_resp")
        .withColumn("mask_ratio_milli",
          expr("(1000 * n_prompt) div n_total"))
        .withColumn("labels_hash", Portable.rollingHash($"labels"))
        .withColumn("resp_hash", Portable.rollingHash($"r_toks"))
        .select($"doc_id", $"source", $"n_prompt", $"n_resp", $"n_total",
          $"mask_ratio_milli", $"labels_hash", $"resp_hash")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH ex AS (
        SELECT doc_id, source,
               ${graft.functions.Portable.tokensSql(
                 "substring(text, 1, 40)")} AS p_toks,
               ${graft.functions.Portable.tokensSql(
                 "substring(text, 41, 40)")} AS r_toks
        FROM documents WHERE length(text) > 40),
      built AS (
        SELECT doc_id, source,
               list_concat(list_transform(p_toks, x -> '-100'), r_toks)
                 AS labels,
               CAST(len(p_toks) AS BIGINT) AS n_prompt,
               CAST(len(r_toks) AS BIGINT) AS n_resp,
               r_toks
        FROM ex WHERE len(r_toks) > 0)
      SELECT doc_id, source, n_prompt, n_resp,
             n_prompt + n_resp AS n_total,
             (1000 * n_prompt) // (n_prompt + n_resp) AS mask_ratio_milli,
             ${graft.functions.Portable.rollingHashSql("labels")}
               AS labels_hash,
             ${graft.functions.Portable.rollingHashSql("r_toks")}
               AS resp_hash
      FROM built ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q149 — in-engine multinomial NAIVE BAYES language classifier over
  // BIGRAM features (this corpus's languages share one unigram vocabulary
  // and differ only in transition structure — q129's lesson; unigram NB
  // collapses every class into the majority prior): per-lang bigram
  // models trained on the labeled corpus (add-one smoothing), every doc
  // scored against all five classes, prediction by argmin total
  // surprisal, output the confusion matrix. Surprisal is q120's EXACT
  // log-domain integer discipline — ⌊log₂((c_l+V)/(c_tl+1))⌋ as
  // bitlen(quotient)−1 — plus the class-prior bits, so per-(doc, lang)
  // scores are exact integer sums and argmin (surprisal, lang) is a total
  // order both engines resolve identically.
  //
  // Scale shape: the (tok, lang) weight table is vocabulary-sized and
  // joins the (doc, tok) occurrence stream on the token key — a SHUFFLE
  // join (q92/q120's discipline: corpus-scale dictionaries never
  // broadcast); the 5-row class table and V are broadcast scalars. The
  // doc×class scoring frame is |doc tokens|×5 — linear with a constant
  // class factor — and collapses by one (doc) and one (true, pred)
  // roll-up.
  // ---------------------------------------------------------------------
  private val q149 = QueryDef(
    "q149_naive_bayes_langid",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val occ = Tables.documents(spark, dir)
        .select($"doc_id", $"lang", Portable.tokens(lower($"text")).as("w"))
        .select($"doc_id", $"lang",
          explode(transform(
            sequence(lit(1), greatest(size($"w") - 1, lit(1))),
            i => struct(element_at($"w", i).as("w1"),
              element_at($"w", i + 1).as("w2")))).as("p"))
        .filter($"p.w1".isNotNull && $"p.w2".isNotNull)
        .select($"doc_id", $"lang",
          concat($"p.w1", lit(" "), $"p.w2").as("tok"))
        .groupBy($"doc_id", $"lang", $"tok")
        .agg(count(lit(1)).as("n_occ"))
      // r13 OPTIMIZATION (guide §2.4): the bigram-occurrence rollup
      // feeds FOUR lineage copies (per-(tok,lang) counts, per-lang
      // totals, the vocab count and the scoring join) — each copy
      // re-executed the tokenize+explode+groupBy. Materialize once.
      val occM = Scoped.materialize()(occ)
      val ctl = occM.groupBy($"tok", $"lang".as("model"))
        .agg(sum($"n_occ").as("ctl"))
      val cl = occM.groupBy($"lang".as("model"))
        .agg(sum($"n_occ").as("cl"), countDistinct($"doc_id").as("docs_l"))
      val scal = Tables.documents(spark, dir).agg(
        count(lit(1)).as("n_docs"))
        .crossJoin(occM.agg(countDistinct($"tok").as("v")))
      val scored = occM.drop("lang")
        .crossJoin(broadcast(cl))
        .join(ctl, Seq("tok", "model"), "left")
        .crossJoin(broadcast(scal))
        .withColumn("q", expr("(cl + v) div (coalesce(ctl, 0L) + 1L)"))
        .withColumn("bits", (length(conv($"q", 10, 2)) - 1).cast("long"))
        .groupBy($"doc_id", $"model", $"docs_l", $"n_docs")
        .agg(sum($"n_occ" * $"bits").as("tok_bits"))
        .withColumn("prior_bits",
          (length(conv(expr("n_docs div docs_l"), 10, 2)) - 1).cast("long"))
        .withColumn("surprisal", $"tok_bits" + $"prior_bits")
      val wPred = Window.partitionBy($"doc_id")
        .orderBy($"surprisal", $"model")
      val pred = scored
        .withColumn("rn", row_number().over(wPred))
        .filter($"rn" === 1)
        .select($"doc_id", $"model".as("pred_lang"))
      Tables.documents(spark, dir).select($"doc_id", $"lang")
        .join(pred, "doc_id")
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"pred_lang")
    },
    Some(s"""
      WITH occ AS (
        SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS n_occ
        FROM (
          SELECT doc_id, lang, p['w1'] || ' ' || p['w2'] AS tok FROM (
            SELECT doc_id, lang,
                   unnest([{'w1': w[i], 'w2': w[i+1]}
                           for i in range(1, greatest(len(w) - 1, 1) + 1)]) AS p
            FROM (SELECT doc_id, lang,
                         ${graft.functions.Portable.tokensSql("lower(text)")} AS w
                  FROM documents))
          WHERE p['w1'] IS NOT NULL AND p['w2'] IS NOT NULL)
        GROUP BY 1, 2, 3),
      ctl AS (
        SELECT tok, lang AS model, CAST(sum(n_occ) AS BIGINT) AS ctl
        FROM occ GROUP BY 1, 2),
      cl AS (
        SELECT lang AS model, CAST(sum(n_occ) AS BIGINT) AS cl,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_l
        FROM occ GROUP BY 1),
      scal AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT count(DISTINCT tok) FROM occ) AS v),
      scored AS (
        SELECT o.doc_id, c.model, c.docs_l, scal.n_docs,
               CAST(sum(o.n_occ *
                 (length(format('{:b}',
                    (c.cl + scal.v) // (COALESCE(t.ctl, 0) + 1))) - 1)) AS BIGINT)
               + (length(format('{:b}', scal.n_docs // c.docs_l)) - 1) AS surprisal
        FROM occ o
        CROSS JOIN cl c
        LEFT JOIN ctl t ON o.tok = t.tok AND c.model = t.model
        CROSS JOIN scal
        GROUP BY 1, 2, 3, 4),
      pred AS (
        SELECT doc_id, model AS pred_lang FROM (
          SELECT doc_id, model,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY surprisal, model) AS rn
          FROM scored)
        WHERE rn = 1)
      SELECT d.lang, p.pred_lang, count(*) AS n_docs
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------------
  // q164 — COSMETIC-UNICODE normalization dedup: the cleanup pass every
  // web corpus runs before hashing — NBSP → space, zero-width characters
  // stripped, curly quotes / en-em dashes / ellipsis folded to ASCII,
  // whitespace runs collapsed, then dedup on the md5 of the lowered
  // cleaned text. Two byte-different documents that differ only in these
  // cosmetics MUST collapse to one key, and exact dedup (q34) provably
  // cannot do it (different bytes → different md5).
  //
  // The fixture corpus is synthetic ASCII, so the query PLANTS its own
  // evidence (q127/q156's synthesis-roundtrip proof shape): every third
  // doc gets a cosmetically-dirtied twin (spaces → NBSP, apostrophes →
  // U+2019, a trailing U+200B), the union is cleaned, and the output
  // counts per source: corpus size, docs the cleaner changed, and
  // twin GROUPS (cleaned keys covering ≥ 2 distinct raw contents) plus
  // member docs. The oracle replays the identical plant + clean chain,
  // so a cleaner that misses any mapping (or over-cleans) breaks the
  // hash in either direction.
  //
  // Scale: per-row map work, a groupBy on the 64-bit cleaned key, and a
  // streaming attach join — q34's envelope plus one skew-splittable
  // exchange; the plant stage vanishes in production (real corpora
  // arrive pre-dirtied).
  // ---------------------------------------------------------------------
  private val CosFrom = " ‘’“”–—"
  private val CosTo = " ''\"\"--"
  private val ZwClass = "[\\x{200b}\\x{200c}\\x{200d}]"
  private val q164 = QueryDef(
    "q164_unicode_cleanup",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"text")
      val dirty = docs.filter($"doc_id" % 3 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"source",
          concat(translate($"text", " '", " ’"), lit("​"))
            .as("text"))
      val corpus = docs.unionByName(dirty)
      def clean(c: org.apache.spark.sql.Column) =
        trim(regexp_replace(
          regexp_replace(
            translate(replace(c, lit("…"), lit("...")), CosFrom, CosTo),
            ZwClass, ""),
          " +", " "))
      val keyed = corpus
        .withColumn("ckey", Portable.md5Hash64(lower(clean($"text"))))
        .withColumn("raw_h", Portable.md5Hash64($"text"))
        .withColumn("changed", when(clean($"text") =!= $"text", 1L).otherwise(0L))
        .select($"source", $"ckey", $"raw_h", $"changed")
        .persist() // group census + per-source rollup both read it
      // per-ckey distinct-raw census as GROUP-BY + JOIN, deliberately NOT
      // collect_set(...) OVER (PARTITION BY ckey): the window buffers an
      // entire duplicate group in one task, and exact-dup groups at crawl
      // scale are exactly the rows with no size bound (boilerplate pages
      // duplicate millions of times) — the aggregate combines map-side and
      // the attach join streams
      val groups = keyed.groupBy($"ckey")
        .agg(countDistinct($"raw_h").as("n_raw"))
      val out = keyed.join(groups, "ckey")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"changed").as("n_changed"),
          countDistinct(when($"n_raw" >= 2, $"ckey")).as("n_twin_groups"),
          sum(when($"n_raw" >= 2, 1L).otherwise(0L)).as("n_twin_docs"))
      Scoped.materialize(keyed)(out).orderBy($"source")
    },
    Some {
      // single interpolated builder for the clean chain — used for both
      // the key and the changed flag, with the replacement literal DERIVED
      // from CosTo (apostrophes doubled for SQL), so neither the two uses
      // nor the two engines can ever diverge on the mapping
      val cosToSql = "'" + CosTo.replace("'", "''") + "'"
      def cleanSqlOf(e: String): String =
        s"trim(regexp_replace(regexp_replace(" +
          s"translate(replace($e, '\u2026', '...'), '$CosFrom', $cosToSql), " +
          s"'$ZwClass', '', 'g'), ' +', ' ', 'g'))"
      s"""
      WITH base AS (SELECT doc_id, source, text FROM documents),
      dirty AS (
        SELECT doc_id + 1000000 AS doc_id, source,
               translate(text, ' ''', chr(160) || chr(8217)) || chr(8203) AS text
        FROM base WHERE doc_id % 3 = 0),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
      cleaned AS (
        SELECT source,
               ${graft.functions.Portable.md5Hash64Sql(
                 s"lower(${cleanSqlOf("text")})")} AS ckey,
               ${graft.functions.Portable.md5Hash64Sql("text")} AS raw_h,
               CASE WHEN ${cleanSqlOf("text")} <> text
                 THEN 1 ELSE 0 END AS changed
        FROM corpus),
      marked AS (
        SELECT *, count(DISTINCT raw_h) OVER (PARTITION BY ckey) AS n_raw
        FROM cleaned)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(changed) AS BIGINT) AS n_changed,
             CAST(count(DISTINCT CASE WHEN n_raw >= 2 THEN ckey END) AS BIGINT)
               AS n_twin_groups,
             CAST(sum(CASE WHEN n_raw >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_twin_docs
      FROM marked GROUP BY source ORDER BY source"""
    })

  // ---------------------------------------------------------------------
  // q168 — SPLIT-LEAKAGE AUDIT: hash-assign every doc to train (80%) /
  // val (20%) by the portable content-independent id hash, then count
  // verified near-dup pairs that CROSS the boundary — the eval-hygiene
  // check behind every honest benchmark number (a val doc whose near-dup
  // twin sits in train is a leaked answer; Lee et al.'s dedup-the-test-
  // set lesson). Output is the full 2×2 split-pair matrix (ordered
  // lexicographically) with pair and distinct-doc counts, so train-train
  // / val-val rows calibrate how much near-dup mass the split splits.
  //
  // Scale: the pair table is the already-materialized silver table
  // (q35's); the audit is two broadcast-sized hash-key joins of split
  // labels onto it plus one 4-row rollup — it costs nothing beyond the
  // dedup pipeline that must run anyway, which is exactly why there is
  // no excuse for skipping it.
  // ---------------------------------------------------------------------
  private val q168 = QueryDef(
    "q168_split_leakage",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val split = Tables.documents(spark, dir).select($"doc_id",
        when(Portable.md5Hash64($"doc_id".cast("string")) % 10 < 8, "train")
          .otherwise("val").as("split"))
      val pairs = Dedup.nearDupPairs(spark, dir).select($"i", $"j").distinct()
      pairs
        .join(split.select($"doc_id".as("i"), $"split".as("s_i")), Seq("i"))
        .join(split.select($"doc_id".as("j"), $"split".as("s_j")), Seq("j"))
        .select(least($"s_i", $"s_j").as("split_a"),
          greatest($"s_i", $"s_j").as("split_b"),
          $"i", $"j")
        .groupBy($"split_a", $"split_b")
        .agg(
          count(lit(1)).as("n_pairs"),
          countDistinct($"i").as("n_docs_lo"),
          countDistinct($"j").as("n_docs_hi"))
        .withColumn("is_leak",
          when($"split_a" =!= $"split_b", 1L).otherwise(0L))
        .orderBy($"split_a", $"split_b")
    },
    Some(s"""
      WITH pairs0 AS (${Dedup.minhashOracle}),
      pairs AS (SELECT DISTINCT i, j FROM pairs0),
      split AS (
        SELECT doc_id,
               CASE WHEN ${graft.functions.Portable
                 .md5Hash64Sql("CAST(doc_id AS VARCHAR)")} % 10 < 8
                 THEN 'train' ELSE 'val' END AS split
        FROM documents),
      tagged AS (
        SELECT least(a.split, b.split) AS split_a,
               greatest(a.split, b.split) AS split_b, p.i, p.j
        FROM pairs p
        JOIN split a ON a.doc_id = p.i
        JOIN split b ON b.doc_id = p.j)
      SELECT split_a, split_b,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT i) AS BIGINT) AS n_docs_lo,
             CAST(count(DISTINCT j) AS BIGINT) AS n_docs_hi,
             CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS BIGINT)
               AS is_leak
      FROM tagged GROUP BY 1, 2 ORDER BY split_a, split_b"""))

  // ---------------------------------------------------------------------
  // q175 — CLUSTER-AWARE SHARDING: q111 shards by doc hash; this shards
  // by CLUSTER hash, so a near-dup family always lands in one shard —
  // the layout that makes shard-local dedup exhaustive (any downstream
  // job can finish dedup within its shard, no cross-shard pair pass) and
  // keeps a cluster's canonical-selection decision (q167) single-shard.
  // Cluster key = q72 label for clustered docs, own doc_id otherwise
  // (singletons are their own cluster). The audit column IS the
  // operator's contract: n_split_clusters — clusters observed in more
  // than one shard — computed globally and must be 0 by construction;
  // it is emitted (not just spec'd) so the production run itself proves
  // placement, q111's manifest discipline.
  //
  // Scale: one node-keyed left join of labels onto the corpus + the
  // shard rollup; the split audit is a cluster-keyed two-level rollup.
  // All map-side-combinable; labels come from the materialized pair
  // silver table's component pass.
  // ---------------------------------------------------------------------
  private val NumClusterShards = 8
  private val q175 = QueryDef(
    "q175_cluster_shards",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val labels = Dedup.clusterLabels(spark, dir)
        .select($"node".as("doc_id"), $"label")
      val assigned = Tables.documents(spark, dir)
        .select($"doc_id", $"n_chars")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce($"label", $"doc_id"))
        .withColumn("shard",
          pmod(Portable.md5Hash64(concat(lit("shard|"), $"cluster".cast("string"))),
            lit(NumClusterShards.toLong)))
      val splitAudit = assigned.groupBy($"cluster")
        .agg(countDistinct($"shard").as("n_shards"))
        .agg(sum(when($"n_shards" > 1, 1L).otherwise(0L)).as("n_split_clusters"))
      assigned.groupBy($"shard")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"cluster").as("n_clusters"),
          sum($"n_chars").as("n_chars"),
          sum(when($"label".isNotNull, 1L).otherwise(0L)).as("n_clustered_docs"))
        .crossJoin(broadcast(splitAudit))
        .orderBy($"shard")
    },
    Some(s"""
      WITH RECURSIVE pairs AS (${Dedup.minhashOracle}),
      cedges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
      cnodes AS (SELECT DISTINCT i AS node FROM cedges),
      reach(a, b) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT r.a, e.j FROM reach r JOIN cedges e ON e.i = r.b),
      labeled AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a),
      assigned AS (
        SELECT d.doc_id, d.n_chars, l.label,
               COALESCE(l.label, d.doc_id) AS cluster,
               ${graft.functions.Portable.md5Hash64Sql(
                 "'shard|' || CAST(COALESCE(l.label, d.doc_id) AS VARCHAR)")}
                 % $NumClusterShards AS shard
        FROM documents d LEFT JOIN labeled l ON l.node = d.doc_id),
      audit AS (
        SELECT CAST(sum(CASE WHEN n_shards > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_split_clusters
        FROM (SELECT cluster, count(DISTINCT shard) AS n_shards
              FROM assigned GROUP BY 1))
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(sum(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clustered_docs,
             audit.n_split_clusters
      FROM assigned CROSS JOIN audit
      GROUP BY shard, audit.n_split_clusters
      ORDER BY shard"""))

  // ---------------------------------------------------------------------
  // q194 — ALPHA-SMOOTHED source apportionment (α = 0.5, the XLM-R /
  // mT5 multilingual-sampling rule): a proportional budget starves
  // small sources, so weights are n^α — and α = 1/2 is the one exponent
  // an exact-portable engine can take, because IEEE sqrt is correctly
  // rounded (ln/pow are not). The float leaves immediately: s_i =
  // floor(sqrt(n_i)·10⁶) is an exact integer weight, and everything
  // after is q134's integer largest-remainder apportionment over s_i.
  // Output shows raw share vs smoothed share side by side — the
  // up-weighting of small sources IS the operator's purpose.
  // ---------------------------------------------------------------------
  private val SmoothBudget = 100000L
  private val q194 = QueryDef(
    "q194_alpha_mixture",
    (spark, dir) => {
      import spark.implicits._
      val perSource = sourceTokens(spark, dir)
        .withColumn("s", floor(sqrt($"n_tokens".cast("double")) * 1e6).cast("long"))
      val totals = perSource.agg(
        sum($"n_tokens").as("total_raw"), sum($"s").as("total_s"))
      val floored = perSource.crossJoin(broadcast(totals))
        .withColumn("raw_milli", expr("(1000 * n_tokens) div total_raw"))
        .withColumn("floor_alloc", expr(s"($SmoothBudget * s) div total_s"))
        .withColumn("remainder", expr(s"($SmoothBudget * s) % total_s"))
      val leftover = floored.agg(
        (lit(SmoothBudget) - sum($"floor_alloc")).as("leftover"))
      val w = Window.orderBy($"remainder".desc, $"source")
      floored.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(w))
        .withColumn("alloc",
          $"floor_alloc" + when($"rk" <= $"leftover", 1L).otherwise(0L))
        .withColumn("smooth_milli", expr(s"(1000 * alloc) div $SmoothBudget"))
        .select($"source", $"n_tokens", $"s", $"raw_milli", $"alloc",
          $"smooth_milli")
        .orderBy($"source")
    },
    Some(s"""
      WITH per_source AS (
        SELECT source, CAST(sum(n_chars // 4) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      wsrc AS (
        SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS s
        FROM per_source),
      tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS total_raw,
               CAST(sum(s) AS BIGINT) AS total_s
        FROM wsrc),
      floored AS (
        SELECT source, n_tokens, s,
               (1000 * n_tokens) // total_raw AS raw_milli,
               ($SmoothBudget * s) // total_s AS floor_alloc,
               ($SmoothBudget * s) % total_s AS remainder
        FROM wsrc, tot),
      lo AS (SELECT $SmoothBudget - CAST(sum(floor_alloc) AS BIGINT) AS leftover
             FROM floored),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY remainder DESC, source) AS rk
        FROM floored)
      SELECT source, n_tokens, s,
             CAST(raw_milli AS BIGINT) AS raw_milli,
             CAST(floor_alloc + CASE WHEN rk <= lo.leftover THEN 1 ELSE 0 END
               AS BIGINT) AS alloc,
             CAST((1000 * (floor_alloc +
               CASE WHEN rk <= lo.leftover THEN 1 ELSE 0 END)) // $SmoothBudget
               AS BIGINT) AS smooth_milli
      FROM ranked, lo ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q195 — DEDUP-EFFECTIVE corpus size: raw vs EFFECTIVE tokens per
  // source, where near-dup cluster members beyond the canonical (the
  // min-id label q72 assigns) contribute nothing — the honest "how much
  // unique training signal do we actually have" readout that headline
  // token counts overstate. Composes the cluster labels (pair-table
  // silver pass) with the token counter; one label join + one rollup.
  // ---------------------------------------------------------------------
  private val q195 = QueryDef(
    "q195_effective_tokens",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val labels = Dedup.clusterLabels(spark, dir)
        .select($"node".as("doc_id"), $"label")
      Tables.documents(spark, dir)
        .select($"doc_id", $"source",
          size(Portable.tokens($"text")).cast("long").as("toks"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("is_effective",
          when($"label".isNull || $"label" === $"doc_id", 1L).otherwise(0L))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"toks").as("n_tokens"),
          sum($"is_effective").as("n_eff_docs"),
          sum($"toks" * $"is_effective").as("n_eff_tokens"))
        .withColumn("eff_milli", expr("(1000 * n_eff_tokens) div n_tokens"))
        .orderBy($"source")
    },
    Some(s"""
      WITH RECURSIVE pairs AS (${Dedup.minhashOracle}),
      cedges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
      cnodes AS (SELECT DISTINCT i AS node FROM cedges),
      reach(a, b) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT r.a, e.j FROM reach r JOIN cedges e ON e.i = r.b),
      labeled AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a),
      d AS (
        SELECT doc_id, source,
               CAST(len(${graft.functions.Portable.tokensSql("text")}) AS BIGINT)
                 AS toks
        FROM documents),
      marked AS (
        SELECT d.*, CASE WHEN l.label IS NULL OR l.label = d.doc_id
                    THEN 1 ELSE 0 END AS is_effective
        FROM d LEFT JOIN labeled l ON l.node = d.doc_id)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             CAST(sum(is_effective) AS BIGINT) AS n_eff_docs,
             CAST(sum(toks * is_effective) AS BIGINT) AS n_eff_tokens,
             CAST((1000 * sum(toks * is_effective)) // sum(toks) AS BIGINT)
               AS eff_milli
      FROM marked GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q199 — DETERMINISTIC per-group sampling (stable corpus eyeballing):
  // 3 docs per source chosen by md5-hash rank — "random-looking" yet
  // IDENTICAL on every engine, every run, every partitioning, which is
  // what a review sample must be (Spark's TABLESAMPLE/sample() are
  // seed-and-partitioning dependent and can never hash-match an
  // oracle). The hash is salted with a round tag so successive review
  // rounds see fresh docs without any RNG. One window per source over
  // the hash order.
  // ---------------------------------------------------------------------
  private val SampleRound = "round7"
  private val q199 = QueryDef(
    "q199_stable_sample",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val w = Window.partitionBy($"source").orderBy($"hk", $"doc_id")
      Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"n_chars",
          Portable.md5Hash64(
            concat(lit(SampleRound), lit("|"), $"doc_id".cast("string")))
            .as("hk"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 3)
        .select($"source", $"rn", $"doc_id", $"n_chars")
        .orderBy($"source", $"rn")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, source, n_chars,
               ${graft.functions.Portable.md5Hash64Sql(
                 s"'$SampleRound' || '|' || CAST(doc_id AS VARCHAR)")} AS hk
        FROM documents),
      r AS (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rn
        FROM h)
      SELECT source, rn, doc_id, n_chars
      FROM r WHERE rn <= 3 ORDER BY source, rn"""))

  // ---------------------------------------------------------------------
  // q200 — CANONICAL-POLICY COMPARISON: when a near-dup cluster keeps
  // one doc, WHICH one? Three subsystems give three answers — lowest id
  // (q61's greedy), PageRank argmax (q167), quality argmax (q29's
  // scorer) — and this query puts the quality choice next to the
  // PageRank choice per cluster with an agreement flag, because the
  // policy decision deserves data, not taste. Ties on (score desc,
  // node) / (pr3 desc, node). Composes clusters + ranks + quality in
  // two node-keyed joins and two per-cluster max_by aggregates; the oracle
  // nests all three parents' SQL off one pair table — a single green
  // hash proving the whole composition.
  // ---------------------------------------------------------------------
  private val q200 = QueryDef(
    "q200_canonical_policies",
    (spark, dir) => {
      import spark.implicits._
      val labels = Dedup.clusterLabels(spark, dir) // (node, label)
      val pr = Graph.pageRank(spark, dir).select($"node", $"pr3")
      val quality = TextOps.withQuality(Tables.documents(spark, dir))
        .select($"doc_id".as("node"), $"score")
      val joined = labels.join(pr, Seq("node")).join(quality, Seq("node"))
      // per-cluster argmaxes as max_by aggregations (the q167 discipline):
      // map-side combinable, one candidate of state per cluster — never a
      // row_number window that buffers a whole (possibly giant) cluster
      joined
        .groupBy($"label".as("cluster_id"))
        .agg(
          count(lit(1)).as("cluster_size"),
          max_by($"node", struct($"pr3", -$"node")).as("pagerank_pick"),
          max_by($"node", struct($"score", -$"node")).as("quality_pick"))
        .withColumn("agree",
          when($"pagerank_pick" === $"quality_pick", 1L).otherwise(0L))
        .orderBy($"cluster_id")
    },
    Some(s"""
      WITH RECURSIVE pairs AS (${Dedup.minhashOracle}),
      cedges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
      cnodes AS (SELECT DISTINCT i AS node FROM cedges),
      reach(a, b) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT r.a, e.j FROM reach r JOIN cedges e ON e.i = r.b),
      labeled AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a),
      ${Graph.pageRankCtes},
      quality AS (${TextOps.qualitySql}),
      joined AS (
        SELECT l.label, l.node, r.r AS pr3, q.score
        FROM labeled l
        JOIN r_3 r ON r.node = l.node
        JOIN quality q ON q.doc_id = l.node),
      ranked AS (
        SELECT *,
               row_number() OVER (
                 PARTITION BY label ORDER BY pr3 DESC, node ASC) AS rp,
               row_number() OVER (
                 PARTITION BY label ORDER BY score DESC, node ASC) AS rq
        FROM joined)
      SELECT label AS cluster_id,
             CAST(count(*) AS BIGINT) AS cluster_size,
             max(CASE WHEN rp = 1 THEN node END) AS pagerank_pick,
             max(CASE WHEN rq = 1 THEN node END) AS quality_pick,
             CAST(CASE WHEN max(CASE WHEN rp = 1 THEN node END)
                    = max(CASE WHEN rq = 1 THEN node END)
               THEN 1 ELSE 0 END AS BIGINT) AS agree
      FROM ranked GROUP BY label ORDER BY cluster_id"""))

  // ---------------------------------------------------------------------
  // q209 — SPAN-CORRUPTION data prep (the T5/UL2 denoising objective):
  // turn plain documents into (inputs, targets) pairs by masking token
  // spans with sentinels — inputs keep the uncorrupted tokens plus one
  // sentinel per span; targets carry each span's tokens behind its
  // sentinel plus a terminal sentinel. Noise layout is BLOCKED
  // deterministic sampling: positions partition into fixed blocks of
  // CorruptBlock = SpanLen/density tokens, and each full block corrupts
  // the SpanLen-token span starting at offset md5(doc_id:block) %
  // (CorruptBlock − SpanLen + 1) — exactly the target density, spans
  // never overlap BY CONSTRUCTION (one span per disjoint block), every
  // choice is a pure function of (doc_id, block), and the plan is one
  // posexplode + map + per-doc rollup: no sequential greedy scan, no
  // per-doc rank window, nothing that serializes at corpus scale (the
  // hash replaces the RNG a single-node T5 preprocessor uses — same
  // statistics, reproducible and shardable). span_hash position-weights
  // the corrupted tokens' hashes so the oracle verifies WHICH tokens
  // were masked, not just how many.
  // ---------------------------------------------------------------------
  private val CorruptBlock = 20 // tokens per noise block
  private val SpanLen = 3       // corrupted span per block → 15% density
  private val q209 = QueryDef(
    "q209_span_corruption",
    (spark, dir) => {
      import spark.implicits._
      val P = graft.functions.Portable.P
      // doc-length guard (MaxDocChars): the per-doc full-block window
      // below is bounded by guard, mirrored in the oracle
      val toks = TextOps.guardedDocs(spark, dir)
        .select($"doc_id", posexplode(graft.functions.Portable.tokens($"text")))
        .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("w"))
      val marked = toks
        .withColumn("blk", expr(s"pos div $CorruptBlock"))
        .withColumn("off", graft.functions.Portable.md5Hash64(
          concat($"doc_id", lit(":"), $"blk"))
          % (CorruptBlock - SpanLen + 1))
        .withColumn("inblk", expr(s"pos % $CorruptBlock"))
        // only FULL blocks corrupt: the tail block (fewer than
        // CorruptBlock tokens) stays clean, so a span can never run off
        // the end of the document
        .withColumn("full_blk",
          ($"blk" + 1) * CorruptBlock <= count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
        .withColumn("corrupted",
          $"full_blk" && $"inblk" >= $"off" && $"inblk" < $"off" + SpanLen)
      marked
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when($"corrupted", 1L).otherwise(0L)).as("n_corrupted"),
          countDistinct(when($"corrupted", $"blk")).as("n_spans"),
          sum(when($"corrupted",
            (($"pos" + 1) * (graft.functions.Portable.md5Hash64($"w") % P)) % P)
            .otherwise(0L)).as("span_hash_acc"))
        .withColumn("span_hash", $"span_hash_acc" % P).drop("span_hash_acc")
        .withColumn("inputs_len", $"n_tokens" - $"n_corrupted" + $"n_spans")
        .withColumn("targets_len", $"n_corrupted" + $"n_spans" + 1)
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, u.i - 1 AS pos, u.w FROM (
          SELECT doc_id,
                 unnest([{'i': i, 'w': w[i]}
                         for i in range(1, len(w) + 1)]) AS u
          FROM (
            SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS w
            FROM documents WHERE length(text) <= ${TextOps.MaxDocChars}))),
      n AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1),
      marked AS (
        SELECT t.doc_id, t.pos, t.w,
               t.pos // $CorruptBlock AS blk,
               (t.blk_off % ${CorruptBlock - SpanLen + 1}) AS off,
               t.pos % $CorruptBlock AS inblk,
               ((t.pos // $CorruptBlock) + 1) * $CorruptBlock <= n.n_tokens
                 AS full_blk
        FROM (
          SELECT doc_id, pos, w,
                 ${graft.functions.Portable.md5Hash64Sql(
                   s"doc_id || ':' || (pos // $CorruptBlock)")} AS blk_off
          FROM toks) t
        JOIN n ON n.doc_id = t.doc_id),
      c AS (
        SELECT doc_id, pos, w, blk,
               full_blk AND inblk >= off AND inblk < off + $SpanLen
                 AS corrupted
        FROM marked),
      agg AS (
        SELECT doc_id, count(*) AS n_tokens,
               sum(CASE WHEN corrupted THEN 1 ELSE 0 END) AS n_corrupted,
               count(DISTINCT CASE WHEN corrupted THEN blk END) AS n_spans,
               sum(CASE WHEN corrupted THEN
                     ((pos + 1) * (${graft.functions.Portable.md5Hash64Sql("w")}
                       % ${graft.functions.Portable.P}))
                     % ${graft.functions.Portable.P}
                   ELSE 0 END) AS sh
        FROM c GROUP BY doc_id)
      SELECT doc_id,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_corrupted AS BIGINT) AS n_corrupted,
             CAST(n_spans AS BIGINT) AS n_spans,
             CAST(sh % ${graft.functions.Portable.P} AS BIGINT) AS span_hash,
             CAST(n_tokens - n_corrupted + n_spans AS BIGINT) AS inputs_len,
             CAST(n_corrupted + n_spans + 1 AS BIGINT) AS targets_len
      FROM agg ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q227 — ENTITY RESOLUTION, Fellegi–Sunter (1969) with multi-pass
  // blocking — the record-linkage operator the dedup family (content
  // hashing) cannot express: match STRUCTURED records whose fields
  // individually disagree. The fixture plants dirty twins of every 5th
  // customer in three classes — a name typo, a phone typo, or BOTH
  // (balance always jittered a few cents; the q164 plant pattern on
  // records instead of text) — then the resolver must find them among
  // the honest pairs:
  //
  //   1. MULTI-PASS BLOCKING: pass A keys on (nation, phone prefix),
  //      pass B on (nation, name suffix). A twin whose perturbation
  //      lands inside one pass's key is still caught by the other pass;
  //      the rare both-fields twin that breaks BOTH keys is genuinely
  //      missed — recall is reported against planted truth, not assumed.
  //   2. BLOCK PURGING: blocks larger than BlockCap are dropped before
  //      pair generation (standard linkage discipline: an over-populated
  //      key means the key is bad, and block² pair work is the scale
  //      killer — the GramDfCap idea on records).
  //   3. FELLEGI–SUNTER SCORING in exact integers: per field, the
  //      agreement weight is −⌊log₂ u⌋ via the q120 bitlen identity,
  //      with u — the probability two RANDOM records agree — estimated
  //      from field-value frequencies over the full record set,
  //      u_f = Σ_v c_v² / N² (NOT from the blocked candidates, which are
  //      match-enriched and would bias u upward — the classic FS
  //      estimation mistake); the balance comparator is a ±10¢ range,
  //      its u proxied by 21¢-bucket frequencies. m ≈ 1 for the planted
  //      process, so log₂(m/u) ≈ −log₂ u; each disagreement costs a
  //      flat 4-bit penalty. Score = Σ weights, match ⇔ score ≥ Thr.
  //      The N² product is int64-safe to N ≈ 3·10⁹ records; beyond that
  //      the weight moves to the bitlen-difference form
  //      2·bitlen(N) − bitlen(Σc²) (the q213 escape discipline).
  //
  // Output: candidate/match census, and exact-integer recall/precision
  // in millis against the planted pair set — double-typo twins score
  // below threshold by design (exact comparators cannot rescue records
  // disagreeing on every identifying field; the documented upgrade is
  // fuzzy comparators, q96's bounded edit distance). All joins are
  // blocked equi-joins; weights come from four map-combinable value
  // censuses; no windows anywhere.
  // ---------------------------------------------------------------------
  private[operators] val ErBlockCap = 200L
  private val ErDisagreePenalty = 4L
  private val ErThreshold = 12L

  /** Shared q227/q228 fixture: customer records with a deterministic
    * 10-digit Knuth-hash phone, plus planted twins of every 5th record
    * in three typo classes — 0: name digit, 1: phone digit, 2: both —
    * with the balance always jittered ≤ 6 cents.
    */
  private def erRecords(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val base = Tables.customer(spark, dir)
      .select($"c_custkey".as("id"), $"c_name".as("name"),
        $"c_nationkey".cast("long").as("nat"), $"c_mktsegment".as("seg"),
        ($"c_acctbal".cast(org.apache.spark.sql.types.DecimalType(28, 2)) * 100)
          .cast("long").as("bal"))
      .withColumn("phone", concat((0 until 10).map(i =>
        expr(s"CAST(shiftright(id * 2654435761L, ${3 * i}) % 10 AS STRING)")): _*))
    val twins = base.filter($"id" % 5 === 0)
      .withColumn("cls", expr("CAST((id div 5) % 3 AS INT)"))
      .withColumn("np", ($"id" % 8 + 10).cast("int"))
      .withColumn("pp", ($"id" % 10 + 1).cast("int"))
      .select(
        ($"id" + 1000000L).as("id"),
        when($"cls" === 1, $"name").otherwise(
          concat(expr("substring(name, 1, np - 1)"),
            expr("CAST((CAST(substring(name, np, 1) AS INT) + 1) % 10 AS STRING)"),
            expr("substring(name, np + 1)"))).as("name"),
        $"nat", $"seg", ($"bal" + $"id" % 7).as("bal"),
        when($"cls" === 0, $"phone").otherwise(
          concat(expr("substring(phone, 1, pp - 1)"),
            expr("CAST((CAST(substring(phone, pp, 1) AS INT) + 1) % 10 AS STRING)"),
            expr("substring(phone, pp + 1)"))).as("phone"))
    (base, base.unionByName(twins).persist())
  }

  /** The shared SQL twin of [[erRecords]] (base + twins + recs CTEs). */
  private def erRecordsSql: String = s"""base AS (
        SELECT c_custkey AS id, c_name AS name,
               CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
               CAST(CAST(c_acctbal AS DECIMAL(28,2)) * 100 AS BIGINT) AS bal,
               ${(0 until 10).map(i =>
                 s"CAST(((c_custkey * 2654435761) >> ${3 * i}) % 10 AS VARCHAR)")
                 .mkString(" || ")} AS phone
        FROM customer),
      twins AS (
        SELECT id + 1000000 AS id,
               CASE WHEN (id // 5) % 3 = 1 THEN name
                    ELSE substring(name, 1, (id % 8 + 10) - 1)
                      || CAST((CAST(substring(name, id % 8 + 10, 1) AS INT) + 1) % 10 AS VARCHAR)
                      || substring(name, (id % 8 + 10) + 1) END AS name,
               nat, seg, bal + id % 7 AS bal,
               CASE WHEN (id // 5) % 3 = 0 THEN phone
                    ELSE substring(phone, 1, (id % 10 + 1) - 1)
                      || CAST((CAST(substring(phone, id % 10 + 1, 1) AS INT) + 1) % 10 AS VARCHAR)
                      || substring(phone, (id % 10 + 1) + 1) END AS phone
        FROM base WHERE id % 5 = 0),
      recs AS (SELECT * FROM base UNION ALL SELECT * FROM twins)"""

  /** One blocking pass with BLOCK PURGING: records keyed by `keyCol`,
    * blocks above [[ErBlockCap]] dropped BEFORE pair generation (an
    * over-populated key is a bad key, and block² pair work is the scale
    * killer), then within-block ordered pairs. Exposed for the purge
    * spec.
    */
  private[operators] def erBlockedPairs(
      recs: org.apache.spark.sql.DataFrame,
      keyCol: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    import recs.sparkSession.implicits._
    val keyed = recs.withColumn("bk", keyCol)
    val ok = keyed.groupBy($"bk").agg(count(lit(1)).as("bn"))
      .filter($"bn" <= ErBlockCap)
    val b = keyed.join(ok.select($"bk"), "bk")
    b.select($"bk", $"id".as("i"), $"name".as("name_i"),
        $"phone".as("phone_i"), $"seg".as("seg_i"), $"bal".as("bal_i"))
      .join(b.select($"bk", $"id".as("j"), $"name".as("name_j"),
        $"phone".as("phone_j"), $"seg".as("seg_j"), $"bal".as("bal_j")),
        "bk")
      .filter($"i" < $"j")
      .drop("bk")
  }
  private val q227 = QueryDef(
    "q227_entity_resolution",
    (spark, dir) => {
      import spark.implicits._
      val (base, recs) = erRecords(spark, dir)
      val cands = erBlockedPairs(recs,
          concat($"nat", lit("|"), substring($"phone", 1, 3)))
        .unionByName(erBlockedPairs(recs,
          concat($"nat", lit("|"), substring($"name", 15, 4))))
        .distinct()
        .withColumn("a_name", ($"name_i" === $"name_j").cast("long"))
        .withColumn("a_phone", ($"phone_i" === $"phone_j").cast("long"))
        .withColumn("a_seg", ($"seg_i" === $"seg_j").cast("long"))
        .withColumn("a_bal", (abs($"bal_i" - $"bal_j") <= 10L).cast("long"))
        .select($"i", $"j", $"a_name", $"a_phone", $"a_seg", $"a_bal")
        .persist()
      // u from field-value frequencies over ALL records (never the
      // match-enriched candidates): u_f = Σc²/N², w_f = bitlen(N² div Σc²) − 1
      def s2(keyCol: org.apache.spark.sql.Column, as: String) =
        recs.groupBy(keyCol.as("v")).agg(count(lit(1)).as("c"))
          .agg(sum($"c" * $"c").as(as))
      val u = recs.agg(count(lit(1)).as("nr"))
        .crossJoin(s2($"name", "s2_name"))
        .crossJoin(s2($"phone", "s2_phone"))
        .crossJoin(s2($"seg", "s2_seg"))
        .crossJoin(s2(expr("bal div 21"), "s2_bal"))
      def w(f: String) =
        expr(s"length(conv((nr * nr) div s2_$f, 10, 2)) - 1")
      val scored = cands.crossJoin(broadcast(u))
        .withColumn("score",
          ($"a_name" * w("name") - (lit(1L) - $"a_name") * ErDisagreePenalty) +
          ($"a_phone" * w("phone") - (lit(1L) - $"a_phone") * ErDisagreePenalty) +
          ($"a_seg" * w("seg") - (lit(1L) - $"a_seg") * ErDisagreePenalty) +
          ($"a_bal" * w("bal") - (lit(1L) - $"a_bal") * ErDisagreePenalty))
        .withColumn("is_match", ($"score" >= ErThreshold).cast("long"))
        .withColumn("is_true",
          ($"j" === $"i" + 1000000L && $"i" % 5 === 0).cast("long"))
      val truth = base.filter($"id" % 5 === 0).agg(count(lit(1)).as("n_true"))
      val out = scored.agg(
          count(lit(1)).as("n_candidates"),
          sum($"is_match").as("n_matches"),
          sum($"is_match" * $"is_true").as("n_true_found"),
          sum($"is_true").as("n_true_candidates"))
        .crossJoin(broadcast(truth))
        .withColumn("recall_milli",
          expr("(1000 * n_true_found) div n_true"))
        .withColumn("precision_milli",
          expr("CASE WHEN n_matches = 0 THEN 0 ELSE (1000 * n_true_found) div n_matches END"))
      Scoped.materialize(recs, cands)(out)
    },
    Some(s"""
      WITH $erRecordsSql,
      ka AS (SELECT *, nat || '|' || substring(phone, 1, 3) AS bk FROM recs),
      kb AS (SELECT *, nat || '|' || substring(name, 15, 4) AS bk FROM recs),
      oka AS (SELECT bk FROM ka GROUP BY bk HAVING count(*) <= $ErBlockCap),
      okb AS (SELECT bk FROM kb GROUP BY bk HAVING count(*) <= $ErBlockCap),
      pa AS (
        SELECT a.id AS i, b.id AS j, a.name AS name_i, b.name AS name_j,
               a.phone AS phone_i, b.phone AS phone_j,
               a.seg AS seg_i, b.seg AS seg_j, a.bal AS bal_i, b.bal AS bal_j
        FROM ka a JOIN ka b ON a.bk = b.bk AND a.id < b.id
        JOIN oka ON oka.bk = a.bk),
      pb AS (
        SELECT a.id AS i, b.id AS j, a.name AS name_i, b.name AS name_j,
               a.phone AS phone_i, b.phone AS phone_j,
               a.seg AS seg_i, b.seg AS seg_j, a.bal AS bal_i, b.bal AS bal_j
        FROM kb a JOIN kb b ON a.bk = b.bk AND a.id < b.id
        JOIN okb ON okb.bk = a.bk),
      cands AS (
        SELECT i, j,
               CAST(name_i = name_j AS BIGINT) AS a_name,
               CAST(phone_i = phone_j AS BIGINT) AS a_phone,
               CAST(seg_i = seg_j AS BIGINT) AS a_seg,
               CAST(abs(bal_i - bal_j) <= 10 AS BIGINT) AS a_bal
        FROM (SELECT DISTINCT * FROM (SELECT * FROM pa UNION SELECT * FROM pb))),
      s2n AS (SELECT CAST(sum(c * c) AS BIGINT) AS s2_name
              FROM (SELECT count(*) AS c FROM recs GROUP BY name)),
      s2p AS (SELECT CAST(sum(c * c) AS BIGINT) AS s2_phone
              FROM (SELECT count(*) AS c FROM recs GROUP BY phone)),
      s2s AS (SELECT CAST(sum(c * c) AS BIGINT) AS s2_seg
              FROM (SELECT count(*) AS c FROM recs GROUP BY seg)),
      s2b AS (SELECT CAST(sum(c * c) AS BIGINT) AS s2_bal
              FROM (SELECT count(*) AS c FROM recs GROUP BY bal // 21)),
      u AS (SELECT (SELECT count(*) FROM recs) AS nr, s2_name, s2_phone,
                   s2_seg, s2_bal
            FROM s2n, s2p, s2s, s2b),
      scored AS (
        SELECT i, j,
               (a_name * (length(format('{:b}', (nr * nr) // s2_name)) - 1)
                  - (1 - a_name) * $ErDisagreePenalty)
             + (a_phone * (length(format('{:b}', (nr * nr) // s2_phone)) - 1)
                  - (1 - a_phone) * $ErDisagreePenalty)
             + (a_seg * (length(format('{:b}', (nr * nr) // s2_seg)) - 1)
                  - (1 - a_seg) * $ErDisagreePenalty)
             + (a_bal * (length(format('{:b}', (nr * nr) // s2_bal)) - 1)
                  - (1 - a_bal) * $ErDisagreePenalty) AS score,
               CASE WHEN j = i + 1000000 AND i % 5 = 0 THEN 1 ELSE 0 END
                 AS is_true
        FROM cands, u),
      fin AS (
        SELECT count(*) AS n_candidates,
               sum(CASE WHEN score >= $ErThreshold THEN 1 ELSE 0 END)
                 AS n_matches,
               sum(CASE WHEN score >= $ErThreshold THEN is_true ELSE 0 END)
                 AS n_true_found,
               sum(is_true) AS n_true_candidates
        FROM scored),
      t AS (SELECT count(*) AS n_true FROM base WHERE id % 5 = 0)
      SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
             CAST(n_matches AS BIGINT) AS n_matches,
             CAST(n_true_found AS BIGINT) AS n_true_found,
             CAST(n_true_candidates AS BIGINT) AS n_true_candidates,
             CAST(t.n_true AS BIGINT) AS n_true,
             CAST((1000 * n_true_found) // t.n_true AS BIGINT) AS recall_milli,
             CAST(CASE WHEN n_matches = 0 THEN 0
               ELSE (1000 * n_true_found) // n_matches END AS BIGINT)
               AS precision_milli
      FROM fin, t"""))

  // ---------------------------------------------------------------------
  // q228 — FUZZY-COMPARATOR LINKAGE: the upgrade q227 documents as the
  // fix for its designed misses — double-typo twins disagree EXACTLY on
  // both identifying fields, but agree within edit distance 1, which is
  // what real linkage comparators measure (Winkler's extension of
  // Fellegi–Sunter to approximate agreement). Same plant, same
  // multi-pass purged blocking; the two changes are:
  //
  //   1. APPROXIMATE comparators: name and phone agree when
  //      levenshtein ≤ 1 (the single-typo class), balance within ±10¢,
  //      segment exact. Levenshtein is codegen'd in both engines and
  //      deterministic.
  //   2. u estimated on a DETERMINISTIC RANDOM-PAIR SAMPLE — base
  //      records paired (2k, 2k+1) by id — because Σc² only measures
  //      EXACT collisions and would overstate fuzzy weights; add-one
  //      smoothing (g+1) keeps the weight finite when the sample shows
  //      zero fuzzy collisions (the production FS estimation path, made
  //      reproducible: no RNG, the pairing is id arithmetic).
  //
  // Outcome vs q227 on the same truth: recall jumps to the blocking
  // ceiling (every candidate twin now scores above threshold) with
  // precision still exact-integer 1000 — the measured value of fuzzy
  // comparators, reported side by side with the exact baseline.
  // ---------------------------------------------------------------------
  private val q228 = QueryDef(
    "q228_fuzzy_linkage",
    (spark, dir) => {
      import spark.implicits._
      val (base, recs) = erRecords(spark, dir)
      val cands = erBlockedPairs(recs,
          concat($"nat", lit("|"), substring($"phone", 1, 3)))
        .unionByName(erBlockedPairs(recs,
          concat($"nat", lit("|"), substring($"name", 15, 4))))
        .distinct()
        .withColumn("a_name",
          (levenshtein($"name_i", $"name_j") <= 1).cast("long"))
        .withColumn("a_phone",
          (levenshtein($"phone_i", $"phone_j") <= 1).cast("long"))
        .withColumn("a_seg", ($"seg_i" === $"seg_j").cast("long"))
        .withColumn("a_bal", (abs($"bal_i" - $"bal_j") <= 10L).cast("long"))
        .select($"i", $"j", $"a_name", $"a_phone", $"a_seg", $"a_bal")
      // u from the deterministic (2k, 2k+1) base-pair sample, add-one
      // smoothed; n_sample is |base| div 2
      val samp = base
        .withColumn("g", expr("id div 2")).withColumn("side", $"id" % 2)
      val sPairs = samp.filter($"side" === 0)
        .select($"g", $"name".as("name_i"), $"phone".as("phone_i"),
          $"seg".as("seg_i"), $"bal".as("bal_i"))
        .join(samp.filter($"side" === 1)
          .select($"g", $"name".as("name_j"), $"phone".as("phone_j"),
            $"seg".as("seg_j"), $"bal".as("bal_j")), "g")
      val u = sPairs.agg(
        count(lit(1)).as("ns"),
        sum((levenshtein($"name_i", $"name_j") <= 1).cast("long")).as("g_name"),
        sum((levenshtein($"phone_i", $"phone_j") <= 1).cast("long")).as("g_phone"),
        sum(($"seg_i" === $"seg_j").cast("long")).as("g_seg"),
        sum((abs($"bal_i" - $"bal_j") <= 10L).cast("long")).as("g_bal"))
      def w(f: String) =
        expr(s"length(conv(ns div (g_$f + 1), 10, 2)) - 1")
      val scored = cands.crossJoin(broadcast(u))
        .withColumn("score",
          ($"a_name" * w("name") - (lit(1L) - $"a_name") * ErDisagreePenalty) +
          ($"a_phone" * w("phone") - (lit(1L) - $"a_phone") * ErDisagreePenalty) +
          ($"a_seg" * w("seg") - (lit(1L) - $"a_seg") * ErDisagreePenalty) +
          ($"a_bal" * w("bal") - (lit(1L) - $"a_bal") * ErDisagreePenalty))
        .withColumn("is_match", ($"score" >= ErThreshold).cast("long"))
        .withColumn("is_true",
          ($"j" === $"i" + 1000000L && $"i" % 5 === 0).cast("long"))
      val truth = base.filter($"id" % 5 === 0).agg(count(lit(1)).as("n_true"))
      val out = scored.agg(
          count(lit(1)).as("n_candidates"),
          sum($"is_match").as("n_matches"),
          sum($"is_match" * $"is_true").as("n_true_found"),
          sum($"is_true").as("n_true_candidates"))
        .crossJoin(broadcast(truth))
        .withColumn("recall_milli",
          expr("(1000 * n_true_found) div n_true"))
        .withColumn("precision_milli",
          expr("CASE WHEN n_matches = 0 THEN 0 ELSE (1000 * n_true_found) div n_matches END"))
      Scoped.materialize(recs)(out)
    },
    Some(s"""
      WITH $erRecordsSql,
      ka AS (SELECT *, nat || '|' || substring(phone, 1, 3) AS bk FROM recs),
      kb AS (SELECT *, nat || '|' || substring(name, 15, 4) AS bk FROM recs),
      oka AS (SELECT bk FROM ka GROUP BY bk HAVING count(*) <= $ErBlockCap),
      okb AS (SELECT bk FROM kb GROUP BY bk HAVING count(*) <= $ErBlockCap),
      pa AS (
        SELECT a.id AS i, b.id AS j, a.name AS name_i, b.name AS name_j,
               a.phone AS phone_i, b.phone AS phone_j,
               a.seg AS seg_i, b.seg AS seg_j, a.bal AS bal_i, b.bal AS bal_j
        FROM ka a JOIN ka b ON a.bk = b.bk AND a.id < b.id
        JOIN oka ON oka.bk = a.bk),
      pb AS (
        SELECT a.id AS i, b.id AS j, a.name AS name_i, b.name AS name_j,
               a.phone AS phone_i, b.phone AS phone_j,
               a.seg AS seg_i, b.seg AS seg_j, a.bal AS bal_i, b.bal AS bal_j
        FROM kb a JOIN kb b ON a.bk = b.bk AND a.id < b.id
        JOIN okb ON okb.bk = a.bk),
      cands AS (
        SELECT i, j,
               CAST(levenshtein(name_i, name_j) <= 1 AS BIGINT) AS a_name,
               CAST(levenshtein(phone_i, phone_j) <= 1 AS BIGINT) AS a_phone,
               CAST(seg_i = seg_j AS BIGINT) AS a_seg,
               CAST(abs(bal_i - bal_j) <= 10 AS BIGINT) AS a_bal
        FROM (SELECT DISTINCT * FROM (SELECT * FROM pa UNION SELECT * FROM pb))),
      sp AS (
        SELECT e.name AS name_i, e.phone AS phone_i, e.seg AS seg_i,
               e.bal AS bal_i, o.name AS name_j, o.phone AS phone_j,
               o.seg AS seg_j, o.bal AS bal_j
        FROM (SELECT * FROM base WHERE id % 2 = 0) e
        JOIN (SELECT * FROM base WHERE id % 2 = 1) o
          ON e.id // 2 = o.id // 2),
      u AS (
        SELECT count(*) AS ns,
               CAST(sum(CAST(levenshtein(name_i, name_j) <= 1 AS BIGINT))
                 AS BIGINT) AS g_name,
               CAST(sum(CAST(levenshtein(phone_i, phone_j) <= 1 AS BIGINT))
                 AS BIGINT) AS g_phone,
               CAST(sum(CAST(seg_i = seg_j AS BIGINT)) AS BIGINT) AS g_seg,
               CAST(sum(CAST(abs(bal_i - bal_j) <= 10 AS BIGINT)) AS BIGINT)
                 AS g_bal
        FROM sp),
      scored AS (
        SELECT i, j,
               (a_name * (length(format('{:b}', ns // (g_name + 1))) - 1)
                  - (1 - a_name) * $ErDisagreePenalty)
             + (a_phone * (length(format('{:b}', ns // (g_phone + 1))) - 1)
                  - (1 - a_phone) * $ErDisagreePenalty)
             + (a_seg * (length(format('{:b}', ns // (g_seg + 1))) - 1)
                  - (1 - a_seg) * $ErDisagreePenalty)
             + (a_bal * (length(format('{:b}', ns // (g_bal + 1))) - 1)
                  - (1 - a_bal) * $ErDisagreePenalty) AS score,
               CASE WHEN j = i + 1000000 AND i % 5 = 0 THEN 1 ELSE 0 END
                 AS is_true
        FROM cands, u),
      fin AS (
        SELECT count(*) AS n_candidates,
               sum(CASE WHEN score >= $ErThreshold THEN 1 ELSE 0 END)
                 AS n_matches,
               sum(CASE WHEN score >= $ErThreshold THEN is_true ELSE 0 END)
                 AS n_true_found,
               sum(is_true) AS n_true_candidates
        FROM scored),
      t AS (SELECT count(*) AS n_true FROM base WHERE id % 5 = 0)
      SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
             CAST(n_matches AS BIGINT) AS n_matches,
             CAST(n_true_found AS BIGINT) AS n_true_found,
             CAST(n_true_candidates AS BIGINT) AS n_true_candidates,
             CAST(t.n_true AS BIGINT) AS n_true,
             CAST((1000 * n_true_found) // t.n_true AS BIGINT) AS recall_milli,
             CAST(CASE WHEN n_matches = 0 THEN 0
               ELSE (1000 * n_true_found) // n_matches END AS BIGINT)
               AS precision_milli
      FROM fin, t"""))

  // ---------------------------------------------------------------------
  // q245 — WEIGHTED PRIORITY SAMPLING with an unbiased total estimator
  // (Duffield–Lund–Thorup priority sampling / Ohlsson's sequential
  // Poisson): draw K docs per source with inclusion probability
  // ~proportional to a weight (n_chars — stand-in for any quality
  // weight), and estimate the source's TOTAL weight from the sample
  // alone — the corpus-subsampling operator that q199's unweighted
  // rank sample can't express (a 100-word doc and a 10k-word doc are
  // not equally informative), plus the estimator that tells you what
  // the discarded mass was.
  //
  // Determinism: u_i = (h_i+1)/2^40 with h_i = md5("ps|doc_id") mod
  // 2^40 — both engines regenerate the "randomness" from the portable
  // hash (no RNG, the q199/q242 discipline). The priority p_i = w_i/u_i
  // compares EXACTLY cross-engine: w_i and h_i+1 are both < 2^53 so the
  // int→double casts are value-preserving and the single division is
  // correctly rounded IEEE — bit-identical doubles, no ULP risk (the
  // q236 envelope). Estimator: τ = (K+1)-th priority, ŵ_i =
  // max(w_i, τ) over the top-K — E[Σŵ] = Σw (DLT '05); materialized in
  // exact integer millis (one floor of a double per row, then BIGINT
  // sums) so the audit column hash-matches.
  //
  // Scale: the per-source top-(K+1) is the rank-filter form → Catalyst
  // WindowGroupLimit, so each map partition forwards ≤ K+1 rows per
  // source across the shuffle (never a full per-source sort — the
  // WindowBounds registry's own carve-out); totals are map-combinable
  // aggs; τ and the estimator rows are |sources|-sized broadcasts.
  // ---------------------------------------------------------------------
  private val PsK = 20
  private val PsMod = 1099511627776L // 2^40
  private val q245 = QueryDef(
    "q245_priority_sample",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"n_chars")
      val withP = docs
        .withColumn("h",
          Portable.md5Hash64(concat(lit("ps|"), $"doc_id".cast("string")))
            % PsMod)
        .withColumn("p",
          $"n_chars".cast("double") / ($"h" + 1L).cast("double"))
      val w = Window.partitionBy($"source").orderBy($"p".desc, $"doc_id")
      val ranked = withP
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= PsK + 1)
      val tau = ranked.groupBy($"source").agg(
        coalesce(max(when($"rank" === (PsK + 1L), $"p")), lit(0.0))
          .as("tau"))
      val totals = docs.groupBy($"source")
        .agg((sum($"n_chars") * 1000L).as("exact_total_milli"))
      val sample = ranked.filter($"rank" <= PsK)
        .join(broadcast(tau), Seq("source"))
        .withColumn("est_milli",
          floor(greatest($"n_chars".cast("double"), $"tau") * 1000.0)
            .cast("long"))
        .withColumn("tau_milli", floor($"tau" * 1000.0).cast("long"))
      val est = sample.groupBy($"source").agg(
        sum($"est_milli").as("est_total_milli"),
        count(lit(1)).as("n_sampled"))
      sample
        .join(broadcast(est), Seq("source"))
        .join(broadcast(totals), Seq("source"))
        .withColumn("err_milli",
          expr("(1000 * abs(est_total_milli - exact_total_milli))" +
            " div exact_total_milli"))
        .select($"source", $"rank", $"doc_id", $"n_chars", $"est_milli",
          $"tau_milli", $"n_sampled", $"est_total_milli",
          $"exact_total_milli", $"err_milli")
        .orderBy($"source", $"rank")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, source, n_chars,
               ${graft.functions.Portable.md5Hash64Sql(
                 "('ps|' || CAST(doc_id AS VARCHAR))")} % $PsMod AS hh
        FROM documents),
      pr AS (
        SELECT *, CAST(n_chars AS DOUBLE) / CAST(hh + 1 AS DOUBLE) AS p
        FROM h),
      r AS (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY source ORDER BY p DESC, doc_id) AS BIGINT) AS rank
        FROM pr),
      rk AS (SELECT * FROM r WHERE rank <= ${PsK + 1}),
      tau AS (
        SELECT source,
               coalesce(max(CASE WHEN rank = ${PsK + 1} THEN p END), 0.0)
                 AS tau
        FROM rk GROUP BY source),
      tot AS (
        SELECT source, CAST(sum(n_chars) * 1000 AS BIGINT)
                 AS exact_total_milli
        FROM documents GROUP BY source),
      s AS (
        SELECT rk.source, rk.rank, rk.doc_id, rk.n_chars,
               CAST(floor(greatest(CAST(rk.n_chars AS DOUBLE), tau.tau)
                 * 1000.0) AS BIGINT) AS est_milli,
               CAST(floor(tau.tau * 1000.0) AS BIGINT) AS tau_milli
        FROM rk JOIN tau ON rk.source = tau.source
        WHERE rk.rank <= $PsK),
      e AS (
        SELECT source, CAST(sum(est_milli) AS BIGINT) AS est_total_milli,
               count(*) AS n_sampled
        FROM s GROUP BY source)
      SELECT s.source, s.rank, s.doc_id, s.n_chars, s.est_milli,
             s.tau_milli, e.n_sampled, e.est_total_milli,
             tot.exact_total_milli,
             CAST((1000 * abs(e.est_total_milli - tot.exact_total_milli))
               // tot.exact_total_milli AS BIGINT) AS err_milli
      FROM s JOIN e ON s.source = e.source
             JOIN tot ON s.source = tot.source
      ORDER BY s.source, s.rank"""))

  // ---------------------------------------------------------------------
  // q253 — STREAMING PRIORITY SAMPLING: the production shape of q245 —
  // the weighted sample and the unbiased total estimate are maintained
  // WHILE the corpus streams in, not recomputed nightly (priority
  // sampling is one of the canonically stream-friendly sketches: the
  // top-(K+1) priority set is a mergeable summary). Per-source
  // ValueState holds the current top-(K+1) candidates (≤ K+1 rows of
  // (priority, doc, weight) — constant size) plus a monotone n_seen;
  // each batch emits the source's refreshed sample with τ, per-row
  // estimates and the running total estimate. The final answer is the
  // last emission per source (max n_seen — the q128 final-state
  // discipline), and it must equal the BATCH q245 computation exactly:
  // the oracle is the q245 SQL re-shaped, the q235 batch-as-oracle
  // discipline. Priorities are the identical IEEE division on the
  // identical md5-derived values, computed here in plain Scala through
  // [[graft.functions.Portable.md5Hash64Jvm]] — bit-equal to both
  // engines' column expressions (the q236 envelope).
  //
  // Scale: state is |sources| rows × (K+1) entries; batch cost is
  // O(batch docs · log K); the replay feed is the q223 chunked-parquet
  // kafka stand-in keyed by doc id.
  // ---------------------------------------------------------------------
  private[operators] final case class PsDoc(
      doc_id: Long, source: String, n_chars: Long)
  private[operators] final case class PsCand(p: Double, docId: Long, w: Long)
  private[operators] final case class PsSt(nSeen: Long, cand: Seq[PsCand])
  private[operators] final case class PsOut(
      source: String, rank: Long, doc_id: Long, n_chars: Long,
      est_milli: Long, tau_milli: Long, n_sampled: Long, n_seen: Long,
      est_total_milli: Long)

  private[operators] class PsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, PsDoc, PsOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[PsSt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PsSt]("ps_topk",
        org.apache.spark.sql.Encoders.product[PsSt], TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[PsDoc],
        tv: TimerValues): Iterator[PsOut] = {
      var s = if (st.exists()) st.get() else PsSt(0L, Nil)
      var cand = s.cand.toVector
      var seen = s.nSeen
      rows.foreach { d =>
        val h = graft.functions.Portable
          .md5Hash64Jvm(s"ps|${d.doc_id}") % PsMod
        val p = d.n_chars.toDouble / (h + 1L).toDouble
        cand = (cand :+ PsCand(p, d.doc_id, d.n_chars))
          .sortBy(c => (-c.p, c.docId)).take(PsK + 1)
        seen += 1L
      }
      st.update(PsSt(seen, cand))
      val tau = if (cand.length > PsK) cand(PsK).p else 0.0
      val tauMilli = math.floor(tau * 1000.0).toLong
      val sample = cand.take(PsK)
      val ests = sample.map(c =>
        math.floor(math.max(c.w.toDouble, tau) * 1000.0).toLong)
      val estTotal = ests.sum
      sample.zip(ests).zipWithIndex.iterator.map { case ((c, e), i) =>
        PsOut(key, i + 1L, c.docId, c.w, e, tauMilli, sample.length.toLong,
          seen, estTotal)
      }
    }
  }

  /** The q253 build, chunking exposed for the batch-boundary-independence
    * spec (the q235 replay contract).
    */
  private[operators] def streamPrioritySample(
      outer: SparkSession, dir: String, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val docs = graft.streaming.Streams.replay(outer, "doc_id", nChunks)(
      Tables.documents(_, dir).select("doc_id", "source", "n_chars"))
    import docs.sparkSession.implicits._
    val updates = docs.as[PsDoc]
      .groupByKey(_.source)
      .transformWithState(new PsProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
    val all = graft.streaming.Streams.runToParquet(updates, "update")
    // final sample = the last emission per source (n_seen is monotone)
    val last = all.groupBy($"source").agg(max($"n_seen").as("n_seen"))
    all.join(broadcast(last), Seq("source", "n_seen"))
      .select($"source", $"rank", $"doc_id", $"n_chars", $"est_milli",
        $"tau_milli", $"n_sampled", $"n_seen", $"est_total_milli")
      .orderBy($"source", $"rank")
  }

  private val q253 = QueryDef(
    "q253_stream_priority_sample",
    (outer, dir) => streamPrioritySample(outer, dir, 2),
    Some(s"""
      WITH h AS (
        SELECT doc_id, source, n_chars,
               ${graft.functions.Portable.md5Hash64Sql(
                 "('ps|' || CAST(doc_id AS VARCHAR))")} % $PsMod AS hh
        FROM documents),
      pr AS (
        SELECT *, CAST(n_chars AS DOUBLE) / CAST(hh + 1 AS DOUBLE) AS p
        FROM h),
      r AS (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY source ORDER BY p DESC, doc_id) AS BIGINT) AS rank
        FROM pr),
      rk AS (SELECT * FROM r WHERE rank <= ${PsK + 1}),
      tau AS (
        SELECT source,
               coalesce(max(CASE WHEN rank = ${PsK + 1} THEN p END), 0.0)
                 AS tau,
               CAST(floor(coalesce(max(CASE WHEN rank = ${PsK + 1} THEN p
                 END), 0.0) * 1000.0) AS BIGINT) AS tau_milli
        FROM rk GROUP BY source),
      seen AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_seen
        FROM documents GROUP BY source),
      s AS (
        SELECT rk.source, rk.rank, rk.doc_id, rk.n_chars, tau.tau_milli,
               CAST(floor(greatest(CAST(rk.n_chars AS DOUBLE), tau.tau)
                 * 1000.0) AS BIGINT) AS est_milli
        FROM rk JOIN tau ON rk.source = tau.source
        WHERE rk.rank <= $PsK),
      e AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(est_milli) AS BIGINT) AS est_total_milli
        FROM s GROUP BY source)
      SELECT s.source, s.rank, s.doc_id, s.n_chars, s.est_milli,
             s.tau_milli, e.n_sampled, seen.n_seen, e.est_total_milli
      FROM s
      JOIN e ON s.source = e.source
      JOIN seen ON s.source = seen.source
      ORDER BY s.source, s.rank"""))

  // ---------------------------------------------------------------------
  // q251 — CONTAMINATION ATTRIBUTION: q69 answers "is this train doc
  // contaminated?" (a flag off the 8-gram collision semi-join); this is
  // the report the data owner needs NEXT — how contaminated (shared
  // instance count and milli rate against the doc's own gram mass), and
  // BY WHICH benchmark doc (the single worst offender: max shared
  // instances, ties to the smallest doc id via one max(struct)) — the
  // difference between dropping a doc and filing a leak ticket against
  // the eval set. Same collision unit as q69/q118/q212 (word 8-grams)
  // so the numbers compose; membership is the md5 hash split (5%), the
  // q199 no-RNG discipline, rather than q69's doc_id modulo.
  //
  // Scale: the benchmark gram set is tiny in production (benchmarks
  // are MBs against a 100 TB corpus) — the gh equi-join degenerates to
  // a broadcast there; the train gram stream is consumed by exactly
  // one join + one rollup, never persisted (the q212 r9 discipline).
  // The per-(doc, bench-doc) fan-out is bounded by the benchmark's
  // gram multiset, not the corpus.
  // ---------------------------------------------------------------------
  private val q251 = QueryDef(
    "q251_contamination_report",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val docs = Tables.documents(spark, dir)
      val grams = docs
        .select($"doc_id", Portable.tokens($"text").as("w"))
        .filter(size($"w") >= 8)
        .select($"doc_id", explode(transform(
          sequence(lit(1), size($"w") - 7),
          i => Portable.md5Hash64(array_join(slice($"w", i, lit(8)), " "))))
          .as("gh"))
        .withColumn("is_bench",
          pmod(Portable.md5Hash64(concat(lit("bench|"),
            $"doc_id".cast("string"))), lit(20)) === 0)
      val bgrams = grams.filter($"is_bench")
        .groupBy($"gh").agg(min($"doc_id").as("bdoc"))
      val train = grams.filter(!$"is_bench")
      val perPair = train.join(bgrams, "gh")
        .groupBy($"doc_id", $"bdoc").agg(count(lit(1)).as("cnt"))
      val perDoc = perPair.groupBy($"doc_id")
        .agg(sum($"cnt").as("n_hits"),
          max(struct($"cnt", (-$"bdoc").as("nb"))).as("top"))
        .select($"doc_id", $"n_hits",
          (-$"top.nb").as("top_bench_doc"), $"top.cnt".as("top_bench_hits"))
      val totals = train.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      perDoc.join(totals, "doc_id")
        .join(docs.select($"doc_id", $"source"), "doc_id")
        .withColumn("contam_milli", expr("(1000 * n_hits) div n_grams"))
        .select($"doc_id", $"source", $"n_grams", $"n_hits",
          $"contam_milli", $"top_bench_doc", $"top_bench_hits")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH g0 AS (
        SELECT doc_id,
               ${graft.functions.Portable.md5Hash64Sql(
                 "array_to_string(g, ' ')")} AS gh,
               ${graft.functions.Portable.md5Hash64Sql(
                 "('bench|' || CAST(doc_id AS VARCHAR))")} % 20 = 0
                 AS is_bench
        FROM (
          SELECT doc_id, unnest(
            [w[(i):(i + 7)] for i in range(1, len(w) - 6)]) AS g
          FROM (
            SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS w
            FROM documents)
          WHERE len(w) >= 8)),
      bgrams AS (
        SELECT gh, min(doc_id) AS bdoc FROM g0 WHERE is_bench GROUP BY 1),
      train AS (SELECT doc_id, gh FROM g0 WHERE NOT is_bench),
      pp AS (
        SELECT t.doc_id, b.bdoc, CAST(count(*) AS BIGINT) AS cnt
        FROM train t JOIN bgrams b ON t.gh = b.gh GROUP BY 1, 2),
      pd AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_hits,
               -((max(struct_pack(cnt := cnt, nb := -bdoc))).nb)
                 AS top_bench_doc,
               (max(struct_pack(cnt := cnt, nb := -bdoc))).cnt
                 AS top_bench_hits
        FROM pp GROUP BY 1),
      tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM train GROUP BY 1)
      SELECT pd.doc_id, d.source, tot.n_grams, pd.n_hits,
             CAST((1000 * pd.n_hits) // tot.n_grams AS BIGINT)
               AS contam_milli,
             pd.top_bench_doc, pd.top_bench_hits
      FROM pd
      JOIN tot ON pd.doc_id = tot.doc_id
      JOIN documents d ON pd.doc_id = d.doc_id
      ORDER BY pd.doc_id"""))

  // ---------------------------------------------------------------------
  // q273 — HTML BOILERPLATE EXTRACTION (trafilatura/jusText-lite): the
  // web-crawl curation step upstream of every text operator — strip
  // markup chrome (head/script/style/nav/footer), drop tags, decode
  // entities, normalize whitespace, keep the article text. The fixture
  // corpus is plain text, so the query first WRAPS each doc in a
  // deterministic HTML page (the q67 plant-then-operate discipline:
  // title + script + style + nav breadcrumb + footer + an entity-bearing
  // trailing paragraph), then the extractor must recover EXACTLY the
  // original text plus the decoded trailer — asserted per doc via the
  // n_exact census, so a regex that eats a character of content or
  // leaves a tag breaks the gate. Pure per-row map work (regexes are
  // RE2-and-Java-compatible: non-greedy blocks, (?s) dotall, no
  // lookarounds); no shuffle before the per-source audit rollup —
  // at 100 TB this is the same linear scan shape as q67.
  // ---------------------------------------------------------------------
  /** Tag matcher, QUOTED-ATTRIBUTE-AWARE (the r10 verdict's hardening
    * ask): `<[^>]*>` eats to the first `>`, so an attribute containing
    * `>` (`<div data-note="5>4">`) leaks half the tag into the text.
    * This alternation consumes quoted attribute values atomically —
    * still RE2∩Java (no lookarounds, no backrefs). The r12 hardening:
    * `<` must be followed by a tag-opening character (letter, `/`, `!`,
    * `?`) — the HTML5 tokenizer rule that a stray `<` before a space or
    * digit is TEXT, not markup, so "5 < 7" survives extraction instead
    * of the old behavior (stray `<` swallowing text to the next `>`).
    * An UNTERMINATED tag (no `>` before an unmatched quote runs to EOF)
    * matches nothing and stays in the text — the documented best-effort
    * recovery for truncated markup: leak the fragment, never eat
    * content past it, never crash.
    */
  private val TagRe = "<[!/?a-zA-Z](?:[^>\"']|\"[^\"]*\"|'[^']*')*>"
  /** Named AND numeric character references (&amp; / &#39;). */
  private val EntityRe = "&#?[a-z0-9]+;"
  private val BlockRes = Seq(
    "(?s)<script.*?</script>", "(?s)<style.*?</style>",
    "(?s)<title.*?</title>", "(?s)<nav.*?</nav>",
    "(?s)<footer.*?</footer>", "(?s)<!--.*?-->",
    "(?s)<!\\[CDATA\\[.*?\\]\\]>")

  /** Per-variant page chrome (variant = doc_id % 7): the r10 plant was
    * ONE well-formed template; real web markup is not. v0 = baseline,
    * v1 = unclosed elements + a `>`-bearing comment, v2 = attribute
    * values containing `>` in both quote styles, v3 = a bare CDATA
    * section + numeric character references, and the r11-verdict
    * MALFORMED trio with defined recovery semantics: v4 = mis-nested
    * inline pairs (<b><i>…</b>…</i> — tags strip independently of
    * nesting, so recovery is exact), v5 = bare `&` and a stray text `<`
    * (neither is markup: the entity regex requires a terminating `;`,
    * the r12 TagRe requires a tag-opening character — both survive
    * verbatim), v6 = an UNTERMINATED trailing tag whose quote never
    * closes (no TagRe match exists, so the fragment leaks into the text
    * — best-effort recovery, gated exactly by including the fragment in
    * `want`). Each variant's exact-recovery is separately gated: the
    * census groups by variant, so one regressing template is a visible
    * row, not an averaged-away count.
    */
  private val NVariants = 7
  private val HtmlOpenMain = Seq(
    "<div id=\"main\"><p>",
    "<!-- crumbs > trail --><div><p>",
    "<div data-note=\"5>4\" class='a>b'><p>",
    "<div><![CDATA[ raw > data ]]><p>",
    "<div><p>",
    "<div><p>",
    "<div><p>")
  private val HtmlTrailer = Seq(
    "</p><p>Rated 5 &gt; 4 &amp; counting</p></div>",
    "<br><p>Line one<br>Line two</div>",
    "</p><span title=\"x>y\">ok</span></div>",
    "</p><p>It&#39;s fine &#34;quoted&#34;</p></div>",
    "</p><b><i>mixed</b> tail</i><p>end</p></div>",
    "</p><p>AT&T wins 5 & 6 < 7</p></div>",
    "</p><p>tail text</p><div class=\"x")
  private val WantSuffix = Seq(
    " Rated 5 > 4 & counting",
    " Line one Line two",
    " ok",
    " It's fine \"quoted\"",
    " mixed tail end",
    " AT&T wins 5 & 6 < 7",
    " tail text <div class=\"x")

  private val q273 = QueryDef(
    "q273_html_extract",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      def byVariant(pieces: Seq[String]) = pieces.zipWithIndex.tail
        .foldLeft(when($"doc_id" % NVariants === 0, lit(pieces.head))) {
          case (c, (p, i)) => c.when($"doc_id" % NVariants === i, lit(p))
        }
      val wrapped = Tables.documents(spark, dir)
        .withColumn("variant", $"doc_id" % NVariants)
        .withColumn("html", concat(
          lit("<!DOCTYPE html><html><head><title>Doc "), $"doc_id",
          lit("</title><script>var x=1;</script><style>.m{color:red}</style>" +
            "</head><body><nav>Home &gt; "), $"source",
          lit("</nav>"), byVariant(HtmlOpenMain), $"text", byVariant(HtmlTrailer),
          lit("<footer>&copy; 2024 Example</footer></body></html>")))
      val deblocked = BlockRes.foldLeft($"html": org.apache.spark.sql.Column)(
        (c, re) => regexp_replace(c, re, " "))
      val audited = wrapped
        .withColumn("n_tags",
          size(regexp_extract_all($"html", lit(TagRe), lit(0))))
        .withColumn("n_entities",
          size(regexp_extract_all($"html", lit(EntityRe), lit(0))))
        .withColumn("untag", regexp_replace(deblocked, TagRe, " "))
        .withColumn("decoded",
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace($"untag",
              "&gt;", ">"), "&lt;", "<"), "&amp;", "&"),
            "&#39;", "'"), "&#34;", "\""))
        .withColumn("extracted",
          trim(regexp_replace($"decoded", "\\s+", " ")))
        .withColumn("want",
          concat(trim(regexp_replace($"text", "\\s+", " ")),
            byVariant(WantSuffix)))
      audited
        .groupBy($"source", $"variant")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tags").as("tags_stripped"),
          sum($"n_entities").as("entities_seen"),
          sum(when($"extracted" === $"want", 1L).otherwise(0L))
            .as("n_exact"),
          sum(Portable.md5Hash64($"extracted") % lit(Portable.P))
            .as("corpus_checksum"))
        .orderBy($"source", $"variant")
    },
    Some {
      def sqlq(s: String) = s.replace("'", "''")
      val blocks = BlockRes.foldLeft("html")(
        (e, re) => s"regexp_replace($e, '${sqlq(re)}', ' ', 'g')")
      def byVariantSql(pieces: Seq[String], sel: String = s"doc_id % $NVariants") =
        s"CASE $sel ${pieces.zipWithIndex.map { case (p, i) =>
          s"WHEN $i THEN '${sqlq(p)}'" }.mkString(" ")} END"
      s"""
      WITH wrapped AS (
        SELECT source, text, doc_id % 7 AS variant,
               '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
               '</title><script>var x=1;</script><style>.m{color:red}</style>' ||
               '</head><body><nav>Home &gt; ' || source ||
               '</nav>' || ${byVariantSql(HtmlOpenMain)} || text ||
               ${byVariantSql(HtmlTrailer)} ||
               '<footer>&copy; 2024 Example</footer></body></html>' AS html
        FROM documents),
      ext AS (
        SELECT source, variant,
               len(regexp_extract_all(html, '${sqlq(TagRe)}')) AS n_tags,
               len(regexp_extract_all(html, '$EntityRe')) AS n_entities,
               trim(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(
                     regexp_replace($blocks, '${sqlq(TagRe)}', ' ', 'g'),
                     '&gt;', '>', 'g'), '&lt;', '<', 'g'), '&amp;', '&', 'g'),
                   '&#39;', '''', 'g'), '&#34;', '"', 'g'),
                 '\\s+', ' ', 'g')) AS extracted,
               trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
                 ${byVariantSql(WantSuffix, "variant")} AS want
        FROM wrapped)
      SELECT source, CAST(variant AS BIGINT) AS variant, count(*) AS n_docs,
             CAST(sum(n_tags) AS BIGINT) AS tags_stripped,
             CAST(sum(n_entities) AS BIGINT) AS entities_seen,
             CAST(sum(CASE WHEN extracted = want THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
             CAST(sum(${graft.functions.Portable.md5Hash64Sql("extracted")}
               % ${graft.functions.Portable.P}) AS BIGINT) AS corpus_checksum
      FROM ext GROUP BY source, variant ORDER BY source, variant"""
    })

  // ---------------------------------------------------------------------
  // q288 — HOMOGLYPH / MIXED-SCRIPT SPOOF AUDIT (Unicode TR39 confusable
  // detection, the data-poisoning defense a crawl-ingest pipeline runs
  // before dedup: an adversary swaps Latin letters for visually-identical
  // Cyrillic ones so fingerprints, exact-dedup hashes and blocklists all
  // miss — "pаypаl" with Cyrillic а survives every ASCII filter). The
  // detector: a token containing BOTH a Latin letter and a Cyrillic
  // letter is a spoof signature (pure-Cyrillic tokens are legitimate
  // Russian; the MIX inside one token is what natural text never does).
  //
  // The fixture corpus is pure ASCII, so the operator uses the q67/q273
  // plant-then-operate discipline: docs hash-selected by
  // md5("spoof|"+doc_id) % 11 = 0 are passed through the confusable map
  // translate(aeopc → аеорс) — the five most-confusable Latin→Cyrillic
  // pairs — and the audit runs over the planted corpus. The census
  // output groups (source, planted, flagged): recall gaps are VISIBLE
  // rows (a planted doc whose every a/e/o/p/c-token maps entirely —
  // leaving no mixed token — is an honest false negative of the
  // detector, not of the plant), and false positives are impossible on
  // an ASCII base. CurationSpec pins per-doc recovery.
  //
  // Exactness: all counts (token filters, codepoint strips) are exact
  // integers; the flag is an integer comparison. Scale: one per-row map
  // pass (regex work linear in chars), one map-combinable census
  // rollup keyed by (source, planted, flagged) — ≤ |sources|·4 rows out.
  // ---------------------------------------------------------------------
  private val SpoofMod = 11L

  private val q288 = QueryDef(
    "q288_homoglyph_audit",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val planted = Tables.documents(spark, dir)
        .withColumn("planted",
          pmod(Portable.md5Hash64(
            concat(lit("spoof|"), $"doc_id".cast("string"))),
            lit(SpoofMod)) === 0)
        .withColumn("t2",
          when($"planted", translate($"text", "aeopc", "аеорс"))
            .otherwise($"text"))
      planted
        .withColumn("mixed_tokens",
          size(filter(Portable.tokens($"t2"),
            t => t.rlike("[Ѐ-ӿ]") && t.rlike("[a-zA-Z]")))
            .cast("long"))
        .withColumn("cyr_chars",
          length(regexp_replace($"t2", "[^Ѐ-ӿ]", "")).cast("long"))
        .withColumn("flagged", $"mixed_tokens" > 0L)
        .groupBy($"source", $"planted", $"flagged")
        .agg(count(lit(1)).as("n_docs"),
          sum($"mixed_tokens").as("sum_mixed"),
          sum($"cyr_chars").as("sum_cyr"))
        .orderBy($"source", $"planted", $"flagged")
    },
    Some(s"""
      WITH p0 AS (
        SELECT doc_id, source, text,
               ${graft.functions.Portable.md5Hash64Sql(
                 "('spoof|' || CAST(doc_id AS VARCHAR))")} % $SpoofMod = 0
                 AS planted
        FROM documents),
      p1 AS (
        SELECT source, planted,
               CASE WHEN planted THEN translate(text, 'aeopc', 'аеорс')
                    ELSE text END AS t2
        FROM p0),
      aud AS (
        SELECT source, planted,
               CAST(len(list_filter(${graft.functions.Portable.tokensSql("t2")},
                 t -> regexp_matches(t, '[\\x{0400}-\\x{04FF}]')
                      AND regexp_matches(t, '[a-zA-Z]'))) AS BIGINT)
                 AS mixed_tokens,
               CAST(length(regexp_replace(t2, '[^\\x{0400}-\\x{04FF}]', '', 'g'))
                 AS BIGINT) AS cyr_chars
        FROM p1)
      SELECT source, planted, mixed_tokens > 0 AS flagged,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(mixed_tokens) AS BIGINT) AS sum_mixed,
             CAST(sum(cyr_chars) AS BIGINT) AS sum_cyr
      FROM aud GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  // ---------------------------------------------------------------------
  // q301 — LUHN CREDIT-CARD PII AUDIT: the checksum-verified PAN detector
  // a crawl-curation pipeline runs beyond q67's pattern scrub — a bare
  // \d{16} regex flags every order number and tracking code, so real
  // redactors (presidio-style) gate on the Luhn check (ISO/IEC 7812)
  // before redacting. The fixture carries no digits, so the query plants
  // one 16-digit candidate per doc (the q67 plant-then-operate
  // discipline): digits derived from doc_id, with the CORRECT Luhn check
  // digit on a hash-selected half of the docs (the q288 SpoofMod pattern
  // — doc_id parity would confound with the fixture's source assignment)
  // and an offset-by-5 (always wrong) digit on the rest. The detector
  // must then flag exactly the hash-selected docs, redact only
  // those, and leave the near-miss candidates untouched — checksum-gated
  // per source. The Luhn sum is ONE generated integer expression (16
  // digit terms with position-dependent doubling), shared VERBATIM by
  // both engines up to the string-cast keyword — exact integer
  // arithmetic end to end. Pure per-row map work; one audit rollup.
  // ---------------------------------------------------------------------
  /** Luhn sum of the first `len` chars of string expression `s`, where
    * the full PAN length is 16: the digit at 1-based position i (from
    * the left) is doubled when its right-position 17−i is even, i.e.
    * when i is odd; doubled digits > 9 drop 9.
    */
  private def luhnSumSql(s: String, len: Int): String =
    (1 to len).map { i =>
      val d = s"CAST(substring($s, $i, 1) AS INT)"
      if (i % 2 == 1) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)"
      else d
    }.mkString("(", " + ", ")")

  /** The 15-digit PAN prefix: '4' then 14 doc_id-derived digits.
    * `cast` is the engine's string-cast type name (STRING / VARCHAR).
    */
  private def panPrefixSql(cast: String): String =
    "'4' || " + (1 to 14).map { i =>
      val k = Seq(7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)(i - 1)
      s"CAST((doc_id * $k + $i) % 10 AS $cast)"
    }.mkString(" || ")

  private val CardRe = "\\d{16}"

  private val q301 = QueryDef(
    "q301_luhn_audit",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.Portable
      val planted = Tables.documents(spark, dir)
        .withColumn("pre15", expr(panPrefixSql("STRING")))
        .withColumn("s15", expr(luhnSumSql("pre15", 15)))
        .withColumn("cd_valid", expr("(10 - s15 % 10) % 10"))
        .withColumn("mk_valid",
          graft.functions.Portable.md5Hash64(
            concat(lit("luhn|"), $"doc_id".cast("string"))) % 2 === 0)
        .withColumn("cd",
          expr("CASE WHEN mk_valid THEN cd_valid" +
            " ELSE (cd_valid + 5) % 10 END"))
        .withColumn("card", concat($"pre15", $"cd".cast("string")))
        .withColumn("text2",
          concat($"text", lit(" pay "), $"card", lit(" ref "), $"doc_id"))
      planted
        .withColumn("cand", regexp_extract($"text2", CardRe, 0))
        .withColumn("luhn_total", expr(luhnSumSql("cand", 16)))
        .withColumn("is_valid", length($"cand") === 16 &&
          expr("luhn_total % 10") === 0)
        .withColumn("clean",
          when($"is_valid", expr("replace(text2, cand, '<CARD>')"))
            .otherwise($"text2"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(length($"cand") === 16, 1L).otherwise(0L))
            .as("n_card_like"),
          sum(when($"is_valid", 1L).otherwise(0L)).as("n_luhn_valid"),
          sum(when($"is_valid", lit(16L)).otherwise(0L))
            .as("chars_redacted"),
          sum(Portable.md5Hash64($"clean") % lit(Portable.P))
            .as("corpus_checksum"))
        .orderBy($"source")
    },
    Some(s"""
      WITH p0 AS (
        SELECT doc_id, source, text,
               ${panPrefixSql("VARCHAR")} AS pre15
        FROM documents),
      p1 AS (
        SELECT *, ${luhnSumSql("pre15", 15)} AS s15 FROM p0),
      p2 AS (
        SELECT *, (10 - s15 % 10) % 10 AS cd_valid FROM p1),
      p3 AS (
        SELECT doc_id, source,
               text || ' pay ' || pre15 ||
                 CAST(CASE WHEN ${graft.functions.Portable.md5Hash64Sql(
                   "('luhn|' || CAST(doc_id AS VARCHAR))")} % 2 = 0
                           THEN cd_valid
                           ELSE (cd_valid + 5) % 10 END AS VARCHAR) ||
                 ' ref ' || doc_id AS text2
        FROM p2),
      det AS (
        SELECT source, text2,
               regexp_extract(text2, '$CardRe') AS cand
        FROM p3),
      lv AS (
        SELECT source, text2, cand,
               length(cand) = 16 AND ${luhnSumSql("cand", 16)} % 10 = 0
                 AS is_valid
        FROM det),
      cl AS (
        SELECT source, cand, is_valid,
               CASE WHEN is_valid THEN replace(text2, cand, '<CARD>')
                    ELSE text2 END AS clean
        FROM lv)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN length(cand) = 16 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_card_like,
             CAST(sum(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_luhn_valid,
             CAST(sum(CASE WHEN is_valid THEN 16 ELSE 0 END) AS BIGINT)
               AS chars_redacted,
             CAST(sum(${graft.functions.Portable.md5Hash64Sql("clean")}
               % ${graft.functions.Portable.P}) AS BIGINT)
               AS corpus_checksum
      FROM cl GROUP BY source ORDER BY source"""))

  override val defs: Seq[QueryDef] =
    Seq(q61, q64, q67, q68, q69, q111, q112, q129, q134, q149, q164, q168,
      q175, q194, q195, q199, q200, q209, q227, q228, q245, q251, q253,
      q273, q288, q301, q315, q316, q318)
}
