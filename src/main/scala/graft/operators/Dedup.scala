package graft.operators

import graft.{QueryDef, QueryModule}
import graft.functions.{Portable, VectorOps}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication suite for large-scale corpus curation (builder brief +
  * SURVEY.md §7.2 step 7): exact hash-dedup, MinHash+LSH near-dup,
  * SimHash, blocked n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale shapes (the whole point at 100 TB):
  *   - exact dedup = hash-groupBy — one shuffle on the content hash;
  *   - MinHash = explode(shingles) → partial-agg min per hash fn (map-side
  *     combine shrinks the shuffle to |docs|×16 longs) → band-bucket
  *     self-join (only bucket collisions are ever paired — never O(n²));
  *   - SimHash = explode(tokens) → 32 partial sums → 64-bit-key self-join;
  *   - n-gram Jaccard runs only inside (lang, length-bucket) blocks;
  *   - embedding near-dup pairs only inside label blocks (the ANN/LSH path
  *     for unblocked data is Similarity.scala).
  * Every pair-producing join keys on a bucket/block — the candidate set,
  * not the corpus, is quadratic.
  */
object Dedup extends QueryModule {

  import Portable.P

  // ---------------------------------------------------------------------
  // q34 — exact deduplication (hash-groupBy): per source, how many docs
  // survive content-hash dedup. md5 is byte-identical on both engines.
  // ---------------------------------------------------------------------
  private val q34 = QueryDef(
    "q34_exact_dedup",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5($"text")).as("n_distinct"),
          (count(lit(1)) - countDistinct(md5($"text"))).as("n_dup_docs"))
        .orderBy($"source")
    },
    Some("""
      SELECT source, count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_distinct,
             count(*) - count(DISTINCT md5(text)) AS n_dup_docs
      FROM documents GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q35 — MinHash + LSH near-dup: char-5 shingles → 18 minhashes → 3
  // bands × 6 rows → bucket-collision candidates → exact-Jaccard verify.
  // Signature estimate (fraction of agreeing minhashes) is emitted next to
  // the exact Jaccard so the LSH quality is visible in the output.
  //
  // Band shape is the scale lever: the S-curve threshold (1/b)^(1/r) is
  // 0.83, so candidate volume — and with it the pair×shingle verify join,
  // the single most expensive stage — tracks the true near-dup set instead
  // of every moderately-similar template pair. Measured on the sf0.1
  // corpus: b=4/r=4 yields 41,663 candidates for 256 verified pairs
  // (verify ≈ 6.9 s); b=3/r=6 yields 1,183 candidates for the SAME 256
  // verified pairs (verify ≈ 0.9 s). b=2/r=8 drops real pairs (247).
  // ---------------------------------------------------------------------
  private val NumHashes = 18
  private val NumBands = 3
  private val RowsPerBand = NumHashes / NumBands
  // fixed affine hash family (a_j h + b_j) mod P; a_j < 2^32 keeps the
  // 63-bit product safe for h < P
  private val HashA: Array[Long] =
    Array.tabulate(NumHashes)(j => ((2654435761L * (j + 1)) % 4294967296L) | 1L)
  private val HashB: Array[Long] =
    Array.tabulate(NumHashes)(j => (40503L * (j + 7) * 2654435789L) % P)

  /** doc_id → exploded distinct char-5 shingles (codegen'd
    * CharShinglesExpr — the declarative transform/substr chain is
    * interpreted and this is the engine's hottest per-row loop).
    */
  private def shingles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        explode(graft.functions.CharShinglesExpr.shingles($"text", 5)).as("s"))
  }
  private val shinglesSql = """
      sh AS (
        SELECT doc_id, unnest(list_distinct(
          [substr(text, i, 5) for i in range(1, greatest(length(text) - 4, 1) + 1)])) AS s
        FROM documents)"""

  /** Verified near-dup pairs (i < j, jaccard >= 0.5) as a materialized
    * derived table (Scoped.shared): built once per input dir, then read
    * by every consumer — q35 itself, the curation pipeline (q61), and the
    * cluster pass (q72). Signatures are per-doc, so pairs over the full
    * corpus restricted to a survivor set equal pairs computed over the
    * survivor set directly.
    */
  private[operators] def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "minhash_pairs", dir)(buildPairs(spark, dir))

  private def buildPairs(spark: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
      import spark.implicits._
      // The shingle set and the signature table are each referenced by
      // several downstream branches (bands, sizes, intersection, estimate)
      // — materialize them once instead of letting every branch recompute
      // the explode+hash subtree. At cluster scale these are exactly the
      // tables you'd persist (or write) before the LSH join.
      val sh = shingles(spark, dir).persist()
      // 16 codegen'd min() columns, NOT functions.MinHashAgg: the
      // TypedImperativeAggregate form is value-identical but plans as
      // ObjectHashAggregate (no codegen) and measured ~3× slower at this
      // k — the UDAF stays in the library for object-state aggregations
      // that plain columns can't express
      val sig = sh
        .withColumn("h", Portable.md5Hash64($"s") % P)
        .groupBy($"doc_id")
        .agg(
          min((lit(HashA(0)) * $"h" + lit(HashB(0))) % P).as("m0"),
          (1 until NumHashes).map(j =>
            min((lit(HashA(j)) * $"h" + lit(HashB(j))) % P).as(s"m$j")): _*)
        .persist()
      val bandCols = (0 until NumBands).map { b =>
        val bval = (0 until RowsPerBand).foldLeft(lit(0L)) {
          (acc, r) => (acc * 31 + col(s"m${b * RowsPerBand + r}")) % P
        }
        struct(lit(b).as("band"), bval.as("bval"))
      }
      val bands = sig
        .select($"doc_id", explode(array(bandCols: _*)).as("bb"))
        .select($"doc_id", $"bb.band".as("band"), $"bb.bval".as("bval"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
        .distinct()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(sh.as("a"), col("a.doc_id") === $"i")
        .join(sh.as("b"), col("b.doc_id") === $"j" && col("b.s") === col("a.s"))
        .groupBy($"i", $"j").agg(count(lit(1)).as("k"))
      val estEq = (0 until NumHashes).map(j =>
        (col(s"sa.m$j") === col(s"sb.m$j")).cast("int")).reduce(_ + _)
      val verified = inter
        .join(sizes.as("na"), col("na.doc_id") === $"i")
        .join(sizes.as("nb"), col("nb.doc_id") === $"j")
        .withColumn("jaccard",
          $"k".cast("double") / (col("na.n") + col("nb.n") - $"k").cast("double"))
        .filter($"jaccard" >= 0.5)
        .join(sig.as("sa"), col("sa.doc_id") === $"i")
        .join(sig.as("sb"), col("sb.doc_id") === $"j")
        .withColumn("est_sim", estEq.cast("double") / lit(NumHashes.toDouble))
        .select($"i", $"j", $"jaccard", $"est_sim")
      (Seq(sh, sig), verified)
    }

  private val minhashBuild: (SparkSession, String) => DataFrame =
    (spark, dir) => nearDupPairs(spark, dir).orderBy(col("i"), col("j"))

  private[operators] val minhashOracle: String = {
      val minCols = (0 until NumHashes).map(j =>
        s"min((${HashA(j)} * h + ${HashB(j)}) % $P) AS m$j").mkString(",\n               ")
      val bandSelects = (0 until NumBands).map { b =>
        val bval = (0 until RowsPerBand).foldLeft("CAST(0 AS BIGINT)") {
          (acc, r) => s"(($acc) * 31 + m${b * RowsPerBand + r}) % $P"
        }
        s"SELECT doc_id, $b AS band, $bval AS bval FROM sig"
      }.mkString("\n        UNION ALL\n        ")
      val estEq = (0 until NumHashes).map(j =>
        s"CAST(sa.m$j = sb.m$j AS INT)").mkString(" + ")
      s"""
      WITH $shinglesSql,
      hashed AS (
        SELECT doc_id, ${Portable.md5Hash64Sql("s")} % $P AS h FROM sh),
      sig AS (
        SELECT doc_id,
               $minCols
        FROM hashed GROUP BY doc_id),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT i, j, count(*) AS k
        FROM cand JOIN sh a ON a.doc_id = i JOIN sh b ON b.doc_id = j AND b.s = a.s
        GROUP BY i, j),
      verified AS (
        SELECT i, j,
               CAST(k AS DOUBLE) / CAST(na.n + nb.n - k AS DOUBLE) AS jaccard
        FROM inter JOIN sizes na ON na.doc_id = i JOIN sizes nb ON nb.doc_id = j
        WHERE CAST(k AS DOUBLE) / CAST(na.n + nb.n - k AS DOUBLE) >= 0.5)
      SELECT i, j, jaccard, ($estEq) / ${NumHashes}.0 AS est_sim
      FROM verified JOIN sig sa ON sa.doc_id = i JOIN sig sb ON sb.doc_id = j
      ORDER BY i, j"""
  }

  private val q35 = QueryDef("q35_minhash_lsh", minhashBuild, Some(minhashOracle))

  // ---------------------------------------------------------------------
  // q36 — SimHash near-dup: 32-bit token-frequency simhash per doc, then
  // hamming-distance pairs (≤ 3 bits) inside language blocks.
  // ---------------------------------------------------------------------
  private val SimBits = 32
  private val SimHammingMax = 3
  // pigeonhole: any pair at hamming ≤ 3 differs in ≤ 3 of the 4 bands, so
  // it agrees EXACTLY on ≥ 1 band — banding is lossless for this threshold
  private val SimBands = 4
  private val SimBandBits = SimBits / SimBands
  private val q36 = QueryDef(
    "q36_simhash",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", $"lang", explode(Portable.tokens($"text")).as("w"))
        .withColumn("h", Portable.md5Hash64($"w"))
      val bitSums = toks.groupBy($"doc_id", $"lang")
        .agg(
          sum(when(shiftright($"h", 0).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as("s0"),
          (1 until SimBits).map(b =>
            sum(when(shiftright($"h", b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$b")): _*)
      val fp = (0 until SimBits).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
      // band-exploded below — materialize the signature table once
      val sigs = bitSums.select($"doc_id", $"lang", fp.as("fp")).persist()
      // Candidate generation joins on (lang, band, band bits), never on
      // the language block alone: at corpus scale "lang = en" is most of
      // the data and a lang-only self-join is O(n²) inside that block,
      // while a band bucket holds only near-identical signatures.
      val bandCols = (0 until SimBands).map(b =>
        struct(lit(b).as("band"),
          shiftright($"fp", b * SimBandBits).bitwiseAND(lit((1L << SimBandBits) - 1)).as("bits")))
      val bands = sigs
        .select($"doc_id", $"lang", $"fp", explode(array(bandCols: _*)).as("bb"))
        .select($"doc_id", $"lang", $"fp", $"bb.band".as("band"), $"bb.bits".as("bits"))
      // fp is functionally dependent on doc_id, so carrying it through the
      // pair-dedup distinct saves the signature re-join at verify time
      val cand = bands.as("a").join(bands.as("b"),
          col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
            col("a.bits") === col("b.bits") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.lang").as("lang"), col("a.doc_id").as("i"),
          col("b.doc_id").as("j"), col("a.fp").as("fa"), col("b.fp").as("fb"))
        .distinct()
      val pairs = cand
        .withColumn("hamming", bit_count($"fa".bitwiseXOR($"fb")))
        .filter($"hamming" <= SimHammingMax)
        .select($"lang", $"i", $"j", $"hamming")
      Scoped.materialize(sigs)(pairs).orderBy($"lang", $"i", $"j")
    },
    Some {
      val sums = (0 until SimBits).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n               ")
      val fp = (0 until SimBits).map(b =>
        s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      val mask = (1L << SimBandBits) - 1
      s"""
      WITH toks AS (
        SELECT doc_id, lang, ${Portable.md5Hash64Sql("w")} AS h
        FROM (SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS w
              FROM documents)),
      bitsums AS (
        SELECT doc_id, lang,
               $sums
        FROM toks GROUP BY doc_id, lang),
      sigs AS (SELECT doc_id, lang, $fp AS fp FROM bitsums),
      bands AS (
        SELECT doc_id, lang, fp, band,
               (fp >> (band * $SimBandBits)) & $mask AS bits
        FROM sigs, (SELECT unnest(range($SimBands)) AS band)),
      cand AS (
        SELECT DISTINCT a.lang AS lang, a.doc_id AS i, b.doc_id AS j,
               a.fp AS fa, b.fp AS fb
        FROM bands a JOIN bands b
          ON a.lang = b.lang AND a.band = b.band AND a.bits = b.bits
         AND a.doc_id < b.doc_id)
      SELECT lang, i, j, bit_count(xor(fa, fb)) AS hamming
      FROM cand
      WHERE bit_count(xor(fa, fb)) <= $SimHammingMax
      ORDER BY lang, i, j"""
    })

  // ---------------------------------------------------------------------
  // q96 — fuzzy near-dup by edit distance: candidate pairs are docs
  // sharing ≥ 1 RARE word-3-gram (df ≤ GramDfCap) inside a
  // (lang, length-bucket) block (the q37 candidate generator — never
  // all-pairs, never stop-gram-quadratic), verified by Levenshtein
  // over the 80-char prefixes at distance ≤ 20. Edit distance is integer
  // DP — bit-identical on any engine — so unlike float-similarity
  // verifiers the pair set needs no tolerance. The distance pass uses the
  // threshold-bounded levenshtein (banded DP, O(candidates · 80 · 20)),
  // bounded by the same blocking that bounds q37.
  // ---------------------------------------------------------------------
  private val GramDfCap = 50

  /** Shared oracle CTEs: full gram table + df-capped candidate cut.
    * (Declared before q96/q37, which interpolate it at object init.)
    */
  private val gramsSql = s"""
      toks AS (
        SELECT doc_id, lang, n_chars // 100 AS lb,
               ${Portable.tokensSql("text")} AS w
        FROM documents),
      grams AS (
        SELECT doc_id, lang, lb, s FROM (
          SELECT doc_id, lang, lb, unnest(list_distinct(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS s
          FROM toks)
        WHERE s IS NOT NULL),
      rare AS (
        SELECT doc_id, lang, lb, s FROM (
          SELECT doc_id, lang, lb, s,
                 count(*) OVER (PARTITION BY lang, lb, s) AS df
          FROM grams)
        WHERE df <= $GramDfCap)"""

  private val q96 = QueryDef(
    "q96_fuzzy_editdist",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val rare = rareGrams(spark, dir)
      // r14: candidate join keys on the silver's 8-byte hs (the q232
      // narrow-key discipline; oracle-gated)
      val cands = rare.as("a").join(rare.as("b"),
          col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
            col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .distinct()
      val texts = docs.select($"doc_id", substring($"text", 1, 80).as("p"))
      cands
        .join(texts.as("ta"), col("ta.doc_id") === $"i")
        .join(texts.as("tb"), col("tb.doc_id") === $"j")
        // bounded variant: banded DP + early exit, -1 when > threshold —
        // 3x cheaper than the full O(80^2) table and exact within bound
        .withColumn("dist", levenshtein(col("ta.p"), col("tb.p"), 20))
        .filter($"dist" >= 0)
        .select($"i", $"j", $"dist")
        .orderBy($"i", $"j")
    },
    Some(s"""
      WITH $gramsSql,
      cands AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        FROM rare a JOIN rare b
          ON a.lang = b.lang AND a.lb = b.lb AND a.s = b.s AND a.doc_id < b.doc_id),
      texts AS (SELECT doc_id, substr(text, 1, 80) AS p FROM documents)
      SELECT i, j, levenshtein(ta.p, tb.p) AS dist
      FROM cands JOIN texts ta ON ta.doc_id = i JOIN texts tb ON tb.doc_id = j
      WHERE levenshtein(ta.p, tb.p) <= 20
      ORDER BY i, j"""))

  /** Word-3-gram table (doc_id, lang, 100-char length bucket, gram) as a
    * shared derived table: the blocked candidate generator behind q37
    * (Jaccard verify) and q96 (edit-distance verify). The tokenize →
    * transform → array_distinct → explode subtree is the expensive half of
    * both queries, and a self-join would otherwise evaluate it once PER
    * SIDE (the broadcast side does not reuse the streamed side's exchange)
    * — so it is built once per input dir and every consumer/side reads the
    * parquet (silver-table pattern, same as the minhash pair table).
    */
  private[operators] def word3grams(spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "word3grams", dir)({
      import spark.implicits._
      val grams = Tables.documents(spark, dir)
        .withColumn("w", Portable.tokens($"text"))
        .select($"doc_id", $"lang", (($"n_chars" / 100).cast("long")).as("lb"),
          explode(array_distinct(
            transform(
              sequence(lit(1), greatest(size($"w") - 2, lit(1))),
              i => concat(element_at($"w", i), lit(" "),
                element_at($"w", i + 1), lit(" "),
                element_at($"w", i + 2))))).as("s"))
        .filter($"s".isNotNull)
        .persist() // df aggregate + attach join both read it at build time
      // block-local document frequency, computed once at build time.
      // GROUP-BY + JOIN, deliberately NOT count(*) OVER (PARTITION BY
      // lang, lb, s): a window buffers every posting of a hot stop-gram
      // ("one of the") in ONE task — the q190/q191 straggler class — while
      // the aggregate combines map-side and the attach join streams (and
      // is AQE-skew-splittable). Consumers that don't select df get it
      // pruned at the parquet scan.
      val dfx = grams.groupBy($"lang", $"lb", $"s")
        .agg(count(lit(1)).as("df"))
      // hs: the gram's md5-64 key, computed once at build (r14, guide
      // §2.3/§4) — consumers whose joins/shuffles only need gram
      // IDENTITY (q232's prefix+verify joins) carry 8 bytes instead of
      // the ~25-byte shingle string; column pruning drops it everywhere
      // else. Same q120/q191 narrow-key discipline.
      (Seq(grams), grams.join(dfx, Seq("lang", "lb", "s"))
        .select($"doc_id", $"lang", $"lb", $"s",
          graft.functions.Portable.md5Hash64($"s").as("hs"), $"df"))
    })

  /** Gram-key contract of the q37/q232/q319 VERIFY joins. They match
    * grams on `Portable.md5Hash64` (the top 60 bits of the gram's md5),
    * not on the gram string. A collision in CANDIDATE generation only adds
    * a candidate that verification rejects; a collision in the verify
    * join counts two distinct grams as one shared gram, inflates the
    * intersection k and can admit a false pair that the DuckDB oracle
    * (string equality) never sees at fixture scale. For n distinct grams
    * the expected number of colliding gram pairs is
    * C(n, 2) / 2^60 ≈ n² / 2^61. The contract is rated for
    * [[GramKeyRatedGrams]] distinct grams, where that expectation is
    * ≈ 4.9e-4; ScaleBehaviorSpec pins it. A corpus beyond the rating
    * should verify on the gram string.
    */
  private[graft] val GramKeyRatedGrams: Long = 1L << 25
  private[graft] def gramKeyExpectedCollisions(nGrams: Long): Double =
    nGrams.toDouble * (nGrams - 1) / 2 / math.pow(2, 60)

  /** Candidate-generation cut of [[word3grams]]: grams whose document
    * frequency within their (lang, length-bucket) block is ≤ [[GramDfCap]].
    * Without the cap a single stop-gram ("one of the") pairs nearly every
    * doc in its block — candidates go quadratic whenever a frequent gram
    * exists, which at corpus scale is always. Rare grams preserve recall
    * for NEAR-DUPLICATES (docs sharing ≥ half their grams share many rare
    * ones); the cap only prunes pairs whose sole overlap is boilerplate.
    * Standard discipline in suffix-array / Gopher-style dedup. Candidates
    * come from this table; VERIFICATION (Jaccard in q37) still runs over
    * the full gram sets, so the similarity metric itself is uncapped.
    * One window shuffle on (lang, lb, s) — the same key the candidate
    * self-join needs anyway.
    */
  private def rareGrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // a FILTER over the shared gram table, not a second materialized
    // table: the df column is precomputed at build, so the cut costs one
    // pushed-down predicate instead of another window pass + parquet
    // round-trip (measured ~2 s off q37 at sf0.1)
    word3grams(spark, dir).filter($"df" <= GramDfCap).drop("df")
  }


  // ---------------------------------------------------------------------
  // q37 — blocked n-gram Jaccard: word-3-gram shingle sets compared only
  // inside (lang, 100-char length bucket) blocks; pairs at Jaccard ≥ 0.5.
  // ---------------------------------------------------------------------
  private val q37 = QueryDef(
    "q37_ngram_jaccard",
    (spark, dir) => {
      import spark.implicits._
      // r14 (guide §2.3): join/shuffle keys need gram IDENTITY only —
      // carry the silver's 8-byte md5 key (hs) instead of the shingle
      // string through the candidate and verify joins (the q232/q191
      // narrow-key discipline; oracle-gated).
      val grams = word3grams(spark, dir).select($"doc_id", $"hs")
      val rare = rareGrams(spark, dir)
      // candidates from the df-capped cut; Jaccard verified over the FULL
      // gram sets (q35's candidate/verify split, same reason)
      val cands = rare.as("a").join(rare.as("b"),
          col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
            col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .distinct()
      // r14 (guide §3.1/§2.4): `sizes` fed both verify legs as two
      // lineage copies (the full groupBy ran twice), and both verify
      // joins BROADCAST the full grams table (single-threaded
      // HashedRelation builds of the corpus side — the q232 disease,
      // same plan shape). Materialize sizes once; shuffled hash joins
      // stream the candidate explosion over parallel exchanges.
      val sizes = Scoped.materialize()(
        grams.groupBy($"doc_id").agg(count(lit(1)).as("n")))
      // verify on the 60-bit gram key: see GramKeyRatedGrams for the bound
      val inter = cands
        .join(grams.as("a").hint("shuffle_hash"), col("a.doc_id") === $"i")
        .join(grams.as("b").hint("shuffle_hash"),
          col("b.doc_id") === $"j" && col("b.hs") === col("a.hs"))
        .groupBy($"i", $"j").agg(count(lit(1)).as("k"))
      val verified = inter
        .join(sizes.as("na"), col("na.doc_id") === $"i")
        .join(sizes.as("nb"), col("nb.doc_id") === $"j")
        .withColumn("jaccard",
          $"k".cast("double") / (col("na.n") + col("nb.n") - $"k").cast("double"))
        .filter($"jaccard" >= 0.5)
        .select($"i", $"j", $"jaccard")
      verified.orderBy($"i", $"j")
    },
    Some(s"""
      WITH $gramsSql,
      cands AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        FROM rare a JOIN rare b
          ON a.lang = b.lang AND a.lb = b.lb AND a.s = b.s AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT i, j, count(*) AS k
        FROM cands JOIN grams a ON a.doc_id = i
                   JOIN grams b ON b.doc_id = j AND b.s = a.s
        GROUP BY 1, 2)
      SELECT i, j, CAST(k AS DOUBLE) / CAST(na.n + nb.n - k AS DOUBLE) AS jaccard
      FROM inter JOIN sizes na ON na.doc_id = i JOIN sizes nb ON nb.doc_id = j
      WHERE CAST(k AS DOUBLE) / CAST(na.n + nb.n - k AS DOUBLE) >= 0.5
      ORDER BY i, j"""))

  // ---------------------------------------------------------------------
  // q232 — PREFIX-FILTERED SET-SIMILARITY JOIN (AllPairs/PPJoin,
  // Bayardo et al. WWW'07 / Xiao et al. WWW'08): the PRINCIPLED
  // candidate pruning next to q37's heuristic df-cap. Order every doc's
  // gram set by a global canonical order (ascending global df, tie by
  // gram — rarest first), keep only the PREFIX of length
  // n − ⌈t·n⌉ + 1 (= n div 2 + 1 at t = 0.5); the classic lemma: any
  // pair with Jaccard ≥ t shares ≥ ⌈t·n⌉ grams per side, and if the
  // FIRST common gram in canonical order sat outside either prefix, the
  // ≥ ⌈t·n⌉ − 1 remaining common grams could not fit behind it —
  // contradiction. So prefix∩prefix ≠ ∅ for every qualifying pair:
  // ZERO false negatives, unlike the df-cap. The ORACLE is the naive
  // all-pairs join over FULL gram sets — the hash gate IS the
  // completeness proof, every round.
  //
  // Scale: candidates join only prefix tokens — globally hot grams sort
  // LAST and fall out of every large doc's prefix, so the Σ df² blowup
  // of a full-token join never materializes; plus the PPJoin length
  // filter (max(na,nb) ≤ 2·min at t=0.5) prunes size-incompatible
  // pairs before verification. Canonical df is one map-combined
  // aggregate on s joined back (never a window over postings — the
  // q190/q191 straggler discipline). Verification runs over full gram
  // sets, same machinery as q37.
  // ---------------------------------------------------------------------
  private val q232 = QueryDef(
    "q232_ppjoin",
    (spark, dir) => {
      import spark.implicits._
      // r14 (guide §2.3): every q232 shuffle/join needs gram IDENTITY
      // only — carry the silver's 8-byte md5 key instead of the ~25-byte
      // shingle string (the q191 narrow-key discipline; the canonical
      // prefix order ties on hs instead of s, which is just a different
      // total order — the prefix lemma and hence the verified output are
      // order-independent, and the DuckDB oracle gates it).
      val grams = word3grams(spark, dir).select($"doc_id", $"hs")
      // global canonical order key: (global df, gram key)
      val gdf = grams.groupBy($"hs").agg(count(lit(1)).as("gdf"))
      // r14 (guide §2.4): `sizes` feeds the prefix build AND both verify
      // legs (na/nb), `prefix` feeds both sides of the candidate
      // self-join — as lineage copies each re-EXECUTED per reference
      // (per-job timings: the two prefix builds alone were 2.4 s + 3.5 s of
      // q232's 7.3 s). Materialize each once; values unchanged.
      val sizes = Scoped.materialize()(
        grams.groupBy($"doc_id").agg(count(lit(1)).as("n")))
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("gdf", "hs")
      val prefix = Scoped.materialize()(grams.join(gdf, "hs")
        .join(sizes, "doc_id")
        // doc-size guard BEFORE the per-doc rank window: a pathological
        // concatenation (gram count > MaxDocChars ⇒ text longer still)
        // quarantines to the q68 chunker lane instead of serializing one
        // window task; mirrored in the oracle's all-pairs form
        .filter($"n" <= TextOps.MaxDocChars)
        .withColumn("rk", row_number().over(wDoc))
        .filter($"rk" <= expr("n div 2") + 1)
        .select($"doc_id", $"hs", $"n"))
      val cands = prefix.as("a").join(prefix.as("b"),
          col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id") &&
            greatest(col("a.n"), col("b.n")) <=
              least(col("a.n"), col("b.n")) * 2)
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .distinct()
      // r14 (guide §3.1): without hints both verify joins BROADCAST the
      // full grams table (parquet stats under the 10 MB threshold, but
      // the HashedRelation build measured ~3 s each — 6 s of q232's
      // 7.3 s, single-threaded on the driver's broadcast thread). The
      // corpus side must never be the broadcast side at scale; a
      // shuffled hash join streams the candidate explosion and builds
      // per-partition tables over the grams shuffle instead.
      // verify on the 60-bit gram key: see GramKeyRatedGrams for the bound
      val inter = cands
        .join(grams.as("ga").hint("shuffle_hash"), col("ga.doc_id") === $"i")
        .join(grams.as("gb").hint("shuffle_hash"),
          col("gb.doc_id") === $"j" && col("gb.hs") === col("ga.hs"))
        .groupBy($"i", $"j").agg(count(lit(1)).as("k"))
      inter
        .join(sizes.as("na"), col("na.doc_id") === $"i")
        .join(sizes.as("nb"), col("nb.doc_id") === $"j")
        .withColumn("jaccard",
          $"k".cast("double") / (col("na.n") + col("nb.n") - $"k").cast("double"))
        .filter($"jaccard" >= 0.5)
        .select($"i", $"j", $"jaccard")
        .orderBy($"i", $"j")
    },
    Some(s"""
      WITH $gramsSql,
      sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
                HAVING count(*) <= ${TextOps.MaxDocChars}),
      gsz AS (SELECT g.* FROM grams g JOIN sizes s ON s.doc_id = g.doc_id),
      inter AS (
        SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        FROM gsz a JOIN gsz b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT i, j, CAST(k AS DOUBLE) / CAST(na.n + nb.n - k AS DOUBLE) AS jaccard
      FROM inter JOIN sizes na ON na.doc_id = i JOIN sizes nb ON nb.doc_id = j
      WHERE CAST(k AS DOUBLE) / CAST(na.n + nb.n - k AS DOUBLE) >= 0.5
      ORDER BY i, j"""))

  // ---------------------------------------------------------------------
  // q38 — embedding-cosine near-dup: label-blocked pairs at cosine ≥ 0.4,
  // scaled-integer dot products (VectorOps) for engine portability.
  // ---------------------------------------------------------------------
  private val q38 = QueryDef(
    "q38_embedding_neardup",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .withColumn("nrm", VectorOps.normScaled($"embedding"))
        .persist() // both sides of the blocked self-join
      val pairs = emb.as("a").join(emb.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos", VectorOps.cosineFromScaled(
          VectorOps.dotScaled(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")))
        .filter($"cos" >= 0.4)
        .select(col("a.label").as("label"), col("a.vec_id").as("i"),
          col("b.vec_id").as("j"), $"cos")
      Scoped.materialize(emb)(pairs).orderBy($"label", $"i", $"j")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, label, embedding,
               ${VectorOps.normScaledSql("embedding")} AS nrm
        FROM embeddings)
      SELECT a.label, a.vec_id AS i, b.vec_id AS j,
             ${VectorOps.cosineFromScaledSql(
               VectorOps.dotScaledSql("a.embedding", "b.embedding"),
               "a.nrm", "b.nrm")} AS cos
      FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${VectorOps.cosineFromScaledSql(
               VectorOps.dotScaledSql("a.embedding", "b.embedding"),
               "a.nrm", "b.nrm")} >= 0.4
      ORDER BY a.label, i, j"""))

  // ---------------------------------------------------------------------
  // q72 — near-dup clusters: connected components over the verified pair
  // graph (q35). Adaptive: two rounds of min-label propagation first —
  // the cheap path that already converges on the shallow graphs band
  // buckets actually produce — then, only if not converged, alternating
  // large-star/small-star contraction (Kiveris et al., "Connected
  // Components in MapReduce and Beyond", SoCC'14) — whose round count
  // scales with log of component size, NOT graph diameter, so an
  // adversarial 10k-long near-dup chain converges
  // in ~15 rounds where plain min-label propagation needs 10k. Each doc
  // ends up labeled with the smallest doc_id in its component — the same
  // unique fixed point as min-label propagation, so q72's result (and
  // its oracle) is unchanged. The driver loop only COORDINATES (one
  // count + one emptiness probe per round); every step is a distributed
  // groupBy/join over the pair graph, which is tiny relative to the
  // corpus by construction.
  // Oracle: DuckDB recursive-CTE transitive closure + min per node.
  // ---------------------------------------------------------------------
  /** Connected components over an undirected pair list (columns `i`, `j`)
    * → (node, label) with label = min node id of the component.
    *
    * Alternating star contraction: per round,
    *   large-star — every node links its LARGER neighbors to its minimum
    *     neighborhood member m = min(Γ(u) ∪ {u}): emit (v, m) ∀ v ∈ Γ(u),
    *     v > u;
    *   small-star — every node links its smaller neighbors (and itself) to
    *     its minimum smaller neighbor m = min{v ∈ Γ(u) : v < u}: emit
    *     (v, m) ∀ v ∈ {v ∈ Γ(u) : v < u} ∪ {u}, v ≠ m.
    * Both preserve connectivity and the component minimum; the fixed point
    * is a star per component rooted at its minimum. Rounds are
    * O(log |component|) — contraction halves star depth like pointer
    * jumping — and each round is two groupBy+join shuffles over the edge
    * set. Exposed separately from the q35 wiring so specs can drive it
    * with adversarial graphs (deep paths) directly.
    */
  private[operators] def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    def sym(e: DataFrame): DataFrame = e.union(e.select($"v".as("u"), $"u".as("v")))
    // Truncate LOGICAL lineage after every round: each round's plan
    // references the previous round's SEVERAL times (sym + joins), so
    // carrying Catalyst lineage across rounds grows the plan exponentially
    // and re-optimization stalls the driver after ~10 rounds. Rewrapping
    // the round's RDD as a fresh LogicalRDD keeps the plan one scan deep;
    // persist + the convergence count materialize it so the parent round
    // can be released (df.unpersist() works here, unlike localCheckpoint,
    // whose block storage bypasses the CacheManager — CacheHygieneSpec
    // guards the difference). On a cluster this is the classic
    // iterate-then-checkpoint loop (reliable checkpoint dir / per-round
    // silver table).
    def rewrap(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema).persist()
    var edges = rewrap(pairs
      .select(col("i").as("u"), col("j").as("v"))
      .filter($"u" =!= $"v").distinct())
    // Phase 1 — ADAPTIVE min-label propagation on the ORIGINAL edge set
    // (r14, guide §2.4): real near-dup / correlation graphs are shallow
    // (cliques, stars, small sparse components — diameter a handful of
    // hops), where LP reaches its fixed point in a few rounds at ONE
    // join+groupBy + one scalar-aggregate probe per round — far less
    // per-round work than contraction's two shuffled star steps + count
    // + except probe. r13 ran exactly TWO LP rounds then fell through to
    // contraction; measured on q298's correlation graph (sf0.1) that
    // spent ~100+ scheduler-bound jobs in the contraction loop for a
    // graph LP finishes in a few rounds. LP and contraction share the
    // min-label fixed point, so a converged LP answer IS the answer; a
    // deep graph (the adversarial chain case) exhausts the LP budget and
    // falls through to diameter-free star contraction below.
    val symEdges = sym(edges)
    def propagate(labels: DataFrame): DataFrame =
      rewrap(symEdges
        .join(labels.withColumnRenamed("node", "u"), "u")
        .select($"v".as("node"), $"label")
        .union(labels)
        .groupBy($"node").agg(min($"label").as("label")))
    // (r13 note: dropping l0's distinct looked like a free exchange cut
    // but is NOT — propagate joins labels by node, so a node of degree d
    // would carry d duplicate seed rows into the join and the output
    // becomes Σ deg² wedge rows instead of Σ deg. Measured 2× slower on
    // q312; the distinct stays.)
    val l0 = rewrap(symEdges.select($"u".as("node"), $"u".as("label")).distinct())
    // labels only ever DECREASE pointwise (each round takes a min over a
    // superset that includes the node's own label) and both tables hold
    // one row per node, so l_{k+1} == l_k ⟺ equal row count AND equal
    // exact label sum. Two scalar aggregates replace the r12 two-sided
    // `except` probe, which shuffled both full label tables just to
    // prove emptiness (r13, guide §2.3/§2.4 — shuffle metadata, not
    // rows). DECIMAL(38,0) keeps the sum exact at any node-id scale.
    // Degenerate-cast guard (r14): a label type that casts to NULL
    // (e.g. string node ids) would collapse both sides to (count, 0)
    // and fake convergence — fail loudly instead; every current caller
    // feeds numeric ids.
    def labelSum(l: DataFrame): (Long, BigDecimal) = {
      val r = l.agg(count(lit(1)),
        sum($"label".cast(DecimalType(38, 0)))).head
      val s = r.getDecimal(1)
      if (s == null && r.getLong(0) > 0)
        throw new IllegalArgumentException(
          "connectedComponents: label column does not cast to" +
            " DECIMAL(38,0) — numeric node ids required for the exact" +
            " convergence probe")
      (r.getLong(0), if (s == null) BigDecimal(0) else BigDecimal(s))
    }
    // Each round is PROPAGATE (min over the 1-hop neighborhood) then
    // SHORTCUT (pointer jumping: label ← label(label) — every label
    // value is itself a node id in the same component, so the inner
    // self-join is total and only ever lowers labels). Propagation
    // alone moves the component minimum one hop per round; with the
    // shortcut the reach roughly doubles per round — O(log diameter)
    // rounds (measured: q298's diameter-7 correlation graph converges
    // in 3 rounds instead of 7). Both steps decrease labels pointwise,
    // so round-over-round equality of (count, exact sum) still proves
    // the combined fixed point, which forces each step's own fixed
    // point — the same min-label answer. The shortcut join's hot label
    // keys (late rounds concentrate on component minima) are a JOIN, so
    // AQE skew-splitting applies at scale — unlike a window.
    val MaxLpRounds = 8 // covers diameter ≲ 2^8; deeper graphs contract
    var cur = l0
    var curSum = labelSum(cur)
    var lpConverged = false
    var lpRound = 0
    while (!lpConverged && lpRound < MaxLpRounds) {
      val prop = propagate(cur)
      val next = rewrap(prop.as("a")
        .join(prop.select($"node".as("ln"), $"label".as("ll")),
          $"label" === $"ln")
        .select($"node", $"ll".as("label")))
      val nextSum = labelSum(next) // materializes next (through prop)
      prop.unpersist()
      lpConverged = nextSum == curSum
      cur.unpersist()
      cur = next
      curSum = nextSum
      lpRound += 1
    }
    if (lpConverged) {
      edges.unpersist()
      return Scoped.materialize(cur)(cur)
    }
    cur.unpersist()
    // the contraction loop tracks the edge-set size for its fixed-point
    // test; only pay for the count on this (rare, deep-graph) path
    var n = edges.count()
    var converged = false
    var iter = 0
    val MaxRounds = 60 // ~log2 of any feasible component size, with slack
    while (!converged && iter < MaxRounds) {
      val s = sym(edges)
      // large-star: m(u) = min(Γ(u) ∪ {u}); (v, m) for larger neighbors v
      val minsL = s.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      val large = s.filter($"v" > $"u")
        .join(minsL, "u")
        .select($"v".as("u"), $"m".as("v"))
        .distinct() // v > u ≥ m, so never a self-loop
      // small-star on the large-star result: m(u) = min smaller neighbor;
      // re-link the smaller neighborhood (and u itself) onto m
      val below = sym(large).filter($"v" < $"u")
      val minsS = below.groupBy($"u").agg(min($"v").as("m"))
      val next = rewrap(below.join(minsS, "u")
        .filter($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(minsS.select($"u", $"m".as("v")))
        .distinct())
      val nNext = next.count()
      // fixed point = the edge set is literally unchanged (size equality
      // makes the one-sided except a full set-equality test)
      converged = nNext == n && next.except(edges).isEmpty
      edges.unpersist()
      edges = next
      n = nNext
      iter += 1
    }
    // a silent partial fixed point would hand wrong cluster_ids downstream
    // with no signal — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge within $MaxRounds rounds " +
          s"($n edges at the cap) — not a feasible component size; input bug")
    // stars: (leaf, root) edges, roots only on the right — every node's
    // label is the root it points at; roots label themselves
    val labels = edges.select($"u".as("node"), $"v".as("label"))
      .union(edges.select($"v".as("node"), $"v".as("label")))
      .distinct()
    Scoped.materialize(edges)(labels)
  }

  /** (node, label) table of the min-label fixed point over the verified
    * pair graph — exposed for the co-clustering invariant test.
    */
  private[operators] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    connectedComponents(nearDupPairs(spark, dir).select($"i", $"j"))
  }

  private val q72 = QueryDef(
    "q72_dedup_clusters",
    (spark, dir) => {
      import spark.implicits._
      clusterLabels(spark, dir)
        .groupBy($"label".as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          max($"node").as("max_doc_id"))
        .orderBy($"cluster_id")
    },
    Some(s"""
      WITH RECURSIVE pairs AS ($minhashOracle),
      edges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
      nodes AS (SELECT DISTINCT i AS node FROM edges),
      reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, e.j FROM reach r JOIN edges e ON e.i = r.b),
      labeled AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a)
      SELECT label AS cluster_id, count(*) AS cluster_size,
             max(node) AS max_doc_id
      FROM labeled GROUP BY label ORDER BY cluster_id"""))

  // ---------------------------------------------------------------------
  // q114 — INCREMENTAL dedup: a delta batch (doc_id % 5 = 0 plays the
  // newly-arrived slice) is checked against the EXISTING corpus (the
  // rest) without reprocessing the base: exact via a hash semi-probe of
  // the base content-hash set, near-dup via the shared verified pair
  // table restricted to cross (delta × base) pairs. Signatures are
  // per-doc, so the cross-restriction of the full pair table equals
  // probing delta signatures against a persisted base band index — the
  // production shape, where the signature/band table is the durable
  // index and each arriving batch only hashes ITS OWN docs and probes
  // (the same survivor-restriction argument the q61 funnel uses). Every
  // delta doc gets a verdict: exact > near > unique.
  // ---------------------------------------------------------------------
  private val q114 = QueryDef(
    "q114_incremental_dedup",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val delta = docs.filter(pmod($"doc_id", lit(5)) === 0)
      val base = docs.filter(pmod($"doc_id", lit(5)) =!= 0)
      val baseHashes = base.select(md5($"text").as("bh")).distinct()
      val nearIds = nearDupPairs(spark, dir)
        .filter((pmod($"i", lit(5)) === 0) =!= (pmod($"j", lit(5)) === 0))
        .select(when(pmod($"i", lit(5)) === 0, $"i").otherwise($"j").as("nd_id"))
        .distinct()
      delta
        .withColumn("h", md5($"text"))
        .join(baseHashes, $"h" === $"bh", "left")
        .join(nearIds, $"doc_id" === $"nd_id", "left")
        .withColumn("exact_dup", $"bh".isNotNull.cast("int"))
        .withColumn("near_dup", $"nd_id".isNotNull.cast("int"))
        .withColumn("verdict",
          when($"exact_dup" === 1, "exact")
            .when($"near_dup" === 1, "near")
            .otherwise("unique"))
        .select($"doc_id", $"source", $"exact_dup", $"near_dup", $"verdict")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH pairs AS ($minhashOracle),
      delta AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 = 0),
      base AS (SELECT text FROM documents WHERE doc_id % 5 <> 0),
      nd AS (
        SELECT DISTINCT CASE WHEN i % 5 = 0 THEN i ELSE j END AS doc_id
        FROM pairs WHERE (i % 5 = 0) <> (j % 5 = 0))
      SELECT d.doc_id, d.source,
             CASE WHEN md5(d.text) IN (SELECT md5(text) FROM base)
               THEN 1 ELSE 0 END AS exact_dup,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM nd)
               THEN 1 ELSE 0 END AS near_dup,
             CASE WHEN md5(d.text) IN (SELECT md5(text) FROM base) THEN 'exact'
                  WHEN d.doc_id IN (SELECT doc_id FROM nd) THEN 'near'
                  ELSE 'unique' END AS verdict
      FROM delta d ORDER BY d.doc_id"""))

  // ---------------------------------------------------------------------
  // q118 — substring-level dedup (the deduplicate-text-datasets operator,
  // Lee et al. 2021 shape): exact repeated TOKEN SPANS of length ≥ L,
  // within and across documents, removed everywhere except their first
  // occurrence — q100 dedups fixed passages; this finds VARIABLE-length
  // repeats. The suffix-array reduction: a depth-L-bounded suffix sort
  // groups positions by their L-token prefix, and a maximal repeat of
  // length ≥ L is exactly a maximal union of OVERLAPPING duplicated
  // L-grams — so the plan is (1) every position keys on the md5 of its
  // depth-L prefix (8-byte shuffle, the bounded-depth sort bucket),
  // (2) one groupBy finds duplicated keys and their first occurrence
  // (min doc·1e6+pos — that occurrence is kept), (3) surviving removal
  // starts merge into spans per doc via gaps-and-islands (a new span
  // when the gap exceeds L, since each start covers [p, p+L−1]).
  // Per-doc manifest: token count, duplicated starts, removed spans and
  // removed-token total. No all-pairs stage anywhere: one 8-byte-key
  // corpus shuffle + per-doc windows.
  // ---------------------------------------------------------------------
  private val SpanL = 8
  private val q118 = QueryDef(
    "q118_substring_dedup",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      // doc-length guard: the per-doc islands window below is bounded by
      // MaxDocChars BY GUARD, not by assumption (oversized docs quarantine
      // to the q68 chunker lane; cap mirrored in the oracle)
      val toks = TextOps.guardedDocs(spark, dir)
        .select($"doc_id", Portable.tokens($"text").as("w"))
        .select($"doc_id", size($"w").cast("long").as("n_tokens"), $"w")
      // r14 (guide §2.4): `starts` (tokenize + per-position 8-token
      // array_join + md5 — the expensive half) fed the occ aggregate AND
      // the join-back as two lineage copies, and `toks` re-tokenized a
      // third time for the final n_tokens rollup. Materialize the
      // position table once (8-byte hash + two longs per position) and
      // derive everything from it; one tokenize pass for the count side.
      val starts = Scoped.materialize()(toks.filter(size($"w") >= SpanL)
        .select($"doc_id", posexplode(transform(
          sequence(lit(1), size($"w") - SpanL + 1),
          i => Portable.md5Hash64(array_join(slice($"w", i, lit(SpanL)), " ")))))
        .select($"doc_id", ($"pos" + 1).cast("long").as("start"),
          $"col".as("gh"))
        // keep-first is the lexicographic min of (doc_id, start) as a
        // STRUCT — a packed doc*shift+pos key silently mis-orders (and
        // can collide across docs) once a document exceeds the shift
        // width, and book-length concatenations in a web corpus do
        .withColumn("k", struct($"doc_id", $"start")))
      val occ = starts.groupBy($"gh")
        .agg(count(lit(1)).as("cnt"), min($"k").as("keep"))
      val removalStarts = starts.join(occ, "gh")
        .filter($"cnt" > 1 && $"k" =!= $"keep")
        .select($"doc_id", $"start")
      val wDoc = Window.partitionBy($"doc_id").orderBy($"start")
      val spans = removalStarts
        .withColumn("brk",
          when(lag($"start", 1).over(wDoc).isNull ||
            $"start" - lag($"start", 1).over(wDoc) > SpanL, 1L)
            .otherwise(0L))
        .withColumn("island", sum($"brk").over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"doc_id", $"island")
        .agg(min($"start").as("s"), (max($"start") + SpanL - 1).as("e"))
      val perDoc = spans.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum($"e" - $"s" + 1).as("n_removed_tokens"))
      val nDup = removalStarts.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_dup_starts"))
      toks.select($"doc_id", $"n_tokens")
        .join(nDup, Seq("doc_id"), "left")
        .join(perDoc, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"n_dup_starts", lit(0L)).as("n_dup_starts"),
          coalesce($"n_spans", lit(0L)).as("n_spans"),
          coalesce($"n_removed_tokens", lit(0L)).as("n_removed_tokens"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, ${Portable.tokensSql("text")} AS w FROM documents
        WHERE length(text) <= ${TextOps.MaxDocChars}),
      starts AS (
        SELECT doc_id, u.s AS start,
               ${Portable.md5Hash64Sql("array_to_string(u.p, ' ')")} AS gh,
               {'d': doc_id, 's': u.s} AS k
        FROM (
          SELECT doc_id,
                 unnest([{'s': i, 'p': w[(i):(i + $SpanL - 1)]}
                         for i in range(1, len(w) - $SpanL + 2)]) AS u
          FROM toks WHERE len(w) >= $SpanL)),
      occ AS (
        SELECT gh, count(*) AS cnt, min(k) AS keep FROM starts GROUP BY gh),
      rs AS (
        SELECT s.doc_id, s.start
        FROM starts s JOIN occ o USING (gh)
        WHERE o.cnt > 1 AND s.k <> o.keep),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM (
          SELECT doc_id, start,
                 CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                        IS NULL
                      OR start - lag(start) OVER (PARTITION BY doc_id
                                                  ORDER BY start) > $SpanL
                      THEN 1 ELSE 0 END AS brk
          FROM rs)),
      spans AS (
        SELECT doc_id, island, min(start) AS s,
               max(start) + $SpanL - 1 AS e
        FROM isl GROUP BY doc_id, island),
      per_doc AS (
        SELECT doc_id, count(*) AS n_spans,
               sum(e - s + 1) AS n_removed_tokens
        FROM spans GROUP BY doc_id),
      nd AS (
        SELECT doc_id, count(*) AS n_dup_starts FROM rs GROUP BY doc_id)
      SELECT t.doc_id,
             CAST(len(t.w) AS BIGINT) AS n_tokens,
             CAST(coalesce(nd.n_dup_starts, 0) AS BIGINT) AS n_dup_starts,
             CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
             CAST(coalesce(p.n_removed_tokens, 0) AS BIGINT) AS n_removed_tokens
      FROM toks t
      LEFT JOIN nd ON nd.doc_id = t.doc_id
      LEFT JOIN per_doc p ON p.doc_id = t.doc_id
      ORDER BY t.doc_id"""))

  // ---------------------------------------------------------------------
  // q131 — recursive-CTE bounded closure (Spark 4's WITH RECURSIVE, new
  // SQL surface): ≤3-hop reachability over the verified near-dup pair
  // graph, per origin doc — the SQL-native spelling of the dedup-cluster
  // expansion. Spark's recursion currently supports UNION ALL only (no
  // UNION-distinct fixpoint), so the recursion is DEPTH-BOUNDED by a
  // level counter and duplicate paths collapse in the final DISTINCT
  // aggregation — terminating on cyclic graphs by construction. This is
  // deliberately the bounded-exploration shape; UNBOUNDED closure at
  // corpus scale stays with q72's label-propagation/star-contraction
  // plan, which converges in O(log diameter) rounds instead of
  // materializing paths. The pair graph is the df-capped VERIFIED set
  // (tiny relative to the corpus), so 3-hop path multiplicity stays
  // bounded by max-degree³ of a sparse graph.
  // ---------------------------------------------------------------------
  private val recursiveBody = """
      edges AS (
        SELECT i AS src, j AS dst FROM ndp
        UNION ALL
        SELECT j AS src, i AS dst FROM ndp),
      reach(node, origin, depth) AS (
        SELECT src, src, 0 FROM (SELECT DISTINCT src FROM edges)
        UNION ALL
        SELECT e.dst, reach.origin, reach.depth + 1
        FROM reach JOIN edges e ON e.src = reach.node
        WHERE reach.depth < 3)
      SELECT origin, count(DISTINCT node) AS n_reach3,
             min(node) AS root3
      FROM reach GROUP BY origin ORDER BY origin"""

  private val q131 = QueryDef(
    "q131_recursive_closure",
    (spark, dir) => {
      nearDupPairs(spark, dir).select("i", "j").createOrReplaceTempView("q131_ndp")
      spark.sql(s"WITH RECURSIVE ndp AS (SELECT i, j FROM q131_ndp),$recursiveBody")
    },
    Some(s"WITH RECURSIVE ndp AS ($minhashOracle),$recursiveBody"))

  // ---------------------------------------------------------------------
  // q151 — distributed TRIANGLE COUNT on the verified near-dup graph:
  // per-node triangle membership via the canonical ordered-wedge join —
  // edges kept as i<j only, wedges (a<b<c) from pairs sharing endpoint
  // b... closed by probing (a,c) against the edge set. Ordering every
  // edge once (instead of symmetrizing) is THE classic shuffle-volume
  // trick: each triangle is counted exactly once, and the wedge fan-out
  // is bounded by per-node out-degree in the ordering, which the
  // df-capped pair graph keeps small. Output: per-node membership plus
  // degree (the clustering-coefficient numerator/denominator pair).
  // ---------------------------------------------------------------------
  private val q151 = QueryDef(
    "q151_triangle_count",
    (spark, dir) => {
      import spark.implicits._
      val edges = nearDupPairs(spark, dir).select($"i", $"j").distinct()
      val tri = edges.as("ab")
        .join(edges.as("bc"), col("ab.j") === col("bc.i"))
        .join(edges.as("ac"),
          col("ab.i") === col("ac.i") && col("bc.j") === col("ac.j"))
        .select(col("ab.i").as("a"), col("ab.j").as("b"), col("bc.j").as("c"))
      val membership = tri.select(explode(array($"a", $"b", $"c")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("n_triangles"))
      val degree = edges
        .select(explode(array($"i", $"j")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("degree"))
      degree.join(membership, Seq("node"), "left")
        .na.fill(0L, Seq("n_triangles"))
        .orderBy($"node")
    },
    Some(s"""
      WITH pairs AS ($minhashOracle),
      edges AS (SELECT DISTINCT i, j FROM pairs),
      tri AS (
        SELECT ab.i AS a, ab.j AS b, bc.j AS c
        FROM edges ab
        JOIN edges bc ON ab.j = bc.i
        JOIN edges ac ON ab.i = ac.i AND bc.j = ac.j),
      membership AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1),
      degree AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT unnest([i, j]) AS node FROM edges) GROUP BY 1)
      SELECT d.node, d.degree, COALESCE(m.n_triangles, 0) AS n_triangles
      FROM degree d LEFT JOIN membership m ON d.node = m.node
      ORDER BY d.node"""))

  // ---------------------------------------------------------------------
  // q163 — ASYMMETRIC gram containment (quote / subset detection): the
  // near-dup family's missing direction. Jaccard (q37) misses the case a
  // curation pipeline most wants flagged — a short doc that is mostly a
  // QUOTE of a long one (|A∩B|/|A| high while |A∩B|/|A∪B| is low because
  // |B| dominates the union). Containment(A→B) = |grams(A)∩grams(B)| /
  // |grams(A)| per direction; pairs flagged when either direction ≥ 0.8.
  //
  // Candidates deliberately drop q37's length-bucket block — containment
  // pairs SHORT against LONG by nature, so blocking on length would
  // blind the operator to its own use case. The df cap moves to the
  // (lang, gram) grain instead, computed as a map-side-combinable rollup
  // keyed to SHAREABLE grams only (2 ≤ df ≤ cap — unique grams can never
  // pair); the fan-out bound is the same ≤ cap² per rare gram as q37/q96
  // (SURVEY §4's anti-quadratic rule).
  // Verification counts run over the FULL gram sets (candidate/verify
  // split). Containment is emitted as exact integer millis —
  // (1000·k) div n, non-negative operands, portable truncation.
  // ---------------------------------------------------------------------
  private val MinSharedGrams = 3
  private val q163 = QueryDef(
    "q163_gram_containment",
    (spark, dir) => {
      import spark.implicits._
      val grams = word3grams(spark, dir)
      // candidate key cut: grams SHARED by 2..cap docs corpus-wide. The
      // df ≥ 2 floor is the big lever — the overwhelming majority of
      // grams are unique (df = 1) and can never form a pair, so keying
      // the cut on shareable grams shrinks the self-join input by ~30×
      // (measured 6.6 s → sub-second at sf0.1 vs the naive
      // keep-everything-rare window); the cap is the same anti-quadratic
      // bound as q37/q96. One map-side-combinable rollup, and the tiny
      // key table joins back AQE-broadcastable.
      val shareable = grams.groupBy($"lang", $"s")
        .agg(count(lit(1)).as("df2"))
        .filter($"df2" >= 2 && $"df2" <= GramDfCap)
        .select($"lang", $"s")
      val rareGlobal = grams.join(shareable, Seq("lang", "s"))
        .select($"doc_id", $"lang", $"s")
      // multi-evidence candidacy (the LSH full-band discipline): a pair
      // must share ≥ MinSharedGrams capped grams to reach verification.
      // One shared rare gram is noise — measured at sf0.1: 290,560
      // single-gram candidates collapse to 2,685 at ≥ 3, while every
      // pair that survives the 0.8-containment verify shares ≥ 8 — so
      // the cut removes 99% of verify cost and zero true positives.
      val cands = rareGlobal.as("a").join(rareGlobal.as("b"),
          col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .agg(count(lit(1)).as("shared_rare"))
        .filter($"shared_rare" >= MinSharedGrams)
        .select($"i", $"j")
      val sizes = grams.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = cands
        .join(grams.as("ga"), col("ga.doc_id") === $"i")
        .join(grams.as("gb"), col("gb.doc_id") === $"j" && col("gb.s") === col("ga.s"))
        .groupBy($"i", $"j").agg(count(lit(1)).as("k"))
      inter
        .join(sizes.as("na"), col("na.doc_id") === $"i")
        .join(sizes.as("nb"), col("nb.doc_id") === $"j")
        .select($"i", $"j", $"k",
          col("na.n").as("n_i"), col("nb.n").as("n_j"),
          expr("(1000 * k) div na.n").as("cont_i_milli"),
          expr("(1000 * k) div nb.n").as("cont_j_milli"))
        .filter(greatest($"cont_i_milli", $"cont_j_milli") >= 800)
        .orderBy($"i", $"j")
    },
    Some(s"""
      WITH $gramsSql,
      shareable AS (
        SELECT lang, s FROM grams GROUP BY 1, 2
        HAVING count(*) BETWEEN 2 AND $GramDfCap),
      rare2 AS (
        SELECT g.doc_id, g.lang, g.s
        FROM grams g JOIN shareable k ON g.lang = k.lang AND g.s = k.s),
      cands AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM rare2 a JOIN rare2 b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= $MinSharedGrams),
      sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT i, j, count(*) AS k
        FROM cands JOIN grams ga ON ga.doc_id = i
                   JOIN grams gb ON gb.doc_id = j AND gb.s = ga.s
        GROUP BY 1, 2)
      SELECT i, j, CAST(k AS BIGINT) AS k,
             CAST(na.n AS BIGINT) AS n_i, CAST(nb.n AS BIGINT) AS n_j,
             CAST((1000 * k) // na.n AS BIGINT) AS cont_i_milli,
             CAST((1000 * k) // nb.n AS BIGINT) AS cont_j_milli
      FROM inter JOIN sizes na ON na.doc_id = i JOIN sizes nb ON nb.doc_id = j
      WHERE greatest((1000 * k) // na.n, (1000 * k) // nb.n) >= 800
      ORDER BY i, j"""))

  // ---------------------------------------------------------------------
  // q174 — CROSS-SOURCE OVERLAP MATRIX (corpus provenance): which
  // subcorpora share content? Per unordered source pair, the Jaccard of
  // their word-3-gram SETS in exact integer millis — the release-review
  // table that catches one feed republishing another (the between-
  // subcorpora form of the q168 split-leakage lesson). Reuses the
  // word3grams silver table joined to doc sources; the pair fan-out is
  // bounded by |sources|² per gram (a gram in k sources yields ≤ k²/2
  // pairs — sources are FEW even when docs are 10¹¹, which is what makes
  // the full matrix tractable where the doc-pair matrix is not).
  // ---------------------------------------------------------------------
  private val q174 = QueryDef(
    "q174_source_overlap",
    (spark, dir) => {
      import spark.implicits._
      val srcOf = Tables.documents(spark, dir).select($"doc_id", $"source")
      val sg = word3grams(spark, dir).select($"doc_id", $"s")
        .join(srcOf, Seq("doc_id"))
        .select($"source", $"s").distinct()
      val sizes = sg.groupBy($"source").agg(count(lit(1)).as("n_grams"))
      val shared = sg.as("a").join(sg.as("b"),
          col("a.s") === col("b.s") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(sizes.select($"source".as("src_a"), $"n_grams".as("n_a")), Seq("src_a"))
        .join(sizes.select($"source".as("src_b"), $"n_grams".as("n_b")), Seq("src_b"))
        .withColumn("jaccard_milli",
          expr("(1000 * n_shared) div (n_a + n_b - n_shared)"))
        .select($"src_a", $"src_b", $"n_shared", $"n_a", $"n_b", $"jaccard_milli")
        .orderBy($"src_a", $"src_b")
    },
    Some(s"""
      WITH $gramsSql,
      sg AS (
        SELECT DISTINCT d.source, g.s
        FROM grams g JOIN documents d ON d.doc_id = g.doc_id),
      sizes AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY 1),
      shared AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        FROM sg a JOIN sg b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b,
             CAST(n_shared AS BIGINT) AS n_shared,
             CAST(na.n_grams AS BIGINT) AS n_a,
             CAST(nb.n_grams AS BIGINT) AS n_b,
             CAST((1000 * n_shared) // (na.n_grams + nb.n_grams - n_shared)
               AS BIGINT) AS jaccard_milli
      FROM shared
      JOIN sizes na ON na.source = src_a
      JOIN sizes nb ON nb.source = src_b
      ORDER BY src_a, src_b"""))

  // ---------------------------------------------------------------------
  // q225 — WINNOWING FINGERPRINT SELECTION (Schleimer, Wilkerson & Aiken
  // 2003 — the MOSS algorithm; the position-robust fingerprinting that
  // q30's whole-doc rolling hash and q118's exhaustive gram shuffle sit
  // on either side of): hash every char 8-gram, slide a window of
  // WinnowW consecutive hashes, and from each window SELECT the
  // rightmost minimal hash. The guarantee that makes it the standard
  // plagiarism/near-dup primitive: any shared substring of length ≥
  // k + w − 1 (23 chars here) yields at least one shared fingerprint,
  // while expected density is only 2/(w+1) ≈ 118 milli — a ~8.5×
  // reduction over full gram shuffling at the same detection floor.
  //
  // Spark shape: the selection is ONE per-doc window pass —
  // min_by(pos, (h, −pos)) over a WinnowW-row frame gives each window's
  // rightmost argmin, min(h) the selected hash; DISTINCT collapses
  // windows that picked the same position. Partition key is doc_id
  // (WindowBounds-declared: per-doc rows bounded by document length) and
  // the output per doc is the fingerprint census the dedup index would
  // ingest. Exactness: md5-60bit gram hashes, rightmost tie pinned by
  // the (h, −pos) key — identical in both engines, so selection count,
  // density and hash extents all hash-match.
  // ---------------------------------------------------------------------
  private val WinnowK = 8
  private val WinnowW = 16
  private val q225 = QueryDef(
    "q225_winnowing",
    (spark, dir) => {
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
      // doc-length guard (MaxDocChars): the winnowing frame below is a
      // per-doc gram window — bounded by guard, mirrored in the oracle
      val grams = TextOps.guardedDocs(spark, dir)
        .select($"doc_id", lower($"text").as("t"))
        // docs shorter than one gram are absent from the census (and
        // Spark's sequence(1, 0) would DESCEND, not empty — guard first)
        .filter(length($"t") >= WinnowK)
        .select($"doc_id",
          posexplode(transform(
            sequence(lit(1), length($"t") - (WinnowK - 1)),
            i => Portable.md5Hash64($"t".substr(i, lit(WinnowK)))))
            .as(Seq("p0", "h")))
        .select($"doc_id", ($"p0" + 1).as("pos"), $"h")
      val frame = w.partitionBy($"doc_id").orderBy($"pos")
        .rowsBetween(-(WinnowW - 1), 0)
      // rightmost minimal hash of the frame via one struct-min: minimize
      // (h, −pos) ⇒ smallest hash, ties to the largest position
      val sel = grams
        .withColumn("m",
          min(struct($"h", (-$"pos").as("np"))).over(frame))
        .filter($"pos" >= WinnowW) // full windows only (the paper's rule)
        .select($"doc_id", (-$"m.np").as("spos"), $"m.h".as("sh"))
        .distinct()
      // the gram census is pure arithmetic — length − (k−1) — so the
      // explode+hash pass runs ONCE (for selection), never for counting
      val nGrams = TextOps.guardedDocs(spark, dir)
        .select($"doc_id", length(lower($"text")).as("len"))
        .filter($"len" >= WinnowK)
        .select($"doc_id", ($"len" - (WinnowK - 1)).cast("long").as("n_grams"))
      nGrams
        .join(sel.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_fp"),
            min($"sh").as("min_fp"), max($"sh").as("max_fp")),
          Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_fp"))
        .withColumn("density_milli",
          when($"n_grams" >= WinnowW,
            expr("(1000 * n_fp) div (n_grams - " +
              s"${WinnowW - 1})")).otherwise(lit(0L)))
        .select($"doc_id", $"n_grams", $"n_fp", $"density_milli",
          $"min_fp", $"max_fp")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH g AS (
        SELECT doc_id, i AS pos,
               ${Portable.md5Hash64Sql(s"substr(lower(text), i, $WinnowK)")} AS h
        FROM (SELECT doc_id, text,
                unnest(range(1, greatest(length(text) - ${WinnowK - 2}, 1)))
                  AS i
              FROM documents
              WHERE length(text) <= ${TextOps.MaxDocChars})),
      selraw AS (
        SELECT doc_id, pos,
               min({'h': h, 'np': -pos}) OVER fr AS m
        FROM g
        WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW)),
      sel AS (
        SELECT DISTINCT doc_id, -(m['np']) AS spos, m['h'] AS sh
        FROM selraw WHERE pos >= $WinnowW),
      ng AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
      fp AS (
        SELECT doc_id, count(*) AS n_fp, min(sh) AS min_fp, max(sh) AS max_fp
        FROM sel GROUP BY 1)
      SELECT ng.doc_id, CAST(ng.n_grams AS BIGINT) AS n_grams,
             CAST(coalesce(fp.n_fp, 0) AS BIGINT) AS n_fp,
             CAST(CASE WHEN ng.n_grams >= $WinnowW
               THEN (1000 * coalesce(fp.n_fp, 0)) //
                    (ng.n_grams - ${WinnowW - 1})
               ELSE 0 END AS BIGINT) AS density_milli,
             fp.min_fp, fp.max_fp
      FROM ng LEFT JOIN fp ON fp.doc_id = ng.doc_id
      ORDER BY ng.doc_id"""))

  // ---------------------------------------------------------------------
  // q303 — LINE-LEVEL BOILERPLATE DEDUP (the CCNet/C4 line filter: a
  // line repeated across many documents is chrome — cookie banners,
  // "subscribe" prompts, nav text — and is stripped CORPUS-WIDE before
  // document-level dedup ever runs). The fixture has no line structure,
  // so the query first splits each doc into three deterministic token-
  // range lines and appends a planted boilerplate line to 2 of every 3
  // docs (the q67 plant-then-operate discipline); the operator is the
  // line-frequency census + strip: a line is boilerplate iff its text
  // occurs in more than BoilerDf documents. Content lines from the
  // word-salad fixture can also legitimately cross the threshold (short
  // docs repeat 3-word lines) — both engines agree exactly, and the
  // planted line is ALWAYS stripped.
  //
  // Scale shape: explode to line grain (3–4 rows per doc), one
  // line-text rollup for document frequency (map-side combinable), one
  // broadcast-or-shuffle equi-join back on the line text where the df
  // side is UNIQUE per line (the JoinFanoutSpec unique-side rung — no
  // declaration needed), one per-source audit rollup. No windows. The
  // kept-line checksum is an order-insensitive exact integer sum, so no
  // per-doc reassembly (and no per-doc collect_list) is ever needed.
  // ---------------------------------------------------------------------
  private val BoilerDf = 10L
  private val BoilerLine = "subscribe to our newsletter for updates"

  private val q303 = QueryDef(
    "q303_line_boilerplate",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .withColumn("t", Portable.tokens($"text"))
        .withColumn("n", size($"t"))
        .filter($"n" > 0)
        .withColumn("k1", expr("n div 3"))
        .withColumn("k2", expr("(2 * n) div 3"))
      val lines = toks.select($"doc_id", $"source", explode(array(
          struct(lit(1L).as("line_no"),
            array_join(slice($"t", lit(1), $"k1"), " ").as("line")),
          struct(lit(2L).as("line_no"),
            array_join(slice($"t", $"k1" + 1, $"k2" - $"k1"), " ").as("line")),
          struct(lit(3L).as("line_no"),
            array_join(slice($"t", $"k2" + 1, $"n" - $"k2"), " ").as("line")),
          struct(lit(4L).as("line_no"),
            when(pmod($"doc_id", lit(3)) =!= 2, lit(BoilerLine))
              .otherwise(lit("")).as("line")))).as("l"))
        .select($"doc_id", $"source", $"l.line_no", $"l.line")
        .filter(length($"line") > 0)
      val df = lines.groupBy($"line".as("ltext"))
        .agg(countDistinct($"doc_id").as("line_df"))
      val flagged = lines.join(df, $"line" === $"ltext")
        .withColumn("boiler", $"line_df" > BoilerDf)
      flagged.groupBy($"source")
        .agg(
          count(lit(1)).as("n_lines"),
          sum($"boiler".cast("long")).as("n_removed"),
          sum(when($"boiler", length($"line")).otherwise(0L))
            .as("chars_removed"),
          countDistinct(when($"boiler", $"doc_id")).as("n_docs_touched"),
          sum(when(!$"boiler",
            (Portable.md5Hash64(concat($"line", lit(":"),
              $"line_no".cast("string"), lit(":"),
              $"doc_id".cast("string"))) % lit(Portable.P)))
            .otherwise(0L)).as("kept_checksum"))
        .orderBy($"source")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source,
               ${Portable.tokensSql("text")} AS t,
               len(${Portable.tokensSql("text")}) AS n
        FROM documents),
      cut AS (
        SELECT doc_id, source, t, n, n // 3 AS k1, (2 * n) // 3 AS k2
        FROM toks WHERE n > 0),
      raw_lines AS (
        SELECT doc_id, source, 1 AS line_no,
               array_to_string(t[1:k1], ' ') AS line FROM cut
        UNION ALL
        SELECT doc_id, source, 2, array_to_string(t[k1+1:k2], ' ') FROM cut
        UNION ALL
        SELECT doc_id, source, 3, array_to_string(t[k2+1:n], ' ') FROM cut
        UNION ALL
        SELECT doc_id, source, 4,
               CASE WHEN doc_id % 3 <> 2 THEN '$BoilerLine' ELSE '' END
        FROM cut),
      lines AS (
        SELECT doc_id, source, CAST(line_no AS BIGINT) AS line_no, line
        FROM raw_lines WHERE length(line) > 0),
      df AS (
        SELECT line AS ltext, CAST(count(DISTINCT doc_id) AS BIGINT)
                 AS line_df
        FROM lines GROUP BY 1),
      flagged AS (
        SELECT l.source, l.doc_id, l.line_no, l.line,
               d.line_df > $BoilerDf AS boiler
        FROM lines l JOIN df d ON d.ltext = l.line)
      SELECT source, count(*) AS n_lines,
             CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             CAST(sum(CASE WHEN boiler THEN length(line) ELSE 0 END)
               AS BIGINT) AS chars_removed,
             CAST(count(DISTINCT CASE WHEN boiler THEN doc_id END)
               AS BIGINT) AS n_docs_touched,
             CAST(sum(CASE WHEN NOT boiler THEN
               ${Portable.md5Hash64Sql(
                 "(line || ':' || CAST(line_no AS VARCHAR)" +
                   " || ':' || CAST(doc_id AS VARCHAR))")}
               % ${Portable.P} ELSE 0 END) AS BIGINT) AS kept_checksum
      FROM flagged GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------------
  // q319 — MINHASH-LSH RECALL AUDIT (the q162 measured-recall discipline
  // applied to the text-dedup family): q35's LSH pair set filters its
  // candidates by EXACT Jaccard, so its errors are pure band MISSES —
  // pairs at J ≥ 0.5 whose 18 minhashes never agreed on a full band.
  // This query MEASURES that miss rate in-engine instead of trusting
  // the (1−(1−s^r)^b) curve: a salted-hash sample of docs (the q199
  // rule — deterministic, |corpus|/8 expected) gets its TRUE near-dup
  // sets by brute-force exact Jaccard, and each sampled doc reports how
  // many of its true near-dups the LSH path found (recall_milli per
  // doc; docs with no true near-dup carry no denominator and are
  // absent). found ⊆ true by construction, so recall ≤ 1000 always.
  // Scale: the ground-truth candidates come from the q232 PREFIX screen
  // (rarest n div 2 + 1 shingles per doc in global-df order — exact for
  // J ≥ 0.5 by the prefix lemma) with the sample filter on the probe
  // side, so the blocked join posts only rare-shingle, length-compatible
  // cells — never Σ df² over stop-shingles and never corpus²; the exact
  // intersection count then runs per candidate pair (q37's verify
  // machinery). The LSH set is the shared q35 derived table.
  // ---------------------------------------------------------------------
  private val RecallSampleMod = 8L

  private val q319 = QueryDef(
    "q319_minhash_recall",
    (spark, dir) => {
      import spark.implicits._
      // r13 optimization (measured 50.6 s at sf0.1, the bench's worst
      // query by 7×). The truth join's product volume Σ_s qdf·df is
      // irreducible for exact intersection counts (this fixture's
      // char-5 shingle universe is only ~2k values, so EVERY shingle is
      // hot and prefix/rare-gram screens have nothing to screen with —
      // measured: the q232 prefix screen made it 3× WORSE). What IS
      // reducible is what the product costs: the original shuffled both
      // posting sides (SMJ on a 5-char string key) and shuffled the
      // ~200M-row join product into the pair rollup. Now the SAMPLE side
      // (expected |corpus|/8 docs × shingles — audit model state, the
      // q162/q39 broadcast-sample discipline) is BROADCAST carrying its
      // doc's size, the corpus side stays partitioned by doc_id, and the
      // pair rollup therefore pre-aggregates EXACTLY map-side (every
      // row of pair (q, d) lives in d's partition), so the only shuffle
      // is |distinct candidate pairs| skinny rows. The length-compat
      // prune (max ≤ 2·min, provably implied by J ≥ 0.5: k ≤ min ⇒
      // J ≤ min/max) drops dead pairs inside the broadcast join, and
      // carrying both sizes through the rollup keys removes the two
      // post-agg sizes joins. Identical rows out; the unchanged oracle
      // (full sample × corpus postings join) re-proves it every run.
      // r14 (guide §2.3/§4): the broadcast sample is ~|corpus|/8 docs ×
      // shingles — a multi-million-row HashedRelation whose build was
      // the query's single largest job (1.85 s, single-threaded) when
      // keyed by the 5-char shingle STRING. Keying both sides on the
      // 8-byte md5 of the shingle (computed once into the persisted
      // tape) lets Spark build its specialized long-keyed relation —
      // identical intersection counts (oracle-gated, the q191/q232
      // hash-key discipline).
      val sh = shingles(spark, dir)
        .select($"doc_id", Portable.md5Hash64($"s").as("hs"))
        .repartition(col("doc_id")).persist()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val qsh = sh
        .filter(Portable.md5Hash64(
          concat(lit("mrc|"), $"doc_id".cast("string")))
          % RecallSampleMod === 0L)
        .join(broadcast(sizes), "doc_id")
        .select($"doc_id".as("q_id"), $"hs", $"n".as("qn"))
      val csh = sh.join(broadcast(sizes), "doc_id")
      // verify on the 60-bit shingle key: see GramKeyRatedGrams for the bound
      val inter = csh.join(broadcast(qsh),
          csh("hs") === qsh("hs") && $"q_id" =!= csh("doc_id") &&
            greatest($"qn", csh("n")) <= least($"qn", csh("n")) * 2)
        .groupBy($"q_id", csh("doc_id").as("d_id"), $"qn", csh("n").as("dn"))
        .agg(count(lit(1)).as("k"))
      val truth = inter
        .withColumn("jaccard", $"k".cast("double") /
          ($"qn" + $"dn" - $"k").cast("double"))
        .filter($"jaccard" >= 0.5)
        .select($"q_id", $"d_id")
      val lsh = nearDupPairs(spark, dir).select($"i", $"j")
      val found = lsh.select($"i".as("q_id"), $"j".as("d_id"))
        .unionAll(lsh.select($"j".as("q_id"), $"i".as("d_id")))
        .withColumn("f", lit(1L))
      Scoped.materialize(sh)(truth.join(found, Seq("q_id", "d_id"), "left")
        .groupBy($"q_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce($"f", lit(0L))).as("n_found"))
        .withColumn("recall_milli", expr("(1000 * n_found) div n_true")))
        .orderBy($"q_id")
    },
    Some(s"""
      WITH $shinglesSql,
      qs AS (
        SELECT doc_id AS q_id, s FROM sh
        WHERE ${Portable.md5Hash64Sql(
          "'mrc|' || CAST(doc_id AS VARCHAR)")} % $RecallSampleMod = 0),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT q.q_id, c.doc_id AS d_id, count(*) AS k
        FROM qs q JOIN sh c ON c.s = q.s AND c.doc_id <> q.q_id
        GROUP BY 1, 2),
      truth AS (
        SELECT q_id, d_id
        FROM inter
        JOIN sizes nq ON nq.doc_id = q_id
        JOIN sizes nd ON nd.doc_id = d_id
        WHERE CAST(k AS DOUBLE) / CAST(nq.n + nd.n - k AS DOUBLE) >= 0.5),
      lshp AS ($minhashOracle),
      found AS (
        SELECT i AS q_id, j AS d_id FROM lshp
        UNION ALL SELECT j AS q_id, i AS d_id FROM lshp),
      flg AS (
        SELECT t.q_id, t.d_id,
               CASE WHEN f.q_id IS NOT NULL THEN 1 ELSE 0 END AS f
        FROM truth t
        LEFT JOIN found f ON f.q_id = t.q_id AND f.d_id = t.d_id)
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(f) AS BIGINT) AS n_found,
             (1000 * CAST(sum(f) AS BIGINT)) // count(*) AS recall_milli
      FROM flg GROUP BY q_id ORDER BY q_id"""))

  override val defs: Seq[QueryDef] =
    Seq(q34, q35, q36, q37, q38, q72, q96, q114, q118, q131, q151, q163,
      q174, q225, q232, q303, q319)
}
