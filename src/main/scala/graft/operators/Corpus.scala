package graft.operators

import graft.{QueryDef, QueryModule}
import graft.functions.Portable
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level training-data operators: distributed k-means over the
  * embeddings table (the clustering primitive behind semantic dedup and
  * IVF codebook training), TF-IDF term ranking, and duplicate-passage
  * removal (the C4-style "any repeated span is dropped, first occurrence
  * kept" rule).
  *
  * All three follow the scaled-integer determinism contract (SURVEY.md §5):
  * embedding coordinates become `floor(x · 1e6)` longs so distances and
  * centroid means are exact integer arithmetic on both engines, and TF-IDF
  * scores are exact integer floor divisions — no float accumulation
  * anywhere, so every query hash-matches its DuckDB oracle.
  */
object Corpus extends QueryModule {

  /** Codebook size is data-derived on the FAISS/SemDeDup discipline:
    * k = clamp(C·⌈√n⌉, MinK, MaxK) (and never above n). A sub-linear √n
    * law keeps EVERY side of the k-means family bounded at scale:
    * assignment is n·k ≤ C·n^1.5 distance computations per pass (vs the
    * quadratic n²/cell a linear k = n/cell law degenerates to), and the
    * broadcast codebook / driver model state is k×64 longs ≤ MaxK×64×8 B
    * = 64 MB — a constant, not O(n). Cells grow as √n/C, so intra-cell
    * pair work (q108) is bounded separately by the rank-window discipline
    * in Similarity (each vector pairs with ≤ PairWindow neighbors in
    * centroid-distance order), not by cell size. MinK keeps the fixture
    * codebook stable at tiny SFs; at sf0.01 (n=500) k resolves to 92, at
    * sf0.1 (n=2000) to 180, and k saturates at MaxK = 2^17 near n ≈ 10^9.
    *
    * ⌈√n⌉ is computed as ceil(sqrt(double)) on BOTH engines: IEEE-754
    * sqrt is correctly rounded, so Java's Math.sqrt and DuckDB's sqrt
    * return the identical double for the identical input — the derived k
    * is bit-equal cross-engine without integer-sqrt gymnastics.
    */
  private val MinK = 8
  private val MaxK = 131072 // 2^17 — hard cap on broadcast/driver model state
  private val SqrtCoef = 4  // C in k ≈ C·√n (FAISS guidance: 4–16)
  private val Iters = 2
  private val SegWords = 10

  /** Pure derivation twin shared by the Spark path, the oracle SQL, and
    * the ScaleBehaviorSpec invariants:
    * min(n, MaxK, max(MinK, C·⌈√n⌉)).
    */
  private[graft] def derivedK(n: Long): Long = {
    val c = SqrtCoef * math.ceil(math.sqrt(n.toDouble)).toLong
    math.min(n, math.min(MaxK.toLong, math.max(MinK.toLong, c)))
  }

  /** The model-state cap, exposed for the spec invariant k ≤ MaxK. */
  private[graft] def MaxCodebookK: Int = MaxK

  /** The √n coefficient, exposed for the spec invariant n·k ∈ O(n^1.5). */
  private[graft] def SqrtCoefC: Int = SqrtCoef

  /** The data-derived codebook size for this corpus (one count scan). */
  private[graft] def derivedK(spark: SparkSession, dir: String): Long =
    derivedK(Tables.embeddings(spark, dir).count())


  // ---------------------------------------------------------------------
  // q98 — distributed k-means (Lloyd's), the clustering stage of
  // SemDeDup-style semantic dedup and of IVF codebook refinement.
  //
  // Scale shape (the MLlib shape): the k×64 centroid model is the ONLY
  // state that ever leaves the executors — each iteration is one corpus
  // scan with the centroids broadcast, argmin folded map-side via
  // min(struct(dist, cid, xs)) so the shuffle carries one row per vector,
  // then a (cid, pos) partial-sum update whose map-side combine collapses
  // each partition to k×64 cells. The driver collects only the k×64
  // updated centroids between iterations (model state, not data), which
  // also bounds plan lineage to one scan per pass.
  //
  // Seeding is a deterministic k-means||-style pass (Bahmani et al.,
  // VLDB'12 shape): a hash-argmin first center, then a FEW batched rounds
  // each adding the l points farthest from the current center set —
  // d²-top-l in place of k-means||'s d²-proportional sampling, so the
  // result is reproducible and oracle-checkable while keeping the paper's
  // round structure (O(1) corpus scans, a batch of centers per round —
  // NOT k sequential k-means++ scans). Each round is one scan with the
  // current seed set broadcast; top-l is TakeOrdered (no global sort);
  // the driver sees only the ≤k×64 seed state.
  //
  // Determinism: coordinates are floor(x·1e6) longs; distances are exact
  // integer squared-L2 (≤ 64·(1e6)² ≈ 6.4e13 per vector, well inside
  // long); centroid means are exact floor division (s - pmod(s,n)) div n;
  // argmin ties break on cid; farthest-point ties break on vec_id.
  // ---------------------------------------------------------------------
  /** Seed-round batch sizes for codebook size k: 1 hash-picked center plus
    * two farthest-point rounds of ~(k-1)/2 each — the same O(1)-round
    * k-means|| shape at every k (round count stays constant as k grows;
    * only the per-round batch widens). Integer floor division matches the
    * oracle's `//` exactly.
    */
  private def seedRounds(k: Int): Seq[Int] =
    Seq((k - 1) / 2, (k - 1) - (k - 1) / 2)

  /** Local-mode codebook size: the derived k as an Int (safe — a k that
    * overflows Int implies a corpus no single driver trains a codebook
    * for; the formula itself is Long-total for the spec invariant).
    */
  private def localK(spark: SparkSession, dir: String): Int =
    derivedK(spark, dir).toInt

  private[operators] def embScaled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir).select(
      $"vec_id",
      transform($"embedding",
        x => floor(x.cast("double") * lit(1e6)).cast("long")).as("xs"))
  }

  /** Exact squared L2 over scaled-long coordinate arrays — the native
    * codegen'd kernel (SqdLongExpr); the interpreted zip_with+aggregate
    * form is what it replaces in the n·k hot loops.
    */
  private[operators] def sqd(xs: org.apache.spark.sql.Column, cs: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.bridge.column(graft.functions.SqdLongExpr(
      org.apache.spark.sql.graft.bridge.expression(xs),
      org.apache.spark.sql.graft.bridge.expression(cs)))

  /** Nearest-centroid assignment. The n×k candidate expansion stays
    * SKINNY — (vec_id, cid, dist) only; the 64-long coordinate array is
    * joined back by vec_id AFTER the argmin, so neither the map-side
    * combine nor the shuffle ever carries payload×k (the old
    * min(struct(dist, cid, xs)) form serialized the array into every
    * candidate struct — k array copies per vector).
    */
  private def assign(emb: DataFrame, cents: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val amin = emb.select($"vec_id", $"xs").crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", sqd($"xs", $"cs").as("dist"))
      .groupBy($"vec_id")
      .agg(min(struct($"dist", $"cid")).as("m"))
      .select($"vec_id", $"m.cid".as("cid"), $"m.dist".as("dist"))
    amin.join(emb, "vec_id").select($"vec_id", $"cid", $"dist", $"xs")
  }

  private def update(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned.select($"cid", posexplode($"xs"))
      .groupBy($"cid", $"pos")
      .agg(sum($"col").as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("(s - pmod(s, n)) div n")) // exact floor mean
      .groupBy($"cid")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        p => p.getField("c")).as("cs"))
  }

  /** Deterministic k-means||-style seeds: (cid 0..K-1, coords), labeled by
    * ascending vec_id. Exposed for the seeding/inertia spec.
    */
  private[operators] def seedCentroids(
      spark: SparkSession, dir: String): Seq[(Long, Seq[Long])] =
    seedCentroidsOf(embScaled(spark, dir), localK(spark, dir))

  /** The same deterministic seeding over an ARBITRARY (vec_id, xs) frame
    * with an explicit k — the form subspace trainers (PQ, q204) call with
    * sliced coordinates and an architecture-constant k.
    */
  private[operators] def seedCentroidsOf(
      emb: DataFrame, k: Int): Seq[(Long, Seq[Long])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    // pseudo-random but reproducible first center: argmin of a salted hash
    var seeds: Seq[(Long, Seq[Long])] = emb
      .withColumn("hv", Portable.md5Hash64($"vec_id".cast("string")))
      .orderBy($"hv", $"vec_id").limit(1)
      .select($"vec_id", $"xs").as[(Long, Seq[Long])].collect().toSeq
    for (l <- seedRounds(k)) {
      val cdf = seeds.map(_._2).zipWithIndex
        .map { case (cs, i) => (i.toLong, cs) }.toDF("cid", "cs")
      // skinny d²-top-l: argmin and TakeOrdered see only (vec_id, d);
      // coordinates join back for just the l winners
      val far = emb.select($"vec_id", $"xs").crossJoin(broadcast(cdf))
        .select($"vec_id", sqd($"xs", $"cs").as("d"))
        .groupBy($"vec_id").agg(min($"d").as("d"))
      val top = far.orderBy($"d".desc, $"vec_id").limit(l).select($"vec_id")
      seeds = seeds ++ emb.join(broadcast(top), "vec_id")
        .select($"vec_id", $"xs").as[(Long, Seq[Long])].collect().toSeq
    }
    seeds.sortBy(_._1).zipWithIndex.map { case ((_, xs), i) => (i.toLong, xs) }
  }

  /** `iters` Lloyd's passes from the deterministic seeds → final (cid,
    * coords) model state. A Scoped.shared derived table: the trained
    * codebook is consumed by q98 (cluster stats) AND q105 (IVF index),
    * and a model you trained once is exactly what you materialize.
    * Exposed for the inertia spec.
    */
  private[operators] def kmeansCentroids(
      spark: SparkSession, dir: String, iters: Int): DataFrame =
    Scoped.shared(spark, s"kmeans_cents_$iters", dir)((Nil,
      trainCentroids(embScaled(spark, dir), localK(spark, dir), iters)))

  /** Seed + `iters` Lloyd's passes over an arbitrary (vec_id, xs) frame
    * with an explicit k → trained (cid, cs). The generic trainer behind
    * [[kmeansCentroids]] and the per-subspace PQ codebooks (q204).
    */
  private[operators] def trainCentroids(
      emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    var cents = seedCentroidsOf(emb, k).toDF("cid", "cs")
    for (_ <- 1 to iters) {
      // k×dim longs of model state — the one legitimate driver round-trip
      val local = update(assign(emb, cents))
        .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
      cents = local.toDF("cid", "cs")
    }
    cents
  }

  /** The configured Lloyd's depth (oracle centroid table is `c<KmIters>`). */
  private[operators] def KmIters: Int = Iters

  /** Total inertia (sum of squared distances to the nearest centroid) of a
    * centroid set over the corpus — one scan. Exposed for the spec.
    */
  private[operators] def inertia(
      spark: SparkSession, dir: String, cents: DataFrame): Long = {
    import spark.implicits._
    assign(embScaled(spark, dir), cents)
      .agg(sum($"dist")).as[Long].head()
  }

  private val q98 = QueryDef(
    "q98_kmeans",
    (spark, dir) => {
      import spark.implicits._
      val cents = kmeansCentroids(spark, dir, Iters)
      val stats = assign(embScaled(spark, dir), cents)
        .groupBy($"cid")
        .agg(count(lit(1)).as("n"), sum($"dist").as("inertia"))
      val checks = cents.select($"cid",
        aggregate($"cs", lit(0L), (a, x) => a + x).as("checksum"))
      stats.join(checks, "cid")
        .select($"cid", $"n", $"inertia", $"checksum")
        .orderBy($"cid")
    },
    Some(kmeansOracle))

  /** The oracle unrolls the same `Iters` Lloyd's iterations as CTE pairs
    * (assign_i from cents_{i-1}, cents_i from assign_i); helpers generate
    * each pair so both engines run the identical recurrence.
    */
  private[operators] def assignCte(name: String, cents: String,
      emb: String = "emb"): String = s"""
    $name AS (
      SELECT vec_id, xs, cid, dist FROM (
        SELECT vec_id, xs, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (
          SELECT e.vec_id, e.xs, c.cid,
                 list_sum(list_transform(list_zip(e.xs, c.cs),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
          FROM $emb e CROSS JOIN $cents c))
      WHERE rn = 1)"""

  private def updateCte(name: String, assigned: String): String = s"""
    $name AS (
      SELECT cid, list(c ORDER BY pos) AS cs FROM (
        SELECT cid, pos,
               CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS c
        FROM (
          SELECT cid, u.pos AS pos, sum(u.v) AS s, count(*) AS n
          FROM (
            SELECT cid,
                   unnest([{'pos': i, 'v': xs[i]}
                           for i in range(1, len(xs) + 1)]) AS u
            FROM $assigned)
          GROUP BY cid, u.pos))
      GROUP BY cid)"""

  /** One deterministic seeding round: d² of every vector to the current
    * seed set, then the top-`l` farthest (ties on vec_id) join the set.
    * `lSql` is a batch-size expression over the `kval` CTE's data-derived
    * `k`, so the oracle's round sizes track the corpus exactly like the
    * Spark side's `seedRounds(k)`.
    */
  private def seedRoundCte(i: Int, limitSql: String, emb: String = "emb",
      p: String = ""): String = s"""
    ${p}d$i AS (
      SELECT e.vec_id, e.xs,
             min(list_sum(list_transform(list_zip(e.xs, c.xs),
               p -> (p[1] - p[2]) * (p[1] - p[2])))) AS d
      FROM $emb e CROSS JOIN ${p}seeds$i c GROUP BY e.vec_id, e.xs),
    ${p}s$i AS (
      SELECT vec_id, xs FROM (
        SELECT vec_id, xs, row_number() OVER (ORDER BY d DESC, vec_id) AS rn
        FROM ${p}d$i)
      WHERE rn <= $limitSql),
    ${p}seeds${i + 1} AS (
      SELECT * FROM ${p}seeds$i UNION ALL SELECT * FROM ${p}s$i)"""

  /** The full seeding + Lloyd's pipeline as oracle CTEs (no WITH keyword):
    * defines `emb` (vec_id, scaled xs) and ends at the trained centroid
    * table `c<KmIters>` (cid, cs). Shared by q98's oracle and q105's
    * (IVF over the trained codebook).
    */
  private[operators] def centroidPipelineCtes: String = {
    // Batch-size expressions mirror seedRounds(k): (k-1)//2 then the rest.
    val roundSizeSql = Seq("(k - 1) // 2", "(k - 1) - (k - 1) // 2")
    val seedRoundsSql = roundSizeSql.zipWithIndex
      .map { case (l, i) => seedRoundCte(i + 1, s"(SELECT $l FROM kval)") }
      .mkString(",")
    val lastSeeds = s"seeds${roundSizeSql.size + 1}"
    val iters = (1 to Iters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      assignCte(s"a$i", prev) + "," + updateCte(s"c$i", s"a$i")
    }.mkString(",")
    s"""emb AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS xs
      FROM embeddings),
    kval AS (
      SELECT least(count(*), least($MaxK, greatest($MinK,
               $SqrtCoef * CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)))) AS k
      FROM embeddings),
    seeds1 AS (
      SELECT vec_id, xs FROM (
        SELECT vec_id, xs,
               ${Portable.md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS hv
        FROM emb)
      ORDER BY hv, vec_id LIMIT 1),
    $seedRoundsSql,
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, xs AS cs
      FROM $lastSeeds),
    $iters"""
  }

  /** Fixed-k variant of the seeding + Lloyd's pipeline over an ARBITRARY
    * (vec_id, xs) CTE `emb`, all names prefixed with `p` — the oracle
    * twin of [[trainCentroids]] for PQ subspace codebooks (q204), where
    * k is a code-width architecture constant rather than the √n data
    * law. Produces the trained table `${p}c$iters` (cid, cs).
    */
  private[operators] def fixedKPipelineCtes(
      emb: String, p: String, k: Int, iters: Int): String = {
    val sizes = Seq((k - 1) / 2, (k - 1) - (k - 1) / 2)
    val seedRoundsSql = sizes.zipWithIndex
      .map { case (l, i) => seedRoundCte(i + 1, l.toString, emb, p) }
      .mkString(",")
    val lastSeeds = s"${p}seeds${sizes.size + 1}"
    val iterCtes = (1 to iters).map { i =>
      val prev = s"${p}c${i - 1}"
      assignCte(s"${p}a$i", prev, emb) + "," + updateCte(s"${p}c$i", s"${p}a$i")
    }.mkString(",")
    s"""${p}seeds1 AS (
      SELECT vec_id, xs FROM (
        SELECT vec_id, xs,
               ${Portable.md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS hv
        FROM $emb)
      ORDER BY hv, vec_id LIMIT 1),
    $seedRoundsSql,
    ${p}c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, xs AS cs
      FROM $lastSeeds),
    $iterCtes"""
  }

  private def kmeansOracle: String = {
    s"""
    WITH ${centroidPipelineCtes},
    ${assignCte("fin", s"c$Iters")}
    SELECT f.cid AS cid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(f.dist) AS BIGINT) AS inertia,
           ck.checksum AS checksum
    FROM fin f
    JOIN (SELECT cid, CAST(list_sum(cs) AS BIGINT) AS checksum FROM c$Iters) ck
      USING (cid)
    GROUP BY f.cid, ck.checksum
    ORDER BY cid"""
  }

  // ---------------------------------------------------------------------
  // q99 — TF-IDF top terms per document. tf and df are exact counts; the
  // score is the exact integer (tf · N · 1e6) div df — same ordering as
  // tf·N/df without a cross-engine `ln`, whose last-ulp rounding is not
  // portable. Document frequency is computed over the FULL corpus (one
  // shuffle on term — at 100 TB the df table is the big side and stays
  // distributed; the filtered per-doc tf side is what AQE broadcasts),
  // then per-doc top-5 by (score desc, term) via ranked window.
  // ---------------------------------------------------------------------
  private val q99 = QueryDef(
    "q99_tfidf",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val tf = docs
        .select($"doc_id", explode(Portable.tokens($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"score_1e6".desc, $"term".asc)
      tf.filter($"doc_id" < 20)
        .join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score_1e6", expr("(tf * n_docs * 1000000) div df"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score_1e6")
        .orderBy($"doc_id", $"rank")
    },
    Some(s"""
      WITH tfc AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(${Portable.tokensSql("text")}) AS term
          FROM documents)
        GROUP BY doc_id, term),
      dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
      nd AS (SELECT count(*) AS n_docs FROM documents)
      SELECT doc_id, rank, term, tf, df, score_1e6
      FROM (
        SELECT t.doc_id, t.term, t.tf, d.df,
               CAST((t.tf * n.n_docs * 1000000) // d.df AS BIGINT) AS score_1e6,
               row_number() OVER (
                 PARTITION BY t.doc_id
                 ORDER BY CAST((t.tf * n.n_docs * 1000000) // d.df AS BIGINT) DESC,
                          t.term) AS rank
        FROM tfc t JOIN dfc d USING (term) CROSS JOIN nd n
        WHERE t.doc_id < 20)
      WHERE rank <= 5
      ORDER BY doc_id, rank"""))

  // ---------------------------------------------------------------------
  // q100 — duplicate-passage removal (C4 rule): split each document into
  // consecutive $SegWords-word passages, drop every passage whose exact
  // text occurs more than once in the corpus EXCEPT its first occurrence
  // (min (doc_id, seg), encoded as one long so both engines argmin the
  // same scalar). Per-document audit: segments, duplicated segments,
  // words kept.
  //
  // Scale shape: the passage never leaves the executor as text — the
  // occurrence count groups on its 60-bit md5, so the one corpus-wide
  // shuffle carries 8-byte keys, not strings (the same trick exact dedup
  // uses). Second shuffle is the per-doc audit rollup.
  // ---------------------------------------------------------------------
  private val q100 = QueryDef(
    "q100_passage_dedup",
    (spark, dir) => {
      import spark.implicits._
      val segs = Tables.documents(spark, dir)
        .select($"doc_id", Portable.tokens($"text").as("w"))
        .filter(size($"w") > 0)
        .select($"doc_id", posexplode(
          transform(
            sequence(lit(0), expr(s"(size(w) - 1) div $SegWords").cast("int")),
            i => slice($"w", i * SegWords + 1, lit(SegWords)))))
        .select($"doc_id", $"pos".as("seg"),
          Portable.md5Hash64(array_join($"col", " ")).as("ph"),
          size($"col").as("nw"))
        .withColumn("k", $"doc_id" * 1000000 + $"seg")
      val occ = segs.groupBy($"ph")
        .agg(count(lit(1)).as("cnt"), min($"k").as("keep"))
      segs.join(occ, "ph")
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when($"cnt" > 1, 1L).otherwise(0L)).as("n_dup_segs"),
          sum(when($"cnt" === 1 || $"k" === $"keep", $"nw")
            .otherwise(0L)).as("n_words_kept"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH segs AS (
        SELECT doc_id, u.seg AS seg,
               ${Portable.md5Hash64Sql("array_to_string(u.p, ' ')")} AS ph,
               len(u.p) AS nw,
               doc_id * 1000000 + u.seg AS k
        FROM (
          SELECT doc_id,
                 unnest([{'seg': i,
                          'p': w[(i * $SegWords + 1):((i + 1) * $SegWords)]}
                         for i in range(0, ((len(w) - 1) // $SegWords) + 1)]) AS u
          FROM (
            SELECT doc_id, ${Portable.tokensSql("text")} AS w FROM documents)
          WHERE len(w) > 0)),
      occ AS (
        SELECT ph, count(*) AS cnt, min(k) AS keep FROM segs GROUP BY ph)
      SELECT s.doc_id AS doc_id,
             CAST(count(*) AS BIGINT) AS n_segs,
             CAST(sum(CASE WHEN o.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_segs,
             CAST(sum(CASE WHEN o.cnt = 1 OR s.k = o.keep THEN s.nw ELSE 0 END)
               AS BIGINT) AS n_words_kept
      FROM segs s JOIN occ o USING (ph)
      GROUP BY s.doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q106 — sequence packing (GPT-style concat-and-chunk): the corpus token
  // stream, concatenated in doc_id order, cut into fixed CtxLen-token
  // training windows; per pack, the docs and token counts it contains.
  // This is the packing step every LLM training pipeline runs between
  // curation and tokenized-shard writing.
  //
  // Scale shape: a GLOBAL token offset is a total order, but NOT a
  // single-partition sort — same discipline as the q22 global row-number:
  // range-repartition on doc_id, per-partition prefix sums, plus the
  // broadcast exclusive sum of per-partition token totals (≤ partitions
  // rows). A doc spanning [off, off+n) overlaps at most n/CtxLen + 1
  // packs, so the doc→pack explode is linear in corpus tokens; the one
  // real shuffle is the final groupBy(pack_id), whose cardinality grows
  // with data (parallelism does too). Integer arithmetic throughout.
  // ---------------------------------------------------------------------
  private val CtxLen = 512L
  private val q106 = QueryDef(
    "q106_sequence_packing",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", size(Portable.tokens($"text")).cast("long").as("n"))
        .filter($"n" > 0)
      val parted = toks.repartitionByRange($"doc_id")
        .withColumn("_pid", spark_partition_id())
        .persist()
      val offsets = parted.groupBy($"_pid").agg(sum($"n").as("_cnt"))
        .withColumn("_offset",
          coalesce(sum($"_cnt").over(
            Window.orderBy($"_pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val wLocal = Window.partitionBy($"_pid").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offd = parted
        .join(broadcast(offsets.select($"_pid", $"_offset")), Seq("_pid"))
        .withColumn("off", $"_offset" + coalesce(sum($"n").over(wLocal), lit(0L)))
      val packs = offd
        .select($"doc_id", $"n", $"off",
          explode(sequence(
            expr(s"off div $CtxLen"),
            expr(s"(off + n - 1) div $CtxLen"))).as("pack_id"))
        .groupBy($"pack_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(least(($"pack_id" + 1) * CtxLen, $"off" + $"n") -
            greatest($"pack_id" * CtxLen, $"off")).as("n_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
      Scoped.materialize(parted)(packs).orderBy($"pack_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS n
        FROM documents),
      nz AS (SELECT doc_id, n FROM toks WHERE n > 0),
      offd AS (
        SELECT doc_id, n,
               CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        FROM nz),
      spans AS (
        SELECT doc_id, n, off,
               unnest(range(off // $CtxLen, (off + n - 1) // $CtxLen + 1)) AS pack_id
        FROM offd)
      SELECT pack_id, count(*) AS n_docs,
             CAST(sum(least((pack_id + 1) * $CtxLen, off + n)
                    - greatest(pack_id * $CtxLen, off)) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM spans GROUP BY pack_id ORDER BY pack_id"""))

  // ---------------------------------------------------------------------
  // q165 — LENGTH-BUCKETED BATCHING (the training-dataloader step next
  // to q106's sequence packing): docs binned into 64-token-granularity
  // length buckets, batched B=8 at a time in (tokens desc, doc_id)
  // order, with each batch's padding efficiency emitted two ways —
  // static (pad to bucket cap) and dynamic (pad to the batch max).
  // Those two integer-milli columns ARE the operator's point: they
  // quantify what length-bucketing buys over naive global batching
  // before anyone trains on the layout.
  //
  // The within-bucket global order uses q135/q22's discipline — a
  // rangepartitioning exchange on (bucket, tokens desc, doc_id),
  // per-partition row_number, broadcast per-(partition, bucket)
  // offsets — NEVER a single-partition-per-bucket window, because at
  // corpus scale one bucket holds billions of docs (the skew that
  // kills the naive partitionBy(bucket) plan). Batch ids and both
  // efficiency ratios are pure integer arithmetic over exact token
  // counts; the one fixed divisor keeps everything hash-stable.
  // ---------------------------------------------------------------------
  private val BatchB = 8
  private val BucketGran = 64L
  private val q165 = QueryDef(
    "q165_length_batching",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id",
          size(Portable.tokens($"text")).cast("long").as("tokens"))
        .withColumn("bucket_cap",
          // empty docs land in the first bucket (cap 64), keeping every
          // divisor strictly positive on both engines
          expr(s"greatest(((tokens + ${BucketGran - 1}) div $BucketGran) * $BucketGran, $BucketGran)"))
      val parted = toks
        .repartitionByRange($"bucket_cap", $"tokens".desc, $"doc_id")
        .withColumn("_pid", spark_partition_id())
        .persist()
      val offsets = parted.groupBy($"_pid", $"bucket_cap")
        .agg(count(lit(1)).as("_cnt"))
        .withColumn("_offset",
          coalesce(sum($"_cnt").over(
            Window.partitionBy($"bucket_cap").orderBy($"_pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val batched = parted
        .join(broadcast(offsets.select($"_pid", $"bucket_cap", $"_offset")),
          Seq("_pid", "bucket_cap"))
        .withColumn("rn",
          $"_offset" + row_number().over(
            Window.partitionBy($"_pid", $"bucket_cap")
              .orderBy($"tokens".desc, $"doc_id")))
        .withColumn("batch_no", expr(s"(rn - 1) div $BatchB"))
        .groupBy($"bucket_cap", $"batch_no")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"tokens").as("sum_tokens"),
          max($"tokens").as("batch_max_tokens"))
        .withColumn("eff_static_milli",
          expr("(1000 * sum_tokens) div (n_docs * bucket_cap)"))
        .withColumn("eff_dyn_milli",
          expr("(1000 * sum_tokens) div (n_docs * greatest(batch_max_tokens, 1L))"))
      Scoped.materialize(parted)(batched).orderBy($"bucket_cap", $"batch_no")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS tokens
        FROM documents),
      b AS (
        SELECT *,
               greatest(((tokens + ${BucketGran - 1}) // $BucketGran) * $BucketGran,
                 $BucketGran) AS bucket_cap
        FROM toks),
      r AS (
        SELECT *,
               row_number() OVER (
                 PARTITION BY bucket_cap
                 ORDER BY tokens DESC, doc_id) AS rn
        FROM b)
      SELECT bucket_cap, (rn - 1) // $BatchB AS batch_no,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tokens) AS BIGINT) AS sum_tokens,
             CAST(max(tokens) AS BIGINT) AS batch_max_tokens,
             CAST((1000 * sum(tokens)) // (count(*) * bucket_cap) AS BIGINT)
               AS eff_static_milli,
             CAST((1000 * sum(tokens)) // (count(*) * greatest(max(tokens), 1)) AS BIGINT)
               AS eff_dyn_milli
      FROM r GROUP BY 1, 2 ORDER BY bucket_cap, batch_no"""))

  // ---------------------------------------------------------------------
  // q211 — VOCABULARY GROWTH CURVE (Heaps'-law diagnostic): how fast the
  // corpus's type inventory grows as documents arrive in ingestion
  // order. Per ingestion decile: token occurrences, NEW types (tokens
  // whose first occurrence falls in that decile), the cumulative
  // vocabulary, and the cumulative type/token ratio in exact millis —
  // the curve that tells a data team whether the next crawl batch still
  // adds vocabulary or only repeats it. The whole computation is two
  // corpus aggregations on 8-byte token hashes: first-occurrence =
  // min(decile) per type (map-side combinable), occurrence census =
  // count per decile; the cumulative window runs over ≤ 10 rows.
  // Nothing is ordered per-document — ingestion position enters as
  // arithmetic on doc_id, so the plan is shuffle-bounded by |vocab|,
  // never by corpus order.
  // ---------------------------------------------------------------------
  private val q211 = QueryDef(
    "q211_vocab_growth",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val bounds = docs.agg((max($"doc_id") + 1).as("n_ids"))
      val toks = docs
        .select($"doc_id", explode(Portable.tokens(lower($"text"))).as("t"))
        .select($"doc_id", Portable.md5Hash64($"t").as("th"))
        .crossJoin(broadcast(bounds))
        .withColumn("decile", expr("(doc_id * 10) div n_ids"))
        .persist()
      val occ = toks.groupBy($"decile").agg(count(lit(1)).as("n_occurrences"))
      val firstSeen = toks.groupBy($"th").agg(min($"decile").as("first_decile"))
      val newTypes = firstSeen.groupBy($"first_decile".as("decile"))
        .agg(count(lit(1)).as("n_new_types"))
      val w = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = occ.join(newTypes, Seq("decile"), "left")
        .na.fill(0L, Seq("n_new_types"))
        .withColumn("vocab_cum", sum($"n_new_types").over(w))
        .withColumn("occ_cum", sum($"n_occurrences").over(w))
        .withColumn("type_token_milli",
          expr("(1000 * vocab_cum) div occ_cum"))
      Scoped.materialize(toks)(out).orderBy($"decile")
    },
    Some(s"""
      WITH n AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
      toks AS (
        SELECT doc_id,
               ${Portable.md5Hash64Sql("t")} AS th,
               (doc_id * 10) // (SELECT n_ids FROM n) AS decile
        FROM (
          SELECT doc_id, unnest(${Portable.tokensSql("lower(text)")}) AS t
          FROM documents)),
      occ AS (
        SELECT decile, count(*) AS n_occurrences FROM toks GROUP BY 1),
      fs AS (SELECT th, min(decile) AS first_decile FROM toks GROUP BY 1),
      nt AS (
        SELECT first_decile AS decile, count(*) AS n_new_types
        FROM fs GROUP BY 1),
      j AS (
        SELECT o.decile, o.n_occurrences,
               coalesce(nt.n_new_types, 0) AS n_new_types
        FROM occ o LEFT JOIN nt USING (decile))
      SELECT decile,
             CAST(n_occurrences AS BIGINT) AS n_occurrences,
             CAST(n_new_types AS BIGINT) AS n_new_types,
             CAST(sum(n_new_types) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS vocab_cum,
             CAST(sum(n_occurrences) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS occ_cum,
             CAST((1000 * sum(n_new_types) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) //
               sum(n_occurrences) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS type_token_milli
      FROM j ORDER BY decile"""))

  // ---------------------------------------------------------------------
  // q212 — N-GRAM NOVELTY DECAY: the shard-over-shard version of the
  // q211 curve at CONTENT grain — per ingestion decile, what fraction
  // of its word-8-gram instances has never been seen in any earlier
  // decile. This is the curve that decides epoch counts and crawl-batch
  // value: when novelty_milli flattens near zero, additional data is
  // re-reading the same text (the q118/substring-dedup signal,
  // aggregated to a planning number). SpanL-token grams match the
  // substring-dedup unit so the numbers compose.
  //
  // Scale shape (r9): the corpus×8-token gram INSTANCE stream is
  // consumed by exactly ONE map-combinable aggregation — the per
  // (gram, decile) count — and is never persisted (the r8 nit: the old
  // plan cached the instance stream for three consumers). Everything
  // downstream (per-decile mass, each gram's first decile AND the
  // instance count at that first decile via one min(struct), novel-type
  // census) derives from the counts table, whose size is bounded by
  // |gram vocab| × 10, not by corpus length.
  // ---------------------------------------------------------------------
  private val q212 = QueryDef(
    "q212_novelty_decay",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val bounds = docs.agg((max($"doc_id") + 1).as("n_ids"))
      val grams = docs
        .select($"doc_id", Portable.tokens($"text").as("w"))
        .filter(size($"w") >= 8)
        .select($"doc_id", explode(transform(
          sequence(lit(1), size($"w") - 7),
          i => Portable.md5Hash64(array_join(slice($"w", i, lit(8)), " "))))
          .as("gh"))
        .crossJoin(broadcast(bounds))
        .withColumn("decile", expr("(doc_id * 10) div n_ids"))
      val gcounts = grams.groupBy($"gh", $"decile")
        .agg(count(lit(1)).as("cnt"))
        .persist() // vocab×deciles-bounded; three cheap consumers below
      val occ = gcounts.groupBy($"decile").agg(sum($"cnt").as("n_grams"))
      // per gram: first decile and the instance count AT that decile, in
      // one pass (min over ≤ 10 rows per gram)
      val byGh = gcounts.groupBy($"gh")
        .agg(min(struct($"decile", $"cnt")).as("f"))
        .select($"f.decile".as("decile"), $"f.cnt".as("first_cnt"))
      val novel = byGh.groupBy($"decile")
        .agg(sum($"first_cnt").as("n_first_decile_instances"),
          count(lit(1)).as("n_new_grams"))
      val out = occ
        .join(novel, Seq("decile"), "left")
        .na.fill(0L, Seq("n_first_decile_instances", "n_new_grams"))
        .withColumn("novelty_milli",
          expr("(1000 * n_first_decile_instances) div n_grams"))
      Scoped.materialize(gcounts)(out).orderBy($"decile")
    },
    Some(s"""
      WITH n AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
      grams AS (
        SELECT doc_id,
               ${Portable.md5Hash64Sql("array_to_string(g, ' ')")} AS gh,
               (doc_id * 10) // (SELECT n_ids FROM n) AS decile
        FROM (
          SELECT doc_id, unnest(
            [w[(i):(i + 7)] for i in range(1, len(w) - 6)]) AS g
          FROM (
            SELECT doc_id, ${Portable.tokensSql("text")} AS w
            FROM documents)
          WHERE len(w) >= 8)),
      occ AS (SELECT decile, count(*) AS n_grams FROM grams GROUP BY 1),
      fs AS (SELECT gh, min(decile) AS fd FROM grams GROUP BY 1),
      novel AS (
        SELECT g.decile, count(*) AS n_first_decile_instances
        FROM grams g JOIN fs ON fs.gh = g.gh AND g.decile = fs.fd
        GROUP BY 1),
      dn AS (SELECT fd AS decile, count(*) AS n_new_grams FROM fs GROUP BY 1)
      SELECT o.decile,
             CAST(o.n_grams AS BIGINT) AS n_grams,
             CAST(coalesce(nv.n_first_decile_instances, 0) AS BIGINT)
               AS n_first_decile_instances,
             CAST(coalesce(dn.n_new_grams, 0) AS BIGINT) AS n_new_grams,
             CAST((1000 * coalesce(nv.n_first_decile_instances, 0)) //
               o.n_grams AS BIGINT) AS novelty_milli
      FROM occ o
      LEFT JOIN novel nv ON nv.decile = o.decile
      LEFT JOIN dn ON dn.decile = o.decile
      ORDER BY o.decile"""))

  // ---------------------------------------------------------------------
  // q257 — ZIPF EXPONENT BRACKET per source: the third corpus growth
  // diagnostic after Heaps (q211) and novelty decay (q212) — how
  // heavy-tailed is each source's word distribution? A crawl slice
  // whose exponent drifts is boilerplate- or spam-shaped (the
  // CCNet/ROOTS sanity check). Under Zipf, freq(rank) ∝ rank^(−s), so
  // s falls out of the DISTRIBUTION HEAD alone: the top-64 words per
  // source by frequency (a row_number ≤ 64 rank-limit window →
  // Catalyst WindowGroupLimit, ≤ 65 rows forwarded per source per map
  // partition — NO per-source vocab window anywhere, which at 100 TB
  // would be a 10⁸-row straggler), then an exact-integer regression of
  // bitlen(freq) on bitlen(rank); s ≈ −slope.
  //
  // Honesty (the q214 bracket discipline): bitlen floors both axes to
  // whole bits, so this is an ESTIMATE BAND (±1 bit per point), not a
  // fitted log-log regression — but every point is the same exact
  // integer on both engines (Spark conv(·,10,2) / DuckDB format
  // '{:b}'), so the output is exactly portable, and the ±1-bit slope
  // error is far below the spam-vs-prose signal it exists to read.
  // ---------------------------------------------------------------------
  private val q257 = QueryDef(
    "q257_zipf_exponent",
    (spark, dir) => {
      import spark.implicits._
      val freq = Tables.documents(spark, dir)
        .select($"source", explode(Portable.tokens($"text")).as("w"))
        .groupBy($"source", $"w")
        .agg(count(lit(1)).as("f"))
      val wHead = Window.partitionBy("source").orderBy($"f".desc, $"w")
      val pts = freq
        .withColumn("rk", row_number().over(wHead).cast("long"))
        .filter($"rk" <= 64)
        .withColumn("x", length(conv($"rk", 10, 2)).cast("long"))
        .withColumn("y", length(conv($"f", 10, 2)).cast("long"))
      val reg = pts.groupBy($"source")
        .agg(count(lit(1)).as("n_head"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
          sum($"x" * $"y").as("sxy"))
        .filter($"n_head" >= 3)
        .withColumn("slope",
          ($"n_head" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n_head" * $"sxx" - $"sx" * $"sx").cast("double"))
      reg.withColumn("zipf_s_milli",
          when($"slope" < 0.0,
            floor(lit(-1000.0) * $"slope").cast("long")))
        .select($"source", $"n_head", $"slope", $"zipf_s_milli")
        .orderBy($"source")
    },
    Some(s"""
      WITH freq AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS f
        FROM (
          SELECT source, unnest(${Portable.tokensSql("text")}) AS w
          FROM documents)
        GROUP BY 1, 2),
      pts AS (
        SELECT source,
               CAST(length(format('{:b}', rk)) AS BIGINT) AS x,
               CAST(length(format('{:b}', f)) AS BIGINT) AS y
        FROM (
          SELECT source, f, CAST(row_number() OVER (PARTITION BY source
                   ORDER BY f DESC, w) AS BIGINT) AS rk
          FROM freq)
        WHERE rk <= 64),
      reg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_head,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pts GROUP BY source HAVING count(*) >= 3),
      sl AS (
        SELECT *, CAST(n_head * sxy - sx * sy AS DOUBLE)
                 / CAST(n_head * sxx - sx * sx AS DOUBLE) AS slope
        FROM reg)
      SELECT source, n_head, slope,
             CASE WHEN slope < CAST('0.0' AS DOUBLE) THEN
               CAST(floor(CAST('-1000.0' AS DOUBLE) * slope) AS BIGINT)
             END AS zipf_s_milli
      FROM sl ORDER BY source"""))

  override val defs: Seq[QueryDef] =
    Seq(q98, q99, q100, q106, q165, q211, q212, q257)
}
