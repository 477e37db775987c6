package graft.operators

import graft.{QueryDef, QueryModule}
import graft.functions.VectorOps
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table (builder
  * brief: similarity search as a first-class training-pipeline operator).
  *
  * Two paths:
  *   - q39 brute force — the correctness baseline: broadcast the (small)
  *     query batch against the corpus scan, exact cosine, windowed top-k.
  *     At 100 TB the corpus side streams through executors once; no
  *     shuffle of the corpus, only of the k×|queries| survivors.
  *   - q40 hyperplane LSH — the scale path: 8 fixed hyperplanes in 2
  *     bands of 4; vectors pair only when they share a band bucket
  *     (LSH-OR over bands), then exact cosine re-ranks candidates. The
  *     bucket join replaces the corpus×query product with per-bucket
  *     products, the classic sub-linear ANN trade.
  *
  * All float math is the scaled-integer VectorOps form — bit-identical
  * across engines and partition orders, so both queries oracle-check
  * against DuckDB exactly.
  */
object Similarity extends QueryModule {

  private val K = 10
  private val NumQueries = 8

  // ---------------------------------------------------------------------
  // q39 — brute-force cosine top-k.
  // ---------------------------------------------------------------------
  private val q39 = QueryDef(
    "q39_knn_brute",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .withColumn("nrm", VectorOps.normScaled($"embedding"))
        .persist() // corpus side + query side come from one materialization
      val queries = emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val topk = emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
        .withColumn("cos", VectorOps.cosineFromScaled(
          VectorOps.dotScaled($"embedding", $"q_emb"), $"nrm", $"q_nrm"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cos")
      Scoped.materialize(emb)(topk).orderBy($"q_id", $"rank")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding, ${VectorOps.normScaledSql("embedding")} AS nrm
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS q_id, e.vec_id,
               ${VectorOps.cosineFromScaledSql(
                 VectorOps.dotScaledSql("e.embedding", "q.embedding"),
                 "e.nrm", "q.nrm")} AS cos
        FROM emb e JOIN emb q
          ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cos FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank"""))

  // ---------------------------------------------------------------------
  // q40 — LSH-bucketed ANN: 2 bands × 4 hyperplanes. Hyperplane weights
  // are a fixed integer lattice derived from (plane, dim) — identical
  // literals on both engines; sign bits come from exact scaled-integer
  // projections, so bucket assignment is deterministic everywhere.
  // ---------------------------------------------------------------------
  private val NumPlanes = 8
  private val NumBands = 2
  private val PlanesPerBand = NumPlanes / NumBands

  /** Integer hyperplane weight for (plane j, dim d): LCG over j*64+d,
    * mapped to [-1000, 1000].
    */
  private def weightSql(j: Int, d: String) =
    s"((1103515245 * ($j * 64 + $d) + 12345) % 2001 - 1000)"

  /** Scaled-integer projection of the embedding on plane j. */
  private def projScaled(j: Int): Column =
    aggregate(
      zip_with(col("embedding"), sequence(lit(0), lit(63)), (x, d) =>
        floor(x.cast("double") *
          ((lit(1103515245L) * (lit(j) * 64 + d) + 12345) % 2001 - 1000).cast("double")
          * lit(1e12)).cast("long")),
      lit(0L), (acc, p) => acc + p)

  private def projScaledSql(j: Int): String =
    s"CAST(list_sum(list_transform(list_zip(embedding, range(0, 64)), " +
      s"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(${weightSql(j, "p[2]")} AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)"

  /** Band bucket value from the 4 sign bits of its planes. */
  private def bandBucket(b: Int): Column =
    (0 until PlanesPerBand).map { r =>
      val j = b * PlanesPerBand + r
      when(projScaled(j) > 0, lit(1L << r)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def bandBucketSql(b: Int): String =
    (0 until PlanesPerBand).map { r =>
      val j = b * PlanesPerBand + r
      s"CASE WHEN ${projScaledSql(j)} > 0 THEN ${1L << r} ELSE 0 END"
    }.mkString(" + ")

  private val q40 = QueryDef(
    "q40_knn_lsh",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .withColumn("nrm", VectorOps.normScaled($"embedding"))
        .persist()
      val bucketed = (0 until NumBands).map { b =>
        emb.select($"vec_id", $"embedding", $"nrm",
          lit(b).as("band"), bandBucket(b).as("bucket"))
      }.reduce(_ unionByName _).persist()
      val queries = bucketed.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"),
          $"band", $"bucket")
      // LSH-OR: candidate if any band bucket matches; distinct pairs
      val cand = bucketed.join(broadcast(queries), Seq("band", "bucket"))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", $"embedding", $"nrm", $"q_emb", $"q_nrm")
        .dropDuplicates("q_id", "vec_id")
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val topk = cand
        .withColumn("cos", VectorOps.cosineFromScaled(
          VectorOps.dotScaled($"embedding", $"q_emb"), $"nrm", $"q_nrm"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cos")
      Scoped.materialize(emb, bucketed)(topk).orderBy($"q_id", $"rank")
    },
    Some {
      val bandSelects = (0 until NumBands).map(b =>
        s"SELECT vec_id, embedding, nrm, $b AS band, ${bandBucketSql(b)} AS bucket FROM emb")
        .mkString("\n        UNION ALL\n        ")
      s"""
      WITH emb AS (
        SELECT vec_id, embedding, ${VectorOps.normScaledSql("embedding")} AS nrm
        FROM embeddings),
      bucketed AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT q.vec_id AS q_id, e.vec_id
        FROM bucketed e JOIN bucketed q
          ON q.vec_id < $NumQueries AND e.band = q.band AND e.bucket = q.bucket
         AND e.vec_id <> q.vec_id),
      scored AS (
        SELECT c.q_id, c.vec_id,
               ${VectorOps.cosineFromScaledSql(
                 VectorOps.dotScaledSql("e.embedding", "q.embedding"),
                 "e.nrm", "q.nrm")} AS cos
        FROM cand c
        JOIN emb e ON e.vec_id = c.vec_id
        JOIN emb q ON q.vec_id = c.q_id),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cos FROM ranked
      WHERE rank <= $K ORDER BY q_id, rank"""
    })

  // ---------------------------------------------------------------------
  // q56 — IVF-style ANN (the inverted-file scale path next to q40's LSH):
  // a fixed 16-vector codebook (the first 16 corpus vectors — a stand-in
  // for trained centroids; the plan is identical either way), every
  // vector assigned to its nearest cell, queries probe their 2 nearest
  // cells, exact cosine re-ranks inside the probed cells. At 100 TB the
  // assignment is one broadcast-join map pass and search touches only
  // nprobe/ncells of the corpus.
  // ---------------------------------------------------------------------
  private val NumCells = 16
  private val NumProbes = 2

  private val q56 = QueryDef(
    "q56_ivf_ann",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .withColumn("nrm", VectorOps.normScaled($"embedding"))
        .persist()
      val cent = emb.filter($"vec_id" < NumCells)
        .select($"vec_id".as("cent_id"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val scored = emb.join(broadcast(cent))
        .withColumn("ccos", VectorOps.cosineFromScaled(
          VectorOps.dotScaled($"embedding", $"c_emb"), $"nrm", $"c_nrm"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id".asc)
      val assign = scored
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1)
        .select($"vec_id", $"embedding", $"nrm", $"cent_id".as("cell"))
        .persist()
      val probes = scored.filter($"vec_id" < NumQueries)
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" <= NumProbes)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"nrm".as("q_nrm"), $"cent_id".as("cell"))
      val wRank = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val topk = assign.join(broadcast(probes), Seq("cell"))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("cos", VectorOps.cosineFromScaled(
          VectorOps.dotScaled($"embedding", $"q_emb"), $"nrm", $"q_nrm"))
        .withColumn("rank", row_number().over(wRank))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cos")
      Scoped.materialize(emb, assign)(topk).orderBy($"q_id", $"rank")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding, ${VectorOps.normScaledSql("embedding")} AS nrm
        FROM embeddings),
      cent AS (SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
               FROM emb WHERE vec_id < $NumCells),
      scored AS (
        SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
               ${VectorOps.cosineFromScaledSql(
                 VectorOps.dotScaledSql("e.embedding", "c.c_emb"),
                 "e.nrm", "c.c_nrm")} AS ccos
        FROM emb e CROSS JOIN cent c),
      ranked_cells AS (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
        FROM scored),
      assign AS (
        SELECT vec_id, embedding, nrm, cent_id AS cell
        FROM ranked_cells WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, cent_id AS cell
        FROM ranked_cells WHERE vec_id < $NumQueries AND rn <= $NumProbes),
      cand AS (
        SELECT p.q_id, a.vec_id,
               ${VectorOps.cosineFromScaledSql(
                 VectorOps.dotScaledSql("a.embedding", "p.q_emb"),
                 "a.nrm", "p.q_nrm")} AS cos
        FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id),
      final_rank AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM cand)
      SELECT q_id, rank, vec_id, cos FROM final_rank
      WHERE rank <= $K ORDER BY q_id, rank"""))

  // ---------------------------------------------------------------------
  // q57 — int8 embedding quantization (training-pipeline storage op):
  // per-vector absmax scale, symmetric round-half-up (floor(x+0.5) — the
  // one half-rule both engines share on the raw binary double), clamp to
  // [-127,127]; emitted as exact integer summaries so the oracle checks
  // every quantized value through a position-weighted checksum.
  // ---------------------------------------------------------------------
  private val q57 = QueryDef(
    "q57_quantize_int8",
    (spark, dir) => {
      import spark.implicits._
      Tables.embeddings(spark, dir)
        .withColumn("scale", array_max(transform($"embedding",
          x => abs(x.cast("double")))))
        .withColumn("q", zip_with($"embedding",
          sequence(lit(1), lit(64)),
          (x, i) => struct(
            greatest(lit(-127L), least(lit(127L),
              floor(x.cast("double") / $"scale" * 127 + 0.5).cast("long"))).as("v"),
            i.cast("long").as("pos"))))
        .select(
          $"vec_id", $"label",
          floor($"scale" * 1e6).cast("long").as("scale_1e6"),
          aggregate($"q", lit(0L), (acc, s) => acc + s("v") * s("pos")).as("checksum"),
          aggregate($"q", lit(0L),
            (acc, s) => acc + when(abs(s("v")) === 127, 1L).otherwise(0L)).as("n_sat"))
        .orderBy($"vec_id")
    },
    Some("""
      SELECT vec_id, label,
             CAST(floor(scale * 1e6) AS BIGINT) AS scale_1e6,
             CAST(list_sum(list_transform(list_zip(q, range(1, 65)),
               p -> p[1] * p[2])) AS BIGINT) AS checksum,
             CAST(list_sum(list_transform(q,
               v -> CASE WHEN abs(v) = 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_sat
      FROM (
        SELECT vec_id, label, scale,
               list_transform(embedding, x -> greatest(CAST(-127 AS BIGINT),
                 least(CAST(127 AS BIGINT),
                   CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS BIGINT)))) AS q
        FROM (
          SELECT vec_id, label, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
          FROM embeddings))
      ORDER BY vec_id"""))

  // ---------------------------------------------------------------------
  // q76 — per-label embedding centroids (the training-data op behind
  // class-prototype filtering and IVF codebook refinement): element-wise
  // mean of every label's vectors. posexplode → (label, dim) partial sums
  // is the declarative scale shape — map-side combine collapses each
  // partition to |labels|×64 cells before the shuffle, so the exchange
  // carries centroids, not vectors. Coordinates go through the shared
  // scaled-integer trick (floor(x·1e12) exact on both engines) so sums
  // are partition-order invariant and the oracle hash-matches.
  // ---------------------------------------------------------------------
  private val q76 = QueryDef(
    "q76_label_centroids",
    (spark, dir) => {
      import spark.implicits._
      Tables.embeddings(spark, dir)
        .select($"label", posexplode($"embedding"))
        .select($"label", ($"pos" + 1).as("pos"),
          floor($"col".cast("double") * lit(1e12)).cast("long").as("xs"))
        .groupBy($"label", $"pos")
        .agg(count(lit(1)).as("n"), sum($"xs").as("s"))
        .withColumn("centroid", ($"s".cast("double") / $"n".cast("double")) / lit(1e12))
        .select($"label", $"pos", $"n", $"centroid")
        .orderBy($"label", $"pos")
    },
    Some("""
      SELECT label, u.pos AS pos, count(*) AS n,
             (CAST(sum(u.xs) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1e12 AS centroid
      FROM (
        SELECT label,
               unnest([{'pos': i,
                        'xs': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT)}
                       for i in range(1, len(embedding) + 1)]) AS u
        FROM embeddings)
      GROUP BY label, u.pos
      ORDER BY label, pos"""))

  // ---------------------------------------------------------------------
  // q105 — IVF with a TRAINED codebook: q56's inverted-file plan, but the
  // cells are the q98 deterministic k-means||+Lloyd's centroids instead
  // of the first-16 stand-in — the real IVF construction (train codebook
  // → assign corpus → probe nprobe cells → exact re-rank). The codebook
  // is the shared trained-model table (built once, read by q98 and here);
  // assignment is one broadcast-join map pass over the corpus with exact
  // scaled-integer L2 (the k-means metric), re-ranking is exact cosine
  // inside the probed cells. The oracle re-trains the same pipeline in
  // SQL (Corpus.centroidPipelineCtes) and replays the index construction.
  // ---------------------------------------------------------------------
  /** Every vector's trained-codebook cells ranked by exact scaled-integer
    * L2 (rn = 1 is the IVF assignment; rn ≤ nprobe the probe set). Shared
    * by q105 (index construction) and q108 (semantic dedup). Returns the
    * persisted embedding frame too so callers can release it via
    * Scoped.materialize.
    */
  private def cellRanked(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val cents = Corpus.kmeansCentroids(spark, dir, Corpus.KmIters)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", VectorOps.normScaled($"embedding"))
      .withColumn("xs", transform($"embedding",
        x => floor(x.cast("double") * lit(1e6)).cast("long")))
      .persist()
    // the n×k expansion and its ranking window stay SKINNY (vec_id, cid,
    // d) — ranking rows that carried embedding+xs payload would shuffle
    // payload×k; consumers join the vectors back by vec_id after slicing
    // the ranks they need
    val dists = emb.select($"vec_id", $"xs").crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", Corpus.sqd($"xs", $"cs").as("d"))
    val wCell = Window.partitionBy($"vec_id").orderBy($"d".asc, $"cid".asc)
    (emb, dists.withColumn("rn", row_number().over(wCell)))
  }

  /** The q105/q108 oracle twin of [[cellRanked]]: CTEs from the trained
    * centroid table `c<KmIters>` to `assign` (vec_id → cell).
    */
  private def cellAssignSql: String = s"""
      emb2 AS (
        SELECT vec_id, embedding,
               ${VectorOps.normScaledSql("embedding")} AS nrm,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS xs
        FROM embeddings),
      dist AS (
        SELECT e.vec_id, c.cid,
               list_sum(list_transform(list_zip(e.xs, c.cs),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
        FROM emb2 e CROSS JOIN c${Corpus.KmIters} c),
      ranked AS (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dist),
      assign AS (SELECT vec_id, cid AS cell, d FROM ranked WHERE rn = 1)"""

  private val q105 = QueryDef(
    "q105_ivf_trained",
    (spark, dir) => {
      import spark.implicits._
      val (emb, ranked) = cellRanked(spark, dir)
      val assign = ranked.filter($"rn" === 1)
        .select($"vec_id", $"cid".as("cell"))
        .join(emb.select($"vec_id", $"embedding", $"nrm"), "vec_id")
        .persist()
      val probes = ranked.filter($"vec_id" < NumQueries && $"rn" <= NumProbes)
        .select($"vec_id", $"cid".as("cell"))
        .join(emb.select($"vec_id", $"embedding", $"nrm"), "vec_id")
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"nrm".as("q_nrm"), $"cell")
      val wRank = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val topk = assign.join(broadcast(probes), Seq("cell"))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("cos", VectorOps.cosineFromScaled(
          VectorOps.dotScaled($"embedding", $"q_emb"), $"nrm", $"q_nrm"))
        .withColumn("rank", row_number().over(wRank))
        .filter($"rank" <= K)
        .select($"q_id", $"rank", $"vec_id", $"cos")
      Scoped.materialize(emb, assign)(topk).orderBy($"q_id", $"rank")
    },
    Some(s"""
      WITH ${Corpus.centroidPipelineCtes},
      $cellAssignSql,
      probes AS (
        SELECT vec_id AS q_id, cid AS cell FROM ranked
        WHERE vec_id < $NumQueries AND rn <= $NumProbes),
      pairs AS (
        SELECT p.q_id, a.vec_id,
               ${VectorOps.cosineFromScaledSql(
                 VectorOps.dotScaledSql("qe.embedding", "ae.embedding"),
                 "qe.nrm", "ae.nrm")} AS cos
        FROM probes p
        JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id
        JOIN emb2 qe ON qe.vec_id = p.q_id
        JOIN emb2 ae ON ae.vec_id = a.vec_id)
      SELECT q_id, rank, vec_id, cos FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM pairs)
      WHERE rank <= $K
      ORDER BY q_id, rank"""))

  // ---------------------------------------------------------------------
  // q108 — SemDeDup-style semantic dedup (the operator q98's clustering
  // exists to serve): assign every embedding to its trained-codebook
  // cluster and compare pairs ONLY inside a cluster (the cluster plays
  // the LSH-bucket role). Under the √n codebook law (Corpus.derivedK)
  // cells grow as √n/C, so an unbounded intra-cell self-join would be
  // O(n^1.5); pair work is instead bounded by a RANK WINDOW: members of
  // a cell are ranked by (distance-to-centroid, vec_id) and each vector
  // pairs with at most the PairWindow vectors directly above it in that
  // ranking. Centroid distance is the pre-filter — near-duplicates have
  // near-identical distances to their shared centroid, so they sit
  // adjacent in the ranking (the sorted-LSH-window discipline) — and the
  // window is the hard cap: pair work ≤ n · PairWindow at ANY corpus or
  // cell size, never corpus². At fixture sizes every cell is smaller
  // than the window, so the windowed join covers ALL intra-cell pairs.
  // The oracle derives the same k, the same ranking, and the same window
  // rule; drop the higher vec_id of every pair at cosine ≥ τ. Emitted as
  // the per-cluster dedup audit (sizes, dup pairs, drops). τ is fixture-
  // scaled (the synthetic corpus has few true near-dups); production
  // SemDeDup uses τ≈0.95 with the identical plan.
  // ---------------------------------------------------------------------
  private val SemTau = 0.4
  private val PairWindow = 64

  /** The window cap on per-vector pair work, exposed for the spec. */
  private[graft] def SemPairWindow: Int = PairWindow

  /** Rank-window candidate pairs inside cells: input (vec_id, cell, d,
    * embedding, nrm); output one row per unordered pair whose members
    * are ≤ PairWindow apart in the cell's (d, vec_id) ranking, with the
    * exact cosine attached. The explode side carries the lower rank of
    * each pair, so the join is a pure equi-join on (cell, rank) — no
    * range condition, no skew, and by construction ≤ PairWindow
    * candidates per vector. Exposed for the ScaleBehaviorSpec bound.
    */
  private[graft] def rankWindowPairs(assign: DataFrame): DataFrame = {
    import assign.sparkSession.implicits._
    val wCell = Window.partitionBy($"cell").orderBy($"d".asc, $"vec_id".asc)
    val withRank = assign
      .withColumn("r", row_number().over(wCell).cast("long"))
    val bSide = withRank.filter($"r" >= 2)
      .select($"cell", $"r", $"vec_id".as("vb"),
        $"embedding".as("eb"), $"nrm".as("nb"),
        explode(sequence(greatest(lit(1L), $"r" - PairWindow), $"r" - 1))
          .as("ra"))
    val aSide = withRank.select($"cell", $"r".as("ra"), $"vec_id".as("va"),
      $"embedding".as("ea"), $"nrm".as("na"))
    bSide.join(aSide, Seq("cell", "ra"))
      .withColumn("cos", VectorOps.cosineFromScaled(
        VectorOps.dotScaled($"ea", $"eb"), $"na", $"nb"))
      .select($"cell", least($"va", $"vb").as("i"),
        greatest($"va", $"vb").as("j"), $"cos")
  }

  /** Shared q108/q312 semantic-dup pair stage: trained-cell assignment
    * (rn = 1 of [[cellRanked]]) + rank-window candidates + exact cosine
    * ≥ SemTau. Returns (emb, assign, pairs) — the first two persisted —
    * so callers release them via Scoped.materialize (and the spec's
    * driver recompute consumes the identical pair set the queries do).
    */
  private[graft] def semanticDupStage(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val (emb, ranked) = cellRanked(spark, dir)
    val assign = ranked.filter($"rn" === 1)
      .select($"vec_id", $"cid".as("cell"), $"d")
      .join(emb.select($"vec_id", $"embedding", $"nrm"), "vec_id")
      .persist()
    val pairs = rankWindowPairs(assign)
      .filter($"cos" >= SemTau)
      .select($"cell", $"i", $"j")
      .persist()
    (emb, assign, pairs)
  }

  private val q108 = QueryDef(
    "q108_semantic_dedup",
    (spark, dir) => {
      import spark.implicits._
      val (emb, assign, pairs) = semanticDupStage(spark, dir)
      val nPairs = pairs.groupBy($"cell").agg(count(lit(1)).as("n_dup_pairs"))
      val nDropped = pairs.select($"cell", $"j").distinct()
        .groupBy($"cell").agg(count(lit(1)).as("n_dropped"))
      val audit = assign.groupBy($"cell").agg(count(lit(1)).as("n_vectors"))
        .join(nPairs, Seq("cell"), "left")
        .join(nDropped, Seq("cell"), "left")
        .select($"cell".as("cluster_id"), $"n_vectors",
          coalesce($"n_dup_pairs", lit(0L)).as("n_dup_pairs"),
          coalesce($"n_dropped", lit(0L)).as("n_dropped"))
      Scoped.materialize(emb, assign, pairs)(audit).orderBy($"cluster_id")
    },
    Some(s"""
      WITH ${Corpus.centroidPipelineCtes},
      $cellAssignSql,
      cr AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS r
        FROM assign),
      pairs AS (
        SELECT a.cell,
               least(a.vec_id, b.vec_id) AS i,
               greatest(a.vec_id, b.vec_id) AS j
        FROM cr a
        JOIN cr b ON a.cell = b.cell
                 AND b.r > a.r AND b.r <= a.r + $PairWindow
        JOIN emb2 ea ON ea.vec_id = a.vec_id
        JOIN emb2 eb ON eb.vec_id = b.vec_id
        WHERE ${VectorOps.cosineFromScaledSql(
          VectorOps.dotScaledSql("ea.embedding", "eb.embedding"),
          "ea.nrm", "eb.nrm")} >= $SemTau),
      np AS (SELECT cell, count(*) AS n_dup_pairs FROM pairs GROUP BY cell),
      nd AS (SELECT cell, count(*) AS n_dropped
             FROM (SELECT DISTINCT cell, j FROM pairs) GROUP BY cell),
      nv AS (SELECT cell, count(*) AS n_vectors FROM assign GROUP BY cell)
      SELECT nv.cell AS cluster_id, nv.n_vectors,
             coalesce(np.n_dup_pairs, 0) AS n_dup_pairs,
             coalesce(nd.n_dropped, 0) AS n_dropped
      FROM nv
      LEFT JOIN np ON np.cell = nv.cell
      LEFT JOIN nd ON nd.cell = nv.cell
      ORDER BY cluster_id"""))

  // ---------------------------------------------------------------------
  // q148 — top principal direction by POWER ITERATION in exact fixed
  // point: three unrolled rounds of v ← (XᵀX)v computed as Xᵀ(Xv) — the
  // covariance matrix is never materialized; each round is one broadcast
  // of the 64-long direction, one per-row dot product, and one (dim)
  // grouped sum (map-side combinable). Everything is integer: components
  // quantize to floor(x·1000), and each round renormalizes to max-abs
  // 1000 with a sign-symmetric positive-operand div (Spark `div`
  // truncates toward zero while DuckDB `//` floors — they agree only on
  // non-negative operands, so the sign is peeled first). No collect: the
  // direction re-packs into a 1-row array via sorted collect_list.
  // Overflow envelope: |u_d| ≤ n·10³·6.4·10⁷ — int64-safe to n ≈ 1.4·10⁸
  // vectors; past that the accumulators move to DECIMAL(38) (q120's
  // wider-lane discipline).
  // ---------------------------------------------------------------------
  private val q148 = QueryDef(
    "q148_power_iteration",
    (spark, dir) => {
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
        .select($"vec_id",
          transform($"embedding",
            x => floor(x.cast("double") * 1000).cast("long")).as("e"))
      // one power-iteration round: returns the renormalized direction as
      // a 1-row array<long> frame
      def round(v: DataFrame): DataFrame = {
        val s = e.crossJoin(broadcast(v))
          .withColumn("s", aggregate(
            zip_with($"e", $"varr", (a, b) => a * b), lit(0L), (acc, x) => acc + x))
          .select($"s", posexplode($"e"))
          .groupBy($"pos".as("d"))
          .agg(sum($"col" * $"s").as("u"))
        val m = s.agg(max(abs($"u")).as("m"))
        s.crossJoin(broadcast(m))
          .withColumn("vd",
            when($"u" < 0, -expr("((-u) * 1000) div m"))
              .otherwise(expr("(u * 1000) div m")))
          .agg(transform(array_sort(collect_list(struct($"d", $"vd"))),
            p => p("vd")).as("varr"))
      }
      val v0 = spark.range(1)
        .select(transform(sequence(lit(1), lit(64)), _ => lit(1000L)).as("varr"))
      val v3 = round(round(round(v0)))
      v3.select(posexplode($"varr"))
        .select(($"pos" + 1).as("d"), $"col".as("v"))
        .orderBy($"d")
    },
    Some {
      def rnd(i: Int): String = {
        val prev = if (i == 1) "v0" else s"v${i - 1}"
        s"""
      s$i AS (
        SELECT vec_id, CAST(sum(ed * v) AS BIGINT) AS s
        FROM e JOIN $prev USING (d) GROUP BY vec_id),
      u$i AS (
        SELECT d, CAST(sum(ed * s) AS BIGINT) AS u
        FROM e JOIN s$i USING (vec_id) GROUP BY d),
      m$i AS (SELECT max(abs(u)) AS m FROM u$i),
      v$i AS (
        SELECT d, CASE WHEN u < 0 THEN -(((-u) * 1000) // m)
                       ELSE (u * 1000) // m END AS v
        FROM u$i CROSS JOIN m$i)"""
      }
      s"""
      WITH e AS (
        SELECT vec_id, r.d + 1 AS d,
               CAST(floor(CAST(embedding[r.d + 1] AS DOUBLE) * 1000) AS BIGINT) AS ed
        FROM embeddings CROSS JOIN range(0, 64) r(d)),
      v0 AS (SELECT unnest(range(1, 65)) AS d, CAST(1000 AS BIGINT) AS v),
      ${rnd(1)},
      ${rnd(2)},
      ${rnd(3)}
      SELECT CAST(d AS BIGINT) AS d, v FROM v3 ORDER BY d"""
    })

  // ---------------------------------------------------------------------
  // q162 — ANN RECALL AUDIT: recall@K of the two approximate indexes
  // (q40 hyperplane-LSH, q56 IVF 2-probe) against q39's brute-force
  // ground truth, per query and exact. This is the operator that makes
  // approximate search SHIPPABLE — an index without a measured recall
  // number is a guess, and the standard methodology (FAISS/ann-benchmarks)
  // is exactly this: brute-force a small query sample, intersect top-K
  // sets, report hits/K. At 100 TB the ground truth is only ever computed
  // for the sampled queries (one broadcast pass over the corpus — q39's
  // plan), so the audit costs one extra corpus scan regardless of index
  // size; hit counts are integer, the recall fraction is one division.
  // The oracle nests all three queries' full SQL as derived tables, so
  // this green row re-proves brute, LSH and IVF in one hash.
  // ---------------------------------------------------------------------
  private val q162 = QueryDef(
    "q162_ann_recall",
    (spark, dir) => {
      import spark.implicits._
      val brute = q39.build(spark, dir).select($"q_id", $"vec_id")
      val lsh = q40.build(spark, dir)
        .select($"q_id", $"vec_id", lit(1L).as("in_lsh"))
      val ivf = q56.build(spark, dir)
        .select($"q_id", $"vec_id", lit(1L).as("in_ivf"))
      brute
        .join(lsh, Seq("q_id", "vec_id"), "left")
        .join(ivf, Seq("q_id", "vec_id"), "left")
        .groupBy($"q_id")
        .agg(
          sum(coalesce($"in_lsh", lit(0L))).as("lsh_hits"),
          sum(coalesce($"in_ivf", lit(0L))).as("ivf_hits"))
        .select($"q_id", $"lsh_hits", $"ivf_hits",
          ($"lsh_hits".cast("double") / K).as("lsh_recall"),
          ($"ivf_hits".cast("double") / K).as("ivf_recall"))
        .orderBy($"q_id")
    },
    Some(s"""
      WITH brute AS (SELECT q_id, vec_id FROM (${q39.oracle.get})),
      lshq AS (SELECT q_id, vec_id, CAST(1 AS BIGINT) AS in_lsh
               FROM (${q40.oracle.get})),
      ivfq AS (SELECT q_id, vec_id, CAST(1 AS BIGINT) AS in_ivf
               FROM (${q56.oracle.get}))
      SELECT b.q_id,
             CAST(sum(COALESCE(l.in_lsh, 0)) AS BIGINT) AS lsh_hits,
             CAST(sum(COALESCE(v.in_ivf, 0)) AS BIGINT) AS ivf_hits,
             CAST(sum(COALESCE(l.in_lsh, 0)) AS DOUBLE) / $K AS lsh_recall,
             CAST(sum(COALESCE(v.in_ivf, 0)) AS DOUBLE) / $K AS ivf_recall
      FROM brute b
      LEFT JOIN lshq l ON l.q_id = b.q_id AND l.vec_id = b.vec_id
      LEFT JOIN ivfq v ON v.q_id = b.q_id AND v.vec_id = b.vec_id
      GROUP BY b.q_id ORDER BY b.q_id"""))

  // ---------------------------------------------------------------------
  // q188 — EMBEDDING-SPACE DRIFT MONITOR: per label, the L2 distance
  // between the centroid of the "old" corpus half and the "new" half
  // (vec_id parity stands in for the release boundary) — the
  // release-over-release number that catches a changed embedding model
  // or a shifted data mix BEFORE anyone retrains on the blended corpus.
  // Exactness discipline: per-dim micro-unit sums (floor(x·10⁶) — exact
  // integers), sign-peeled integer means (q148's div rule), integer
  // squared-distance accumulation (≤ 64·(2·10⁶)² — fits int64), and ONE
  // IEEE sqrt at the end. Scale: posexplode to (label, half, dim) grain
  // → two map-side-combinable rollups; the centroid table is
  // |labels|×2×64 rows however large the corpus.
  // ---------------------------------------------------------------------
  private val q188 = QueryDef(
    "q188_embedding_drift",
    (spark, dir) => {
      import spark.implicits._
      val dims = Tables.embeddings(spark, dir)
        .withColumn("half", ($"vec_id" % 2).cast("long"))
        .select($"label", $"half",
          posexplode($"embedding").as(Seq("d", "x")))
        .select($"label", $"half", $"d",
          floor($"x".cast("double") * 1e6).cast("long").as("xm"))
      val cent = dims.groupBy($"label", $"half", $"d")
        .agg(sum($"xm").as("s"), count(lit(1)).as("n"))
        .withColumn("m", expr(
          "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END"))
      val a = cent.filter($"half" === 0)
        .select($"label", $"d", $"m".as("ma"), $"n".as("na"))
      val b = cent.filter($"half" === 1)
        .select($"label", $"d", $"m".as("mb"), $"n".as("nb"))
      a.join(b, Seq("label", "d"))
        .groupBy($"label")
        .agg(
          max($"na").as("n_old"),
          max($"nb").as("n_new"),
          sum(($"ma" - $"mb") * ($"ma" - $"mb")).as("dist2_micro2"))
        .withColumn("drift_micro", sqrt($"dist2_micro2".cast("double")))
        .orderBy($"label")
    },
    Some("""
      WITH dims AS (
        SELECT label, vec_id % 2 AS half, p['d'] AS d,
               CAST(floor(CAST(p['x'] AS DOUBLE) * 1e6) AS BIGINT) AS xm
        FROM (
          SELECT label, vec_id,
                 unnest([{'d': i, 'x': embedding[i]}
                         for i in range(1, len(embedding) + 1)]) AS p
          FROM embeddings)),
      cent AS (
        SELECT label, half, d,
               CAST(sum(xm) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM dims GROUP BY 1, 2, 3),
      m AS (
        SELECT label, half, d, n,
               CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS m
        FROM cent)
      SELECT a.label,
             CAST(max(a.n) AS BIGINT) AS n_old,
             CAST(max(b.n) AS BIGINT) AS n_new,
             CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS dist2_micro2,
             sqrt(CAST(sum((a.m - b.m) * (a.m - b.m)) AS DOUBLE)) AS drift_micro
      FROM m a JOIN m b ON a.label = b.label AND a.d = b.d
        AND a.half = 0 AND b.half = 1
      GROUP BY a.label ORDER BY a.label"""))

  // ---------------------------------------------------------------------
  // q204 — PRODUCT QUANTIZATION + ADC search (the Jégou et al. PQ
  // construction, the compression arm of every billion-scale ANN index):
  // split the 64-d vector into M=4 subspaces of 16 dims, train a small
  // k-means codebook PER SUBSPACE (k=16 — a CODE-WIDTH architecture
  // constant, 4 bits per subspace, unlike the √n data law of the IVF
  // coarse quantizer), encode every vector as M codebook ids, and answer
  // queries with ASYMMETRIC DISTANCE COMPUTATION: the query precomputes
  // a (M × k) lookup table of exact subspace distances, and a corpus
  // vector's approximate distance is the sum of M table lookups — no
  // full-vector arithmetic per candidate at query time.
  //
  // Scale shape: the codebooks are M·k·subdim longs (4 KB here, ≤ MB at
  // production k=256) — broadcast model state; encoding is one corpus
  // map pass per subspace (n·k distance rows, SKINNY like q98's assign);
  // the LUT is |queries|·M·k rows — broadcast; ADC is a broadcast join
  // on (m, code) + one (q_id, vec_id) partial-sum aggregate, so the
  // corpus never shuffles by distance and per-vector query cost is M
  // lookups — the whole point of PQ. The exact-top-k flag join is the
  // recall audit (q162's method): in_exact10 marks ADC hits that are in
  // the TRUE L2 top-10, so recall@10 = sum(in_exact10)/K per query.
  // Training reuses the q98 deterministic seeding + Lloyd's recurrence
  // per subspace (Corpus.trainCentroids); the oracle re-trains all four
  // codebooks with the identical CTE pipeline (fixedKPipelineCtes) and
  // replays encode → LUT → ADC → rank in exact scaled-integer math.
  // ---------------------------------------------------------------------
  private val PqM = 4       // subspaces
  private val PqSubDim = 16 // 64 / PqM dims per subspace
  private val PqK = 16      // centroids per subspace → 4-bit codes

  private def pqSub(emb: DataFrame, m: Int): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"vec_id", slice($"xs", m * PqSubDim + 1, PqSubDim).as("xs"))
  }

  /** Trained per-subspace PQ codebooks (m, cid, cs) — shared model state
    * (Silver "pq_codebooks").
    */
  private[operators] def pqCodebooks(
      spark: SparkSession, dir: String): DataFrame =
    Scoped.shared(spark, "pq_codebooks", dir)((Nil, {
      import spark.implicits._
      val emb = Corpus.embScaled(spark, dir)
      (0 until PqM).map { m =>
        Corpus.trainCentroids(pqSub(emb, m), PqK, Corpus.KmIters)
          .withColumn("m", lit(m))
      }.reduce(_ unionByName _)
    }))

  private val q204 = QueryDef(
    "q204_pq_adc_search",
    (spark, dir) => {
      import spark.implicits._
      val emb = Corpus.embScaled(spark, dir).persist()
      val cb = pqCodebooks(spark, dir)
      // encode: per subspace, nearest codebook entry (ties on cid)
      val codes = (0 until PqM).map { m =>
        pqSub(emb, m)
          .crossJoin(broadcast(cb.filter($"m" === m).select($"cid", $"cs")))
          .select($"vec_id", $"cid", Corpus.sqd($"xs", $"cs").as("d"))
          .groupBy($"vec_id")
          .agg(min(struct($"d", $"cid")).as("mn"))
          .select($"vec_id", lit(m).as("m"), $"mn.cid".as("code"))
      }.reduce(_ unionByName _)
      // ADC lookup table: exact subspace distances query → every entry
      val lut = (0 until PqM).map { m =>
        pqSub(emb.filter($"vec_id" < NumQueries), m)
          .select($"vec_id".as("q_id"), $"xs".as("qxs"))
          .crossJoin(cb.filter($"m" === m).select($"cid", $"cs"))
          .select($"q_id", lit(m).as("m"), $"cid".as("code"),
            Corpus.sqd($"qxs", $"cs").as("dl"))
      }.reduce(_ unionByName _)
      val adc = codes.join(broadcast(lut), Seq("m", "code"))
        .filter($"vec_id" =!= $"q_id")
        .groupBy($"q_id", $"vec_id")
        .agg(sum($"dl").as("adc_dist"))
      // recall audit: the TRUE L2 top-k per query flags ADC's hits
      val queries = emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"xs".as("qxs"))
      val wX = Window.partitionBy($"q_id").orderBy($"dx".asc, $"vec_id".asc)
      val exact = emb.select($"vec_id", $"xs").crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", Corpus.sqd($"xs", $"qxs").as("dx"))
        .withColumn("xr", row_number().over(wX))
        .filter($"xr" <= K)
        .select($"q_id", $"vec_id", lit(1L).as("hit"))
      val wR = Window.partitionBy($"q_id").orderBy($"adc_dist".asc, $"vec_id".asc)
      val out = adc
        .withColumn("rank", row_number().over(wR))
        .filter($"rank" <= K)
        .join(exact, Seq("q_id", "vec_id"), "left")
        .select($"q_id", $"rank", $"vec_id", $"adc_dist",
          coalesce($"hit", lit(0L)).as("in_exact10"))
      Scoped.materialize(emb)(out).orderBy($"q_id", $"rank")
    },
    Some {
      val subCtes = (0 until PqM).map { m =>
        s"""sub$m AS (
          SELECT vec_id, xs[${m * PqSubDim + 1}:${m * PqSubDim + PqSubDim}] AS xs
          FROM emb)"""
      }.mkString(",")
      val trainCtes = (0 until PqM).map { m =>
        Corpus.fixedKPipelineCtes(s"sub$m", s"p${m}_", PqK, Corpus.KmIters)
      }.mkString(",")
      val finCtes = (0 until PqM).map { m =>
        Corpus.assignCte(s"p${m}_fin", s"p${m}_c${Corpus.KmIters}", s"sub$m")
      }.mkString(",")
      val codesUnion = (0 until PqM).map { m =>
        s"SELECT vec_id, $m AS m, cid AS code FROM p${m}_fin"
      }.mkString(" UNION ALL ")
      val cbUnion = (0 until PqM).map { m =>
        s"SELECT $m AS m, cid, cs FROM p${m}_c${Corpus.KmIters}"
      }.mkString(" UNION ALL ")
      val qsubUnion = (0 until PqM).map { m =>
        s"SELECT vec_id AS q_id, $m AS m, xs AS qxs FROM sub$m" +
          s" WHERE vec_id < $NumQueries"
      }.mkString(" UNION ALL ")
      s"""
      WITH emb AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS xs
        FROM embeddings),
      $subCtes,
      $trainCtes,
      $finCtes,
      codes AS ($codesUnion),
      cbs AS ($cbUnion),
      qsub AS ($qsubUnion),
      lut AS (
        SELECT s.q_id, s.m, c.cid AS code,
               list_sum(list_transform(list_zip(s.qxs, c.cs),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dl
        FROM qsub s JOIN cbs c ON c.m = s.m),
      adc AS (
        SELECT l.q_id, cd.vec_id, sum(l.dl) AS adc_dist
        FROM codes cd
        JOIN lut l ON l.m = cd.m AND l.code = cd.code
          AND cd.vec_id <> l.q_id
        GROUP BY 1, 2),
      exact AS (
        SELECT q_id, vec_id FROM (
          SELECT q.vec_id AS q_id, e.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_sum(list_transform(list_zip(e.xs, q.xs),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))), e.vec_id) AS xr
          FROM emb q JOIN emb e
            ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id)
        WHERE xr <= $K)
      SELECT r.q_id, r.rank, r.vec_id,
             CAST(r.adc_dist AS BIGINT) AS adc_dist,
             CAST(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS in_exact10
      FROM (
        SELECT q_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist, vec_id) AS rank
        FROM adc) r
      LEFT JOIN exact x ON x.q_id = r.q_id AND x.vec_id = r.vec_id
      WHERE r.rank <= $K
      ORDER BY r.q_id, r.rank"""
    })

  // ---------------------------------------------------------------------
  // q242 — RANDOM PROJECTION (Johnson–Lindenstrauss, Achlioptas ±1
  // variant): project the 64-dim embeddings to k=16 dims with a
  // DERIVED-NOT-STORED sign matrix — s_ij = ±1 from the parity of the
  // portable md5 hash of "rp_j_i", so both engines regenerate the same
  // matrix from nothing (no RNG, no model table). The input is
  // quantized per element at 1e6 (floor of an identical double —
  // exact), so every projected coordinate is an exact integer sum —
  // order-invariant, no float accumulation. Long-form output
  // (vec_id, j, y_q).
  //
  // Scale: pure per-row map work — the engine computes the projection
  // with array zip_with/aggregate over 16 sign-row LITERALS (Scala
  // md5Hash64Jvm twin == md5Hash64 SQL, the Portable contract), no
  // explode, no shuffle until the 16-row-per-vec output; the JL use is
  // ANN prefiltering (coarse distance in 16 dims before exact rerank —
  // the q204 ADC discipline at 4× less arithmetic).
  // ---------------------------------------------------------------------
  private val RpK = 16
  private val RpDims = 64
  private val RpScale = 1000000L
  /** The ±1 sign matrix, row j = output dim: derived from the portable
    * hash so the oracle regenerates it in SQL.
    */
  private lazy val rpSigns: Seq[Seq[Long]] =
    (1 to RpK).map(j => (1 to RpDims).map(i =>
      if (graft.functions.Portable.md5Hash64Jvm(s"rp_${j}_$i") % 2 == 0) 1L
      else -1L))

  private val q242 = QueryDef(
    "q242_random_projection",
    (spark, dir) => {
      import spark.implicits._
      val xq = transform($"embedding",
        e => floor(e.cast("double") * RpScale).cast("long"))
      val ys = rpSigns.zipWithIndex.map { case (row, j0) =>
        struct(lit(j0 + 1).as("j"),
          aggregate(
            zip_with($"xq", typedlit(row), (a, b) => a * b),
            lit(0L), (acc, v) => acc + v).as("y_q"))
      }
      Tables.embeddings(spark, dir)
        .withColumn("xq", xq)
        .select($"vec_id", explode(array(ys: _*)).as("p"))
        .select($"vec_id", $"p.j", $"p.y_q")
        .orderBy($"vec_id", $"j")
    },
    Some(s"""
      SELECT vec_id, j,
             CAST(list_sum(list_transform(range(1, ${RpDims + 1}),
               i -> (CASE WHEN ${graft.functions.Portable.md5Hash64Sql(
                 "('rp_' || j || '_' || i)")} % 2 = 0 THEN 1 ELSE -1 END)
                 * CAST(floor(CAST(embedding[i] AS DOUBLE) * $RpScale)
                     AS BIGINT))) AS BIGINT) AS y_q
      FROM embeddings,
           (SELECT unnest(range(1, ${RpK + 1})) AS j) ks
      ORDER BY vec_id, j"""))

  // ---------------------------------------------------------------------
  // q258 — CROSS-LINGUAL NEAR-DUP AUDIT: the multilingual twin of q108 —
  // translated or transliterated copies share embeddings but not
  // n-grams, so the text-side dedup family (q34–q37, q118) is blind to
  // them; the mC4/ROOTS-class check is "high cosine, DIFFERENT lang".
  // Reuses the exact q108 machinery (trained cells + the PairWindow
  // rank-window candidate bound — pair work ≤ n·PairWindow at any
  // scale), then joins the documents table's lang on both sides and
  // keeps only cross-language pairs. Report grain is the language PAIR
  // (≤ C(|langs|,2) rows): pair count, exact mean cosine in millis
  // (per-pair floor to integer millis, then integer division — no
  // float average), and the single most-similar doc pair as the audit
  // exhibit (max(struct) with full tie-break).
  // ---------------------------------------------------------------------
  private val XlTau = 0.3

  private val q258 = QueryDef(
    "q258_crosslingual_dups",
    (spark, dir) => {
      import spark.implicits._
      val (emb, ranked) = cellRanked(spark, dir)
      val assign = ranked.filter($"rn" === 1)
        .select($"vec_id", $"cid".as("cell"), $"d")
        .join(emb.select($"vec_id", $"embedding", $"nrm"), "vec_id")
        .persist()
      val langs = Tables.documents(spark, dir)
        .select($"doc_id", $"lang")
      val pairs = rankWindowPairs(assign)
        .filter($"cos" >= XlTau)
        .join(langs.select($"doc_id".as("i"), $"lang".as("lang_i")), "i")
        .join(langs.select($"doc_id".as("j"), $"lang".as("lang_j")), "j")
        .filter($"lang_i" =!= $"lang_j")
        .withColumn("la", least($"lang_i", $"lang_j"))
        .withColumn("lb", greatest($"lang_i", $"lang_j"))
        .withColumn("cos_milli", floor($"cos" * 1000.0).cast("long"))
        .persist()
      val out = pairs.groupBy($"la", $"lb")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"cos_milli").as("s_cos"),
          max(struct($"cos_milli", (-$"i").as("ni"), (-$"j").as("nj")))
            .as("top"))
        .withColumn("mean_cos_milli", expr("s_cos div n_pairs"))
        .select($"la", $"lb", $"n_pairs", $"mean_cos_milli",
          (-$"top.ni").as("top_i"), (-$"top.nj").as("top_j"),
          $"top.cos_milli".as("top_cos_milli"))
      Scoped.materialize(emb, assign, pairs)(out).orderBy($"la", $"lb")
    },
    Some(s"""
      WITH ${Corpus.centroidPipelineCtes},
      $cellAssignSql,
      cr AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS r
        FROM assign),
      p0 AS (
        SELECT least(a.vec_id, b.vec_id) AS i,
               greatest(a.vec_id, b.vec_id) AS j,
               ${VectorOps.cosineFromScaledSql(
                 VectorOps.dotScaledSql("ea.embedding", "eb.embedding"),
                 "ea.nrm", "eb.nrm")} AS cos
        FROM cr a
        JOIN cr b ON a.cell = b.cell
                 AND b.r > a.r AND b.r <= a.r + ${SemPairWindow}
        JOIN emb2 ea ON ea.vec_id = a.vec_id
        JOIN emb2 eb ON eb.vec_id = b.vec_id),
      px AS (
        SELECT p0.i, p0.j,
               CAST(floor(p0.cos * 1000.0) AS BIGINT) AS cos_milli,
               least(di.lang, dj.lang) AS la,
               greatest(di.lang, dj.lang) AS lb
        FROM p0
        JOIN documents di ON di.doc_id = p0.i
        JOIN documents dj ON dj.doc_id = p0.j
        WHERE p0.cos >= $XlTau AND di.lang <> dj.lang)
      SELECT la, lb, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(CAST(sum(cos_milli) AS BIGINT) // count(*) AS BIGINT)
               AS mean_cos_milli,
             -((max(struct_pack(cm := cos_milli, ni := -i, nj := -j))).ni)
               AS top_i,
             -((max(struct_pack(cm := cos_milli, ni := -i, nj := -j))).nj)
               AS top_j,
             (max(struct_pack(cm := cos_milli, ni := -i, nj := -j))).cm
               AS top_cos_milli
      FROM px GROUP BY la, lb ORDER BY la, lb"""))

  // ---------------------------------------------------------------------
  // q312 — SEMDEDUP KEEP POLICY (r12 verdict "Next round" #3): q108
  // finds the semantic near-dup pairs (trained-cell blocking + rank
  // window + exact cosine ≥ τ) and censuses drops per cell; this query
  // completes the SemDeDup operator (Abbas et al. 2023: cluster in
  // embedding space, drop all but one per semantic-dup group) with the
  // KEEP DECISION: connected components over the q108 pair graph (the
  // q72/q298 fixpoint-or-throw operator — third graph family through
  // the same loop), then per component keep the q29-QUALITY argmax (the
  // q200 policy composition: quality pick next to the naive lowest-id
  // greedy pick with an agreement flag, because SemDeDup's "keep the
  // best copy" beats "keep the first copy" only when they differ).
  // Deterministic: quality argmax ties on (score desc, node asc) via
  // the (score, -node) max_by key — a map-side-combinable aggregate,
  // never a cluster-buffering window (the q167 discipline).
  //
  // Scale: pair generation is q108's — cell-blocked, rank-window-capped
  // (≤ PairWindow candidates per vector at ANY cell size, the declared
  // JoinFanoutBounds contract); components ride the guarded Pregel-class
  // loop; quality attaches by one node-keyed equi-join; the census is a
  // label rollup. Nothing corpus² anywhere.
  // (Embeddings cover a prefix of the doc_id space in the fixture —
  // vec_id ⊆ doc_id — so the node-keyed quality join is total on the
  // embedded subset, the corpus SemDeDup actually scores.)
  // ---------------------------------------------------------------------
  private val q312 = QueryDef(
    "q312_semdedup_keep",
    (spark, dir) => {
      import spark.implicits._
      val (emb, assign, pairs) = semanticDupStage(spark, dir)
      val labels = Dedup.connectedComponents(pairs.select($"i", $"j"))
      val quality = TextOps.withQuality(Tables.documents(spark, dir))
        .select($"doc_id".as("node"), $"score")
      val out = labels.join(quality, Seq("node"))
        .groupBy($"label".as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          max_by($"node", struct($"score", -$"node")).as("quality_keep"),
          min($"node").as("greedy_keep"))
        .withColumn("agree",
          when($"quality_keep" === $"greedy_keep", 1L).otherwise(0L))
        .withColumn("n_dropped", $"cluster_size" - 1L)
        .orderBy($"cluster_id")
      Scoped.materialize(emb, assign, pairs)(out)
    },
    Some(s"""
      WITH RECURSIVE ${Corpus.centroidPipelineCtes},
      $cellAssignSql,
      cr AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS r
        FROM assign),
      spairs AS (
        SELECT least(a.vec_id, b.vec_id) AS i,
               greatest(a.vec_id, b.vec_id) AS j
        FROM cr a
        JOIN cr b ON a.cell = b.cell
                 AND b.r > a.r AND b.r <= a.r + $PairWindow
        JOIN emb2 ea ON ea.vec_id = a.vec_id
        JOIN emb2 eb ON eb.vec_id = b.vec_id
        WHERE ${VectorOps.cosineFromScaledSql(
          VectorOps.dotScaledSql("ea.embedding", "eb.embedding"),
          "ea.nrm", "eb.nrm")} >= $SemTau),
      cedges AS (SELECT i, j FROM spairs
                 UNION SELECT j AS i, i AS j FROM spairs),
      cnodes AS (SELECT DISTINCT i AS node FROM cedges),
      reach(a, b) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT r.a, e.j FROM reach r JOIN cedges e ON e.i = r.b),
      labeled AS (SELECT a AS node, min(b) AS label FROM reach GROUP BY a),
      quality AS (${TextOps.qualitySql}),
      joined AS (
        SELECT l.label, l.node, q.score
        FROM labeled l JOIN quality q ON q.doc_id = l.node),
      rq AS (
        SELECT *, row_number() OVER (
          PARTITION BY label ORDER BY score DESC, node ASC) AS r
        FROM joined)
      SELECT label AS cluster_id,
             CAST(count(*) AS BIGINT) AS cluster_size,
             max(CASE WHEN r = 1 THEN node END) AS quality_keep,
             min(node) AS greedy_keep,
             CAST(CASE WHEN max(CASE WHEN r = 1 THEN node END) = min(node)
               THEN 1 ELSE 0 END AS BIGINT) AS agree,
             CAST(count(*) - 1 AS BIGINT) AS n_dropped
      FROM rq GROUP BY label ORDER BY cluster_id"""))

  override val defs: Seq[QueryDef] =
    Seq(q39, q40, q56, q57, q76, q105, q108, q148, q162, q188, q204, q242,
      q258, q312)
}
