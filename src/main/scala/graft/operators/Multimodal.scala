package graft.operators

import graft.{QueryDef, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief): image/audio/video handled
  * as opaque `binary` columns with typed metadata. AUDIO decodes with
  * genuine byte parsers for BOTH the uncompressed and a compressed
  * format (q107 RIFF/WAV PCM; q215 IMA ADPCM, format 0x0011, via
  * functions.ImaAdpcm); IMAGES (q109, 24-bit BMP) likewise; VIDEO
  * parses its container for real (q110, AVI header/
  * frame-chunk walk over a compressed `00dc` stream, payloads opaque)
  * AND decodes frame payloads end-to-end for three from-scratch
  * codecs: raw DIB (q116, `00db` frames through the same stride-aware
  * decode the BMP path uses), BI_RLE8 (q202, COMPRESSED `00dc` frames
  * through the run-length decoder in functions.Rle8, palette and all),
  * and MJPEG (q203, `00dc` frames that are complete baseline JFIF
  * streams through the full functions.Jpeg pipeline — Huffman entropy
  * decode, dequant, IDCT, YCbCr→RGB). Only inter-frame codec payloads
  * (H.264 etc.) stay opaque container chunks. Everything Spark-side is
  * real and tested:
  * the binary schema, the typed `Dataset` encoders, per-partition batch
  * iteration (the JVM analog of `mapInPandas` batch shape), and the
  * generator that fans frames out of per-asset metadata.
  *
  * At 100 TB the binary column lives in parquet alongside its metadata;
  * decode/feature-extract is pure per-partition map work (no shuffle),
  * so the plan scales linearly with executors. Swapping the stub for a
  * real codec changes only the function body inside `mapPartitions`.
  */
object Multimodal extends QueryModule {

  /** Typed row for the decoded-asset features. */
  final case class AssetFeatures(
      doc_id: Long,
      n_bytes: Long,
      content_hash: String,
      fake_width: Long,
      fake_height: Long,
      n_frames: Long)

  /** STUB decoder — deterministic fake in place of a real VIDEO decode
    * (no codec libs in this container; audio and images decode for real
    * in q107/q109). Derives plausible metadata from the byte stream only.
    */
  private def stubDecode(docId: Long, bytes: Array[Byte]): AssetFeatures = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hash = md.digest(bytes).map("%02x".format(_)).mkString
    val n = bytes.length.toLong
    AssetFeatures(docId, n, hash,
      fake_width = n % 640, fake_height = n % 480, n_frames = n % 30 + 1)
  }

  // ---------------------------------------------------------------------
  // q44 — binary decode + feature extraction: text → utf-8 bytes plays
  // the opaque asset blob; a typed mapPartitions runs the (stubbed)
  // decoder per partition — the real-codec integration point. The oracle
  // recomputes the same features in SQL (md5 + octet_length arithmetic),
  // proving the Dataset plumbing preserves values exactly.
  // ---------------------------------------------------------------------
  private val q44 = QueryDef(
    "q44_binary_features",
    (spark, dir) => {
      import spark.implicits._
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id".as("_1"), encode($"text", "UTF-8").as("_2"))
        .as[(Long, Array[Byte])]
      assets
        .mapPartitions(_.map { case (id, bytes) => stubDecode(id, bytes) })
        .toDF()
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS content_hash,
             octet_length(encode(text)) % 640 AS fake_width,
             octet_length(encode(text)) % 480 AS fake_height,
             octet_length(encode(text)) % 30 + 1 AS n_frames
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q45 — frame sampling: fan out every 5th frame index per asset from
  // its (stub-decoded) frame count — the generator shape of video
  // frame-extraction pipelines (explode over per-asset metadata), with a
  // deterministic per-frame feature standing in for the decoded frame.
  // ---------------------------------------------------------------------
  private val q45 = QueryDef(
    "q45_frame_sample",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .withColumn("n_bytes", octet_length(encode($"text", "UTF-8")).cast("long"))
        .withColumn("n_frames", $"n_bytes" % 30 + 1)
        .withColumn("frame_idx",
          explode(sequence(lit(0L), $"n_frames" - 1, lit(5L))))
        .withColumn("frame_sig", ($"n_bytes" * 31 + $"frame_idx") % 1000000007L)
        .select($"doc_id", $"frame_idx", $"frame_sig")
        .orderBy($"doc_id", $"frame_idx")
    },
    Some("""
      SELECT doc_id, frame_idx, (n_bytes * 31 + frame_idx) % 1000000007 AS frame_sig
      FROM (
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               unnest(range(0, CAST(octet_length(encode(text)) AS BIGINT) % 30 + 1, 5)) AS frame_idx
        FROM documents)
      ORDER BY doc_id, frame_idx"""))

  // ---------------------------------------------------------------------
  // q107 — REAL audio decode (functions.RiffWav): per doc, a synthesized
  // RIFF/WAV PCM blob (deterministic params + samples from doc_id) is
  // carried as a binary column and decoded by a genuine chunk-walking
  // WAV parser — fmt /data discovery, word alignment, PCM validation —
  // inside a typed mapPartitions (the real-codec integration point q44
  // stubs for images/video). The oracle recomputes every feature from
  // the synthesis recurrence in SQL, so a parser that misreads ANY
  // header field or sample byte breaks the hash. Decode is pure
  // per-partition map work: no shuffle, scales with executors.
  // ---------------------------------------------------------------------
  final case class WavFeatures(
      doc_id: Long, channels: Long, sample_rate: Long, n_frames: Long,
      duration_ms: Long, abs_sum: Long, peak: Long)

  private[graft] def synthWav(docId: Long): Array[Byte] = {
    import graft.functions.RiffWav
    val channels = (1 + docId % 2).toInt
    val nFrames = (200 + docId % 800).toInt
    val samples = Array.tabulate(nFrames * channels)(i =>
      (((docId * 31 + i.toLong * 17) % 2003) - 1001).toShort)
    RiffWav.encode(RiffWav.Wav(channels, 8000, 16, samples))
  }

  private val q107 = QueryDef(
    "q107_wav_decode",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.RiffWav
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthWav(id))))
      assets.mapPartitions(_.map { case (id, bytes) =>
        val w = RiffWav.decode(bytes)
        val nFrames = w.samples.length / w.channels
        var absSum = 0L
        var peak = 0L
        w.samples.foreach { s =>
          val a = math.abs(s.toLong); absSum += a; if (a > peak) peak = a
        }
        WavFeatures(id, w.channels.toLong, w.sampleRate.toLong, nFrames.toLong,
          nFrames.toLong * 1000L / w.sampleRate, absSum, peak)
      }).toDF().orderBy($"doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CAST(1 + doc_id % 2 AS BIGINT) AS channels,
               CAST(200 + doc_id % 800 AS BIGINT) AS n_frames
        FROM documents)
      SELECT doc_id, channels, CAST(8000 AS BIGINT) AS sample_rate, n_frames,
             n_frames * 1000 // 8000 AS duration_ms,
             CAST(list_sum(list_transform(range(0, n_frames * channels),
               i -> abs((doc_id * 31 + i * 17) % 2003 - 1001))) AS BIGINT) AS abs_sum,
             CAST(list_max(list_transform(range(0, n_frames * channels),
               i -> abs((doc_id * 31 + i * 17) % 2003 - 1001))) AS BIGINT) AS peak
      FROM p ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q109 — REAL image decode (functions.BmpImage): per doc, a synthesized
  // 24-bit uncompressed BMP (deterministic dimensions + pixel recurrence
  // from doc_id; every third doc stored TOP-DOWN via negative height, the
  // rest bottom-up) is carried as a binary column and decoded by a
  // genuine header-parsing, stride-de-padding BMP reader inside a typed
  // mapPartitions — the image counterpart of q107's WAV path; after this,
  // only video decode remains stubbed. Features include a position-
  // weighted hash, so a parser that misreads the row order, the stride
  // padding, or the BGR byte order breaks the oracle hash — not just the
  // channel sums. The oracle recomputes everything from the synthesis
  // recurrence in SQL. Decode is pure per-partition map work: no shuffle,
  // scales with executors.
  // ---------------------------------------------------------------------
  final case class BmpFeatures(
      doc_id: Long, width: Long, height: Long, n_bytes: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, pos_hash: Long)

  private[graft] def synthBmp(docId: Long): Array[Byte] = {
    import graft.functions.BmpImage
    val w = (3 + docId % 13).toInt
    val h = (2 + docId % 7).toInt
    val pixels = Array.tabulate(w * h) { i =>
      val x = i % w
      val y = i / w
      val b = ((docId * 7 + 3 * x + 5 * y) % 256).toInt
      val g = ((docId * 11 + x + 2 * y) % 256).toInt
      val r = ((docId * 13 + 5 * x + y) % 256).toInt
      (r << 16) | (g << 8) | b
    }
    BmpImage.encode(BmpImage.Bmp(w, h, pixels), topDown = docId % 3 == 0)
  }

  private val q109 = QueryDef(
    "q109_bmp_decode",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.BmpImage
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthBmp(id))))
      assets.mapPartitions(_.map { case (id, bytes) =>
        val img = BmpImage.decode(bytes)
        var sumR, sumG, sumB, posHash = 0L
        var i = 0
        while (i < img.pixels.length) {
          val p = img.pixels(i)
          val r = (p >> 16) & 0xff
          val g = (p >> 8) & 0xff
          val b = p & 0xff
          sumR += r; sumG += g; sumB += b
          posHash += (i + 1).toLong * (b + 2L * g + 3L * r)
          i += 1
        }
        BmpFeatures(id, img.width.toLong, img.height.toLong, bytes.length.toLong,
          sumR, sumG, sumB, posHash)
      }).toDF().orderBy($"doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CAST(3 + doc_id % 13 AS BIGINT) AS width,
               CAST(2 + doc_id % 7 AS BIGINT) AS height
        FROM documents)
      SELECT doc_id, width, height,
             54 + ((width * 3 + 3) // 4) * 4 * height AS n_bytes,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (doc_id * 13 + 5 * (i % width) + (i // width)) % 256)) AS BIGINT) AS sum_r,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (doc_id * 11 + (i % width) + 2 * (i // width)) % 256)) AS BIGINT) AS sum_g,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (doc_id * 7 + 3 * (i % width) + 5 * (i // width)) % 256)) AS BIGINT) AS sum_b,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (i + 1) * ((doc_id * 7 + 3 * (i % width) + 5 * (i // width)) % 256
                     + 2 * ((doc_id * 11 + (i % width) + 2 * (i // width)) % 256)
                     + 3 * ((doc_id * 13 + 5 * (i % width) + (i // width)) % 256)))) AS BIGINT) AS pos_hash
      FROM p ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q110 — REAL video CONTAINER parse (functions.RiffAvi): per doc, a
  // synthesized single-stream AVI (header recurrence from doc_id, opaque
  // deterministic frame payloads) is parsed by a genuine RIFF chunk
  // walker — avih header fields, movi frame-chunk census, payload byte
  // sums — inside a typed mapPartitions. This is the honest limit of the
  // video path without codec libraries: container metadata is REAL parse
  // output (and the parser cross-checks header totalFrames against the
  // movi walk), while frame payloads stay opaque bytes — exactly how
  // production pipelines treat video before a GPU decode stage. The
  // oracle recomputes every feature from the synthesis recurrence.
  // ---------------------------------------------------------------------
  final case class AviFeatures(
      doc_id: Long, width: Long, height: Long, n_frames: Long,
      duration_ms: Long, payload_bytes: Long, payload_sum: Long)

  private[graft] def synthAvi(docId: Long): Array[Byte] = {
    import graft.functions.RiffAvi
    val w = (16 + (docId % 9) * 4).toInt
    val h = (12 + (docId % 5) * 4).toInt
    val nFrames = (2 + docId % 9).toInt
    val frames = Seq.tabulate(nFrames) { i =>
      val len = (10 + (docId + i) % 50).toInt
      Array.tabulate(len)(k => ((docId * 5 + i * 7 + k * 11) % 256).toByte)
    }
    RiffAvi.encode(w, h, 33333, frames)
  }

  private val q110 = QueryDef(
    "q110_avi_container",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.RiffAvi
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthAvi(id))))
      assets.mapPartitions(_.map { case (id, bytes) =>
        val m = RiffAvi.parse(bytes)
        AviFeatures(id, m.width.toLong, m.height.toLong, m.totalFrames.toLong,
          m.totalFrames.toLong * m.usecPerFrame.toLong / 1000L,
          m.payloadBytes, m.payloadSum)
      }).toDF().orderBy($"doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CAST(16 + (doc_id % 9) * 4 AS BIGINT) AS width,
               CAST(12 + (doc_id % 5) * 4 AS BIGINT) AS height,
               CAST(2 + doc_id % 9 AS BIGINT) AS n_frames
        FROM documents)
      SELECT doc_id, width, height, n_frames,
             n_frames * 33333 // 1000 AS duration_ms,
             CAST(list_sum(list_transform(range(0, n_frames),
               i -> 10 + (doc_id + i) % 50)) AS BIGINT) AS payload_bytes,
             CAST(list_sum(list_transform(range(0, n_frames), i ->
               list_sum(list_transform(range(0, 10 + (doc_id + i) % 50),
                 k -> (doc_id * 5 + i * 7 + k * 11) % 256)))) AS BIGINT) AS payload_sum
      FROM p ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // q116 — REAL video frame decode (functions.RiffAvi raw-DIB path): per
  // doc, a synthesized single-stream AVI whose frames are UNCOMPRESSED
  // 24-bit DIB payloads (`00db` chunks — BGR triples, 4-byte stride,
  // bottom-up rows, pixel recurrence over doc_id AND frame index) is
  // decoded END TO END: container walk + per-frame pixel decode, making
  // video match audio (q107) and image (q109) in realness. One output
  // row per (doc, frame) with channel sums and the position-weighted
  // hash, so a decoder that misreads the stride, the row flip, the BGR
  // order, or WHICH frame a chunk belongs to breaks the oracle hash.
  // The oracle recomputes every frame from the synthesis recurrence.
  // Decode is pure per-partition map work: no shuffle.
  // ---------------------------------------------------------------------
  final case class DibFrameFeatures(
      doc_id: Long, frame_idx: Long, width: Long, height: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, pos_hash: Long)

  private[graft] def synthAviDib(docId: Long): Array[Byte] = {
    import graft.functions.RiffAvi
    val w = (3 + docId % 13).toInt
    val h = (2 + docId % 7).toInt
    val nFrames = (2 + docId % 6).toInt
    val frames = Seq.tabulate(nFrames) { f =>
      Array.tabulate(w * h) { i =>
        val x = i % w
        val y = i / w
        val b = ((docId * 7 + 3 * x + 5 * y + 2 * f) % 256).toInt
        val g = ((docId * 11 + x + 2 * y + 4 * f) % 256).toInt
        val r = ((docId * 13 + 5 * x + y + 9 * f) % 256).toInt
        (r << 16) | (g << 8) | b
      }
    }
    RiffAvi.encodeDib(w, h, 33333, frames)
  }

  private val q116 = QueryDef(
    "q116_avi_dib_decode",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.RiffAvi
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthAviDib(id))))
      assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val v = RiffAvi.decodeFrames(bytes)
        v.frames.iterator.zipWithIndex.map { case (px, f) =>
          var sumR, sumG, sumB, posHash = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            val r = (p >> 16) & 0xff
            val g = (p >> 8) & 0xff
            val b = p & 0xff
            sumR += r; sumG += g; sumB += b
            posHash += (i + 1).toLong * (b + 2L * g + 3L * r)
            i += 1
          }
          DibFrameFeatures(id, f.toLong, v.width.toLong, v.height.toLong,
            sumR, sumG, sumB, posHash)
        }
      }).toDF().orderBy($"doc_id", $"frame_idx")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CAST(3 + doc_id % 13 AS BIGINT) AS width,
               CAST(2 + doc_id % 7 AS BIGINT) AS height,
               CAST(2 + doc_id % 6 AS BIGINT) AS n_frames
        FROM documents),
      f AS (
        SELECT doc_id, width, height,
               unnest(range(0, n_frames)) AS frame_idx
        FROM p)
      SELECT doc_id, frame_idx, width, height,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (doc_id * 13 + 5 * (i % width) + (i // width)
                     + 9 * frame_idx) % 256)) AS BIGINT) AS sum_r,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (doc_id * 11 + (i % width) + 2 * (i // width)
                     + 4 * frame_idx) % 256)) AS BIGINT) AS sum_g,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (doc_id * 7 + 3 * (i % width) + 5 * (i // width)
                     + 2 * frame_idx) % 256)) AS BIGINT) AS sum_b,
             CAST(list_sum(list_transform(range(0, width * height),
               i -> (i + 1) * ((doc_id * 7 + 3 * (i % width) + 5 * (i // width)
                                + 2 * frame_idx) % 256
                     + 2 * ((doc_id * 11 + (i % width) + 2 * (i // width)
                             + 4 * frame_idx) % 256)
                     + 3 * ((doc_id * 13 + 5 * (i % width) + (i // width)
                             + 9 * frame_idx) % 256)))) AS BIGINT) AS pos_hash
      FROM f ORDER BY doc_id, frame_idx"""))

  // ---------------------------------------------------------------------
  // q202 — COMPRESSED video frame decode (functions.Rle8 via
  // RiffAvi.decodeRle8Frames): the `00dc` path q116 could not take. Per
  // doc, a synthesized BI_RLE8 AVI — 8-bit palette-index frames, each
  // row two color runs split at a per-(doc,row,frame) point, RLE8-encoded
  // bottom-up with per-line terminators — decodes END TO END: container
  // walk + strf palette parse + full RLE8 grammar + palette lookup. The
  // output carries BOTH content features (channel sums + the q116
  // position-weighted hash, so a wrong run boundary / row order / palette
  // byte order breaks the hash) and the WIRE numbers: comp_bytes is the
  // actual encoded chunk payload measured off the bytes, raw8_bytes the
  // stride-padded uncompressed size. The oracle recomputes the pixels
  // from the synthesis recurrence AND the compressed size analytically
  // (2 runs × 2 bytes + 2 terminator bytes per row) — so the codec's
  // real on-wire framing is cross-checked, not just its pixels.
  // Decode is pure per-partition map work: no shuffle.
  // ---------------------------------------------------------------------
  final case class Rle8FrameFeatures(
      doc_id: Long, frame_idx: Long, width: Long, height: Long,
      comp_bytes: Long, raw8_bytes: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, pos_hash: Long)

  /** 16-entry palette shared by synth + oracle: j → 0xRRGGBB. */
  private[graft] def rle8Palette: Array[Int] =
    Array.tabulate(16) { j =>
      (((17 * j) % 256) << 16) | (((11 * j + 3) % 256) << 8) | ((29 * j + 7) % 256)
    }

  private[graft] def synthAviRle8(docId: Long): Array[Byte] = {
    import graft.functions.RiffAvi
    val w = (4 + docId % 9).toInt  // ≥ 4 so every row has two runs
    val h = (2 + docId % 5).toInt
    val nFrames = (2 + docId % 4).toInt
    val frames = Seq.tabulate(nFrames) { f =>
      Array.tabulate(w * h) { i =>
        val x = i % w
        val y = i / w
        val split = 1 + ((docId + y + f) % (w - 1)).toInt
        val va = ((docId + 7 * y + 3 * f) % 16).toInt
        // +1..15 offset mod 16 can never be 0, so the two runs always
        // carry DIFFERENT indices — the greedy encoder can't merge them
        // and the oracle's 2-runs-per-row size model stays exact
        val vb = (va + 1 + ((y + f) % 15)) % 16
        (if (x < split) va else vb).toByte
      }
    }
    RiffAvi.encodeRle8(w, h, 33333, rle8Palette, frames)
  }

  private val q202 = QueryDef(
    "q202_avi_rle8_decode",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.RiffAvi
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthAviRle8(id))))
      assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val v = RiffAvi.decodeRle8Frames(bytes)
        val stride8 = ((v.width + 3) / 4) * 4
        v.frames.iterator.zipWithIndex.map { case (px, f) =>
          var sumR, sumG, sumB, posHash = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            val r = (p >> 16) & 0xff
            val g = (p >> 8) & 0xff
            val b = p & 0xff
            sumR += r; sumG += g; sumB += b
            posHash += (i + 1).toLong * (b + 2L * g + 3L * r)
            i += 1
          }
          Rle8FrameFeatures(id, f.toLong, v.width.toLong, v.height.toLong,
            v.compBytes(f).toLong, stride8.toLong * v.height,
            sumR, sumG, sumB, posHash)
        }
      }).toDF().orderBy($"doc_id", $"frame_idx")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CAST(4 + doc_id % 9 AS BIGINT) AS width,
               CAST(2 + doc_id % 5 AS BIGINT) AS height,
               CAST(2 + doc_id % 4 AS BIGINT) AS n_frames
        FROM documents),
      f AS (
        SELECT doc_id, width, height,
               unnest(range(0, n_frames)) AS frame_idx
        FROM p),
      px AS (
        SELECT doc_id, width, height, frame_idx,
               unnest(range(0, width * height)) AS i
        FROM f),
      idx AS (
        SELECT doc_id, width, height, frame_idx, i,
               CASE WHEN (i % width) <
                      1 + ((doc_id + (i // width) + frame_idx) % (width - 1))
                    THEN (doc_id + 7 * (i // width) + 3 * frame_idx) % 16
                    ELSE ((doc_id + 7 * (i // width) + 3 * frame_idx) % 16
                          + 1 + (((i // width) + frame_idx) % 15)) % 16
               END AS j
        FROM px)
      SELECT doc_id, frame_idx, width, height,
             CAST(6 * height AS BIGINT) AS comp_bytes,
             CAST(((width + 3) // 4) * 4 * height AS BIGINT) AS raw8_bytes,
             CAST(sum((17 * j) % 256) AS BIGINT) AS sum_r,
             CAST(sum((11 * j + 3) % 256) AS BIGINT) AS sum_g,
             CAST(sum((29 * j + 7) % 256) AS BIGINT) AS sum_b,
             CAST(sum((i + 1) * (((29 * j + 7) % 256)
                    + 2 * ((11 * j + 3) % 256)
                    + 3 * ((17 * j) % 256))) AS BIGINT) AS pos_hash
      FROM idx GROUP BY doc_id, frame_idx, width, height
      ORDER BY doc_id, frame_idx"""))

  // ---------------------------------------------------------------------
  // q203 — MJPEG video frame decode (functions.Jpeg via
  // RiffAvi.decodeMjpegFrames): the codec real camera/capture pipelines
  // put behind `00dc` chunks, decoded END TO END from the bytes — AVI
  // container walk, then per frame a complete baseline JFIF decode:
  // marker parse, quant + Huffman tables read from the stream's own
  // DQT/DHT, DPCM DC + run/size AC entropy decode with 0xFF00
  // unstuffing and restart markers, dequantize, inverse zigzag, IDCT,
  // and fixed-point YCbCr→RGB. Frames are synthesized 4:4:4 block-
  // constant mosaics (every 8×8 block one flat YCbCr color from a
  // (doc, frame, block) recurrence) with a DC quant step dividing 8 —
  // an input class on which baseline JPEG is arithmetically LOSSLESS
  // (the only nonzero coefficient, DC = 8·(s−128), survives quantize/
  // dequantize exactly), so the DuckDB oracle recomputes every decoded
  // pixel analytically: the same recurrence pushed through the same
  // 2¹⁶ fixed-point YCbCr→RGB integers. Half the docs encode with a
  // restart interval so RSTn handling and predictor resets are on the
  // verified path. A wrong Huffman table, zigzag slot, quant multiply,
  // IDCT scale, or color constant breaks the position-weighted hash.
  // Decode is pure per-partition map work: no shuffle.
  // ---------------------------------------------------------------------
  final case class MjpegFrameFeatures(
      doc_id: Long, frame_idx: Long, width: Long, height: Long,
      n_mcus: Long, sum_r: Long, sum_g: Long, sum_b: Long, pos_hash: Long)

  private[graft] def synthAviMjpeg(docId: Long): Array[Byte] = {
    import graft.functions.{Jpeg, RiffAvi}
    val w = 8 * (1 + docId % 3).toInt
    val h = 8 * (1 + docId % 2).toInt
    val nFrames = (2 + docId % 3).toInt
    // DC steps divide 8 (exactness); AC steps are arbitrary ≥1 and the
    // decoder's dequant multiplies them against all-zero ACs
    val qLuma = Array.tabulate(64)(k => if (k == 0) 8 else 16 + (k * 7) % 23)
    val qChroma = Array.tabulate(64)(k => if (k == 0) 4 else 17 + (k * 5) % 19)
    val frames = Seq.tabulate(nFrames) { f =>
      val y = new Array[Int](w * h)
      val cb = new Array[Int](w * h)
      val cr = new Array[Int](w * h)
      var i = 0
      while (i < w * h) {
        val bx = (i % w) / 8
        val by = (i / w) / 8
        y(i) = ((docId * 5 + 7 * bx + 11 * by + 3 * f) % 256).toInt
        cb(i) = ((docId * 3 + 2 * bx + 5 * by + f) % 256).toInt
        cr(i) = ((docId * 7 + 4 * bx + by + 6 * f) % 256).toInt
        i += 1
      }
      Jpeg.encode(w, h, y, cb, cr, qLuma, qChroma,
        restartInterval = if (docId % 2 == 0) 2 else 0)
    }
    RiffAvi.encodeMjpeg(w, h, 33333, frames)
  }

  private val q203 = QueryDef(
    "q203_avi_mjpeg_decode",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.RiffAvi
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthAviMjpeg(id))))
      val feats = assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val v = RiffAvi.decodeMjpegFrames(bytes)
        v.frames.iterator.zipWithIndex.map { case (px, f) =>
          var sumR, sumG, sumB, posHash = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            val r = (p >> 16) & 0xff
            val g = (p >> 8) & 0xff
            val b = p & 0xff
            sumR += r; sumG += g; sumB += b
            posHash += (i + 1).toLong * (b + 2L * g + 3L * r)
            i += 1
          }
          MjpegFrameFeatures(id, f.toLong, v.width.toLong, v.height.toLong,
            (v.width / 8).toLong * (v.height / 8),
            sumR, sumG, sumB, posHash)
        }
      }).toDF()
      // r14 (guide §2.4): the final global sort is a RangePartitioner,
      // whose bounds-sampling pass EXECUTED THE WHOLE MJPEG DECODE a
      // second time (two ~1.2 s jobs back-to-back in the per-job timings).
      // Materialize the frame-grain feature table once; the sort then
      // samples a parquet scan.
      Scoped.materialize()(feats).orderBy($"doc_id", $"frame_idx")
    },
    // The oracle works at BLOCK grain: pixels are block-constant, so the
    // per-frame sums are 64× the per-block RGB and the position hash
    // folds in the closed-form Σ(i+1) over each block's pixel indexes:
    // 512·W·by + 224·W + 512·bx + 288. RGB uses the identical 2¹⁶
    // fixed-point integers ('//' floors like the JVM's >> 16).
    Some("""
      WITH p AS (
        SELECT doc_id,
               CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
               CAST(8 * (1 + doc_id % 2) AS BIGINT) AS height,
               CAST(2 + doc_id % 3 AS BIGINT) AS n_frames
        FROM documents),
      f AS (
        SELECT doc_id, width, height, width // 8 AS nbx, height // 8 AS nby,
               unnest(range(0, n_frames)) AS frame_idx
        FROM p),
      blk AS (
        SELECT doc_id, width, height, nbx, nby, frame_idx,
               unnest(range(0, nbx * nby)) AS b
        FROM f),
      ycc AS (
        SELECT doc_id, width, height, nbx, nby, frame_idx, b,
               (doc_id * 5 + 7 * (b % nbx) + 11 * (b // nbx)
                + 3 * frame_idx) % 256 AS yv,
               (doc_id * 3 + 2 * (b % nbx) + 5 * (b // nbx)
                + frame_idx) % 256 - 128 AS cbz,
               (doc_id * 7 + 4 * (b % nbx) + (b // nbx)
                + 6 * frame_idx) % 256 - 128 AS crz
        FROM blk),
      fx AS (
        -- the JVM's >> 16 is a FLOOR by 2^16; DuckDB's integer '//'
        -- truncates toward zero, so floor via the pmod remainder first
        SELECT doc_id, width, height, nbx, nby, frame_idx, b, yv,
               91881 * crz + 32768 AS rt,
               22554 * cbz + 46802 * crz + 32768 AS gt,
               116130 * cbz + 32768 AS bt
        FROM ycc),
      rgb AS (
        SELECT doc_id, width, height, nbx, nby, frame_idx, b,
               least(greatest(yv +
                 (rt - (((rt % 65536) + 65536) % 65536)) // 65536, 0), 255) AS r,
               least(greatest(yv -
                 (gt - (((gt % 65536) + 65536) % 65536)) // 65536, 0), 255) AS g,
               least(greatest(yv +
                 (bt - (((bt % 65536) + 65536) % 65536)) // 65536, 0), 255) AS bb
        FROM fx)
      SELECT doc_id, frame_idx, width, height,
             CAST(nbx * nby AS BIGINT) AS n_mcus,
             CAST(64 * sum(r) AS BIGINT) AS sum_r,
             CAST(64 * sum(g) AS BIGINT) AS sum_g,
             CAST(64 * sum(bb) AS BIGINT) AS sum_b,
             CAST(sum((bb + 2 * g + 3 * r) *
                      (512 * width * (b // nbx) + 224 * width
                       + 512 * (b % nbx) + 288)) AS BIGINT) AS pos_hash
      FROM rgb
      GROUP BY doc_id, frame_idx, width, height, nbx, nby
      ORDER BY doc_id, frame_idx"""))

  // ---------------------------------------------------------------------
  // q210 — PERCEPTUAL-HASH IMAGE DEDUP (pHash): the image arm of the
  // dedup family — multimodal training corpora dedup images by DCT
  // perceptual hash exactly the way text dedups by MinHash. Per doc, a
  // synthesized 16×16 grayscale BMP (decoded from real BMP bytes through
  // functions.BmpImage, with per-doc sparse noise over a per-family base
  // pattern) hashes to 63 bits: 2D DCT-II in FIXED-POINT integer
  // arithmetic (cosine table scaled 2¹⁴, rounded once, embedded
  // literally in BOTH the JVM kernel and the SQL oracle so no libm call
  // is on the compared path), keep the low-frequency 8×8 block minus DC,
  // threshold each coefficient against the exact 32nd-smallest AC (the
  // integer median), bit per coefficient. Near-dup candidates come from
  // 7 bands of 9 bits — pigeonhole-lossless for Hamming ≤ 6 (≤ 6
  // differing bits leave ≥ 1 of 7 bands intact) — then the exact
  // popcount verifies. Identical plan shape to q35/q36: hash map-side,
  // band-bucket equi-join, never an all-pairs product; the verify input
  // is band-bounded at any corpus scale.
  // ---------------------------------------------------------------------
  private val PhN = 16
  private val PhScale = 16384L // 2^14 fixed-point cosine scale
  private val PhBands = 7
  private val PhBandBits = 9   // 7×9 = 63 bits
  private val PhHamMax = 6L

  /** Integer DCT-II cosine table, PhCos(x·16+u) = round(cos((2x+1)uπ/32)
    * ·2¹⁴) — computed once here and embedded as literals in the oracle,
    * so both engines share bit-identical constants.
    */
  private[graft] val PhCos: Array[Long] = Array.tabulate(PhN * PhN) { i =>
    val x = i / PhN
    val u = i % PhN
    Math.round(math.cos((2 * x + 1) * u * math.Pi / (2.0 * PhN)) * PhScale)
  }

  private[graft] def synthPhashBmp(docId: Long): Array[Byte] = {
    val fam = docId % 50
    val px = Array.tabulate(PhN * PhN) { i =>
      val x = i % PhN
      val y = i / PhN
      val noise =
        if ((3 * x + 5 * y) % 11 == docId % 11) docId % 5 else 0L
      // family enters the SPATIAL FREQUENCIES (quadratic chirps), not
      // just a brightness offset — pHash is DC-blind by construction, so
      // a constant-offset family would (correctly) collide across
      // families
      val v = ((11 * fam + (x * x * (1 + fam % 5)) % 97 +
        (y * y * (2 + fam % 7)) % 89 + (x * y * (1 + fam % 3)) % 13 +
        5 * x + 9 * y + noise) % 256).toInt
      (v << 16) | (v << 8) | v
    }
    graft.functions.BmpImage.encode(
      graft.functions.BmpImage.Bmp(PhN, PhN, px))
  }

  /** 63-bit pHash off decoded BMP bytes (bits 0..62; bit u·8+v−1 set when
    * AC(u,v) exceeds the median).
    */
  private[graft] def phash64(bytes: Array[Byte]): Long = {
    val img = graft.functions.BmpImage.decode(bytes)
    require(img.width == PhN && img.height == PhN,
      s"pHash input must be ${PhN}x$PhN")
    val g = img.pixels.map(_ & 0xff) // R=G=B by synthesis: gray = low byte
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) {
          var s = 0L
          var y = 0
          while (y < PhN) {
            var x = 0
            while (x < PhN) {
              s += g(y * PhN + x) * PhCos(x * PhN + u) * PhCos(y * PhN + v)
              x += 1
            }
            y += 1
          }
          f(u * 8 + v) = s
        }
        v += 1
      }
      u += 1
    }
    val m = (1 until 64).map(f).sorted.apply(31) // exact integer median
    var h = 0L
    var i = 1
    while (i < 64) {
      if (f(i) > m) h |= 1L << (i - 1)
      i += 1
    }
    h
  }

  private val q210 = QueryDef(
    "q210_image_phash_dedup",
    (spark, dir) => {
      import spark.implicits._
      val hashes = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, phash64(synthPhashBmp(id)))))
        .toDF("doc_id", "h")
        .persist()
      val bandCols = (0 until PhBands).map(b =>
        struct(lit(b).as("band"),
          shiftright($"h", b * PhBandBits)
            .bitwiseAND(lit((1L << PhBandBits) - 1)).as("bits")))
      val bands = hashes
        .select($"doc_id", $"h", explode(array(bandCols: _*)).as("bb"))
        .select($"doc_id", $"h", $"bb.band".as("band"), $"bb.bits".as("bits"))
      val pairs = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
          col("a.h").as("ha"), col("b.h").as("hb"))
        .distinct()
        .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
        .filter($"hamming" <= PhHamMax)
        .select($"i", $"j", $"hamming")
      Scoped.materialize(hashes)(pairs).orderBy($"i", $"j")
    },
    Some {
      val cosLit = (0 until PhN * PhN).map { i =>
        s"{'x':${i / PhN},'u':${i % PhN},'c':${PhCos((i / PhN) * PhN + (i % PhN))}}"
      }.mkString(",")
      s"""
      WITH cos_t AS (
        SELECT u.x AS x, u.u AS u, u.c AS c FROM (
          SELECT unnest([$cosLit]) AS u)),
      px AS (
        SELECT doc_id, i % $PhN AS x, i // $PhN AS y,
               (11 * (doc_id % 50)
                + ((i % $PhN) * (i % $PhN) * (1 + (doc_id % 50) % 5)) % 97
                + ((i // $PhN) * (i // $PhN) * (2 + (doc_id % 50) % 7)) % 89
                + ((i % $PhN) * (i // $PhN) * (1 + (doc_id % 50) % 3)) % 13
                + 5 * (i % $PhN) + 9 * (i // $PhN)
                + CASE WHEN (3 * (i % $PhN) + 5 * (i // $PhN)) % 11
                         = doc_id % 11
                       THEN doc_id % 5 ELSE 0 END) % 256 AS g
        FROM (SELECT doc_id, unnest(range(0, ${PhN * PhN})) AS i
              FROM documents)),
      coef AS (
        SELECT p.doc_id, cu.u AS u, cv.u AS v,
               sum(p.g * cu.c * cv.c) AS f
        FROM px p
        JOIN cos_t cu ON cu.x = p.x AND cu.u < 8
        JOIN cos_t cv ON cv.x = p.y AND cv.u < 8
        WHERE NOT (cu.u = 0 AND cv.u = 0)
        GROUP BY 1, 2, 3),
      med AS (
        SELECT doc_id, f AS m FROM (
          SELECT doc_id, f,
                 row_number() OVER (PARTITION BY doc_id ORDER BY f, u, v)
                   AS rn
          FROM coef)
        WHERE rn = 32),
      hs AS (
        SELECT c.doc_id,
               sum(CASE WHEN c.f > med.m
                   THEN CAST(1 AS BIGINT) << (c.u * 8 + c.v - 1)
                   ELSE 0 END) AS h
        FROM coef c JOIN med ON med.doc_id = c.doc_id
        GROUP BY 1),
      bands AS (
        SELECT doc_id, h, b, (h >> (CAST($PhBandBits AS INT) * b))
                 & ${(1L << PhBandBits) - 1} AS bits
        FROM hs, (SELECT unnest(range(0, $PhBands)) AS b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j, a.h AS ha, b.h AS hb
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id)
      SELECT i, j, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(ha, hb)) <= $PhHamMax
      ORDER BY i, j"""
    })

  // ---------------------------------------------------------------------
  // q215 — COMPRESSED AUDIO decode (functions.ImaAdpcm): IMA/DVI ADPCM,
  // WAVE format tag 0x0011 — the audio counterpart of the video stack's
  // RLE8/MJPEG, closing the "compressed payloads" gap for sound. Per
  // doc, a synthesized multi-block ADPCM WAV (nibble codes, initial
  // predictor and step index all from (doc, block, i) recurrences)
  // decodes END TO END: RIFF walk, fmt-0x0011 validation, fact-chunk
  // frame-count cross-check, per-block header parse, and the public-spec
  // step/index recurrence per 4-bit code with 16-bit saturation. The
  // decoder is EXACT integer math, so the DuckDB oracle folds the
  // IDENTICAL recurrence over the analytically-known nibbles with
  // list_reduce (step table embedded literally) and hash-matches every
  // sample: end predictor, end index, absolute sample mass and a
  // position-weighted sample hash per block. A wrong step-table entry,
  // clamp bound, nibble order within a byte, or sign bit breaks the
  // compare. Decode is pure per-partition map work: no shuffle.
  // ---------------------------------------------------------------------
  final case class AdpcmBlockFeatures(
      doc_id: Long, block_idx: Long, n_samples: Long,
      end_pred: Long, end_index: Long, sum_abs: Long, pos_hash: Long)

  private val AdpcmNibbles = 64

  private[graft] def synthAdpcmWav(docId: Long): Array[Byte] = {
    import graft.functions.ImaAdpcm
    val nBlocks = (2 + docId % 3).toInt
    val blocks = Seq.tabulate(nBlocks) { blk =>
      ImaAdpcm.Block(
        ((docId * 19 + blk * 11) % 65536 - 32768).toShort,
        ((docId + blk) % 89).toInt,
        Array.tabulate(AdpcmNibbles)(i =>
          ((docId * 7 + blk * 3 + i * 5) % 16).toByte))
    }
    ImaAdpcm.encodeWav(8000, blocks)
  }

  private val q215 = QueryDef(
    "q215_wav_adpcm_decode",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.ImaAdpcm
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthAdpcmWav(id))))
      assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val wav = ImaAdpcm.decodeWav(bytes)
        wav.blocks.iterator.zipWithIndex.map { case (b, blk) =>
          val samples = ImaAdpcm.decodeBlock(b)
          var sumAbs, posHash = 0L
          var k = 0
          while (k < samples.length) {
            sumAbs += math.abs(samples(k).toLong)
            posHash += (k + 1).toLong * (samples(k).toLong + 32768L)
            k += 1
          }
          // end state: re-run the fold's tail values off the last sample
          var p: Int = b.pred0
          var x = b.index0
          var i = 0
          while (i < b.nibbles.length) {
            val (p1, x1) = ImaAdpcm.step(p, x, b.nibbles(i) & 0x0f)
            p = p1; x = x1; i += 1
          }
          AdpcmBlockFeatures(id, blk.toLong, samples.length.toLong,
            p.toLong, x.toLong, sumAbs, posHash)
        }
      }).toDF().orderBy($"doc_id", $"block_idx")
    },
    Some {
      val steps = graft.functions.ImaAdpcm.StepTable.mkString("[", ",", "]")
      val idxTab = graft.functions.ImaAdpcm.IndexTable.mkString("[", ",", "]")
      val nullB = "CAST(NULL AS BIGINT)"
      s"""
      WITH p AS (
        SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS nb FROM documents),
      b AS (SELECT doc_id, unnest(range(0, nb)) AS blk FROM p),
      ini AS (
        SELECT doc_id, blk,
               (doc_id * 19 + blk * 11) % 65536 - 32768 AS pred0,
               (doc_id + blk) % 89 AS idx0
        FROM b),
      folded AS (
        SELECT doc_id, blk,
               list_reduce(
                 list_prepend(
                   {'p': pred0, 'x': idx0, 'k': CAST(1 AS BIGINT),
                    'sa': abs(pred0), 'ph': pred0 + 32768, 'n': $nullB},
                   list_transform(range(0, $AdpcmNibbles),
                     i -> {'p': $nullB, 'x': $nullB, 'k': $nullB,
                           'sa': $nullB, 'ph': $nullB,
                           'n': (doc_id * 7 + blk * 3 + i * 5) % 16})),
                 (a, e) -> list_transform([$steps[a.x + 1]], s ->
                   list_transform([e.n % 8], d ->
                     list_transform([s // 8
                         + CASE WHEN d >= 4 THEN s ELSE 0 END
                         + CASE WHEN d % 4 >= 2 THEN s // 2 ELSE 0 END
                         + CASE WHEN d % 2 = 1 THEN s // 4 ELSE 0 END], v ->
                       list_transform([least(greatest(
                           CASE WHEN e.n >= 8 THEN a.p - v ELSE a.p + v END,
                           -32768), 32767)], p1 ->
                         {'p': p1,
                          'x': least(greatest(a.x + $idxTab[d + 1], 0), 88),
                          'k': a.k + 1,
                          'sa': a.sa + abs(p1),
                          'ph': a.ph + (a.k + 1) * (p1 + 32768),
                          'n': $nullB})[1])[1])[1])[1]) AS r
        FROM ini)
      SELECT doc_id, blk AS block_idx,
             CAST(1 + $AdpcmNibbles AS BIGINT) AS n_samples,
             CAST(r['p'] AS BIGINT) AS end_pred,
             CAST(r['x'] AS BIGINT) AS end_index,
             CAST(r['sa'] AS BIGINT) AS sum_abs,
             CAST(r['ph'] AS BIGINT) AS pos_hash
      FROM folded ORDER BY doc_id, block_idx"""
    })

  // ---------------------------------------------------------------------
  // q121 — WebDataset shard packing (functions.Ustar): the EXPORT format
  // of large multimodal training pipelines — samples packed as members of
  // plain POSIX tar files ("shards"), read sequentially at training time.
  // Each document becomes a `<doc_id>.txt` member; shard assignment and
  // within-shard order reuse q111's salted-hash shuffle discipline (never
  // `rand()`), so archive bytes are a pure function of the corpus. The
  // engine BUILDS each shard as real ustar bytes, then PARSES them back
  // with the independent header walker — n_valid counts members whose
  // stored header checksum and magic re-verify, and content_hash is a
  // position-weighted hash over the ROUND-TRIPPED payload bytes, so any
  // mis-write or mis-parse (octal fields, block padding, trailer) breaks
  // the oracle compare. The oracle recomputes the census arithmetically:
  // archive size is 2 trailer blocks + per member one header block plus
  // the payload rounded up to 512.
  //
  // Scale shape: one shuffle (the shard groupBy). The per-shard aggregate
  // is bounded by design — WebDataset pins shard SIZE (~1 GB) and grows
  // the shard COUNT with the corpus, so the member list a task packs
  // stays executor-sized at any corpus scale; a production exporter
  // streams members to the shard file instead of materializing bytes.
  // ---------------------------------------------------------------------
  private val TarSalt = "wds42:"
  private val TarShards = 8L

  final case class TarShardCensus(
      shard: Long, n_members: Long, payload_bytes: Long,
      archive_bytes: Long, n_valid: Long, content_hash: Long)

  private val q121 = QueryDef(
    "q121_webdataset_shards",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{Portable, Ustar}
      val members = Tables.documents(spark, dir)
        .withColumn("oh",
          Portable.md5Hash64(concat(lit(TarSalt), $"doc_id".cast("string"))))
        .withColumn("shard", pmod($"oh", lit(TarShards)))
        .groupBy($"shard")
        .agg(sort_array(collect_list(struct($"oh", $"doc_id", $"text")))
          .as("ms"))
        .as[(Long, Seq[(Long, Long, String)])]
      members.map { case (shard, ms) =>
        val tar = Ustar.encode(ms.map { case (_, id, text) =>
          Ustar.Member(f"$id%012d.txt",
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
        val entries = Ustar.parse(tar)
        var payload = 0L
        var valid = 0L
        var chash = 0L
        var i = 0
        while (i < entries.length) {
          val e = entries(i)
          payload += e.size
          if (e.checksumOk && e.magicOk && e.name.endsWith(".txt")) valid += 1
          val h = Portable.md5Hash64Jvm(
            new String(e.payload, java.nio.charset.StandardCharsets.UTF_8))
          chash = (chash + ((i + 1).toLong % Portable.P) * (h % Portable.P)) %
            Portable.P
          i += 1
        }
        TarShardCensus(shard, entries.length.toLong, payload,
          tar.length.toLong, valid, chash)
      }.toDF().orderBy($"shard")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, text,
               ${graft.functions.Portable.md5Hash64Sql(
                 s"'$TarSalt' || CAST(doc_id AS VARCHAR)")} AS oh,
               strlen(text) AS nb
        FROM documents),
      s AS (
        SELECT *, oh % $TarShards AS shard,
               row_number() OVER (
                 PARTITION BY oh % $TarShards ORDER BY oh, doc_id) AS rn
        FROM h)
      SELECT shard,
             count(*) AS n_members,
             CAST(sum(nb) AS BIGINT) AS payload_bytes,
             CAST(1024 + sum(512 + 512 * ((nb + 511) // 512)) AS BIGINT)
               AS archive_bytes,
             count(*) AS n_valid,
             CAST(sum(((rn % ${graft.functions.Portable.P}) *
                       (${graft.functions.Portable.md5Hash64Sql("text")}
                        % ${graft.functions.Portable.P}))
                      % ${graft.functions.Portable.P})
                  % ${graft.functions.Portable.P} AS BIGINT) AS content_hash
      FROM s GROUP BY shard ORDER BY shard"""))

  // ---------------------------------------------------------------------
  // q216 — MULTIMODAL WebDataset shards: q121's tar export carrying what
  // multimodal training shards actually hold — per sample a .bmp image
  // (the q210 synthesis), a .wav audio clip (the q215 ADPCM synthesis)
  // and the .txt document, packed as adjacent members of the same POSIX
  // ustar shard (the WebDataset sample-grouping contract). The engine
  // BUILDS real binary payloads, packs them, PARSES the shard back and
  // validates every member three ways: stored header checksum, magic,
  // and payload size against the per-modality analytic size law (BMP =
  // 54 + stride·h fixed by the 16×16 synth; ADPCM WAV = 60 + 36·blocks;
  // txt = utf-8 byte length). The oracle reproduces the census — member
  // counts, payload/archive byte totals from the tar block arithmetic,
  // and a position-weighted text-content hash where each .txt member's
  // weight is its exact member INDEX within the sorted shard (bmp <
  // txt < wav per sample) — so a mis-ordered, mis-sized or mis-padded
  // member breaks the compare. Same scale shape as q121: one shuffle,
  // shard count grows with the corpus, per-shard state bounded.
  // ---------------------------------------------------------------------
  final case class MmShardCensus(
      shard: Long, n_members: Long, n_valid: Long, payload_bytes: Long,
      archive_bytes: Long, text_hash: Long)

  private val q216 = QueryDef(
    "q216_multimodal_shards",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{Portable, Ustar}
      val members = Tables.documents(spark, dir)
        .withColumn("oh",
          Portable.md5Hash64(concat(lit(TarSalt), $"doc_id".cast("string"))))
        .withColumn("shard", pmod($"oh", lit(TarShards)))
        .groupBy($"shard")
        .agg(sort_array(collect_list(struct($"oh", $"doc_id", $"text")))
          .as("ms"))
        .as[(Long, Seq[(Long, Long, String)])]
      members.map { case (shard, ms) =>
        val tar = Ustar.encode(ms.flatMap { case (_, id, text) =>
          Seq(
            Ustar.Member(f"$id%012d.bmp", synthPhashBmp(id)),
            Ustar.Member(f"$id%012d.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
            Ustar.Member(f"$id%012d.wav", synthAdpcmWav(id)))
        })
        val entries = Ustar.parse(tar)
        var payload = 0L
        var valid = 0L
        var thash = 0L
        var i = 0
        while (i < entries.length) {
          val e = entries(i)
          payload += e.size
          val id = e.name.takeWhile(_ != '.').toLong
          val sizeOk = e.name.drop(12) match {
            case ".bmp" => e.size == 54 + 48 * 16
            case ".wav" => e.size == 60 + 36 * (2 + id % 3)
            case ".txt" => e.size == e.payload.length
            case _ => false
          }
          if (e.checksumOk && e.magicOk && sizeOk) valid += 1
          if (e.name.endsWith(".txt")) {
            val h = Portable.md5Hash64Jvm(
              new String(e.payload, java.nio.charset.StandardCharsets.UTF_8))
            thash = (thash + ((i + 1).toLong % Portable.P) * (h % Portable.P)) %
              Portable.P
          }
          i += 1
        }
        MmShardCensus(shard, entries.length.toLong, valid, payload,
          tar.length.toLong, thash)
      }.toDF().orderBy($"shard")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, text,
               ${graft.functions.Portable.md5Hash64Sql(
                 s"'$TarSalt' || CAST(doc_id AS VARCHAR)")} AS oh,
               strlen(text) AS nb,
               CAST(54 + 48 * 16 AS BIGINT) AS bmp_b,
               60 + 36 * (2 + doc_id % 3) AS wav_b
        FROM documents),
      s AS (
        SELECT *, oh % $TarShards AS shard,
               row_number() OVER (
                 PARTITION BY oh % $TarShards ORDER BY oh, doc_id) AS rn
        FROM h)
      SELECT shard,
             CAST(3 * count(*) AS BIGINT) AS n_members,
             CAST(3 * count(*) AS BIGINT) AS n_valid,
             CAST(sum(nb + bmp_b + wav_b) AS BIGINT) AS payload_bytes,
             CAST(1024 + sum(3 * 512
                    + 512 * ((nb + 511) // 512)
                    + 512 * ((bmp_b + 511) // 512)
                    + 512 * ((wav_b + 511) // 512)) AS BIGINT)
               AS archive_bytes,
             CAST(sum((((3 * (rn - 1) + 2) % ${graft.functions.Portable.P}) *
                       (${graft.functions.Portable.md5Hash64Sql("text")}
                        % ${graft.functions.Portable.P}))
                      % ${graft.functions.Portable.P})
                  % ${graft.functions.Portable.P} AS BIGINT) AS text_hash
      FROM s GROUP BY shard ORDER BY shard"""))

  // ---------------------------------------------------------------------
  // q217 — SHOT-BOUNDARY DETECTION: the video-curation segmenter — per
  // adjacent decoded frame pair, the sum of absolute per-channel pixel
  // differences (SAD), normalized per pixel, thresholded into cut/no-cut
  // — how a video training pipeline splits footage into shots before
  // sampling clips. Frames synthesize in 3-frame shots: within a shot
  // only a ±2 per-channel wiggle moves, across a shot boundary the base
  // pattern jumps — so detected boundaries must land exactly at frame
  // indices 3 and 6 (spec-asserted). The decode is the REAL raw-DIB
  // path (RiffAvi.decodeFrames); SAD runs inside the same per-partition
  // map — no pixel explode, no shuffle — and the oracle recomputes
  // every |Δ| analytically from the synthesis recurrence.
  // ---------------------------------------------------------------------
  final case class ShotFrameDelta(
      doc_id: Long, frame_idx: Long, n_px: Long, sad: Long,
      sad_milli_per_px: Long, is_boundary: Long)

  private val ShotCutMilli = 50000L
  private val ShotFrames = 9

  private[graft] def synthShotAvi(docId: Long): Array[Byte] = {
    import graft.functions.RiffAvi
    val w = (8 + docId % 5).toInt
    val h = (6 + docId % 3).toInt
    val frames = Seq.tabulate(ShotFrames) { f =>
      val shot = f / 3
      Array.tabulate(w * h) { i =>
        val x = i % w
        val y = i / w
        val r = ((docId * 13 + shot * 71 + 5 * x + y + 2 * (f % 3)) % 256).toInt
        val g = ((docId * 11 + shot * 97 + x + 2 * y + (f % 3)) % 256).toInt
        val b = ((docId * 7 + shot * 53 + 3 * x + 5 * y + 2 * (f % 3)) % 256).toInt
        (r << 16) | (g << 8) | b
      }
    }
    RiffAvi.encodeDib(w, h, 33333, frames)
  }

  private val q217 = QueryDef(
    "q217_shot_boundaries",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.RiffAvi
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthShotAvi(id))))
      assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val v = RiffAvi.decodeFrames(bytes)
        val nPx = (v.width * v.height).toLong
        (1 until v.frames.size).iterator.map { f =>
          val a = v.frames(f - 1)
          val b = v.frames(f)
          var sad = 0L
          var i = 0
          while (i < a.length) {
            val pa = a(i); val pb = b(i)
            sad += math.abs(((pa >> 16) & 0xff) - ((pb >> 16) & 0xff))
            sad += math.abs(((pa >> 8) & 0xff) - ((pb >> 8) & 0xff))
            sad += math.abs((pa & 0xff) - (pb & 0xff))
            i += 1
          }
          val milli = 1000L * sad / nPx
          ShotFrameDelta(id, f.toLong, nPx, sad, milli,
            if (milli > ShotCutMilli) 1L else 0L)
        }
      }).toDF().orderBy($"doc_id", $"frame_idx")
    },
    Some(s"""
      WITH p AS (
        SELECT doc_id,
               CAST(8 + doc_id % 5 AS BIGINT) AS w,
               CAST(6 + doc_id % 3 AS BIGINT) AS h
        FROM documents),
      f AS (
        SELECT doc_id, w, h, unnest(range(1, $ShotFrames)) AS fi
        FROM p),
      px AS (
        SELECT doc_id, w, h, fi, unnest(range(0, w * h)) AS i
        FROM f),
      d AS (
        SELECT doc_id, w, h, fi,
               abs((doc_id * 13 + (fi // 3) * 71 + 5 * (i % w) + (i // w)
                    + 2 * (fi % 3)) % 256
                 - (doc_id * 13 + ((fi - 1) // 3) * 71 + 5 * (i % w)
                    + (i // w) + 2 * ((fi - 1) % 3)) % 256)
               + abs((doc_id * 11 + (fi // 3) * 97 + (i % w) + 2 * (i // w)
                      + (fi % 3)) % 256
                 - (doc_id * 11 + ((fi - 1) // 3) * 97 + (i % w)
                    + 2 * (i // w) + ((fi - 1) % 3)) % 256)
               + abs((doc_id * 7 + (fi // 3) * 53 + 3 * (i % w) + 5 * (i // w)
                      + 2 * (fi % 3)) % 256
                 - (doc_id * 7 + ((fi - 1) // 3) * 53 + 3 * (i % w)
                    + 5 * (i // w) + 2 * ((fi - 1) % 3)) % 256) AS ad
        FROM px)
      SELECT doc_id, fi AS frame_idx,
             CAST(w * h AS BIGINT) AS n_px,
             CAST(sum(ad) AS BIGINT) AS sad,
             CAST((1000 * sum(ad)) // (w * h) AS BIGINT) AS sad_milli_per_px,
             CAST(CASE WHEN (1000 * sum(ad)) // (w * h) > $ShotCutMilli
                  THEN 1 ELSE 0 END AS BIGINT) AS is_boundary
      FROM d GROUP BY doc_id, fi, w, h
      ORDER BY doc_id, frame_idx"""))

  // ---------------------------------------------------------------------
  // q141 — image RESIZE/feature-extract (mean-pool): the decoded q109
  // BMP down-sampled to a 2×2 grid — each cell is the floored per-channel
  // mean over its pixel region (cell = ((x·2)÷w, (y·2)÷h), the standard
  // adaptive-pool partition, exact under integer arithmetic for any
  // w×h). Pooling happens INSIDE the per-partition decode (no pixel
  // explode, no shuffle) — the scale-right shape for a resize stage:
  // per-asset work is O(pixels), output is O(assets·grid). The oracle
  // recomputes every cell from the synthesis recurrence, so a pool that
  // assigns even one boundary pixel to the wrong cell breaks the hash.
  // ---------------------------------------------------------------------
  final case class PoolCell(
      doc_id: Long, cy: Int, cx: Int, n_px: Long,
      sum_r: Long, sum_g: Long, sum_b: Long,
      mean_r: Long, mean_g: Long, mean_b: Long)

  private val q141 = QueryDef(
    "q141_image_pool",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.BmpImage
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthBmp(id))))
      assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val img = BmpImage.decode(bytes)
        val w = img.width
        val h = img.height
        val sumR, sumG, sumB, nPx = Array.ofDim[Long](4)
        var i = 0
        while (i < img.pixels.length) {
          val cell = ((i / w) * 2 / h) * 2 + (i % w) * 2 / w
          val p = img.pixels(i)
          sumR(cell) += (p >> 16) & 0xff
          sumG(cell) += (p >> 8) & 0xff
          sumB(cell) += p & 0xff
          nPx(cell) += 1
          i += 1
        }
        (0 until 4).map { c =>
          PoolCell(id, c / 2, c % 2, nPx(c), sumR(c), sumG(c), sumB(c),
            sumR(c) / nPx(c), sumG(c) / nPx(c), sumB(c) / nPx(c))
        }
      }).toDF().orderBy($"doc_id", $"cy", $"cx")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CAST(3 + doc_id % 13 AS BIGINT) AS w,
               CAST(2 + doc_id % 7 AS BIGINT) AS h
        FROM documents),
      g AS (
        SELECT p.*, cyt.cy, cxt.cx,
               list_filter(range(0, w * h),
                 i -> ((i % w) * 2) // w = cxt.cx
                  AND ((i // w) * 2) // h = cyt.cy) AS pix
        FROM p
        CROSS JOIN (SELECT unnest([0, 1]) AS cy) cyt
        CROSS JOIN (SELECT unnest([0, 1]) AS cx) cxt)
      SELECT doc_id, cy, cx, CAST(len(pix) AS BIGINT) AS n_px,
             CAST(list_sum(list_transform(pix,
               i -> (doc_id * 13 + 5 * (i % w) + (i // w)) % 256)) AS BIGINT) AS sum_r,
             CAST(list_sum(list_transform(pix,
               i -> (doc_id * 11 + (i % w) + 2 * (i // w)) % 256)) AS BIGINT) AS sum_g,
             CAST(list_sum(list_transform(pix,
               i -> (doc_id * 7 + 3 * (i % w) + 5 * (i // w)) % 256)) AS BIGINT) AS sum_b,
             CAST(list_sum(list_transform(pix,
               i -> (doc_id * 13 + 5 * (i % w) + (i // w)) % 256)) AS BIGINT)
               // CAST(len(pix) AS BIGINT) AS mean_r,
             CAST(list_sum(list_transform(pix,
               i -> (doc_id * 11 + (i % w) + 2 * (i // w)) % 256)) AS BIGINT)
               // CAST(len(pix) AS BIGINT) AS mean_g,
             CAST(list_sum(list_transform(pix,
               i -> (doc_id * 7 + 3 * (i % w) + 5 * (i // w)) % 256)) AS BIGINT)
               // CAST(len(pix) AS BIGINT) AS mean_b
      FROM g ORDER BY doc_id, cy, cx"""))

  // ---------------------------------------------------------------------
  // q142 — audio windowed energy: the decoded q107 WAV framed into
  // 256-sample windows (flat interleaved index, trailing partial window
  // kept); per window the exact integer energy Σs² and peak |s| — the
  // short-time-energy pass upstream of any VAD/silence-trim stage.
  // Framing happens inside the per-partition decode (no sample explode,
  // no shuffle): per-asset work is O(samples), output O(assets·windows).
  // The oracle recomputes each window from the synthesis recurrence.
  // ---------------------------------------------------------------------
  final case class AudioWindow(
      doc_id: Long, win_idx: Long, n_samples: Long, energy: Long, peak: Long)

  private val WinLen = 256

  private val q142 = QueryDef(
    "q142_audio_energy",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.RiffWav
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthWav(id))))
      assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val w = RiffWav.decode(bytes)
        w.samples.grouped(WinLen).zipWithIndex.map { case (chunk, win) =>
          AudioWindow(id, win.toLong, chunk.length.toLong,
            chunk.map(s => s.toLong * s).sum,
            chunk.map(s => math.abs(s.toLong)).max)
        }
      }).toDF().orderBy($"doc_id", $"win_idx")
    },
    Some(s"""
      WITH p AS (
        SELECT doc_id,
               (200 + doc_id % 800) * (1 + doc_id % 2) AS n_samp
        FROM documents),
      w AS (
        SELECT doc_id, n_samp,
               unnest(range(0, (n_samp + ${WinLen - 1}) // $WinLen)) AS win_idx
        FROM p),
      s AS (
        SELECT doc_id, win_idx,
               list_transform(
                 range(win_idx * $WinLen, least((win_idx + 1) * $WinLen, n_samp)),
                 i -> (doc_id * 31 + i * 17) % 2003 - 1001) AS vals
        FROM w)
      SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
             CAST(len(vals) AS BIGINT) AS n_samples,
             CAST(list_sum(list_transform(vals, v -> v * v)) AS BIGINT) AS energy,
             CAST(list_max(list_transform(vals, v -> abs(v))) AS BIGINT) AS peak
      FROM s ORDER BY doc_id, win_idx"""))

  // ---------------------------------------------------------------------
  // q224 — SPECTRAL BAND ENERGIES via fixed-point Goertzel
  // (functions.Goertzel; VERDICT r8 "Next round" #4): the ASR-prep
  // feature operator between q142's time-domain energy and a full mel
  // filterbank — per 256-sample frame of the decoded WAV, the energy at
  // 8 fixed voice-band center frequencies. All arithmetic is int64: the
  // per-band 2·cos coefficients are scaled/rounded ONCE in Scala and
  // embedded literally in the oracle (the q210 cosine-table trick), and
  // the recurrence's only rounding — floor division by 2^Shift — is the
  // arithmetic right shift both engines implement identically. The
  // oracle replays the IDENTICAL integer recurrence over the
  // analytically-known synth samples with list_reduce (the q215
  // pattern), so a wrong coefficient, shift, frame boundary, or power
  // formula breaks the hash. Framing lives inside the per-partition
  // decode (no sample explode, no shuffle): per-asset work is
  // O(samples·bands), output O(assets·frames·bands). The spec pins
  // band semantics independently: a synthesized pure tone at each band
  // center dominates that band.
  // ---------------------------------------------------------------------
  final case class AudioBand(
      doc_id: Long, win_idx: Long, band: Long, power: Long)

  private val q224 = QueryDef(
    "q224_audio_band_energy",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{Goertzel, RiffWav}
      val assets: Dataset[(Long, Array[Byte])] = Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map(id => (id, synthWav(id))))
      assets.mapPartitions(_.flatMap { case (id, bytes) =>
        val w = RiffWav.decode(bytes)
        val xs = new Array[Int](w.samples.length)
        var i = 0
        while (i < xs.length) { xs(i) = w.samples(i).toInt; i += 1 }
        val nWin = (xs.length + WinLen - 1) / WinLen
        (0 until nWin).iterator.flatMap { win =>
          val from = win * WinLen
          val until = math.min(from + WinLen, xs.length)
          val p = Goertzel.framePowers(xs, from, until)
          p.indices.map(b => AudioBand(id, win.toLong, b.toLong, p(b)))
        }
      }).toDF().orderBy($"doc_id", $"win_idx", $"band")
    },
    Some {
      import graft.functions.Goertzel
      val bandLit = Goertzel.Coef.zipWithIndex
        .map { case (c, b) => s"{'band': $b, 'c': ${c}}" }.mkString(",")
      val sh = Goertzel.Shift
      val nullB = "CAST(NULL AS BIGINT)"
      s"""
      WITH p AS (
        SELECT doc_id,
               (200 + doc_id % 800) * (1 + doc_id % 2) AS n_samp
        FROM documents),
      w AS (
        SELECT doc_id, n_samp,
               unnest(range(0, (n_samp + ${WinLen - 1}) // $WinLen)) AS win_idx
        FROM p),
      f AS (
        SELECT doc_id, win_idx, bt.b['band'] AS band, bt.b['c'] AS c,
               list_reduce(
                 list_prepend(
                   {'s1': CAST(0 AS BIGINT), 's2': CAST(0 AS BIGINT)},
                   list_transform(
                     range(win_idx * $WinLen,
                           least((win_idx + 1) * $WinLen, n_samp)),
                     i -> {'s1': (doc_id * 31 + i * 17) % 2003 - 1001,
                           's2': $nullB})),
                 -- prev captures a.s1 through a 1-element list_transform
                 -- (the q215 trick): naming a.s1 both raw and inside
                 -- another field's expression trips a DuckDB v1.0 struct
                 -- CSE bug that aliases the two fields
                 (a, e) -> list_transform([a.s1], prev ->
                   {'s1': e.s1 + ((c * prev) >> $sh) - a.s2,
                    's2': prev})[1]) AS r
        FROM w, (SELECT unnest([$bandLit]) AS b) AS bt)
      SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
             CAST(band AS BIGINT) AS band,
             CAST(r['s1'] * r['s1'] + r['s2'] * r['s2']
                - ((c * r['s1']) >> $sh) * r['s2'] AS BIGINT) AS power
      FROM f ORDER BY doc_id, win_idx, band"""
    })

  /** Typed row for the q198 A/V sync audit. */
  final case class AvSync(
      doc_id: Long, audio_ms: Long, video_ms: Long,
      delta_ms: Long, in_sync: Long)

  // ---------------------------------------------------------------------
  // q198 — AUDIO/VIDEO SYNC AUDIT: each doc's WAV and raw-DIB AVI are
  // decoded by BOTH real parsers in one per-partition pass and their
  // DURATIONS compared — the first QA gate any multimodal ingest runs
  // (a track pair whose lengths disagree is mis-muxed or truncated; at
  // corpus scale the flagged slice is what a human ever looks at).
  // Durations are exact integer ms from decoded header fields (frames ×
  // 1000 div rate; frames × usecPerFrame div 1000), so the audit is
  // hash-stable; the fixture's streams are synthesized independently,
  // so genuine mismatches exist and the flag column is non-degenerate
  // in both directions. Pure map work — the q107/q116 envelope, two
  // decoders amortized over one pass.
  // ---------------------------------------------------------------------
  private val SyncToleranceMs = 50L
  private val q198 = QueryDef(
    "q198_av_sync",
    (spark, dir) => {
      import spark.implicits._
      import graft.functions.{RiffAvi, RiffWav}
      Tables.documents(spark, dir)
        .select($"doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val w = RiffWav.decode(synthWav(id))
          val v = RiffAvi.decodeFrames(synthAviDib(id))
          val audioMs = (w.samples.length / w.channels).toLong * 1000L / w.sampleRate
          val videoMs = v.frames.length.toLong * v.usecPerFrame / 1000L
          val delta = audioMs - videoMs
          AvSync(id, audioMs, videoMs, delta,
            if (math.abs(delta) <= SyncToleranceMs) 1L else 0L)
        }).toDF().orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
             CAST((200 + doc_id % 800) * 1000 // 8000 AS BIGINT) AS audio_ms,
             CAST((2 + doc_id % 6) * 33333 // 1000 AS BIGINT) AS video_ms,
             CAST((200 + doc_id % 800) * 1000 // 8000
                - (2 + doc_id % 6) * 33333 // 1000 AS BIGINT) AS delta_ms,
             CAST(CASE WHEN abs((200 + doc_id % 800) * 1000 // 8000
                - (2 + doc_id % 6) * 33333 // 1000) <= $SyncToleranceMs
               THEN 1 ELSE 0 END AS BIGINT) AS in_sync
      FROM documents ORDER BY doc_id"""))

  override val defs: Seq[QueryDef] =
    Seq(q44, q45, q107, q109, q110, q116, q121, q141, q142, q198, q202, q203,
      q210, q215, q216, q217, q224)
}
