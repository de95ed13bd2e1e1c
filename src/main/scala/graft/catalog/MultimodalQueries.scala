package graft.catalog

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.catalog.CatalogSupport._

/** Media codecs and curation: image/audio encode-decode, frames,
  * resize, perceptual-hash dedup and the multimodal pipeline.
  */
object MultimodalQueries extends Family {
  val name = "multimodal"

  /** Shared by q33 (hand-rolled BMP codec) and q170 (javax.imageio
    * PNG): both pack text byte i into pixel channel i mod 3 (B,G,R
    * interleaved, zero-padded to 16-px rows) inside a REAL image
    * container, and both formats are lossless — so one oracle states
    * the geometry and exact per-channel sums for either codec, and a
    * q33/q170 hash match doubles as a BmpCodec ≡ JDK-decoder
    * cross-check at the correctness gate.
    */
  private val pixelSumsOracle: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len FROM documents
      |), bytes AS (
      |  SELECT doc_id, i, ord(substr(text, CAST(i AS INTEGER), 1)) AS v
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, len)) AS i FROM d)
      |), sums AS (
      |  SELECT doc_id,
      |         SUM(CASE WHEN (i - 1) % 3 = 0 THEN v ELSE 0 END) AS sum_b,
      |         SUM(CASE WHEN (i - 1) % 3 = 1 THEN v ELSE 0 END) AS sum_g,
      |         SUM(CASE WHEN (i - 1) % 3 = 2 THEN v ELSE 0 END) AS sum_r
      |  FROM bytes GROUP BY doc_id
      |)
      |SELECT d.doc_id AS media_id,
      |       CAST(16 AS BIGINT) AS width,
      |       CAST(GREATEST((d.len + 47) // 48, 1) AS BIGINT) AS height,
      |       CAST(16 * GREATEST((d.len + 47) // 48, 1) AS BIGINT) AS n_pixels,
      |       CAST(COALESCE(s.sum_b, 0) AS BIGINT) AS sum_b,
      |       CAST(COALESCE(s.sum_g, 0) AS BIGINT) AS sum_g,
      |       CAST(COALESCE(s.sum_r, 0) AS BIGINT) AS sum_r
      |FROM d LEFT JOIN sums s USING (doc_id)
      |ORDER BY media_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    // multimodal with a REAL codec: text bytes → valid 24-bpp BMP
    // (BmpCodec.encode) → actual header parse + bottom-up row decode →
    // exact per-channel pixel sums. All-integer output; the oracle
    // recomputes the same sums from the source bytes (BMP channel j =
    // byte position mod 3; zero padding adds nothing).
    Entry("q33_multimodal_features", (s, dir) => {
      val media = Multimodal.bmpFromText(s, t(s, dir, "documents"), "doc_id", "text",
        width = 16)
      Multimodal.imageStats(media).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r"))
        .orderBy(col("media_id"))
    },
      // q33: the documents text is ASCII (verified across all SFs), so
      // ord(substr(text, i, 1)) IS the payload byte; the BMP encoder
      // places byte i (0-based) in channel i mod 3 (B,G,R) and pads the
      // last row with zeros, which add nothing to the sums.
      pixelSumsOracle),

    // multimodal frame sampling: video-typed payloads → every 2nd
    // 64-byte pseudo-frame (real frame extraction swaps into the same
    // operator position; see Multimodal scaladoc).
    Entry("q43_multimodal_frames", (s, dir) => {
      val media = Multimodal.fromText(s, t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 0), "doc_id", "text")
        .map(r => r.copy(media_type = "video"))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRecord])
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 2)
        .select(col("media_id"), col("frame_no"),
          length(col("frame_payload")).cast("long").as("frame_bytes"))
        .orderBy(col("media_id"), col("frame_no"))
    },
      // q43: frame sampling is pure integer arithmetic over the payload
      // byte length — every 2nd complete 64-byte chunk.
      """WITH d AS (
        |  SELECT doc_id, length(text) AS blen FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_no,
        |       CAST(64 AS BIGINT) AS frame_bytes
        |FROM (SELECT doc_id, unnest(generate_series(0, blen // 64 - 1, 2)) AS f FROM d)
        |ORDER BY media_id, frame_no""".stripMargin),

    // multimodal audio with a REAL second codec: text bytes → valid
    // RIFF/WAVE 16-bit mono PCM (WavCodec.encode) → actual chunk-walk
    // header parse + LE sample decode → exact integer amplitude stats.
    // The oracle recomputes them from the source bytes (sample i =
    // (byte_i − 128)·256).
    Entry("q131_audio_stats", (s, dir) => {
      val media = Multimodal.wavFromText(s, assertAscii(t(s, dir, "documents")),
        "doc_id", "text", sampleRate = 8000)
      Multimodal.audioStats(media).toDF()
        .select(col("media_id"), col("n_samples"), col("sample_rate"),
          col("duration_ms"), col("sum_abs"), col("peak_abs"), col("zero_cross"))
        .orderBy(col("media_id"))
    },
      // q131: WAV sample i = (byte_i − 128)·256; all stats are integer
      // consequences of the source bytes (zero crossings via LAG over
      // the sign test byte < 128). Zero-length docs keep all-zero rows
      // through the LEFT JOIN.
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |), bytes AS (
        |  SELECT doc_id, i, ord(substr(text, CAST(i AS INTEGER), 1)) AS v
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, len)) AS i FROM d)
        |), stats AS (
        |  SELECT doc_id,
        |         SUM(abs(v - 128)) * 256 AS sum_abs,
        |         MAX(abs(v - 128)) * 256 AS peak_abs
        |  FROM bytes GROUP BY doc_id
        |), flips AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN prev_neg IS NOT NULL
        |                   AND (v < 128) <> prev_neg THEN 1 ELSE 0 END) AS zc
        |  FROM (SELECT doc_id, v,
        |               LAG(v < 128) OVER (PARTITION BY doc_id ORDER BY i) AS prev_neg
        |        FROM bytes)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id AS media_id,
        |       CAST(d.len AS BIGINT) AS n_samples,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(d.len * 1000 // 8000 AS BIGINT) AS duration_ms,
        |       CAST(COALESCE(s.sum_abs, 0) AS BIGINT) AS sum_abs,
        |       CAST(COALESCE(s.peak_abs, 0) AS BIGINT) AS peak_abs,
        |       CAST(COALESCE(f.zc, 0) AS BIGINT) AS zero_cross
        |FROM d LEFT JOIN stats s USING (doc_id) LEFT JOIN flips f USING (doc_id)
        |ORDER BY media_id""".stripMargin),

    // multimodal resize: REAL decode → nearest-neighbor 16→8 downsample
    // (integer source indexing) → re-encode as a valid BMP → stats from
    // a SECOND real decode of the resized payload. The oracle
    // recomputes the sampled-byte sum from the source text (even source
    // columns only), so the whole decode/resample/encode/decode chain
    // is value-checked end to end.
    Entry("q147_multimodal_resize", (s, dir) => {
      import org.apache.spark.sql.Encoders
      val media = Multimodal.bmpFromText(s, assertAscii(t(s, dir, "documents")),
        "doc_id", "text", width = 16)
      val resized = Multimodal.resizeNearest(media, outWidth = 8)
        .map(r => Multimodal.MediaRecord(r.media_id, "image", r.payload,
          r.out_width, r.out_height, 0L))(
          Encoders.product[Multimodal.MediaRecord])
      Multimodal.imageStats(resized).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_pixels"),
          (col("sum_b") + col("sum_g") + col("sum_r")).as("sum_bytes"))
        .orderBy(col("media_id"))
    },
      // q147: a source byte at 0-based position i sits in pixel i//3,
      // source column (i//3) % 16; the 16→8 nearest-neighbor downsample
      // keeps even columns only. Padding bytes are zero and drop out.
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |), bytes AS (
        |  SELECT doc_id, i, ord(substr(text, CAST(i AS INTEGER), 1)) AS v
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, len)) AS i FROM d)
        |), s AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN (((i - 1) // 3) % 16) % 2 = 0 THEN v ELSE 0 END)
        |           AS sum_bytes
        |  FROM bytes GROUP BY doc_id
        |)
        |SELECT d.doc_id AS media_id,
        |       CAST(8 AS BIGINT) AS width,
        |       CAST(GREATEST((d.len + 47) // 48, 1) AS BIGINT) AS height,
        |       CAST(8 * GREATEST((d.len + 47) // 48, 1) AS BIGINT) AS n_pixels,
        |       CAST(COALESCE(s.sum_bytes, 0) AS BIGINT) AS sum_bytes
        |FROM d LEFT JOIN s USING (doc_id)
        |ORDER BY media_id""".stripMargin),

    // multimodal via the JDK's javax.imageio plugins: text bytes → a
    // REAL compressed PNG (zlib-deflated scanlines, not a raw-pixel
    // container like q33's BMP) → ImageIO decode → exact per-channel
    // pixel sums. PNG is lossless, so the oracle recomputes the sums
    // from the source bytes exactly as q33 does — the compressed-
    // format half of the multimodal decode story (JPEG rides the same
    // codec, spec-gated because it's lossy).
    Entry("q170_multimodal_png", (s, dir) => {
      // codec work is CPU-bound: fan out past the source's splits (the
      // q117/q172 discipline — an sf3 sweep measured the JPEG twin
      // at 12× on a 2-split source: 30 idle cores)
      val media = Multimodal.pngFromText(s,
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", width = 16)
      Multimodal.imageIoStats(media).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r"))
        .orderBy(col("media_id"))
    }, pixelSumsOracle),

    // the lossy half of the imageio story: text bytes → REAL JPEG
    // (DCT-quantized) → ImageIO decode. Geometry (width/height/
    // n_pixels) survives lossy compression EXACTLY, so it is oracle-
    // checked from the byte length alone (the q33/q170 height
    // arithmetic); channel values are approximate by design and stay
    // spec-gated (MultimodalSpec bounds the per-channel drift), never
    // oracle-compared.
    Entry("q171_multimodal_jpeg", (s, dir) => {
      // CPU-bound codec: explicit fan-out, see q170
      val media = Multimodal.jpegFromText(s,
        assertAscii(t(s, dir, "documents"))
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", width = 16)
      Multimodal.imageIoStats(media).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_pixels"))
        .orderBy(col("media_id"))
    },
      // q171: JPEG is lossy in VALUES but exact in GEOMETRY — the decoder
      // returns precisely the encoded raster dimensions, which are pure
      // integer arithmetic over the payload byte length (16-px rows of
      // 3-byte pixels, zero-padded, minimum one row).
      """SELECT doc_id AS media_id,
        |       CAST(16 AS BIGINT) AS width,
        |       CAST(GREATEST((length(text) + 47) // 48, 1) AS BIGINT) AS height,
        |       CAST(16 * GREATEST((length(text) + 47) // 48, 1) AS BIGINT) AS n_pixels
        |FROM documents
        |ORDER BY media_id""".stripMargin),

    // perceptual image dedup: dHash over REAL
    // decoded pixels, Hamming-banded pair join — catches the
    // resized/re-encoded copies byte-exact dedup (q23) misses. Plants:
    // factor-2 nearest resizes (re-encoded BMPs at the new geometry,
    // negative ids — the q182 convention) hash identically because the
    // 8×8 sample grid lands on the same source pixels (see
    // Multimodal.perceptualHashes); the oracle recomputes the full
    // hash/band/Hamming chain from the source bytes, so the
    // approximate result is value-checked exactly (q31/q44 style).
    Entry("q188_image_phash_dedup", (s, dir) => {
      import s.implicits._
      val media = Multimodal.bmpFromText(s, t(s, dir, "documents"),
        "doc_id", "text", width = 16)
      val plants = Multimodal.resizeNearest(
          media.filter(_.media_id % 9 == 0), outWidth = 8)
        .map(r => Multimodal.MediaRecord(-r.media_id - 1L, "image", r.payload,
          r.out_width, r.out_height, 0L))
      val hashes = Multimodal.perceptualHashes(media.union(plants))
      Multimodal.perceptualPairs(hashes.toDF(), "dhash", maxHamming = 3)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("media_a"), col("media_b"))
    },
      // q188: the dHash chain recomputed from source bytes — BMP content
      // is the text bytes zero-padded (the q33 byte-access pattern), the
      // 8×8 grid samples pixel (2·gx, gy·h//8), grays are 3-byte sums,
      // dhash bits compare horizontal neighbors. Plants (doc_id % 9 = 0,
      // media_id = -doc_id-1) reuse the original's bits: the factor-2
      // nearest resize samples the identical source pixels (engine
      // scaladoc proves the index arithmetic), so this IS the plant's
      // hash, not an assumption about it. MEMORY-FLAT SHAPE: the
      // 56 bit rows pack into ONE BIGINT per media (dh), Hamming is
      // bit_count(xor) inline in the band join — never a 56-row-per-side
      // reconstruction join — the Hamming filter runs BEFORE any dedup,
      // and each pair is emitted only from its CANONICAL (first-
      // matching) band, so no DISTINCT materializes the raw pair stream.
      // At sf10 the padding-dominated top band holds a 30 k-image bucket
      // (~1.7 B raw pairs): the prior shape OOM-killed DuckDB at 64 GB +
      // 59 GB of spill; this one streams it. Same pair set (the engine
      // mirrors the same canonical-band gate).
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         GREATEST((length(text) + 47) // 48, 1) AS h
        |  FROM documents
        |), gi AS (
        |  SELECT unnest(generate_series(0, 7)) AS i
        |), grid AS (
        |  SELECT d.doc_id, gy.i AS gy, gx.i AS gx,
        |         (CASE WHEN ((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 1 <= d.len
        |               THEN ord(substr(d.text, CAST(((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 1 AS INTEGER), 1)) ELSE 0 END)
        |       + (CASE WHEN ((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 2 <= d.len
        |               THEN ord(substr(d.text, CAST(((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 2 AS INTEGER), 1)) ELSE 0 END)
        |       + (CASE WHEN ((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 3 <= d.len
        |               THEN ord(substr(d.text, CAST(((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 3 AS INTEGER), 1)) ELSE 0 END)
        |         AS g
        |  FROM d CROSS JOIN gi gy CROSS JOIN gi gx
        |), bits AS (
        |  SELECT a.doc_id, a.gy * 7 + a.gx AS bit_idx,
        |         CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
        |  FROM grid a JOIN grid b
        |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 7
        |), dh AS (
        |  SELECT doc_id AS media_id,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << bit_idx)) AS BIGINT) AS ph
        |  FROM bits GROUP BY 1
        |), media_hash AS (
        |  SELECT media_id, ph FROM dh
        |  UNION ALL
        |  SELECT -media_id - 1, ph FROM dh WHERE media_id % 9 = 0
        |), bands AS (
        |  SELECT media_id, ph, t.b AS band,
        |         (ph >> (t.b * 16)) & 65535 AS bh
        |  FROM media_hash CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) t
        |)
        |SELECT l.media_id AS media_a, r.media_id AS media_b,
        |       CAST(bit_count(xor(l.ph, r.ph)) AS BIGINT) AS hamming
        |FROM bands l JOIN bands r
        |  ON l.band = r.band AND l.bh = r.bh AND l.media_id < r.media_id
        |WHERE bit_count(xor(l.ph, r.ph)) <= 3
        |  AND l.band = (CASE WHEN (xor(l.ph, r.ph) & 65535) = 0 THEN 0
        |                     WHEN ((xor(l.ph, r.ph) >> 16) & 65535) = 0 THEN 1
        |                     WHEN ((xor(l.ph, r.ph) >> 32) & 65535) = 0 THEN 2
        |                     ELSE 3 END)
        |ORDER BY media_a, media_b""".stripMargin),

    // multimodal curation e2e (the q198-style composition for the
    // image side): synthesize BMPs from text (q33's corpus), plant
    // factor-2 resized copies (q188's plant set), perceptual-dedup on
    // banded dhash pairs — greedy drop of every media_b, so the
    // smaller id of a near-pair survives (plants' negative ids beat
    // their sources) — then an integer brightness gate on the DECODED
    // stats (mean byte ≥ 90, cross-multiplied: Σbytes ≥ 3·n_pixels·90
    // — no division), resize the keepers to width 8 (q147 geometry;
    // identity for the already-8-wide plants) and manifest per-image
    // integer sums. Every stage is oracle-proven alone
    // (q33/q188/q147); this row pins the COMPOSITION, like q198 does
    // for the text side. Payloads never shuffle except as dedup
    // survivors; every hash/sum/gate is integer-exact on both engines.
    Entry("q200_multimodal_curation_e2e", (s, dir) => {
      import s.implicits._
      val media = Multimodal.bmpFromText(s, t(s, dir, "documents"),
        "doc_id", "text", width = 16)
      val plants = Multimodal.resizeNearest(
          media.filter(_.media_id % 9 == 0), outWidth = 8)
        .map(r => Multimodal.MediaRecord(-r.media_id - 1L, "image", r.payload,
          r.out_width, r.out_height, 0L))
      val corpus = media.union(plants)
      val dropped = Multimodal.perceptualPairs(
          Multimodal.perceptualHashes(corpus).toDF(), "dhash", maxHamming = 3)
        .select(col("media_b").as("media_id")).distinct()
      val survivors = corpus.toDF()
        .join(dropped, Seq("media_id"), "left_anti")
        .as[Multimodal.MediaRecord]
      val bright = Multimodal.imageStats(survivors).toDF()
        .filter(col("sum_b") + col("sum_g") + col("sum_r")
          >= col("n_pixels") * (3L * 90L))
        .select(col("media_id"))
      val gated = survivors.toDF()
        .join(bright, Seq("media_id"), "left_semi")
        .as[Multimodal.MediaRecord]
      Multimodal.imageStats(
          Multimodal.resizeNearest(gated, outWidth = 8)
            .map(r => Multimodal.MediaRecord(r.media_id, "image", r.payload,
              r.out_width, r.out_height, 0L)))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_pixels"),
          (col("sum_b") + col("sum_g") + col("sum_r")).as("sum_bytes"))
        .orderBy(col("media_id"))
    },
      // q200: the q188 dhash-pair chain (verbatim CTEs) feeding a greedy
      // drop of every media_b, then the brightness gate and the resized
      // manifest — both from ONE byte-sum CTE: an original's gate total
      // is all its bytes, a plant's gate total AND every survivor's
      // resized sum are the EVEN-COLUMN bytes (factor-2 nearest resize
      // samples cols 0,2,..,14, and resizing the already-8-wide plant is
      // the identity — engine scaladoc proves the index arithmetic).
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         GREATEST((length(text) + 47) // 48, 1) AS h
        |  FROM documents
        |), gi AS (
        |  SELECT unnest(generate_series(0, 7)) AS i
        |), grid AS (
        |  SELECT d.doc_id, gy.i AS gy, gx.i AS gx,
        |         (CASE WHEN ((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 1 <= d.len
        |               THEN ord(substr(d.text, CAST(((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 1 AS INTEGER), 1)) ELSE 0 END)
        |       + (CASE WHEN ((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 2 <= d.len
        |               THEN ord(substr(d.text, CAST(((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 2 AS INTEGER), 1)) ELSE 0 END)
        |       + (CASE WHEN ((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 3 <= d.len
        |               THEN ord(substr(d.text, CAST(((gy.i * d.h // 8) * 16 + 2 * gx.i) * 3 + 3 AS INTEGER), 1)) ELSE 0 END)
        |         AS g
        |  FROM d CROSS JOIN gi gy CROSS JOIN gi gx
        |), bits AS (
        |  SELECT a.doc_id, a.gy * 7 + a.gx AS bit_idx,
        |         CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
        |  FROM grid a JOIN grid b
        |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 7
        |), dh AS (
        |  SELECT doc_id AS media_id,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << bit_idx)) AS BIGINT) AS ph
        |  FROM bits GROUP BY 1
        |), media_hash AS (
        |  SELECT media_id, ph FROM dh
        |  UNION ALL
        |  SELECT -media_id - 1, ph FROM dh WHERE media_id % 9 = 0
        |), bands AS (
        |  SELECT media_id, ph, t.b AS band,
        |         (ph >> (t.b * 16)) & 65535 AS bh
        |  FROM media_hash CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) t
        |), dropped AS (
        |  SELECT DISTINCT r.media_id
        |  FROM bands l JOIN bands r
        |    ON l.band = r.band AND l.bh = r.bh AND l.media_id < r.media_id
        |  WHERE bit_count(xor(l.ph, r.ph)) <= 3
        |), bytes AS (
        |  SELECT doc_id, ord(substr(text, CAST(i AS INTEGER), 1)) AS v,
        |         ((i - 1) // 3) % 16 AS colx
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, len)) AS i FROM d)
        |), sums AS (
        |  SELECT doc_id, SUM(v) AS total,
        |         SUM(CASE WHEN colx % 2 = 0 THEN v ELSE 0 END) AS even_total
        |  FROM bytes GROUP BY doc_id
        |), media AS (
        |  SELECT doc_id AS media_id, doc_id, 16 AS w FROM d
        |  UNION ALL
        |  SELECT -doc_id - 1, doc_id, 8 FROM d WHERE doc_id % 9 = 0
        |), kept AS (
        |  SELECT m.media_id, m.doc_id, d.h
        |  FROM media m
        |  JOIN d USING (doc_id)
        |  LEFT JOIN sums s USING (doc_id)
        |  WHERE m.media_id NOT IN (SELECT media_id FROM dropped)
        |    AND (CASE WHEN m.w = 16 THEN COALESCE(s.total, 0)
        |              ELSE COALESCE(s.even_total, 0) END)
        |        >= m.w * d.h * 270
        |)
        |SELECT k.media_id,
        |       CAST(8 AS BIGINT) AS width,
        |       CAST(k.h AS BIGINT) AS height,
        |       CAST(8 * k.h AS BIGINT) AS n_pixels,
        |       CAST(COALESCE(s.even_total, 0) AS BIGINT) AS sum_bytes
        |FROM kept k LEFT JOIN sums s USING (doc_id)
        |ORDER BY media_id""".stripMargin),
  )
}
