package graft.operators

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private def media = {
    val docs = Seq(
      (1L, "hello world payload"),
      (2L, "hello world payload"),
      (3L, "a different payload")).toDF("doc_id", "text")
    Multimodal.fromText(spark, docs, "doc_id", "text")
  }

  test("fromText builds typed MediaRecords with UTF-8 payloads") {
    val rows = media.collect().sortBy(_.media_id)
    assert(rows.length === 3)
    assert(rows.head.media_type === "image")
    assert(new String(rows.head.payload, "UTF-8") === "hello world payload")
  }

  test("sampleFrames: video payload chunks by frame size and stride") {
    val videos = Seq((7L, "image", "x" * 100), (8L, "video", "y" * 100))
      .toDF("doc_id", "mt", "text")
    val recs = Multimodal.fromText(spark, videos.select($"doc_id", $"text"), "doc_id", "text")
      .map(r => r.copy(media_type = if (r.media_id == 8L) "video" else "image"))
    val frames = Multimodal.sampleFrames(recs, frameBytes = 10, stride = 2).collect()
    // only the video row contributes: 10 frames, every 2nd → 5
    assert(frames.map(_.getLong(0)).distinct.toSeq === Seq(8L))
    assert(frames.length === 5)
    assert(frames.head.getAs[Array[Byte]]("frame_payload").length === 10)
  }

  test("BmpCodec: encode/decode round-trips content bytes exactly") {
    // 100 bytes over width 16 (48 data bytes/row) → 3 rows, 44 pad zeros
    val content = Array.tabulate[Byte](100)(i => (i * 7 + 3).toByte)
    val bmp = BmpCodec.encode(content, width = 16)
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    val img = BmpCodec.decode(bmp)
    assert(img.width === 16 && img.height === 3)
    assert(img.pixels.take(100).toSeq === content.toSeq)
    assert(img.pixels.drop(100).forall(_ === 0))
  }

  test("BmpCodec: bottom-up row order is un-reversed, padding stripped") {
    // width 3 → 9 data bytes/row padded to 12; two rows of distinct
    // values prove the decoder reads stored-last rows as logical-first
    val content = (Array.fill[Byte](9)(1) ++ Array.fill[Byte](9)(2))
    val bmp = BmpCodec.encode(content, width = 3)
    // stored pixel area: row1 (2s) first, then row0 (1s), each padded
    val pixelArea = bmp.drop(54)
    assert(pixelArea.take(9).forall(_ === 2) && pixelArea.slice(12, 21).forall(_ === 1))
    val img = BmpCodec.decode(bmp)
    assert(img.pixels.toSeq === content.toSeq)
  }

  test("BmpCodec: rejects non-BMP and unsupported payloads") {
    intercept[IllegalArgumentException](BmpCodec.decode("not an image".getBytes))
    val bad = BmpCodec.encode(Array[Byte](1, 2, 3), width = 4)
    bad(28) = 8 // claim 8 bpp
    intercept[IllegalArgumentException](BmpCodec.decode(bad))
  }

  test("imageStats: channel sums from real decoded pixels match the source") {
    val docs = Seq((1L, "abcdef"), (2L, "z" * 50)).toDF("doc_id", "text")
    val stats = Multimodal.imageStats(
      Multimodal.bmpFromText(spark, docs, "doc_id", "text", width = 16))
      .collect().sortBy(_.media_id)
    // doc 1: bytes a..f -> channels B:a,d G:b,e R:c,f
    assert(stats(0).sum_b === ('a' + 'd').toLong)
    assert(stats(0).sum_g === ('b' + 'e').toLong)
    assert(stats(0).sum_r === ('c' + 'f').toLong)
    assert(stats(0).width === 16 && stats(0).height === 1 && stats(0).n_pixels === 16L)
    // doc 2: 50 'z' bytes -> positions 0,3,..,48 are B (17 of them)
    assert(stats(1).sum_b === 17L * 'z')
    assert(stats(1).sum_g === 17L * 'z')
    assert(stats(1).sum_r === 16L * 'z')
    assert(stats(1).height === 2)
  }

  test("resizeNearest: samples exact source pixels and re-encodes a valid BMP") {
    // 2 rows × 4 cols, each pixel's 3 channels carry its column index
    val content = (0 until 2).flatMap(y => (0 until 4).flatMap(x =>
      Seq.fill(3)((y * 10 + x).toByte))).toArray
    val rec = Seq(Multimodal.MediaRecord(5L, "image",
      BmpCodec.encode(content, width = 4), 4, 2, 0L)).toDS()
    // 4→2 wide: keep columns 0 and 2 of each row
    val r = Multimodal.resizeNearest(rec, outWidth = 2).head()
    assert((r.out_width, r.out_height) === ((2, 2)))
    val img = BmpCodec.decode(r.payload)
    assert(img.width === 2 && img.height === 2)
    assert(img.pixels.toSeq === Seq(0, 0, 0, 2, 2, 2, 10, 10, 10, 12, 12, 12)
      .map(_.toByte))
    // 2→1 tall as well: row 0 survives
    val sq = Multimodal.resizeNearest(rec, outWidth = 2, outHeight = 1).head()
    assert(BmpCodec.decode(sq.payload).pixels.toSeq ===
      Seq(0, 0, 0, 2, 2, 2).map(_.toByte))
  }

  test("WavCodec: encode/decode round-trips samples exactly") {
    val content = Array.tabulate[Byte](100)(i => (i * 11 + 5).toByte)
    val wav = WavCodec.encode(content, sampleRate = 8000)
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val audio = WavCodec.decode(wav)
    assert(audio.sampleRate === 8000)
    assert(audio.samples.length === 100)
    content.zip(audio.samples).foreach { case (b, s) =>
      assert(s === (((b & 0xFF) - 128) * 256).toShort)
    }
  }

  test("WavCodec: chunk walk skips unknown chunks, rejects corrupt payloads") {
    val wav = WavCodec.encode(Array[Byte](10, 20, 30), sampleRate = 4000)
    // splice an unknown 5-byte LIST chunk (odd length → 1 pad byte)
    // between the fmt and data chunks; decode must skip it
    val extra = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4, 5, 0)
    val spliced = wav.take(36) ++ extra ++ wav.drop(36)
    val buf = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(4, spliced.length - 8) // patch RIFF chunk size
    val audio = WavCodec.decode(spliced)
    assert(audio.sampleRate === 4000 && audio.samples.length === 3)
    intercept[IllegalArgumentException](WavCodec.decode("not audio at all, nope, still not".getBytes))
    val truncated = wav.dropRight(2)
    intercept[IllegalArgumentException](WavCodec.decode(truncated))
  }

  test("WavCodec: empty content yields a valid zero-sample file") {
    val audio = WavCodec.decode(WavCodec.encode(Array.emptyByteArray))
    assert(audio.samples.isEmpty && audio.sampleRate === 8000)
  }

  test("audioStats: amplitude sums and zero crossings from real decode") {
    // 'a'=97<128 (neg), 'z'=122<128 (neg), 0xC8=200>=128 (pos):
    // signs n,n,p,n → 2 crossings
    val bytes = Array[Byte]('a', 'z', 200.toByte, 'a')
    // build payloads directly (string round-trip of byte 200 is
    // charset-dependent; the operator path is bytes in, bytes out)
    val recs = Seq(
      Multimodal.MediaRecord(1L, "audio", WavCodec.encode(bytes), 0, 0, 0L),
      Multimodal.MediaRecord(2L, "audio", WavCodec.encode(Array.emptyByteArray), 0, 0, 0L)
    ).toDS()
    val stats = Multimodal.audioStats(recs).collect().sortBy(_.media_id)
    val expSum = (Seq(97, 122, 200, 97).map(v => math.abs(v - 128)).sum * 256).toLong
    assert(stats(0).n_samples === 4L)
    assert(stats(0).sum_abs === expSum)
    assert(stats(0).peak_abs === (200 - 128) * 256L)
    assert(stats(0).zero_cross === 2L)
    assert(stats(0).duration_ms === 0L) // 4 samples @8 kHz < 1 ms
    assert(stats(1).n_samples === 0L && stats(1).sum_abs === 0L &&
      stats(1).zero_cross === 0L)
  }

  test("wavFromText: records carry real WAV payloads and duration metadata") {
    val docs = Seq((9L, "x" * 8000)).toDF("doc_id", "text")
    val r = Multimodal.wavFromText(spark, docs, "doc_id", "text").head()
    assert(r.media_type === "audio")
    assert(r.duration_ms === 1000L)
    val audio = WavCodec.decode(r.payload)
    assert(audio.samples.length === 8000)
    assert(audio.samples.forall(_ === ('x' - 128) * 256))
  }

  test("ImageIoCodec: PNG round-trips pixel bytes exactly (lossless)") {
    val bytes = (0 until 200).map(i => (i * 7 % 251).toByte).toArray
    val png = ImageIoCodec.encodePng(bytes, width = 16)
    // a real PNG container, not a raw blob
    assert(png.take(4).map(_ & 0xFF).toSeq === Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val img = ImageIoCodec.decode(png)
    assert(img.width === 16)
    assert(img.height === ImageIoCodec.heightFor(bytes.length, 16))
    assert(img.pixels.take(bytes.length).toSeq === bytes.toSeq,
      "PNG decode must recover the packed bytes bit-exactly")
    assert(img.pixels.drop(bytes.length).forall(_ === 0), "padding must stay zero")
  }

  test("ImageIoCodec: decodes the hand-rolled BmpCodec's output identically") {
    // cross-validation: the from-scratch BMP parser and the JDK's
    // reference decoder must agree byte-for-byte on the same payload
    val bytes = "cross codec check, with some text content".getBytes("UTF-8")
    val bmp = BmpCodec.encode(bytes, 16)
    val viaJdk = ImageIoCodec.decode(bmp)
    val viaOwn = BmpCodec.decode(bmp)
    assert(viaJdk.width === viaOwn.width && viaJdk.height === viaOwn.height)
    assert(viaJdk.pixels.toSeq === viaOwn.pixels.toSeq)
  }

  test("ImageIoCodec: JPEG is decodable with exact geometry, bounded loss") {
    val bytes = (0 until 480).map(i => ((i * 13) % 256).toByte).toArray
    val jpg = ImageIoCodec.encodeJpeg(bytes, width = 16)
    assert(jpg.take(2).map(_ & 0xFF).toSeq === Seq(0xFF, 0xD8), "JFIF SOI marker")
    val img = ImageIoCodec.decode(jpg)
    assert(img.width === 16)
    assert(img.height === ImageIoCodec.heightFor(bytes.length, 16))
    // lossy: values near, not equal. The packed-byte pattern is
    // high-frequency (DCT worst case), so the bound is loose — the
    // point is "real decode of a real JPEG", exactness is PNG's job.
    val mae = bytes.indices.map { i =>
      math.abs((img.pixels(i) & 0xFF) - (bytes(i) & 0xFF))
    }.sum.toDouble / bytes.length
    // measured ~17 at quality 0.95: independent-noise chroma is the
    // pathological case (4:2:0 subsampling averages it away)
    assert(mae < 32.0, s"JPEG mean abs channel error $mae too high")
    // smooth content (the realistic case) must decode much closer
    val smooth = (0 until 480).map(i => (i / 2).toByte).toArray
    val smoothImg = ImageIoCodec.decode(ImageIoCodec.encodeJpeg(smooth, width = 16))
    val smoothMae = smooth.indices.map { i =>
      math.abs((smoothImg.pixels(i) & 0xFF) - (smooth(i) & 0xFF))
    }.sum.toDouble / smooth.length
    assert(smoothMae < 4.0, s"JPEG smooth-gradient error $smoothMae too high")
  }

  test("imageIoStats over PNG payloads ≡ imageStats over BMP payloads") {
    // the q33/q170 shared-oracle premise, asserted end to end: both
    // lossless codecs must yield identical geometry and channel sums
    val docs = Seq((1L, "the quick brown fox"), (2L, ""), (3L, "z" * 100))
      .toDF("doc_id", "text")
    val viaPng = Multimodal.imageIoStats(
        Multimodal.pngFromText(spark, docs, "doc_id", "text", width = 16))
      .collect().sortBy(_.media_id)
    val viaBmp = Multimodal.imageStats(
        Multimodal.bmpFromText(spark, docs, "doc_id", "text", width = 16))
      .collect().sortBy(_.media_id)
    assert(viaPng.toSeq === viaBmp.toSeq)
  }

  private def phashDocs = (0L until 12L).map(i =>
    (i, (1 to 60).map(j => (i * 37 + j.toLong * j) % 97).mkString(" ")))
    .toDF("doc_id", "text")

  test("perceptualHashes: factor-2 resize and PNG re-encode are hash-invariant; JPEG stays near (VERDICT r10 #4)") {
    val docs = phashDocs
    val media = Multimodal.bmpFromText(spark, docs, "doc_id", "text", width = 16)
    def hashes(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRecord]) =
      Multimodal.perceptualHashes(ds).collect()
        .map(h => h.media_id -> ((h.ahash, h.dhash))).toMap
    val orig = hashes(media)
    // factor-2 nearest resize re-encoded at the new geometry: the 8×8
    // grid samples the identical source pixels, so hashes are EQUAL
    val resized = Multimodal.resizeNearest(media, outWidth = 8)
      .map(r => Multimodal.MediaRecord(r.media_id, "image", r.payload,
        r.out_width, r.out_height, 0L))
    assert(hashes(resized) === orig)
    // PNG re-encode: lossless pixels, different bytes — hashes EQUAL
    val png = Multimodal.pngFromText(spark, docs, "doc_id", "text", width = 16)
    assert(hashes(png) === orig)
    // JPEG at quality .95 on packed-byte pseudo-images is DCT's worst
    // case (pure high-frequency content), so the honest claim is
    // RELATIVE: a doc's JPEG re-encode stays measurably closer to its
    // source hash than unrelated docs sit from each other (natural
    // images, being smooth, drift far less)
    val jpg = hashes(Multimodal.jpegFromText(spark, docs, "doc_id", "text", width = 16))
    val ids = orig.keys.toSeq.sorted
    val jh = ids.map(id => java.lang.Long.bitCount(jpg(id)._2 ^ orig(id)._2))
    val unrelated = for (a <- ids; b <- ids if a < b)
      yield java.lang.Long.bitCount(orig(a)._2 ^ orig(b)._2)
    assert(jh.sum.toDouble / jh.size < unrelated.sum.toDouble / unrelated.size - 5,
      s"JPEG drift ${jh.sum.toDouble / jh.size} should sit well under " +
        s"unrelated distance ${unrelated.sum.toDouble / unrelated.size}")
    // distinct docs do NOT collide (the hash separates)
    for ((d, i) <- unrelated.zipWithIndex)
      assert(d > 3, s"unrelated pair $i within banding threshold")
  }

  test("perceptualPairs: planted resized copies found at Hamming 0; band guarantee bound enforced") {
    val docs = phashDocs
    val media = Multimodal.bmpFromText(spark, docs, "doc_id", "text", width = 16)
    val plants = Multimodal.resizeNearest(
        media.filter(r => r.media_id % 3 == 0), outWidth = 8)
      .map(r => Multimodal.MediaRecord(-r.media_id - 1L, "image", r.payload,
        r.out_width, r.out_height, 0L))
    val hashes = Multimodal.perceptualHashes(media.union(plants)).toDF()
    val pairs = Multimodal.perceptualPairs(hashes, "dhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val expected = (0L until 12L).filter(_ % 3 == 0)
      .map(id => (-id - 1L, id, 0)).toSet
    assert(pairs.toSet === expected,
      s"pairs should be exactly the plants: ${pairs.toSeq.sorted}")
    // past Hamming 3 the 4×16 banding loses its necessity guarantee
    assertThrows[IllegalArgumentException] {
      Multimodal.perceptualPairs(hashes, "dhash", maxHamming = 4)
    }
    // ahash works through the same banding (plants also Hamming 0)
    val aPairs = Multimodal.perceptualPairs(hashes, "ahash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.map(p => (p._1, p._2)).subsetOf(aPairs))
  }

  test("perceptualHashes: empty and sub-grid payloads hash to all-zero, no crash") {
    val docs = Seq((1L, ""), (2L, "x")).toDF("doc_id", "text")
    val media = Multimodal.bmpFromText(spark, docs, "doc_id", "text", width = 16)
    val hs = Multimodal.perceptualHashes(media).collect()
      .map(h => h.media_id -> ((h.ahash, h.dhash))).toMap
    // empty text: one zero row -> all grays 0 -> no bit set
    assert(hs(1L) === ((0L, 0L)))
    // "x": a 1-row image, so every grid row samples row 0 and only
    // column 0 is nonzero — 8 identical ahash bits (column 0 of each
    // grid row beats the mean) and 8 dhash bits (g0 > g1 per row)
    assert(java.lang.Long.bitCount(hs(2L)._1) === 8)
    assert(hs(2L)._1 === (0 until 8).map(k => 1L << (k * 8)).sum)
    assert(java.lang.Long.bitCount(hs(2L)._2) === 8)
    assert(hs(2L)._2 === (0 until 8).map(k => 1L << (k * 7)).sum)
  }
}
