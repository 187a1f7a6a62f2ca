package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Container-header codec: PNG/JPEG synthesis + the real header parse
  * behind `mm_features`.
  */
class MultimodalSpec extends AnyFunSuite {

  test("parseHeader round-trips PNG and JPEG dimension fields") {
    assert(Multimodal.parseHeader(
      Multimodal.pngHeader(640, 480) ++ Array[Byte](1, 2, 3)) == (("png", 640L, 480L)))
    assert(Multimodal.parseHeader(
      Multimodal.jpegHeader(79, 31) ++ "entropy".getBytes) == (("jpeg", 79L, 31L)))
  }

  test("parseHeader scans past leading JPEG APPn segments to the frame header") {
    // SOI + APP0 (JFIF-sized, 16-byte segment) + SOF0: the parse must
    // skip APP0 by its length field, as any dimension probe does
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte, 0x00, 0x10) ++ Array.fill[Byte](14)(0x4a)
    val sof = Multimodal.jpegHeader(320, 200).drop(2) // strip its SOI
    val p = Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ sof
    assert(Multimodal.parseHeader(p) == (("jpeg", 320L, 200L)))
  }

  test("parseHeader handles JPEG fill bytes and standalone markers") {
    val sof = Multimodal.jpegHeader(320, 200).drop(2) // FFC0 segment without SOI
    // legal 0xff fill padding between SOI and the frame header
    val fill = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte) ++ sof
    assert(Multimodal.parseHeader(fill) == (("jpeg", 320L, 200L)))
    // a standalone TEM marker (no length field) before the frame header
    val tem = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0x01) ++ sof
    assert(Multimodal.parseHeader(tem) == (("jpeg", 320L, 200L)))
    // EOI before any frame header: dimensions unavailable, no crash
    val eoi = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte)
    assert(Multimodal.parseHeader(eoi) == (("jpeg", 0L, 0L)))
    // malformed zero segment length must not stall the scan
    val bad = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 0x00, 0x00)
    assert(Multimodal.parseHeader(bad) == (("jpeg", 0L, 0L)))
  }

  test("parseHeader degrades on corrupt or truncated payloads, never throws") {
    assert(Multimodal.parseHeader("definitely not an image payload".getBytes)._1 == "unknown")
    assert(Multimodal.parseHeader(Array.empty[Byte]) == (("unknown", 0L, 0L)))
    // SOI with no frame header in range
    assert(Multimodal.parseHeader(Array[Byte](0xff.toByte, 0xd8.toByte)) == (("jpeg", 0L, 0L)))
    // truncated PNG (signature cut short) is not misread as anything
    assert(Multimodal.parseHeader(Multimodal.pngHeader(5, 5).take(20))._1 == "unknown")
  }

  test("features: decoded dims round-trip the metadata dims through real header bytes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (1L to 12L).map(i => (i, s"document body number $i with some words"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Multimodal.features(docs).collect()
    assert(out.length == 12)
    out.foreach { f =>
      assert(f.format == (if (f.doc_id % 2 == 0) "png" else "jpeg"), s"doc ${f.doc_id}")
      assert(f.decoded_w == f.width && f.decoded_h == f.height,
        s"doc ${f.doc_id}: parsed (${f.decoded_w}x${f.decoded_h}) != metadata (${f.width}x${f.height})")
      val bodyLen = s"document body number ${f.doc_id} with some words".length
      assert(f.n_bytes == (if (f.doc_id % 2 == 0) 33 else 21) + bodyLen)
    }
  }

  test("perceptual near-dup: a stride-resampled copy pairs with its original, nothing else") {
    val spark = TestSpark.spark
    import spark.implicits._
    // unrelated text docs as realistic negatives + the planted smooth
    // signals with their resamples (doc_ids 0, 10, ..., 90)
    val docs = (0L until 100L).map(i =>
      (i, s"text document $i " + (1 to 20).map(j => s"w${(i * 37 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val input = Multimodal.withPayload(docs)
      .unionByName(Multimodal.plantedResampledPayloads(docs))
    val pairs = Multimodal.nearDupPairs(Multimodal.Image, input).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    // every planted signal pairs with exactly its own resampled copy
    val expected = (0L until 100L by Multimodal.PlantEvery)
      .map(d => (d + Multimodal.PlantIdBase, d + Multimodal.PlantStrideIdBase)).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(expected.subsetOf(got),
      s"missing resample pairs: ${expected -- got}")
    // resampling moves only a few of 64 bits
    pairs.filter(p => expected((p._1, p._2))).foreach { case (a, b, ham) =>
      assert(ham <= 3, s"resampled pair ($a,$b) drifted to hamming $ham")
    }
    // no planted signal pairs with a DIFFERENT doc's signal or with a
    // text payload — the hash discriminates, it doesn't just collide.
    // (text-text pairs are out of scope: the uniform fixture texts ARE
    // perceptually similar to each other, and may legitimately pair)
    val spurious = (got -- expected)
      .filter(p => p._1 >= Multimodal.PlantIdBase || p._2 >= Multimodal.PlantIdBase)
    assert(spurious.isEmpty, s"spurious perceptual pairs: $spurious")
  }

  test("withPayload projects a supplementary codepoint to ONE byte, matching RE2") {
    val spark = TestSpark.spark
    import spark.implicits._
    // U+1F600 is two UTF-16 code units; Java regex (Pattern is
    // codepoint-aware since Java 5) must match the negated class ONCE
    // per codepoint — one '_' — which is exactly RE2/DuckDB's
    // semantics for the oracle twin's regexp_replace. If this ever
    // produced two underscores, payload lengths (and so phash bucket
    // boundaries) would diverge from the oracle on any non-BMP text.
    val astral = "a" + new String(Character.toChars(0x1F600)) + "b"
    val docs = Seq((1L, astral)).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val payload = Multimodal.withPayload(docs).select("payload").head().getAs[Array[Byte]](0)
    assert(new String(payload, "UTF-8") == "a_b",
      s"expected 'a_b', got '${new String(payload, "UTF-8")}'")
  }

  test("image fingerprint is integer-exact; halves stay non-negative") {
    val spark = TestSpark.spark
    import spark.implicits._
    val payload = Array.tabulate[Byte](500)(i => (32 + (i * 31 / 500)).toByte)
    val rows = Seq(
      Multimodal.MmRow(1L, "image", 0, 0, payload),
      Multimodal.MmRow(2L, "image", 0, 0, payload.clone()),
      Multimodal.MmRow(3L, "image", 0, 0, Array.empty[Byte])).toDS().toDF()
    val h = Multimodal.fingerprint(Multimodal.Image, rows).as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(h(0)._2 == h(1)._2 && h(0)._3 == h(1)._3)
    assert(h.forall(x => x._2 >= 0 && x._3 >= 0), "32-bit halves must stay sign-safe")
    assert(h(2)._2 == 0 && h(2)._3 == 0, "empty payload hashes to zero")
  }
  // ------------------------------------------------- pixel-true hashing

  private def checkerImage(w: Int, h: Int, block: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (((x / block) + (y / block)) % 2 == 0) 40 else 216
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  private def jpegBytes(img: java.awt.image.BufferedImage, quality: Float): Array[Byte] = {
    val jw = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val params = jw.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    jw.setOutput(ios)
    jw.write(null, new javax.imageio.IIOImage(img, null, null), params)
    jw.dispose(); ios.close()
    baos.toByteArray
  }

  private def hamming(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  test("pixel dHash pairs a PNG with its JPEG re-encode where byte dHash cannot") {
    // the web-archive common case: one photo served across years of
    // re-encodes — byte streams share nothing, decoded pixels almost
    // everything. Strong block contrast (checkerboard, delta 176)
    // keeps every adjacent-average comparison far above JPEG noise.
    val img = checkerImage(72, 64, 8)
    val png = pngBytes(img)
    val jpg = jpegBytes(img, 0.85f)
    assert(Multimodal.parseHeader(png)._1 == "png")
    assert(Multimodal.parseHeader(jpg)._1 == "jpeg")
    val hp = Multimodal.phashOf(png)
    val hj = Multimodal.phashOf(jpg)
    assert(hamming(hp, hj) <= Multimodal.MmHammingMax,
      s"pixel-true hashes must pair across re-encodes: hamming ${hamming(hp, hj)}")
    val bp = Multimodal.byteDHash(png)
    val bj = Multimodal.byteDHash(jpg)
    assert(hamming(bp, bj) > Multimodal.MmHammingMax,
      s"fixture too weak: byte streams of different codecs paired at ${hamming(bp, bj)}")
  }

  test("image near-dup pairs cross-codec re-encodes via the pixel path") {
    val spark = TestSpark.spark
    import spark.implicits._
    val img = checkerImage(72, 64, 8)
    val other = checkerImage(72, 64, 16) // coarser board: a different photo
    val rows = Seq(
      Multimodal.MmRow(1L, "image", 72L, 64L, pngBytes(img)),
      Multimodal.MmRow(2L, "image", 72L, 64L, jpegBytes(img, 0.85f)),
      Multimodal.MmRow(3L, "image", 72L, 64L, pngBytes(other))).toDF()
    val pairs = Multimodal.nearDupPairs(Multimodal.Image, rows)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.operators.CacheScope.releaseAll()
    assert(pairs.contains((1L, 2L)), s"png/jpeg re-encode pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"a different image paired: $pairs")
  }

  test("a pixel decode leaves ImageIO's JVM-global cache setting alone") {
    val spark = TestSpark.spark
    import spark.implicits._
    val png = Multimodal.plantedPngPayloads(Seq((0L, "planted")).toDF("doc_id", "text"))
      .select("payload").head().getAs[Array[Byte]](0)
    assert(Multimodal.pixelDHash(png).isDefined, "the planted PNG must decode to pixels")
    assert(javax.imageio.ImageIO.getUseCache,
      "the decode must choose its stream cache per call, not flip ImageIO.setUseCache")
  }

  test("non-image payloads fall back to the byte-stream dHash exactly") {
    val ascii = "not an image at all, just bytes".getBytes("UTF-8")
    assert(Multimodal.phashOf(ascii) == Multimodal.byteDHash(ascii))
    // a real-looking header with garbage after it must fall back, not throw
    val truncated = Multimodal.pngHeader(640, 480) ++ "entropy text".getBytes
    assert(Multimodal.phashOf(truncated) == Multimodal.byteDHash(truncated))
  }

  test("audioFeatures: RIFF chunk scan parses synth headers; skips unknown chunks and junk") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((1L, "a" * 100), (2L, "b" * 37)).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val rows = Multimodal.audioFeatures(Multimodal.withAudioPayload(docs))
      .collect().map(a => a.doc_id -> a).toMap
    // doc 1: rate 8000 + (100 % 3) * 4000 = 12000, stereo; 100 bytes
    assert(rows(1L).sample_rate == 12000 && rows(1L).channels == 2)
    assert(rows(1L).data_bytes == 100)
    assert(rows(1L).duration_ms == 100L * 1000 / (12000 * 2 * 2))
    // doc 2: rate 8000 + (37 % 3) * 4000 = 12000, mono
    assert(rows(2L).sample_rate == 12000 && rows(2L).channels == 1)

    // an unknown odd-length chunk BEFORE fmt must be skipped with its
    // pad byte — the chunk-scan discipline any WAV reader needs
    val body = "samples!".getBytes("US-ASCII")
    val std = Multimodal.wavHeader(16000, 1, 16, body.length) ++ body
    val junkChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ "abc".getBytes ++ Array[Byte](0) // 3 bytes + pad
    val withJunk = std.slice(0, 12) ++ junkChunk ++ std.drop(12)
    val parsed = Multimodal.audioFeatures(
      Seq(Multimodal.MmRow(9L, "audio", 0L, 0L, withJunk)).toDF())
      .collect()
    assert(parsed.length == 1 && parsed.head.sample_rate == 16000 &&
      parsed.head.data_bytes == body.length,
      s"junk chunk broke the scan: ${parsed.toSeq}")
    // non-WAV and truncated payloads drop, never throw
    val bad = Seq(
      Multimodal.MmRow(10L, "audio", 0L, 0L, "not riff at all".getBytes),
      Multimodal.MmRow(11L, "audio", 0L, 0L, std.slice(0, 20))).toDF()
    assert(Multimodal.audioFeatures(bad).count() == 0)
  }

  test("resizePx: decoded box-averages round-trip through the re-encoded PNG exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Multimodal.resizePx(Multimodal.plantedPngPayloads(docs))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.out_w == Multimodal.ResizeOutW && r.out_h == Multimodal.ResizeOutH)
    // reference grid straight from the planted formula: 2x2 floors
    val expected = for (yy <- 0 until 16; xx <- 0 until 18) yield {
      val s = (for (dy <- 0 to 1; dx <- 0 to 1)
        yield Multimodal.pxPlantValue(10L, xx * 2 + dx, yy * 2 + dy)).sum
      s / 4
    }
    assert(r.luma_sum == expected.map(_.toLong).sum, "luma sum diverged from the formula")
    // the re-encoded PNG must decode back to the SAME gray values —
    // the round-trip proof the real codec path is lossless
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    assert(img.getWidth == 18 && img.getHeight == 16)
    val decoded = for (yy <- 0 until 16; xx <- 0 until 18) yield img.getRGB(xx, yy) & 0xff
    assert(decoded == expected, "re-encoded PNG lost the resized grid")
    // non-decodable payloads drop (the byte-stride resize is their path)
    val ascii = Seq(Multimodal.MmRow(1L, "image", 0L, 0L, "not an image".getBytes)).toDF()
    assert(Multimodal.resizePx(ascii).count() == 0)
  }

  // ----------------------------------------------- audio fingerprint
  /** A 16-bit mono WAV around the given samples — the test-side twin
    * of the planted generator's PCM packing.
    */
  private def wav(samples: Array[Short], rate: Int = 8000, ch: Int = 1): Array[Byte] = {
    val body = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      body(2 * i) = samples(i).toByte
      body(2 * i + 1) = (samples(i) >> 8).toByte
      i += 1
    }
    Multimodal.wavHeader(rate, ch, 16, body.length) ++ body
  }

  /** Blocky pseudo-random envelope — the statistics a real recording's
    * energy track has (locally smooth, globally varied).
    */
  private def envelope(n: Int, seed: Int): Array[Short] =
    Array.tabulate(n)(j => (500 +
      ((((j / 25) * 2654435761L + seed * 40503L) & 0x7fffffffL) % 13).toInt * 400).toShort)

  test("audio near-dup: a 2x-downsampled copy pairs with its original, nothing else") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (0L until 100L).map(i =>
      (i, s"audio document $i " + (1 to 40).map(j => s"w${(i * 37 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val input = Multimodal.withAudioPayload(docs)
      .unionByName(Multimodal.plantedAudioPayloads(docs))
    val pairs = Multimodal.nearDupPairs(Multimodal.Audio, input).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val expected = (0L until 100L by Multimodal.PlantEvery)
      .map(d => (d + Multimodal.AudioPlantIdBase, d + Multimodal.AudioStrideIdBase)).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(expected.subsetOf(got), s"missing resample pairs: ${expected -- got}")
    // a genuine 2x resample moves only a few of 64 bits
    pairs.filter(p => expected((p._1, p._2))).foreach { case (a, b, ham) =>
      assert(ham <= 3, s"resampled pair ($a,$b) drifted to hamming $ham")
    }
    // no planted waveform pairs with a DIFFERENT doc's waveform or a
    // text-synth WAV — the fingerprint discriminates
    val spurious = (got -- expected)
      .filter(p => p._1 >= Multimodal.AudioPlantIdBase || p._2 >= Multimodal.AudioPlantIdBase)
    assert(spurious.isEmpty, s"spurious audio pairs: $spurious")
  }

  test("spectral lag bank pairs the padded constant-pitch stretch the energy dHash provably misses") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (0L until 100L).map(i =>
      (i, s"audio document $i " + (1 to 40).map(j => s"w${(i * 37 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val plants = Multimodal.plantedStretchedAudioPayloads(docs)
    // the transform class itself, payload by payload: the energy dHash
    // computes on both clips but lands far outside the near-dup gate
    // (every relative-time bucket boundary moved), while the lag bank
    // moves at most a few of 64 bits
    val byId = plants.collect().map { r =>
      r.getLong(0) -> r.getAs[Array[Byte]]("payload")
    }.toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val plantIds = (0L until 100L by Multimodal.PlantEvery)
    plantIds.foreach { d =>
      val o = byId(d + Multimodal.AudioStretchOrigIdBase)
      val s = byId(d + Multimodal.AudioStretchIdBase)
      val dOrig = Multimodal.audioDHash(o).get
      val dStr = Multimodal.audioDHash(s).get
      assert(ham(dOrig, dStr) > Multimodal.MmHammingMax,
        s"doc $d: the energy dHash should NOT survive pad+stretch (ham ${ham(dOrig, dStr)})")
      // a constant-pitch stretch is a LOSSIER transform than integer
      // decimation (the envelope's own lag correlations stretch —
      // physics), so the pin is the spectral operator's actual gate,
      // not the resample pairs' ≤3
      val spOrig = Multimodal.audioSpectralHash(o).get
      val spStr = Multimodal.audioSpectralHash(s).get
      assert(ham(spOrig, spStr) <= Multimodal.SpectralHammingMax,
        s"doc $d: spectral pair drifted to hamming ${ham(spOrig, spStr)}")
    }
    // through the full banded operator: every planted pair surfaces,
    // nothing spurious among plants or text-synth negatives
    val input = Multimodal.withAudioPayload(docs).unionByName(plants)
    val got = Multimodal.nearDupPairs(Multimodal.AudioSpectral, input).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = plantIds
      .map(d => (d + Multimodal.AudioStretchOrigIdBase, d + Multimodal.AudioStretchIdBase))
      .toSet
    assert(expected.subsetOf(got), s"missing stretch pairs: ${expected -- got}")
    val spurious = (got -- expected)
      .filter(p => p._1 >= Multimodal.AudioStretchOrigIdBase ||
        p._2 >= Multimodal.AudioStretchOrigIdBase)
    assert(spurious.isEmpty, s"spurious spectral pairs: $spurious")
    graft.operators.CacheScope.releaseAll()
  }

  test("video delta lag bank pairs the black-padded constant-flicker stretch the temporal dHash provably misses") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (0L until 100L).map(i =>
      (i, s"video document $i " + (1 to 60).map(j => s"w${(i * 41 + j * 17) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val plants = Multimodal.plantedStretchedVideoPayloads(docs)
    // the transform class itself, payload by payload: the temporal
    // dHash computes on both clips but lands far outside the near-dup
    // gate (black pads + stretch move every relative-time bucket
    // boundary), while the delta lag bank moves at most a few bits
    val byId = plants.collect().map { r =>
      r.getLong(0) -> r.getAs[Array[Byte]]("payload")
    }.toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val plantIds = (0L until 100L by Multimodal.PlantEvery)
    plantIds.foreach { d =>
      val o = byId(d + Multimodal.VideoStretchOrigIdBase)
      val s = byId(d + Multimodal.VideoStretchIdBase)
      val dOrig = Multimodal.videoDHash(o).get
      val dStr = Multimodal.videoDHash(s).get
      assert(ham(dOrig, dStr) > Multimodal.MmHammingMax,
        s"doc $d: the temporal dHash should NOT survive pad+stretch (ham ${ham(dOrig, dStr)})")
      val spOrig = Multimodal.videoSpectralHash(o).get
      val spStr = Multimodal.videoSpectralHash(s).get
      assert(ham(spOrig, spStr) <= Multimodal.VideoSpectralHammingMax,
        s"doc $d: video spectral pair drifted to hamming ${ham(spOrig, spStr)}")
    }
    // through the full banded operator: every planted pair surfaces,
    // nothing spurious among the plants (flicker negatives may pair
    // among themselves when two texts share delta texture — that is
    // corpus data, not a fixture failure)
    val input = Multimodal.withFlickerVideoPayload(docs).unionByName(plants)
    val got = Multimodal.nearDupPairs(Multimodal.VideoSpectral, input).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = plantIds
      .map(d => (d + Multimodal.VideoStretchOrigIdBase, d + Multimodal.VideoStretchIdBase))
      .toSet
    assert(expected.subsetOf(got), s"missing video stretch pairs: ${expected -- got}")
    val spurious = (got -- expected)
      .filter(p => p._1 >= Multimodal.VideoStretchOrigIdBase ||
        p._2 >= Multimodal.VideoStretchOrigIdBase)
    assert(spurious.isEmpty, s"spurious video spectral pairs: $spurious")
    // black pads are NEAR-transparent: pad interiors contribute zero
    // to every lag product, and only the two boundary delta spikes
    // (black→content, content→black) plus the grown normalization
    // counts can move near-tie bits — padding alone (no stretch)
    // stays far inside the gate
    val d0 = plantIds.head
    val o = byId(d0 + Multimodal.VideoStretchOrigIdBase)
    val ov = Multimodal.parseAvi(o).get
    val black = Array.fill(4)(0.toByte)
    val origFrames = ov.frames.map { case (off, len) => o.slice(off, off + len) }
    val padded = Multimodal.aviContainer(
      Multimodal.VideoPlantUsPerFrame, 2, 2,
      Array.fill(200)(black) ++ origFrames ++ Array.fill(80)(black))
    val hPad = Multimodal.videoSpectralHash(padded).get
    val hOrig = Multimodal.videoSpectralHash(o).get
    assert(ham(hPad, hOrig) <= 2,
      s"black-frame padding alone moved ${ham(hPad, hOrig)} lag-bank bits")
    graft.operators.CacheScope.releaseAll()
  }

  test("audioDHash: gain-invariant, stereo-aware, strict about width and length") {
    // gain scaling moves bucket energies proportionally on both sides
    // of every comparison — the fingerprint must not move at all
    val base = envelope(800, 3)
    val louder = base.map(s => (s * 4).toShort)
    assert(Multimodal.audioDHash(wav(base)).isDefined)
    assert(Multimodal.audioDHash(wav(base)) == Multimodal.audioDHash(wav(louder)),
      "gain scaling changed the fingerprint")
    // stereo frames mono-mix: duplicating the channel keeps the hash
    val stereo = new Array[Short](base.length * 2)
    base.indices.foreach { i => stereo(2 * i) = base(i); stereo(2 * i + 1) = base(i) }
    assert(Multimodal.audioDHash(wav(stereo, ch = 2)) == Multimodal.audioDHash(wav(base)),
      "stereo mono-mix diverged from the mono hash")
    // a clip shorter than the bucket grid has no stable signature
    assert(Multimodal.audioDHash(wav(envelope(64, 1))).isEmpty, "sub-grid clip must drop")
    assert(Multimodal.audioDHash(wav(envelope(65, 1))).isDefined)
    // non-16-bit containers drop rather than mis-decode
    val body8 = Array.fill[Byte](200)(42)
    assert(Multimodal.audioDHash(
      Multimodal.wavHeader(8000, 1, 8, body8.length) ++ body8).isEmpty)
    // negative samples count by magnitude: a sign flip preserves energy
    val flipped = base.map(s => (-s).toShort)
    assert(Multimodal.audioDHash(wav(flipped)) == Multimodal.audioDHash(wav(base)),
      "energy must use |frame|, not the signed value")
  }

  test("resampleAudio: box-averaged samples round-trip through the re-encoded WAV exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = envelope(403, 5) // non-multiple of 4: partial final window
    val rows = Seq(Multimodal.MmRow(7L, "audio", 0L, 0L, wav(base, rate = 8000))).toDF()
    val out = Multimodal.resampleAudio(rows).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.out_rate == 2000L && r.n_frames == 101L) // ceil(403/4)
    // independent local recomputation of the decimation
    val expected = base.grouped(4).map { g =>
      math.max(-32768L, math.min(32767L,
        Math.floorDiv(g.map(_.toLong).sum, g.length.toLong))).toInt
    }.toSeq
    assert(r.energy_sum == expected.map(v => math.abs(v.toLong)).sum)
    // the re-encoded WAV must DECODE back to the same samples — the
    // round-trip proof the container write is real (and composable:
    // the fingerprint kernel reads the resampled payload directly)
    val w = Multimodal.parseWav(r.payload).get
    assert(w.rate == 2000L && w.ch == 1 && w.bits == 16 && w.dataLen == 202L)
    val decoded = (0 until 101).map { i =>
      val off = w.dataOff + 2 * i
      (((r.payload(off + 1) & 0xff) << 8) | (r.payload(off) & 0xff)).toShort.toInt
    }
    assert(decoded == expected, "re-encoded WAV lost the decimated samples")
    // stereo mono-mix saturates rather than wraps
    val loud = Array.fill[Short](200)(30000)
    val stereo = new Array[Short](400)
    loud.indices.foreach { i => stereo(2 * i) = loud(i); stereo(2 * i + 1) = loud(i) }
    val sat = Multimodal.resampleAudio(
      Seq(Multimodal.MmRow(8L, "audio", 0L, 0L, wav(stereo, ch = 2))).toDF()).head()
    assert(sat.energy_sum == 50L * 32767, "stereo sum must clamp at the 16-bit rail")
  }

  test("corrupt RIFF chunk lengths neither spin the scan nor throw") {
    val spark = TestSpark.spark
    import spark.implicits._
    // clen = 0xFFFFFFF8: with 32-bit narrowing the advance would be 0
    // (executor spins); the Long-domain scan must terminate and drop
    def chunk(id: String, lenLe: Array[Byte], payload: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ lenLe ++ payload
    val riffHead = "RIFF".getBytes ++ Array[Byte](100, 0, 0, 0) ++ "WAVE".getBytes
    val spin = riffHead ++ chunk("JUNK", Array[Byte](-8, -1, -1, -1), Array.fill[Byte](32)(0))
    assert(Multimodal.parseWav(spin).isEmpty, "corrupt huge chunk must drop the row")
    // clen ≈ 0x7FFFFFF8: Int math would wrap the cursor negative and
    // throw ArrayIndexOutOfBoundsException — must drop instead
    val wrap = riffHead ++ chunk("JUNK", Array[Byte](-8, -1, -1, 0x7f), Array.fill[Byte](32)(0))
    assert(Multimodal.parseWav(wrap).isEmpty, "overflowing chunk must drop the row")
    // a corrupt fmt with bits in 1..7 would zero the block-align
    // divisor: the row drops instead of failing the task
    val sub8 = {
      val ok = wav(envelope(100, 2))
      // bits field lives at fmt offset +22 from the chunk start (12)
      ok.updated(34, 7.toByte).updated(35, 0.toByte)
    }
    assert(Multimodal.parseWav(sub8).isEmpty, "bits=7 must drop, not divide by zero")
    assert(Multimodal.audioFeatures(
      Seq(Multimodal.MmRow(1L, "audio", 0L, 0L, spin),
        Multimodal.MmRow(2L, "audio", 0L, 0L, wrap),
        Multimodal.MmRow(3L, "audio", 0L, 0L, sub8)).toDF()).count() == 0)
  }

  /** Constant-luma frame sequence from a blocky value track — the
    * shot structure a real clip's luma trace has.
    */
  private def clip(vals: Array[Int], w: Int = 4, h: Int = 4, uspf: Int = 40000): Array[Byte] =
    Multimodal.aviContainer(uspf, w, h, vals.map(v => Array.fill(w * h)(v.toByte)))

  private def lumaTrack(n: Int, seed: Int): Array[Int] =
    Array.tabulate(n)(j => 20 + ((((j / 25) * 2654435761L + seed * 40503L) & 0x7fffffffL) % 13).toInt * 15)

  test("parseAvi: synthesized container round-trips header fields and frame extents") {
    val vals = lumaTrack(80, 5)
    val p = clip(vals, w = 3, h = 5)
    val info = Multimodal.parseAvi(p).get
    assert(info.w == 3 && info.h == 5 && info.usPerFrame == 40000L)
    assert(info.frames.length == 80)
    info.frames.zipWithIndex.foreach { case ((off, len), k) =>
      assert(len == 15)
      assert((0 until len).forall(j => (p(off + j) & 0xff) == vals(k)),
        s"frame $k bytes diverge from the synth value")
    }
    // a frame chunk disagreeing with the header geometry is corrupt
    val bad = Multimodal.aviContainer(40000, 4, 4,
      Array(Array.fill(16)(9.toByte), Array.fill(15)(9.toByte)))
    assert(Multimodal.parseAvi(bad).isEmpty, "frame length != w*h must drop")
  }

  test("videoDHash: frame-rate invariance core, strict about signature length") {
    // a sub-grid clip has no stable signature
    assert(Multimodal.videoDHash(clip(lumaTrack(64, 1))).isEmpty, "sub-grid clip must drop")
    assert(Multimodal.videoDHash(clip(lumaTrack(65, 1))).isDefined)
    // identical content at different geometry hashes identically (the
    // luma SUM per frame scales by w*h on every bucket — cross-
    // multiplication cancels it)
    val vals = lumaTrack(800, 7)
    assert(Multimodal.videoDHash(clip(vals, w = 4, h = 4)) ==
      Multimodal.videoDHash(clip(vals, w = 8, h = 2)),
      "geometry change at equal content moved the fingerprint")
    // dropping every 2nd frame (a frame-rate downsample) moves only a
    // few of 64 bits
    val (hi1, lo1) = Multimodal.videoDHash(clip(vals)).get
    val strided = Array.range(0, vals.length, 2).map(vals(_))
    val (hi2, lo2) = Multimodal.videoDHash(clip(strided, uspf = 80000)).get
    val ham = java.lang.Long.bitCount(hi1 ^ hi2) + java.lang.Long.bitCount(lo1 ^ lo2)
    assert(ham <= 3, s"frame-rate downsample drifted to hamming $ham")
  }

  test("resampleVideo: kept frames round-trip through the re-encoded AVI exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val vals = lumaTrack(90, 4)
    val p = clip(vals, w = 3, h = 4, uspf = 50000)
    val out = Multimodal.resampleVideo(
      Seq(Multimodal.MmRow(1L, "video", 3L, 4L, p)).toDF()).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.out_us_per_frame == 200000L && r.n_frames == 23L, "ceil(90/4) frames at 4x interval")
    val info = Multimodal.parseAvi(r.payload).get
    assert(info.usPerFrame == 200000L && info.w == 3 && info.h == 4)
    assert(info.frames.length == 23)
    info.frames.zipWithIndex.foreach { case ((off, len), i) =>
      assert(len == 12)
      assert((0 until len).forall(j => (r.payload(off + j) & 0xff) == vals(4 * i)),
        s"re-encoded frame $i diverges from original frame ${4 * i}")
    }
    assert(r.luma_sum == (0 until 90 by 4).map(k => vals(k).toLong * 12).sum,
      "proof column must equal a direct recomputation")
  }

  test("corrupt AVI chunk lengths neither spin the scan nor throw") {
    def chunk(id: String, lenLe: Array[Byte], payload: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ lenLe ++ payload
    val riffHead = "RIFF".getBytes ++ Array[Byte](100, 0, 0, 0) ++ "AVI ".getBytes
    // clen = 0xFFFFFFF8: a 32-bit narrowed advance would be 0 (spin)
    val spin = riffHead ++ chunk("JUNK", Array[Byte](-8, -1, -1, -1), Array.fill[Byte](32)(0))
    assert(Multimodal.parseAvi(spin).isEmpty, "corrupt huge chunk must drop the row")
    // clen ≈ 0x7FFFFFF8: Int math would wrap the cursor negative
    val wrap = riffHead ++ chunk("JUNK", Array[Byte](-8, -1, -1, 0x7f), Array.fill[Byte](32)(0))
    assert(Multimodal.parseAvi(wrap).isEmpty, "overflowing chunk must drop the row")
    // a LIST whose declared body runs past the payload halts the parse
    val badList = riffHead ++ chunk("LIST", Array[Byte](127, 0, 0, 0),
      "movi".getBytes ++ Array.fill[Byte](8)(0))
    assert(Multimodal.parseAvi(badList).isEmpty, "LIST past payload must drop")
    // thousands of nested LISTs (each body = a smaller LIST) must hit
    // the depth bound and drop, never overflow the scan's stack
    val levels = 5000
    val deep = new java.io.ByteArrayOutputStream()
    deep.write(("RIFF").getBytes); deep.write(Array[Byte](0, 0, 0, 0x7f))
    deep.write("AVI ".getBytes)
    (0 until levels).foreach { i =>
      val inner = (levels - i - 1) * 12L + 4L
      deep.write("LIST".getBytes)
      deep.write(Array[Byte](
        (inner & 0xff).toByte, ((inner >> 8) & 0xff).toByte,
        ((inner >> 16) & 0xff).toByte, ((inner >> 24) & 0xff).toByte))
      deep.write("hdrl".getBytes)
    }
    assert(Multimodal.parseAvi(deep.toByteArray).isEmpty,
      "deeply nested LISTs must drop at the depth bound")
  }

  test("video near-dup: a frame-rate downsample pairs with its original, nothing else") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (0L until 100L).map(i =>
      (i, s"video document $i " + (1 to 40).map(j => s"w${(i * 37 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val input = Multimodal.withVideoPayload(docs)
      .unionByName(Multimodal.plantedVideoPayloads(docs))
    val pairs = Multimodal.nearDupPairs(Multimodal.Video, input).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    val expected = (0L until 100L by Multimodal.PlantEvery)
      .map(d => (d + Multimodal.VideoPlantIdBase, d + Multimodal.VideoStrideIdBase)).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(expected.subsetOf(got), s"missing downsample pairs: ${expected -- got}")
    pairs.filter(p => expected((p._1, p._2))).foreach { case (a, b, ham) =>
      assert(ham <= 3, s"downsampled pair ($a,$b) drifted to hamming $ham")
    }
    val spurious = (got -- expected)
      .filter(p => p._1 >= Multimodal.VideoPlantIdBase || p._2 >= Multimodal.VideoPlantIdBase)
    assert(spurious.isEmpty, s"spurious video pairs: $spurious")
  }

  test("spatial video near-dup: a cropped copy pairs by frame vote; the temporal hash cannot catch it") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"video document $i " + (1 to 40).map(j => s"w${(i * 37 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val input = Multimodal.withVideoPayload(docs)
      .unionByName(Multimodal.plantedVideoPayloads(docs))
      .unionByName(Multimodal.plantedPxVideoPayloads(docs))

    // 1. every planted original pairs with its cropped copy by a
    //    strict frame-vote majority, and nothing else pairs
    val pairs = Multimodal.mmVideoNearDupPx(input).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = (0L until 200L by Multimodal.PxVideoEvery)
      .map(d => (d + Multimodal.PxVideoIdBase, d + Multimodal.PxVideoCropIdBase)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expected,
      s"spatial pairs must be exactly the planted crop pairs: got ${pairs.toSeq}")
    pairs.foreach { case (a, b, nSlots, votes) =>
      assert(nSlots == Multimodal.PxVideoFrames.toLong && votes * 2 > nSlots,
        s"($a,$b) votes=$votes of $nSlots")
    }

    // 2. the crop defeats the TEMPORAL hash: cropping removes
    //    md5-random rows from every frame, so the time-bucket deltas
    //    scramble and the temporal near-dup does NOT pair the copies
    val temporalPairs = Multimodal.nearDupPairs(
      Multimodal.Video, Multimodal.plantedPxVideoPayloads(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(temporalPairs.intersect(expected).isEmpty,
      s"temporal hash unexpectedly catches the crop: $temporalPairs")

    // 3. the sub-grid gate: text stand-ins (2-4 px) and temporal
    //    plants (8 px wide) emit no spatial hashes at all
    val hashed = Multimodal.videoPxHashes(input).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(hashed.forall(_ >= Multimodal.PxVideoIdBase),
      s"sub-grid clips leaked into the spatial hash: ${hashed.filter(_ < Multimodal.PxVideoIdBase)}")
    assert(hashed.size == 2 * (200 / Multimodal.PxVideoEvery).toInt)
  }

  test("planted PNG rows decode: pixel hash differs from the byte hash of the same payload") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x"), (20L, "y"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val planted = Multimodal.plantedPngPayloads(docs)
      .as[Multimodal.MmRow].collect().sortBy(_.doc_id)
    assert(planted.map(_.doc_id).toSeq == Seq(10L, 20L))
    planted.foreach { r =>
      assert(Multimodal.parseHeader(r.payload)._1 == "png")
      val px = Multimodal.pixelDHash(r.payload)
      assert(px.isDefined, s"planted PNG must decode: doc ${r.doc_id}")
      assert(px.get != Multimodal.byteDHash(r.payload),
        s"pixel and byte hashes coincided — is the decode real? doc ${r.doc_id}")
    }
  }

  test("tile vote catches the planted crop pair the global pixel dHash provably misses") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x"), (20L, "y"), (30L, "z"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val orig = Multimodal.plantedPngPayloads(docs)
    val crops = Multimodal.plantedCroppedPngPayloads(docs)
    val byId = orig.unionByName(crops).as[Multimodal.MmRow]
      .collect().map(r => r.doc_id -> r.payload).toMap
    // THE MISS, pinned per pair: the global dHash re-normalizes its
    // grid to the new dimensions, so the crop's hash lands far outside
    // the near-dup Hamming gate
    Seq(10L, 20L, 30L).foreach { d =>
      val (ohi, olo) = Multimodal.pixelDHash(byId(d)).get
      val (chi, clo) = Multimodal.pixelDHash(byId(d + Multimodal.PxCropIdBase)).get
      val ham = java.lang.Long.bitCount(ohi ^ chi) + java.lang.Long.bitCount(olo ^ clo)
      assert(ham > Multimodal.MmHammingMax,
        s"doc $d: the global hash must MISS the crop (hamming $ham) or the tile tier is redundant")
    }
    // THE CATCH: every planted pair stands on >= TileMinVotes shared
    // tiles; the surviving tiles are bit-identical (absolute anchoring)
    val pairs = Multimodal.mmImageNearDupTiles(orig.unionByName(crops))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    val want = Seq(10L, 20L, 30L).map(d => (d, d + Multimodal.PxCropIdBase)).toSet
    assert(got === want, s"tile vote must find exactly the planted crop pairs: $got")
    assert(pairs.forall(_._3 >= Multimodal.TileMinVotes))
    // and the shared tiles really are the crop's full tile set: 6 of
    // the original's 12 survive the 24x24 window at offset (12, 8)
    assert(pairs.forall(_._3 == 6L),
      s"each crop shares exactly its 6 interior tiles: ${pairs.toSeq}")
    graft.operators.CacheScope.releaseAll()
  }

  test("half-stride overlap lattice catches the (6,4)-offset crop the aligned tile face provably misses") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x"), (20L, "y"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val orig = Multimodal.plantedPngPayloads(docs)
    val crops = Multimodal.plantedHalfStrideCroppedPngPayloads(docs)
    val corpus = orig.unionByName(crops)
    // the aligned face misses: offset (6,4) is not a tile multiple, so
    // no tile hash is shared and no pair forms
    val aligned = Multimodal.mmImageNearDupTiles(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aligned.isEmpty,
      s"the aligned face must MISS half-stride crops or the overlap face is redundant: $aligned")
    // the overlap face catches every planted pair, each on its full
    // 3x5 lattice of surviving tiles
    val pairs = Multimodal.mmImageNearDupTilesOverlap(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    val want = Seq(10L, 20L).map(d => (d, d + Multimodal.PxCrop2IdBase)).toSet
    assert(got === want, s"overlap vote must find exactly the planted pairs: $got")
    assert(pairs.forall(_._3 == 15L),
      s"each crop shares its full 3x5 lattice: ${pairs.toSeq}")
    graft.operators.CacheScope.releaseAll()
  }

  test("MEASUREMENT: the overlap face catches exactly the 8 half-stride phases of 96 — arbitrary offsets are out of class") {
    // The round-17 open question ("is half-tile alignment enough for
    // real re-crops?") decided by exhaustive measurement: plant a
    // 24×24 crop of each original at EVERY tile phase (dx, dy) ∈
    // 12×8 = 96 offsets and record which phases the overlap face
    // pairs. Result, pinned below: exactly the (dx % 6, dy % 4) =
    // (0, 0) lattice — 8 of 96 phases per doc, zero votes anywhere
    // else — so arbitrary-offset recall is 0 BY CONSTRUCTION, not by
    // fixture luck. The recorded decision (SURVEY §8): half-tile
    // alignment IS the supported closure for the fingerprint tiers;
    // quarter-stride would buy 4× coverage (still 1/6 of phases) for
    // 16× the rows — the wrong trade; arbitrary re-crops belong to
    // the embedding near-dup tier.
    val spark = TestSpark.spark
    import spark.implicits._
    val baseIds = Seq(10L, 20L, 30L)
    val docs = baseIds.map(d => (d, "x")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val orig = Multimodal.plantedPngPayloads(docs)
    val cropBase = 1000000L
    def cropId(d: Long, dx: Int, dy: Int) = cropBase + d * 10000L + dx * 100L + dy
    val phases = for {
      dx <- 0 until Multimodal.TileW
      dy <- 0 until Multimodal.TileH
    } yield (dx, dy)
    val crops = spark
      .createDataset(baseIds.flatMap(d => phases.map { case (dx, dy) => (d, dx, dy) }))
      .map { case (d, dx, dy) =>
        val w = 24
        val h = 24
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = Multimodal.pxPlantValue(d, x + dx, y + dy)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        Multimodal.MmRow(cropId(d, dx, dy), "image", w.toLong, h.toLong, baos.toByteArray)
      }
      .toDF()
    val pairs = Multimodal.mmImageNearDupTilesOverlap(orig.unionByName(crops))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // crop↔crop pairs of one doc legitimately share window pixels;
    // the measurement reads only original↔crop pairs
    val caught = pairs.flatMap { case (a, b) =>
      if (a >= cropBase || b < cropBase) None
      else {
        val enc = b - cropBase
        Some((a, enc / 10000L, ((enc % 10000L) / 100L).toInt, (enc % 100L).toInt))
      }
    }
    // zero cross-doc catches (disjoint planted content)
    assert(caught.forall { case (o, d, _, _) => o == d },
      s"cross-doc tile pair: ${caught.filterNot { case (o, d, _, _) => o == d }.toSeq}")
    val caughtPhases = caught.map { case (o, _, dx, dy) => (o, dx, dy) }.toSet
    val lattice = for {
      d <- baseIds
      (dx, dy) <- phases
      if dx % (Multimodal.TileW / 2) == 0 && dy % (Multimodal.TileH / 2) == 0
    } yield (d, dx, dy)
    assert(caughtPhases === lattice.toSet,
      s"the overlap face's empirical invariance class must be exactly the half-stride lattice; " +
        s"caught ${caughtPhases.size} of ${baseIds.size * phases.size} " +
        s"(expected ${lattice.size}); diff extra=${caughtPhases -- lattice.toSet} " +
        s"missing=${lattice.toSet -- caughtPhases}")
    graft.operators.CacheScope.releaseAll()
  }

  test("stored tile base: the probe equals the planted vote and fails loudly on a retired base") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x"), (20L, "y"), (30L, "z"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val base = Multimodal.plantedPngPayloads(docs)
    val batch = Multimodal.plantedCroppedPngPayloads(docs)
    // unique-per-run table name: the shared warehouse outlives the
    // JVM, and a parallel/re-entrant run against a fixed name would
    // collide (the Queries fixtures tag their names the same way)
    val t = s"tile_base_spec_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    graft.sinks.Sinks.writeTileBase(base, t)
    val got = Multimodal.tilesAgainstStored(spark, t, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Seq(10L, 20L, 30L)
      .map(d => (d + Multimodal.PxCropIdBase, d, 6L)).toSet
    assert(got === want, s"stored-base vote must find the planted pairs: $got")
    // the probe plans no cartesian; the corpus side is the bucketed scan
    val plan = Multimodal.tilesAgainstStored(spark, t, batch)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // crash discipline: a retired base fails the probe loudly
    spark.sql(s"DROP TABLE $t")
    intercept[Exception] {
      Multimodal.tilesAgainstStored(spark, t, batch).collect()
    }
    graft.operators.CacheScope.releaseAll()
  }

  // ---------------- content-anchored (keypoint) fingerprint face

  import MultimodalSpec.mdPng

  test("anchored face catches the (7,3) off-lattice crop BOTH tile faces provably miss") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x"), (20L, "y"), (30L, "z"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val corpus = Multimodal.plantedPngPayloads(docs)
      .unionByName(Multimodal.plantedArbitraryCroppedPngPayloads(docs))
    // (7, 3) is on neither lattice: the aligned face (12, 8) and the
    // half-stride face (6, 4) must both return zero pairs — the class
    // boundary the 96-phase measurement pinned, re-asserted on the
    // exact planted offset the registry rows ship
    assert(Multimodal.mmImageNearDupTiles(corpus).count() === 0L)
    assert(Multimodal.mmImageNearDupTilesOverlap(corpus).count() === 0L)
    val pairs = Multimodal.mmImageNearDupAnchored(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    val want = Seq(10L, 20L, 30L)
      .map(d => (d, d + Multimodal.PxCrop3IdBase)).toSet
    assert(got === want, s"anchored vote must find exactly the planted pairs: $got")
    assert(pairs.forall(_._3 >= Multimodal.AnchorMinVotes))
    graft.operators.CacheScope.releaseAll()
  }

  test("MEASUREMENT: the anchored face catches ALL 96 phases the overlap face catches 8 of") {
    // the same 96-offset plant as the overlap measurement, run
    // through the content-anchored vote: every (dx, dy) ∈ 12×8 must
    // pair with its source — the empirical invariance class has no
    // lattice left — and no crop pairs with a foreign doc
    val spark = TestSpark.spark
    import spark.implicits._
    val baseIds = Seq(10L, 20L, 30L)
    val docs = baseIds.map(d => (d, "x")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val orig = Multimodal.plantedPngPayloads(docs)
    val cropBase = 1000000L
    def cropId(d: Long, dx: Int, dy: Int) = cropBase + d * 10000L + dx * 100L + dy
    val phases = for {
      dx <- 0 until Multimodal.TileW
      dy <- 0 until Multimodal.TileH
    } yield (dx, dy)
    val crops = spark
      .createDataset(baseIds.flatMap(d => phases.map { case (dx, dy) => (d, dx, dy) }))
      .map { case (d, dx, dy) => mdPng(d, cropId(d, dx, dy), 24, 24, dx, dy) }
      .toDF()
    val pairs = Multimodal.mmImageNearDupAnchored(orig.unionByName(crops))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val caught = pairs.flatMap { case (a, b) =>
      if (a >= cropBase || b < cropBase) None
      else {
        val enc = b - cropBase
        Some((a, enc / 10000L, ((enc % 10000L) / 100L).toInt, (enc % 100L).toInt))
      }
    }
    assert(caught.forall { case (o, d, _, _) => o == d },
      s"cross-doc anchored pair: ${caught.filterNot { case (o, d, _, _) => o == d }.toSeq}")
    val caughtPhases = caught.map { case (o, _, dx, dy) => (o, dx, dy) }.toSet
    val all = (for { d <- baseIds; (dx, dy) <- phases } yield (d, dx, dy)).toSet
    assert(caughtPhases === all,
      s"the anchored face must catch every phase; caught ${caughtPhases.size} " +
        s"of ${all.size}; missing=${all -- caughtPhases}")
    graft.operators.CacheScope.releaseAll()
  }

  test("anchors of a crop = anchors of the original inside the crop's eligible interior, descriptors bit-identical") {
    // the crop-stability argument pinned structurally, not just
    // end-to-end: every quantity (score, strict-max decision,
    // descriptor) reads only pixels within the eligibility margins,
    // so the crop's anchor set is EXACTLY the original's restricted
    // to the crop's eligible window, shifted — at an offset chosen
    // off both lattices
    val spark = TestSpark.spark
    import spark.implicits._
    val (cx, cy, cw, ch) = (5, 7, 24, 24)
    val corpus = Seq(mdPng(10L, 1L, 36, 32, 0, 0), mdPng(10L, 2L, cw, ch, cx, cy))
      .toDF()
    val rows = Multimodal.anchorHashes(corpus).collect()
    val orig = rows.filter(_.doc_id == 1L)
      .map(a => ((a.anchor_x, a.anchor_y), (a.ah_hi, a.ah_lo))).toMap
    val crop = rows.filter(_.doc_id == 2L)
      .map(a => ((a.anchor_x, a.anchor_y), (a.ah_hi, a.ah_lo))).toMap
    val (mx, my) = (Multimodal.TileW / 2, Multimodal.TileH / 2)
    val expected = orig.collect {
      case ((ax, ay), d)
          if ax - cx >= mx && ax - cx <= cw - mx &&
            ay - cy >= my && ay - cy <= ch - my =>
        ((ax - cx, ay - cy), d)
    }
    assert(crop === expected,
      s"crop anchors must be the original's restricted+shifted set: " +
        s"crop=${crop.keySet.toSeq.sorted} expected=${expected.keySet.toSeq.sorted}")
    assert(expected.nonEmpty, "fixture must actually exercise shared anchors")
    graft.operators.CacheScope.releaseAll()
  }

  test("flat images yield zero anchors; busy images cap at AnchorCap deterministically") {
    val spark = TestSpark.spark
    import spark.implicits._
    // letterbox degeneracy: constant color → all scores 0 → no strict
    // max anywhere (and all below AnchorMinScore) — the case the tile
    // faces lean on the cap census for produces NOTHING here
    val flat = {
      val img = new java.awt.image.BufferedImage(
        36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(y => (0 until 36).foreach(x => img.setRGB(x, y, 0x808080)))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      Multimodal.MmRow(9L, "image", 36L, 32L, baos.toByteArray)
    }
    assert(Multimodal.anchorHashes(Seq(flat).toDF()).count() === 0L)
    // busy-image guardrail: a 120×80 noise image has ~880 natural
    // anchors; the retained set must be exactly AnchorCap rows and
    // identical across runs (score-desc, row-major tiebreak)
    val busy = Seq(mdPng(7L, 3L, 120, 80, 0, 0)).toDF()
    val run1 = Multimodal.anchorHashes(busy).collect()
      .map(a => (a.anchor_x, a.anchor_y, a.ah_hi, a.ah_lo)).toSet
    val run2 = Multimodal.anchorHashes(busy).collect()
      .map(a => (a.anchor_x, a.anchor_y, a.ah_hi, a.ah_lo)).toSet
    assert(run1.size === Multimodal.AnchorCap,
      s"cap must bind at exactly AnchorCap: ${run1.size}")
    assert(run1 === run2, "capped anchor set must be deterministic")
    graft.operators.CacheScope.releaseAll()
  }

  test("stored anchor base: the probe equals the planted vote and fails loudly on a retired base") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x"), (20L, "y"), (30L, "z"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val base = Multimodal.plantedPngPayloads(docs)
    val batch = Multimodal.plantedArbitraryCroppedPngPayloads(docs)
    val t = s"anchor_base_spec_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    graft.sinks.Sinks.writeAnchorBase(base, t)
    val got = Multimodal.anchorsAgainstStored(spark, t, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Seq(10L, 20L, 30L)
      .map(d => (d + Multimodal.PxCrop3IdBase, d)).toSet
    assert(got === want, s"stored-base anchored vote must find the planted pairs: $got")
    // probe ≡ the symmetric planted vote's pair set on the same corpus
    val direct = Multimodal.mmImageNearDupAnchored(base.unionByName(batch))
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(got === direct, s"probe must equal the direct vote: $got vs $direct")
    val plan = Multimodal.anchorsAgainstStored(spark, t, batch)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    spark.sql(s"DROP TABLE $t")
    intercept[Exception] {
      Multimodal.anchorsAgainstStored(spark, t, batch).collect()
    }
    graft.operators.CacheScope.releaseAll()
  }

  test("anchored clusters: each planted crop family is a 2-cluster canonicalized at the original") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((10L, "x"), (20L, "y"), (30L, "z"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val corpus = Multimodal.plantedPngPayloads(docs)
      .unionByName(Multimodal.plantedArbitraryCroppedPngPayloads(docs))
    val rows = Multimodal.mmImageAnchoredClusters(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length === 6, s"universe = all 6 anchoring payloads: ${rows.toSeq}")
    Seq(10L, 20L, 30L).foreach { d =>
      val fam = rows.filter(r => r._1 == d || r._1 == d + Multimodal.PxCrop3IdBase)
      assert(fam.forall(r => r._2 == d && r._3 == 2L),
        s"family $d must form one 2-cluster labeled at the original: ${fam.toSeq}")
      assert(fam.collect { case (id, _, _, can) if can => id }.toSeq === Seq(d),
        s"only the original is canonical in family $d: ${fam.toSeq}")
    }
    graft.operators.CacheScope.releaseAll()
  }

  test("needsBigInt flips exactly at the Long cross-product boundary") {
    import graft.operators.Multimodal.needsBigInt
    val L = Long.MaxValue
    // (L/2) * 2 <= L: still exact in Long — stays on the fast path
    assert(!needsBigInt(Array(L / 2), Array(2L)))
    // (L/2) * 3 overflows — must switch
    assert(needsBigInt(Array(L / 2), Array(3L)))
    // the max is taken across buckets, whichever bucket carries it
    assert(needsBigInt(Array(1L, L / 2, 7L), Array(3L, 1L, 1L)))
    assert(!needsBigInt(Array(0L, 0L), Array(0L, 0L))) // empty buckets
    // the magnitude gate is what the old frame-count gate missed: few
    // frames, huge per-frame magnitude
    assert(needsBigInt(Array(L / 4), Array(5L)))
  }
}

/** Executor-side fixture builder: a standalone object so Dataset
  * closures mapping over it serialize without dragging the suite in.
  */
private object MultimodalSpec extends Serializable {
  def mdPng(src: Long, id: Long, w: Int, h: Int, ox: Int, oy: Int): Multimodal.MmRow = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = Multimodal.pxPlantValue(src, x + ox, y + oy)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    Multimodal.MmRow(id, "image", w.toLong, h.toLong, baos.toByteArray)
  }
}
