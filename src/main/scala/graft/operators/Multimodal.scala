package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Multimodal column plumbing: opaque `binary` payloads with typed
  * metadata, processed by a partition-batched typed stage — the shape a
  * real image/audio pipeline needs (schema, partitioning, batch
  * iteration).
  *
  * The FEATURE path is a real header decode: payloads are synthesized
  * with genuine PNG / baseline-JPEG container headers (magic bytes,
  * IHDR / SOF0 dimension fields, real CRC32 on the PNG chunk) and
  * [[extractFeatures]] parses them the way a codec would — signature
  * check, big-endian dimension reads, JPEG marker-segment scan. Full
  * pixel decode (the part that needs an image library this container
  * doesn't have) is the one piece still out of scope: the synthetic
  * "entropy data" after the header is ASCII-projected text so the
  * frame/resize twins can verify their byte-level plumbing through
  * DuckDB, which cannot construct binary headers.
  *
  * Scale notes: payloads stay on executors (no collect); the typed stage
  * processes one partition's rows as a streamed iterator, so memory is
  * bounded by one payload, not one partition; feature extraction
  * parallelizes per-partition with no shuffle at all.
  */
object Multimodal {

  /** One multimodal row: payload + typed metadata. */
  case class MmRow(doc_id: Long, modality: String, width: Long, height: Long, payload: Array[Byte])

  /** Extracted features: container format + dimensions parsed from the
    * payload HEADER BYTES (not copied from metadata — `decoded_w/h`
    * equal to `width/height` is the decode verifying the ingest).
    */
  case class MmFeatures(
      doc_id: Long,
      modality: String,
      width: Long,
      height: Long,
      format: String,
      decoded_w: Long,
      decoded_h: Long,
      n_bytes: Long,
      aspect: Double)

  /** Attach a binary payload + metadata to the documents table. The
    * payload is ASCII-projected text bytes standing in for an encoded
    * image (the projection keeps byte == character so the DuckDB oracle
    * — which has no blob byte extraction — can verify the stubbed
    * decode; real ingests carry true binary); width/height are derived
    * metadata a real ingest would carry.
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lit("image").as("modality"),
      (col("n_chars") % 64 + 16).as("width"),
      (col("n_chars") * 7 % 64 + 16).as("height"),
      // Java regex is CODEPOINT-aware (Pattern since Java 5): a
      // supplementary character is one class match → one '_', exactly
      // RE2/DuckDB's semantics in the oracle twin — verified by
      // MultimodalSpec's astral-plane pin, so non-BMP text cannot
      // diverge payload lengths between the engines.
      encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", "_"), "utf-8").as("payload"))

  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG header (33 bytes): 8-byte signature + IHDR chunk (length, type,
    * 13-byte data with big-endian width/height, real CRC32 over
    * type+data) — what `file`/libpng would accept as a valid PNG start.
    */
  private[graft] def pngHeader(w: Int, h: Int): Array[Byte] = {
    val typeAndData = "IHDR".getBytes("US-ASCII") ++
      be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
    val crc = new java.util.zip.CRC32()
    crc.update(typeAndData)
    PngSig ++ be32(13) ++ typeAndData ++ be32(crc.getValue.toInt)
  }

  /** Baseline-JPEG header (21 bytes): SOI + SOF0 segment with 16-bit
    * big-endian height/width and three component specs — the fields a
    * dimension probe reads before any entropy-coded data.
    */
  private[graft] def jpegHeader(w: Int, h: Int): Array[Byte] =
    Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xc0.toByte, 0x00, 0x11, 0x08) ++
      be16(h) ++ be16(w) ++
      Array[Byte](0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)

  private def readBe32(p: Array[Byte], off: Int): Long =
    ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
      ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)
  private def readBe16(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xff) << 8) | (p(off + 1) & 0xff)

  /** Real container-header parse: (format, width, height) from the
    * payload bytes. PNG: signature + IHDR dimension fields. JPEG: SOI,
    * then a marker-segment scan to the first SOF0/SOF2 frame header
    * (skipping APPn/quant/Huffman segments by their length fields, as a
    * dimension probe does). Unrecognized bytes -> ("unknown", 0, 0) —
    * never throws, a corrupt payload is data, not a job failure.
    */
  private[graft] def parseHeader(p: Array[Byte]): (String, Long, Long) = {
    if (p.length >= 24 && p.startsWith(PngSig) &&
        p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R')
      ("png", readBe32(p, 16), readBe32(p, 20))
    else if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) {
      var i = 2
      while (i < p.length && (p(i) & 0xff) == 0xff) {
        // 0xff runs are legal fill before any marker: j = the marker byte
        var j = i
        while (j < p.length && (p(j) & 0xff) == 0xff) j += 1
        if (j >= p.length) return ("jpeg", 0L, 0L)
        val marker = p(j) & 0xff
        if (marker == 0xc0 || marker == 0xc2) {
          // SOF0/SOF2: length(2) precision(1) height(2) width(2) ...
          return if (j + 8 <= p.length)
            ("jpeg", readBe16(p, j + 6).toLong, readBe16(p, j + 4).toLong)
          else ("jpeg", 0L, 0L)
        } else if (marker == 0xd9) {
          return ("jpeg", 0L, 0L) // EOI before any frame header
        } else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) {
          i = j + 1 // TEM/RSTn/SOI are standalone: no length field follows
        } else {
          if (j + 3 > p.length) return ("jpeg", 0L, 0L)
          val len = readBe16(p, j + 1)
          if (len < 2) return ("jpeg", 0L, 0L) // malformed length would stall the scan
          i = j + 1 + len // next marker's 0xff
        }
      }
      ("jpeg", 0L, 0L) // SOI but no frame header in range
    } else ("unknown", 0L, 0L)
  }

  // ------------------------------------------------------ audio (WAV)
  /** Canonical 44-byte RIFF/WAVE header (PCM fmt chunk + data chunk
    * header), little-endian — what any WAV reader accepts as a valid
    * file start. The audio face of [[pngHeader]]/[[jpegHeader]].
    */
  private[graft] def wavHeader(
      sampleRate: Int, channels: Int, bitsPerSample: Int, dataLen: Int): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val byteRate = sampleRate * blockAlign
    "RIFF".getBytes("US-ASCII") ++ le32(36 + dataLen) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(channels) ++ le32(sampleRate) ++ le32(byteRate) ++
      le16(blockAlign) ++ le16(bitsPerSample) ++
      "data".getBytes("US-ASCII") ++ le32(dataLen)
  }

  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)
  private def readLe32(p: Array[Byte], off: Int): Long =
    (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
      ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
  private def readLe16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)

  /** Parsed audio features — everything a real WAV reader derives from
    * the container before touching samples; `duration_ms` is exact
    * integer math over the header fields.
    */
  case class MmAudio(
      doc_id: Long,
      format: String,
      sample_rate: Long,
      channels: Long,
      bits: Long,
      data_bytes: Long,
      duration_ms: Long)

  /** Audio payload synth: deterministic per-doc PCM parameters (8/12/
    * 16 kHz by text length, mono/stereo by id parity, 16-bit) around
    * the ASCII-projected text as stand-in sample data — the audio
    * sibling of [[withEncodedPayload]].
    */
  def withAudioPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      (lit(8000) + (col("n_chars") % 3).cast("int") * 4000).as("rate"),
      (lit(1) + (col("doc_id") % 2).cast("int")).as("channels"),
      encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", "_"), "utf-8").as("body"))
      .as[(Long, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, rate, ch, body) =>
        MmRow(id, "audio", 0L, 0L, wavHeader(rate, ch, 16, body.length) ++ body)
      })
      .toDF()
  }

  /** Everything the container scan derives before touching samples:
    * fmt-chunk fields plus the data chunk's offset and declared
    * length (the offset is what a sample decoder needs; declared
    * length may exceed the bytes actually present in a truncated
    * file — consumers clamp).
    */
  private[graft] case class WavInfo(
      rate: Long, ch: Int, bits: Int, dataOff: Int, dataLen: Long)

  /** REAL RIFF/WAVE container parse: signature check, then a
    * little-endian chunk scan to the `fmt ` and `data` chunks
    * (skipping unknown chunks by their length fields, as any WAV
    * reader does). Non-WAV payloads → None; a truncated header is
    * data, not a job failure. The ONE scan [[audioFeatures]] and
    * [[audioDHash]] both ride.
    */
  private[graft] def parseWav(p: Array[Byte]): Option[WavInfo] = {
    if (p.length < 12 ||
        !(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F') ||
        !(p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) None
    else {
      var i = 12L
      var rate = 0L; var ch = 0L; var bits = 0L; var dataLen = -1L
      var dataOff = -1
      var fmtSeen = false
      var halted = false
      while (!halted && i + 8 <= p.length && (dataLen < 0 || !fmtSeen)) {
        val io = i.toInt
        val cid = new String(p.slice(io, io + 4), "US-ASCII")
        val clen = readLe32(p, io + 4)
        if (cid == "fmt " && i + 8 + 16 <= p.length) {
          ch = readLe16(p, io + 10).toLong
          rate = readLe32(p, io + 12)
          bits = readLe16(p, io + 22).toLong
          fmtSeen = true
        } else if (cid == "data") { dataLen = clen; dataOff = io + 8 }
        // chunks are word-aligned: odd lengths carry a pad byte. All
        // arithmetic in Long: a corrupt 32-bit length near 2^32 must
        // neither spin the scan (zero advance) nor wrap the cursor
        // negative — a chunk that runs past the payload ends the scan
        // (truncated container = data, not a job failure).
        val next = i + 8L + clen + (clen & 1L)
        if (next <= i || (next > p.length && !(fmtSeen && dataLen >= 0))) halted = true
        else i = next
      }
      // bits must be a positive whole-byte width: bits in 1..7 would
      // make the block-align divisor zero (corrupt fmt = dropped row)
      if (!fmtSeen || dataLen < 0 || rate == 0 || ch == 0 || ch > 0xffff ||
          bits < 8 || bits % 8 != 0) None
      else Some(WavInfo(rate, ch.toInt, bits.toInt, dataOff, dataLen))
    }
  }

  /** Parsed audio container features; duration is exact integer
    * milliseconds: data_bytes · 1000 / (rate · channels · bits/8).
    */
  def audioFeatures(withPayloadDf: DataFrame): Dataset[MmAudio] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions(_.flatMap { r =>
      parseWav(r.payload).map { w =>
        MmAudio(
          r.doc_id, "wav", w.rate, w.ch.toLong, w.bits.toLong, w.dataLen,
          w.dataLen * 1000L / (w.rate * w.ch * (w.bits / 8)))
      }
    })
  }

  // ------------------------------------- audio perceptual fingerprint
  /** Audio dHash: decode the PCM frames the container scan located,
    * mono-mix each frame (SUM of channel samples — integer, so the
    * formula-replaying twin is bit-exact; a mean would divide), split
    * the frame axis into [[PhashBuckets]] time buckets with the same
    * `(k·n)/L` mapping [[byteDHash]] uses, take per-bucket ENERGY
    * (sum of |frame|), and emit 64 sign-of-delta bits by integer
    * cross-multiplication — no division, no float. Robustness
    * property (why energy-delta beats md5 for audio): resampling or
    * gain scaling moves bucket energies proportionally on BOTH sides
    * of each comparison, so the bit pattern survives the re-encodes a
    * crawl sees for one recording. 16-bit PCM only (the synth and
    * fixture format); other widths drop rather than mis-decode. A
    * recording with fewer frames than the bucket grid has no stable
    * signature — most buckets would be empty and every such clip
    * would collapse toward the all-zero hash, turning the band join
    * into a degenerate all-pairs bucket — so clips under
    * [[PhashBuckets]] frames drop, exactly as a production audio
    * fingerprinter refuses sub-signature-length clips.
    */
  private[graft] def audioDHash(p: Array[Byte]): Option[(Long, Long)] =
    parseWav(p).filter(_.bits == 16).flatMap { w =>
      val blockAlign = w.ch * 2
      val avail = math.max(0L, (p.length - w.dataOff).toLong)
      val usable = math.min(w.dataLen, avail)
      val n = (usable / blockAlign).toInt
      if (n < PhashBuckets) None
      else Some {
        val nb = PhashBuckets
        val sums = new Array[Long](nb)
        val cnts = new Array[Long](nb)
        var k = 0
        while (k < n) {
          val b = ((k.toLong * nb) / n).toInt
          var fv = 0L
          var c = 0
          while (c < w.ch) {
            val off = w.dataOff + k * blockAlign + 2 * c
            fv += (((p(off + 1) & 0xff) << 8) | (p(off) & 0xff)).toShort.toLong
            c += 1
          }
          sums(b) += math.abs(fv)
          cnts(b) += 1
          k += 1
        }
        // exact magnitude gate: parseWav admits up to 0xffff channels,
        // so per-frame |fv| (and with it the cross-product) scales with
        // the CHANNEL COUNT, not just n — a frame-count threshold alone
        // would let a crafted high-channel WAV overflow in Long
        val big = needsBigInt(sums, cnts)
        var lo = 0L
        var hi = 0L
        var b = 0
        while (b < nb - 1) {
          val bit =
            if (big) BigInt(sums(b + 1)) * cnts(b) > BigInt(sums(b)) * cnts(b + 1)
            else sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1)
          if (bit) {
            if (b < 32) lo |= 1L << b
            else hi |= 1L << (b - 32)
          }
          b += 1
        }
        (hi, lo)
      }
    }

  /** Planted "recording + its 2x-downsample" WAV pairs for the audio
    * near-dup rows — [[plantedResampledPayloads]]' discipline on the
    * third modality. The documents table's text stand-ins are far too
    * short for a 65-bucket energy signature to survive resampling
    * (real recordings always are), so every [[PlantEvery]]-th doc
    * plants a mono 16-bit waveform of [[AudioPlantMinLen]]+doc_id
    * samples in [[AudioPlantBlocks]] md5-keyed amplitude blocks —
    * locally smooth, globally unique, exactly the envelope statistics
    * a real recording's energy track has — plus its every-
    * [[AudioStride]]-th-sample copy at half the sample rate (same
    * duration, half the frames: a genuine resample) under a second
    * id. The operator must pair each waveform with its resample and
    * nothing else; the text-synth WAVs ride along as realistic
    * negatives.
    */
  val AudioPlantMinLen = 2000L
  // MORE blocks than [[PhashBuckets]]: with fewer, adjacent buckets
  // inside one block tie (strict > → deterministic 0), leaving only
  // ~32 entropy bits — at 100k+ planted waveforms those collide
  // quadratically under the 8-bit Hamming gate. ~2 blocks per bucket
  // keeps every adjacent-bucket comparison data-driven (64 real bits)
  // while blocks stay ≥ 7 samples, wide enough that the 2x resample's
  // boundary rounding moves only a few bits (spec-pinned ≤ 3).
  val AudioPlantBlocks = 128L
  val AudioPlantIdBase = 300000L
  val AudioStrideIdBase = 400000L
  val AudioStride = 2

  private[graft] def audioPlantValue(docId: Long, block: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"a$docId:$block".getBytes("UTF-8"))
    1000 + ((h(0) & 0xff) % 64) * 100
  }

  def plantedAudioPayloads(docs: DataFrame): DataFrame =
    plantedAudioPayloads(docs, AudioPlantIdBase, AudioStrideIdBase)

  /** [[plantedAudioPayloads]] with caller-chosen id bases — content
    * is keyed by the base `doc_id`; the scale probes pass spans
    * sized to the corpus so plant ids never collide (see the stretch
    * generator's overload for the collision arithmetic).
    */
  def plantedAudioPayloads(
      docs: DataFrame, plantBase: Long, strideBase: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val n = (AudioPlantMinLen + d).toInt
        val samples = new Array[Short](n)
        var j = 0
        var blk = -1L
        var v = 0
        while (j < n) {
          val b = j.toLong * AudioPlantBlocks / n
          if (b != blk) { blk = b; v = audioPlantValue(d, b) }
          samples(j) = v.toShort
          j += 1
        }
        def pcm(ss: Array[Short]): Array[Byte] = {
          val out = new Array[Byte](ss.length * 2)
          var i = 0
          while (i < ss.length) {
            out(2 * i) = ss(i).toByte
            out(2 * i + 1) = (ss(i) >> 8).toByte
            i += 1
          }
          out
        }
        val strided = Array.range(0, n, AudioStride).map(samples(_))
        val body = pcm(samples)
        val sbody = pcm(strided)
        Seq(
          MmRow(d + plantBase, "audio", 0L, 0L,
            wavHeader(8000, 1, 16, body.length) ++ body),
          MmRow(d + strideBase, "audio", 0L, 0L,
            wavHeader(8000 / AudioStride, 1, 16, sbody.length) ++ sbody))
      })
      .toDF()
  }

  // ------------------- audio SPECTRAL fingerprint (autocorrelation bank)
  // The Chromaprint-family answer to the energy dHash's blind spot.
  // The dHash buckets |sample| energy over RELATIVE time (bucket =
  // k·65/n), so it survives anything that remaps content
  // proportionally (gain, stereo mix, integer resampling — all
  // spec-pinned) but breaks the moment absolute content shifts
  // against the relative grid: leading/trailing silence, a trimmed
  // intro, a tempo stretch — every bucket boundary lands on different
  // content and the bits scramble. A spectral fingerprint hashes WHAT
  // the recording sounds like instead of WHEN its loud parts fall:
  // here, the normalized autocorrelation at [[SpectralLagCount]]
  // fixed integer lags (autocorrelation is the exact time-domain dual
  // of the power spectrum — Wiener–Khinchin — so a lag bank IS a
  // spectral bank, in integer arithmetic a DuckDB twin replays
  // bit-for-bit where a float DFT could not be). Silence contributes
  // zero to every lag product, constant-pitch stretching leaves lag
  // structure in place (periods are absolute, not relative), and gain
  // scales all lags together — so sign-of-adjacent-lag-delta bits
  // survive pad + stretch, which the planted pair pins while proving
  // the dHash misses it.

  /** 65 lags at [[SpectralLagBase]] + t·[[SpectralLagStep]] → 64
    * adjacent-delta bits, the same 64-bit budget as every perceptual
    * hash in the engine (shared banding + Hamming machinery). Step 2,
    * not 1: the autocorrelation of periodic content is piecewise-
    * linear in the lag with slope ~2/period, so CONSECUTIVE lags
    * differ by a sliver that block-boundary noise flips — doubling
    * the spacing doubles every comparison's signal while the window
    * [2, 130] still covers the planted periods' full triangle
    * structure (measured: the stretch pairs' worst Hamming fell from
    * 8 to the spec-pinned ≤ 3).
    */
  val SpectralLagBase = 2
  val SpectralLagStep = 2
  val SpectralLagCount = 65

  /** Minimum decodable frames for a stable lag signature — ~2× the
    * largest lag; shorter clips drop (the [[audioDHash]] sub-length
    * discipline).
    */
  val SpectralMinFrames = 260

  /** Near-dup Hamming gate for the SPECTRAL hash — tighter than
    * [[MmHammingMax]] deliberately: lag-bank bits are global-structure
    * bits (every bit sees the whole clip), so unrelated recordings
    * land closer together than under dHash's 64 independent local
    * deltas. Measured on the planted fixture: true stretch pairs reach
    * Hamming 5; the nearest unrelated recordings sit at 7.
    */
  val SpectralHammingMax = 5

  /** The autocorrelation-bank hash: decode + mono-mix (the
    * [[audioDHash]] decode), then for each lag L the integer product
    * sum Σ m(j)·m(j+L), then 64 sign-of-delta bits over
    * count-normalized adjacent lags (cross-multiplication — no
    * division). Comparisons run in BigInt (ac·count can cross 2^63 on
    * honest input); accumulation stays in Long unless the magnitude
    * gate says a crafted payload could overflow a product sum.
    */
  private[graft] def audioSpectralHash(p: Array[Byte]): Option[(Long, Long)] =
    parseWav(p).filter(_.bits == 16).flatMap { w =>
      val blockAlign = w.ch * 2
      val avail = math.max(0L, (p.length - w.dataOff).toLong)
      val usable = math.min(w.dataLen, avail)
      val n = (usable / blockAlign).toInt
      if (n < SpectralMinFrames) None
      else Some {
        val m = new Array[Long](n)
        var k = 0
        while (k < n) {
          var fv = 0L
          var c = 0
          while (c < w.ch) {
            val off = w.dataOff + k * blockAlign + 2 * c
            fv += (((p(off + 1) & 0xff) << 8) | (p(off) & 0xff)).toShort.toLong
            c += 1
          }
          m(k) = fv
          k += 1
        }
        lagBankHash(m)
      }
    }

  /** The ONE lag-bank kernel both spectral modalities ride (audio:
    * mono-mixed PCM samples; video: per-frame luma-sum DELTAS): for
    * each lag L the integer product sum Σ m(j)·m(j+L), then 64
    * sign-of-delta bits over count-normalized adjacent lags
    * (cross-multiplication — no division). Comparisons run in BigInt
    * (ac·count can cross 2^63 on honest input); accumulation stays in
    * Long unless the magnitude gate says a crafted payload could
    * overflow a product sum.
    */
  private[graft] def lagBankHash(m: Array[Long]): (Long, Long) = {
    val n = m.length
    var maxAbs = 0L
    var k = 0
    while (k < n) {
      if (math.abs(m(k)) > maxAbs) maxAbs = math.abs(m(k))
      k += 1
    }
    val nl = SpectralLagCount
    val big =
      maxAbs > 0 && BigInt(maxAbs) * BigInt(maxAbs) * BigInt(n) * 2 > BigInt(Long.MaxValue)
    val ac = new Array[BigInt](nl)
    var t = 0
    while (t < nl) {
      val lag = SpectralLagBase + SpectralLagStep * t
      if (big) {
        var s = BigInt(0)
        var j = 0
        while (j + lag < n) { s += BigInt(m(j)) * m(j + lag); j += 1 }
        ac(t) = s
      } else {
        var s = 0L
        var j = 0
        while (j + lag < n) { s += m(j) * m(j + lag); j += 1 }
        ac(t) = BigInt(s)
      }
      t += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < nl - 1) {
      val cntB = n.toLong - (SpectralLagBase + SpectralLagStep * b)
      val cntB1 = n.toLong - (SpectralLagBase + SpectralLagStep * (b + 1))
      if (ac(b + 1) * cntB > ac(b) * cntB1) {
        if (b < 32) lo |= 1L << b
        else hi |= 1L << (b - 32)
      }
      b += 1
    }
    (hi, lo)
  }

  /** Planted "recording + padded constant-pitch stretch" WAV pairs —
    * the transform class the energy dHash provably misses. Content:
    * [[AudioStretchTones]] square waves at md5-chosen integer periods
    * (absolute pitch), amplitude-modulated by [[AudioStretchEnvBlocks]]
    * md5-keyed envelope blocks (the recording's loudness contour).
    * The cousin plays the SAME tones with the envelope stretched
    * ×11/10 (a tempo change at constant pitch — the audio-tool
    * "time-stretch"), wrapped in 15% leading and 5% trailing silence
    * (the re-upload with an intro). Every bucket of the relative-time
    * energy grid now holds different content, so the dHash bits
    * scramble; the lag bank sees the same periods, the same
    * silence-transparent products, the same proportional envelope —
    * same bits. Square waves, not sinusoids: the synth must be
    * integer-exact for the formula-replaying twin.
    */
  val AudioStretchOrigIdBase = 500000L
  val AudioStretchIdBase = 600000L
  val AudioStretchTones = 5
  val AudioStretchEnvBlocks = 64L

  /** md5-derived tone parameters (period, amplitude, phase). Periods
    * in [40, 130] — inside the lag window so the bank sees the
    * structure, but LONG relative to it: a square wave's lag
    * autocorrelation is a triangle wave peaking at every period
    * multiple, and each peak straddled by an adjacent-lag comparison
    * is a near-tie bit stretch noise can flip — long periods put only
    * 1–3 peaks per tone in [2, 130] (vs ~16 for a period-8 tone),
    * which holds planted pairs inside the Hamming gate (measured).
    * Amplitude [1, 3] and phase [0, period) carry the per-doc
    * DISCRIMINATION the peak positions alone cannot (two docs sharing
    * a period draw still differ in triangle heights and cross-tone
    * interference — measured: period-only spectra cross-paired).
    */
  private[graft] def audioTone(docId: Long, m: Int): (Int, Int, Int) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"sp$docId:$m".getBytes("UTF-8"))
    val p = 40 + ((h(0) & 0xff) % 91)
    val a = 1 + ((h(1) & 0xff) % 3)
    val ph = (((h(2) & 0xff) << 8) | (h(3) & 0xff)) % p
    (p, a, ph)
  }

  /** md5-derived envelope level in [1200, 1704] — a REAL loudness
    * contour but deliberately low-variance (σ/μ ≈ 0.1): the envelope's
    * own autocorrelation stretches with tempo (block widths scale
    * while the lag axis is absolute — physics, not a bug), so its
    * contribution to the lag bank must stay small next to the
    * pitch-stable tone structure or near-tie bits flip between the
    * pair (measured: a wide-range envelope cost up to 4 of 64 bits).
    * × the worst-case ±15 tone sum stays inside 16-bit PCM.
    */
  private[graft] def audioEnvValue(docId: Long, block: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"se$docId:$block".getBytes("UTF-8"))
    1200 + ((h(0) & 0xff) % 64) * 8
  }

  // No caller-chosen-bases overload here, deliberately: the stretch
  // generator's payload length grows with the doc id (AudioPlantMinLen
  // + d), so a corpus-sized spectral scale probe would synthesize
  // multi-hundred-KB waveforms per plant — the registry/spec scales
  // (doc_id ≤ 5000) are the only users, and the default constants
  // never collide there.
  def plantedStretchedAudioPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val origBase = AudioStretchOrigIdBase
    val strBase = AudioStretchIdBase
    docs.filter(col("doc_id") % PlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val n = (AudioPlantMinLen + d).toInt
        val tonesP = (0 until AudioStretchTones).map(audioTone(d, _))
        def tone(i: Int): Int =
          tonesP.map { case (p, a, ph) =>
            if (((i + ph) % p) * 2 < p) a else -a
          }.sum
        def synth(len: Int): Array[Short] = {
          val out = new Array[Short](len)
          var i = 0
          var blk = -1L
          var env = 0
          while (i < len) {
            val b = i.toLong * AudioStretchEnvBlocks / len
            if (b != blk) { blk = b; env = audioEnvValue(d, b) }
            out(i) = (env * tone(i)).toShort
            i += 1
          }
          out
        }
        def pcm(ss: Array[Short]): Array[Byte] = {
          val out = new Array[Byte](ss.length * 2)
          var i = 0
          while (i < ss.length) {
            out(2 * i) = ss(i).toByte
            out(2 * i + 1) = (ss(i) >> 8).toByte
            i += 1
          }
          out
        }
        val orig = synth(n)
        val n10 = n * 11 / 10
        val pad1 = 3 * n / 20
        val pad2 = n / 20
        val stretched = new Array[Short](pad1 + n10 + pad2)
        System.arraycopy(synth(n10), 0, stretched, pad1, n10)
        Seq(
          MmRow(d + origBase, "audio", 0L, 0L,
            wavHeader(8000, 1, 16, orig.length * 2) ++ pcm(orig)),
          MmRow(d + strBase, "audio", 0L, 0L,
            wavHeader(8000, 1, 16, stretched.length * 2) ++ pcm(stretched)))
      })
      .toDF()
  }

  /** One sample-true audio resample result: the re-encoded WAV (a real
    * playable container — consumers get actual audio bytes) plus
    * SQL-replayable proof columns: output frame count, the resampled
    * track's integer |sample| energy sum, and an md5 over its
    * `_`-joined sample values (container bytes hash-stable here, but
    * proof columns keep the [[MmResizedPx]] discipline: only
    * formula-replayable values participate in hashing).
    */
  case class MmAudioResampled(
      doc_id: Long,
      out_rate: Long,
      n_frames: Long,
      energy_sum: Long,
      pcm_md5: String,
      payload: Array[Byte])

  /** Decimation factor for [[resampleAudio]]. */
  val AudioResampleFactor = 4

  /** SAMPLE-TRUE audio resample — [[resizePx]]'s audio sibling:
    * chunk-scan the container, decode the signed 16-bit frames,
    * mono-mix, box-average every [[AudioResampleFactor]] consecutive
    * frames with EXACT integer arithmetic (floor(sum/count) — no
    * float, so a formula-replaying twin is bit-exact), and re-encode
    * through [[wavHeader]] at rate/factor. Non-WAV / non-16-bit
    * payloads drop (strict container discipline, as
    * the [[Audio]] kernel); a final partial window averages its
    * actual count, as any decimator does.
    */
  def resampleAudio(
      withPayloadDf: DataFrame,
      factor: Int = AudioResampleFactor): Dataset[MmAudioResampled] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val p = r.payload
        parseWav(p).filter(_.bits == 16).flatMap { w =>
          val blockAlign = w.ch * 2
          val avail = math.max(0L, (p.length - w.dataOff).toLong)
          val usable = math.min(w.dataLen, avail)
          val n = (usable / blockAlign).toInt
          if (n <= 0) None
          else {
            val outN = (n + factor - 1) / factor
            val out = new Array[Short](outN)
            var o = 0
            var k = 0
            while (k < n) {
              val hi = math.min(k + factor, n)
              var acc = 0L
              var j = k
              while (j < hi) {
                var fv = 0L
                var c = 0
                while (c < w.ch) {
                  val off = w.dataOff + j * blockAlign + 2 * c
                  fv += (((p(off + 1) & 0xff) << 8) | (p(off) & 0xff)).toShort.toLong
                  c += 1
                }
                acc += fv
                j += 1
              }
              // floor division toward negative infinity (SQL // floors
              // the same way), then clamp to the 16-bit output range:
              // a stereo mono-mix sum can exceed a short, and a real
              // mixer saturates rather than wraps
              val v = Math.floorDiv(acc, (hi - k).toLong)
              out(o) = math.max(-32768L, math.min(32767L, v)).toShort
              o += 1
              k = hi
            }
            val body = new Array[Byte](outN * 2)
            var i2 = 0
            var energy = 0L
            val parts = new StringBuilder
            while (i2 < outN) {
              body(2 * i2) = out(i2).toByte
              body(2 * i2 + 1) = (out(i2) >> 8).toByte
              energy += math.abs(out(i2).toLong)
              if (parts.nonEmpty) parts.append('_')
              parts.append(out(i2).toInt)
              i2 += 1
            }
            val pcmMd5 = md.digest(parts.toString.getBytes("US-ASCII"))
              .map("%02x".format(_)).mkString
            Some(MmAudioResampled(
              r.doc_id, w.rate / factor, outN.toLong, energy, pcmMd5,
              wavHeader((w.rate / factor).toInt, 1, 16, body.length) ++ body))
          }
        }
      }
    }
  }

  // ------------------------------------------------ video container (AVI)
  /** Everything the AVI container scan derives before touching pixels:
    * the main-header timing/geometry fields plus each frame chunk's
    * (offset, length) — what a frame decoder needs.
    */
  private[graft] case class AviInfo(
      usPerFrame: Long, w: Long, h: Long, frames: Array[(Int, Int)])

  /** Canonical RIFF/AVI assembly (the public AVI layout: RIFF("AVI ")
    * → LIST(hdrl){avih} → LIST(movi){one `00db` raw-frame chunk per
    * frame}) — the [[wavHeader]] synthesize-then-parse discipline on
    * the FIFTH container format. `avih` carries the standard
    * AVIMAINHEADER field order (microseconds per frame at +0, total
    * frames at +16, width/height at +32/+36); frames are raw 8-bit
    * luma planes, odd lengths pad per RIFF word alignment.
    */
  private[graft] def aviContainer(
      usPerFrame: Int, w: Int, h: Int, frames: Array[Array[Byte]]): Array[Byte] = {
    val avih =
      le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
        le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrlBody =
      "avih".getBytes("US-ASCII") ++ le32(avih.length) ++ avih
    val hdrl =
      "LIST".getBytes("US-ASCII") ++ le32(4 + hdrlBody.length) ++
        "hdrl".getBytes("US-ASCII") ++ hdrlBody
    val moviBody = frames.flatMap { f =>
      "00db".getBytes("US-ASCII") ++ le32(f.length) ++ f ++
        (if (f.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    }
    val movi =
      "LIST".getBytes("US-ASCII") ++ le32(4 + moviBody.length) ++
        "movi".getBytes("US-ASCII") ++ moviBody
    "RIFF".getBytes("US-ASCII") ++ le32(4 + hdrl.length + movi.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
  }

  /** REAL AVI container parse: RIFF signature + form-type check, then
    * a little-endian chunk walk that descends into LIST chunks, reads
    * the `avih` timing/geometry fields, and records every `00db`
    * frame chunk's extent — skipping unknown chunks by their length
    * fields, as any AVI reader does. All cursor arithmetic in Long
    * with the [[parseWav]] hardening: a corrupt 32-bit length must
    * neither spin the scan nor wrap the cursor, and a chunk running
    * past its enclosure halts the parse (truncated container = data,
    * not a job failure). A container whose frame chunks disagree with
    * the header geometry (length ≠ w·h) is corrupt → None.
    */
  private[graft] def parseAvi(p: Array[Byte]): Option[AviInfo] = {
    if (p.length < 12 ||
        !(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F') ||
        !(p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' ')) None
    else {
      var usPerFrame = -1L
      var w = -1L
      var h = -1L
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var ok = true
      // depth-bounded LIST descent: a real AVI nests 2-3 levels; a
      // crafted payload nesting thousands of 12-byte LISTs would
      // otherwise overflow the scan's stack — corrupt data must stay
      // data, never a job failure (the parseWav hardening contract)
      def scan(start: Long, end: Long, depth: Int): Unit = {
        var i = start
        while (ok && i + 8 <= end) {
          val io = i.toInt
          val cid = new String(p.slice(io, io + 4), "US-ASCII")
          val clen = readLe32(p, io + 4)
          val body = i + 8
          val next = body + clen + (clen & 1L)
          if (next <= i || next > end) ok = false
          else {
            if (cid == "LIST" && clen >= 4) {
              if (depth >= 8) ok = false
              else scan(body + 4, body + clen, depth + 1)
            } else if (cid == "avih" && clen >= 40) {
              usPerFrame = readLe32(p, io + 8)
              w = readLe32(p, io + 40)
              h = readLe32(p, io + 44)
            } else if (cid == "00db") frames += ((body.toInt, clen.toInt))
            i = next
          }
        }
      }
      scan(12L, p.length.toLong, 0)
      if (!ok || usPerFrame <= 0 || w <= 0 || h <= 0 || frames.isEmpty ||
          frames.exists(_._2.toLong != w * h)) None
      else Some(AviInfo(usPerFrame, w, h, frames.toArray))
    }
  }

  /** Parsed video container features; duration is exact integer
    * milliseconds: n_frames · us_per_frame / 1000.
    */
  case class MmVideo(
      doc_id: Long,
      format: String,
      width: Long,
      height: Long,
      n_frames: Long,
      us_per_frame: Long,
      duration_ms: Long)

  /** Video payload synth: deterministic per-doc geometry (2–4 px a
    * side by id/length) and frame timing (40/60/80 ms per frame by
    * text length) around the ASCII-projected text sliced into
    * consecutive w·h-byte raw luma frames — the video sibling of
    * [[withAudioPayload]]. Docs shorter than one frame produce no
    * `00db` chunk and drop at parse, as a real demuxer drops an empty
    * movi.
    */
  def withVideoPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      (lit(2) + (col("doc_id") % 3)).cast("long").as("w"),
      (lit(2) + (col("n_chars") % 3)).cast("long").as("h"),
      (lit(40000) + (col("n_chars") % 3).cast("int") * 20000).as("uspf"),
      encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", "_"), "utf-8").as("body"))
      .as[(Long, Long, Long, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, w, h, uspf, body) =>
        val fb = (w * h).toInt
        val n = body.length / fb
        val frames = Array.tabulate(n)(k => body.slice(k * fb, (k + 1) * fb))
        MmRow(id, "video", w, h, aviContainer(uspf, w.toInt, h.toInt, frames))
      })
      .toDF()
  }

  /** Per-payload video features: the container scan every video face
    * rides. Non-AVI payloads drop — like audio, pixel data interpreted
    * from arbitrary bytes carries no video statistics, so the modality
    * is strict about its container.
    */
  def videoFeatures(withPayloadDf: DataFrame): Dataset[MmVideo] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions(_.flatMap { r =>
      parseAvi(r.payload).map { v =>
        MmVideo(
          r.doc_id, "avi", v.w, v.h, v.frames.length.toLong, v.usPerFrame,
          v.frames.length.toLong * v.usPerFrame / 1000L)
      }
    })
  }

  /** Temporal video dHash: decode the frame chunks the container scan
    * located, take each frame's LUMA SUM (unsigned bytes — integer,
    * so the formula-replaying twin is bit-exact), split the frame
    * axis into [[PhashBuckets]] time buckets with the same `(k·nb)/L`
    * mapping the byte/audio kernels use, and emit 64 sign-of-delta
    * bits by integer cross-multiplication. Robustness property: a
    * frame-rate downsample (every 2nd frame) maps surviving frames to
    * the same relative positions, so bucket luma means move together
    * and the bit pattern survives — the temporal analogue of the
    * audio kernel's resample invariance. Clips under [[PhashBuckets]]
    * frames drop, exactly as the audio kernel refuses sub-signature-
    * length clips (and for the same degenerate-bucket reason).
    */
  private[graft] def videoDHash(p: Array[Byte]): Option[(Long, Long)] =
    parseAvi(p).flatMap { v =>
      val n = v.frames.length
      if (n < PhashBuckets) None
      else Some {
        val nb = PhashBuckets
        val sums = new Array[Long](nb)
        val cnts = new Array[Long](nb)
        var k = 0
        while (k < n) {
          val b = ((k.toLong * nb) / n).toInt
          val (off, len) = v.frames(k)
          var s = 0L
          var j = 0
          while (j < len) {
            s += (p(off + j) & 0xff)
            j += 1
          }
          sums(b) += s
          cnts(b) += 1
          k += 1
        }
        // exact magnitude gate: frame luma sums scale with w·h, so a
        // wide-frame AVI overflows the cross-product far below any
        // frame-count threshold
        val big = needsBigInt(sums, cnts)
        var lo = 0L
        var hi = 0L
        var b = 0
        while (b < nb - 1) {
          val bit =
            if (big) BigInt(sums(b + 1)) * cnts(b) > BigInt(sums(b)) * cnts(b + 1)
            else sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1)
          if (bit) {
            if (b < 32) lo |= 1L << b
            else hi |= 1L << (b - 32)
          }
          b += 1
        }
        (hi, lo)
      }
    }

  /** Planted "clip + its 2x frame-rate downsample" AVI pairs —
    * [[plantedAudioPayloads]]' discipline on the fifth container. The
    * text stand-ins are too short for a 65-bucket temporal signature,
    * so every [[PlantEvery]]-th doc plants a [[VideoPlantW]]×
    * [[VideoPlantH]] constant-luma-per-frame clip of
    * [[VideoPlantMinFrames]]+(doc_id % 1000) frames in
    * [[VideoPlantBlocks]] md5-keyed luma blocks (locally smooth,
    * globally unique — real clips' shot structure), plus its
    * every-[[VideoStride]]-th-frame copy at doubled frame interval
    * (same duration, half the frames: a genuine frame-rate
    * downsample) under a second id.
    */
  // Frame count floor sized like [[AudioPlantMinLen]] relative to the
  // bucket grid: ≥ 32 frames per bucket and ≥ 16 per md5 block — the
  // same granularity ratios the audio plant uses — so a 2x frame-rate
  // downsample's boundary rounding moves only a few bits (spec-pinned
  // ≤ 3). At 260 frames (4/bucket) the rounding drifted past the
  // Hamming gate; at 1040 (16/bucket) one pair still missed a band.
  val VideoPlantMinFrames = 2080L
  val VideoPlantBlocks = 128L
  val VideoPlantIdBase = 500000L
  val VideoStrideIdBase = 600000L
  val VideoStride = 2
  val VideoPlantW = 8
  val VideoPlantH = 8
  val VideoPlantUsPerFrame = 40000

  private[graft] def videoPlantValue(docId: Long, block: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"v$docId:$block".getBytes("UTF-8"))
    20 + ((h(0) & 0xff) % 200)
  }

  def plantedVideoPayloads(docs: DataFrame): DataFrame =
    plantedVideoPayloads(docs, VideoPlantIdBase, VideoStrideIdBase)

  /** [[plantedVideoPayloads]] with caller-chosen id bases — content
    * is keyed by the base `doc_id`; the scale probes pass spans
    * sized to the corpus so plant ids never collide (see the stretch
    * generator's overload for the collision arithmetic).
    */
  def plantedVideoPayloads(
      docs: DataFrame, plantBase: Long, strideBase: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val n = (VideoPlantMinFrames + d % 1000).toInt
        val fb = VideoPlantW * VideoPlantH
        def frame(v: Int) = Array.fill(fb)(v.toByte)
        val vals =
          Array.tabulate(n)(k => videoPlantValue(d, k.toLong * VideoPlantBlocks / n))
        val svals = Array.range(0, n, VideoStride).map(vals(_))
        Seq(
          MmRow(d + plantBase, "video", VideoPlantW, VideoPlantH,
            aviContainer(VideoPlantUsPerFrame, VideoPlantW, VideoPlantH,
              vals.map(frame))),
          MmRow(d + strideBase, "video", VideoPlantW, VideoPlantH,
            aviContainer(VideoPlantUsPerFrame * VideoStride, VideoPlantW,
              VideoPlantH, svals.map(frame))))
      })
      .toDF()
  }

  // --------------- video SPECTRAL fingerprint (temporal lag bank)
  // The video half of the time-shift blind spot the audio lag bank
  // closed: [[videoDHash]] buckets per-frame luma over RELATIVE time
  // (bucket = k·65/n), so it survives proportional remaps (frame-rate
  // decimation — spec-pinned) but scrambles the moment absolute
  // content shifts against the relative grid: leading/trailing black
  // frames (the re-upload with a title card), a trimmed intro, a
  // re-edit that changes the cut length. The spectral face hashes the
  // clip's temporal TEXTURE instead of where its bright parts fall:
  // the per-frame luma-sum DELTA series (deltas, not raw sums — raw
  // luma is non-negative, so its lag products are dominated by the
  // DC mean², and black pads would shift that mean; deltas are
  // zero-mean by construction, black pads and static shots contribute
  // ZERO to every product, and the frame-geometry factor w·h scales
  // all lags together exactly as audio gain does) through the SAME
  // 65-lag autocorrelation bank as the audio face ([[lagBankHash]] —
  // one kernel, two modalities). Flicker periods are absolute in
  // frame units (a scene strobe, mains-flicker aliasing, a cursor
  // blink — frame-rate-locked texture), so they survive the black
  // pads and the cut-length change the planted pair plants, while
  // the temporal dHash provably misses both (spec-pinned).

  /** Minimum decodable frames for a stable video lag signature: the
    * delta series needs [[SpectralMinFrames]] points, so one frame
    * more. The text-byte flicker projection ([[withFlickerVideoPayload]])
    * gives one frame per payload character, so documents shorter than
    * this drop — exactly the audio kernel's sub-length discipline.
    */
  val VideoSpectralMinFrames = SpectralMinFrames + 1

  /** Near-dup Hamming gate for the video spectral hash. Tighter than
    * the audio face's [[SpectralHammingMax]]: the delta series is
    * exactly zero over the pads and both splice deltas are pinned to
    * the floor, so planted pairs sit very close (measured at 500
    * plants: worst true pair 5, 498 of 500 ≤ 3; nearest cross-doc
    * clips at 3 — the gate rides the knee; the audio face's plants
    * measure FAR worse cross-separation, 4% of cross pairs inside its
    * gate vs 0.012% here, the periodic-noise fixture's payoff).
    */
  val VideoSpectralHammingMax = 4

  /** Planted "clip + black-padded longer cut" AVI pairs —
    * [[plantedStretchedAudioPayloads]]' discipline adapted to a
    * DELTA-domain fingerprint. Content: a doc-keyed PERIODIC
    * PSEUDO-NOISE luma loop ([[videoPlantPeriod]] /
    * [[videoPlantLevel]] — the frame-rate-locked texture a strobe or
    * animation loop puts on film). The cousin replays the SAME loop
    * for a ×11/10 LONGER cut, wrapped in 15% leading and 5% trailing
    * BLACK frames — the title-card re-upload with a re-edited
    * length, the transform class that moves every relative-time
    * bucket boundary and so scrambles the temporal dHash, while pad
    * deltas are zero (transparent to every lag product) and the
    * loop's period is absolute in frame units, so the normalized lag
    * profile is preserved. Frames are 2×2 with the value series
    * encoded in the PIXEL SUM (⌊V/4⌋ per pixel, V%4 pixels +1),
    * which buys a [0, 1020] integer budget while the kernel still
    * reads real decoded luma sums.
    */
  val VideoStretchOrigIdBase = 500000L
  val VideoStretchIdBase = 600000L
  val VideoStretchMinFrames = 2000L
  val VideoStretchFloor = 20

  /** md5-derived flicker period in [40, 60] frames. The planted
    * content is a PERIODIC PSEUDO-NOISE loop — one md5-valued luma
    * level per residue class, repeated every [[videoPlantPeriod]]
    * frames — not an audio-style tone mixture, for a measured reason:
    * a multi-tone triangle profile's lag autocorrelation is SMOOTH,
    * and sign-of-adjacent-slope bits of a smooth shared shape carry
    * almost no per-doc entropy (minimum cross-plant Hamming 0 and
    * ~4-6% of cross pairs inside the gate, on every tone draw tried
    * AND on the audio face's own plants; the first ten bits were
    * identical across every doc). A periodic noise loop inverts
    * that: its autocorrelation is exact repetition peaks at multiples
    * of the period plus a doc-specific pseudo-random residue at every
    * other lag, so every bit is an independent doc-keyed coin —
    * measured cross-plant Hamming re-centers at ~32 — while the
    * longer cut replays the SAME loop, so the normalized profile (and
    * the bits) barely move. The period window keeps ≥ 2 repetition
    * peaks inside the lag bank and ≥ 33 loop repetitions per clip
    * (edge partial-period residue ≪ the floor signal, which scales
    * with repetition count).
    */
  private[graft] def videoPlantPeriod(docId: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"vs$docId".getBytes("UTF-8"))
    41 + 2 * ((h(0) & 0xff) % 11)
  }

  /** The loop's luma level for residue class `j0` — md5-uniform in
    * [floor, floor + 980], inside the 2×2 pixel-sum budget of 1020.
    * The loop's FIRST and LAST levels are pinned to the floor, and
    * the padded cousin cuts its content on a loop boundary
    * ([[plantedStretchedVideoPayloads]]): both black→content splices
    * then contribute a delta of ±floor instead of a value-sized
    * spike, whose cross products against the content otherwise rival
    * the noise-floor lag signal (measured: the two worst true pairs
    * at Hamming 5 and 7 dropped to ≤ 3 with pinned splices).
    */
  private[graft] def videoPlantLevel(docId: Long, p: Int, j0: Int): Int =
    if (j0 == 0 || j0 == p - 1) VideoStretchFloor
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"vn$docId:$j0".getBytes("UTF-8"))
      VideoStretchFloor + ((((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 981)
    }

  def plantedStretchedVideoPayloads(docs: DataFrame): DataFrame =
    plantedStretchedVideoPayloads(docs, VideoStretchOrigIdBase, VideoStretchIdBase)

  /** [[plantedStretchedVideoPayloads]] with caller-chosen id bases.
    * Payload CONTENT is keyed by the base `doc_id` (md5 period/level
    * seeds), so moving the bases relabels rows without changing a
    * byte — the scale probes use this to keep orig/stretch id spans
    * disjoint at corpus sizes where the default constants' 100k
    * spacing would collide (d + 500000 overlaps d' + 600000 once
    * nDocs > 100000 + PlantEvery, giving ~(nDocs − 100000)/PlantEvery
    * doc_ids two different payloads and corrupting recall counts).
    */
  def plantedStretchedVideoPayloads(
      docs: DataFrame, origBase: Long, strBase: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val n = (VideoStretchMinFrames + d % 1000).toInt
        val p = videoPlantPeriod(d)
        // the cousin's content cuts on a loop boundary (splice pinning)
        val n10 = (n * 11 / 10) / p * p
        val loop = Array.tabulate(p)(videoPlantLevel(d, p, _))
        def value(i: Int): Int = loop(i % p)
        // 2x2 frame whose PIXEL SUM is exactly v
        def frame(v: Int): Array[Byte] = {
          val q = v / 4
          val r = v % 4
          Array.tabulate(4)(j => (if (j < r) q + 1 else q).toByte)
        }
        val black = Array.fill(4)(0.toByte)
        val pad1 = 3 * n / 20
        val pad2 = n / 20
        val orig = Array.tabulate(n)(i => frame(value(i)))
        val stretched =
          Array.fill(pad1)(black) ++
            Array.tabulate(n10)(i => frame(value(i))) ++
            Array.fill(pad2)(black)
        Seq(
          MmRow(d + origBase, "video", 2L, 2L,
            aviContainer(VideoPlantUsPerFrame, 2, 2, orig)),
          MmRow(d + strBase, "video", 2L, 2L,
            aviContainer(VideoPlantUsPerFrame, 2, 2, stretched)))
      })
      .toDF()
  }

  /** The flicker projection: each payload character becomes ONE
    * constant-luma 2×2 frame (value = the byte), so a document's
    * ASCII projection reads as a per-frame luma series long enough
    * for a lag signature — the negative set where spectral pairing is
    * mathematically possible. [[withVideoPayload]]'s w·h-byte frame
    * slicing gives at most ~144 frames from the corpus's text lengths,
    * below any stable lag window; the audio face solved the same
    * problem with 2-byte PCM samples, video needs a frame per byte.
    * Real AVI containers either way — the operator's container
    * discipline is exercised, not bypassed.
    */
  def withFlickerVideoPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", "_"), "utf-8").as("body"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, body) =>
        val frames = Array.tabulate(body.length)(k => Array.fill(4)(body(k)))
        MmRow(id, "video", 2L, 2L, aviContainer(VideoPlantUsPerFrame, 2, 2, frames))
      })
      .toDF()
  }

  /** The temporal lag-bank hash: real AVI frame walk → per-frame
    * integer luma sums → the DELTA series → [[lagBankHash]]. Clips
    * under [[VideoSpectralMinFrames]] frames drop.
    */
  private[graft] def videoSpectralHash(p: Array[Byte]): Option[(Long, Long)] =
    parseAvi(p).flatMap { v =>
      val n = v.frames.length
      if (n < VideoSpectralMinFrames) None
      else Some {
        val lum = new Array[Long](n)
        var k = 0
        while (k < n) {
          val (off, len) = v.frames(k)
          var s = 0L
          var j = 0
          while (j < len) {
            s += (p(off + j) & 0xff)
            j += 1
          }
          lum(k) = s
          k += 1
        }
        val m = new Array[Long](n - 1)
        var i = 0
        while (i < n - 1) {
          m(i) = lum(i + 1) - lum(i)
          i += 1
        }
        lagBankHash(m)
      }
    }

  // ------------------------------------- spatial (per-frame) video dHash
  /** The SPATIAL video fingerprint's planted fixture parameters: clips
    * of [[PxVideoFrames]] frames whose pixels are md5-derived constant
    * cells ([[PxVideoCellW]]×[[PxVideoCellH]] px), planted on every
    * [[PxVideoEvery]]-th doc as an original plus a vertically CROPPED
    * copy ([[PxVideoCropPad]] rows off top and bottom). The crop is
    * the re-encode the TEMPORAL hash ([[videoDHash]]) cannot catch —
    * cropping changes every frame's luma sum non-uniformly, scrambling
    * the time-bucket deltas — while the per-frame 2-D dHash survives
    * it: cell rows span two grid rows, so six of the eight block rows
    * land in a single cell row in BOTH geometries (bit-identical), and
    * the two mixed rows are dominance-weighted 5:2 toward the original
    * cell. Geometry is chosen so both variants' grids divide exactly
    * (72 = 9·8 blocks wide; 64 = 8·8 and 56 = 8·7 block rows), keeping
    * every block's pixel count uniform and the oracle twin a pure
    * closed-form overlap formula — no per-pixel replay.
    */
  val PxVideoEvery = 50L
  val PxVideoIdBase = 700000L
  val PxVideoCropIdBase = 800000L
  val PxVideoW = 72
  val PxVideoH = 64
  val PxVideoCropPad = 4
  val PxVideoFrames = 6
  val PxVideoCellW = 8
  val PxVideoCellH = 16
  /** Frames sampled per clip for the spatial hash: all frames when the
    * clip has at most this many, else this many at even RELATIVE
    * positions — so a frame-rate-resampled copy's slot s still lands
    * on the same content as the original's slot s.
    */
  val PxVideoMaxSlots = 8

  private[graft] def pxVideoCell(docId: Long, k: Int, cy: Int, cx: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"pv$docId:$k:$cy:$cx".getBytes("UTF-8"))
    16 + ((h(0) & 0xff) % 200)
  }

  def plantedPxVideoPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PxVideoEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val full = Array.tabulate(PxVideoFrames) { k =>
          val f = new Array[Byte](PxVideoW * PxVideoH)
          var y = 0
          while (y < PxVideoH) {
            var x = 0
            while (x < PxVideoW) {
              f(y * PxVideoW + x) =
                pxVideoCell(d, k, y / PxVideoCellH, x / PxVideoCellW).toByte
              x += 1
            }
            y += 1
          }
          f
        }
        val cropH = PxVideoH - 2 * PxVideoCropPad
        val cropped = full.map(f =>
          java.util.Arrays.copyOfRange(
            f, PxVideoCropPad * PxVideoW, (PxVideoH - PxVideoCropPad) * PxVideoW))
        Seq(
          MmRow(d + PxVideoIdBase, "video", PxVideoW, PxVideoH,
            aviContainer(VideoPlantUsPerFrame, PxVideoW, PxVideoH, full)),
          MmRow(d + PxVideoCropIdBase, "video", PxVideoW, cropH,
            aviContainer(VideoPlantUsPerFrame, PxVideoW, cropH, cropped)))
      })
      .toDF()
  }

  /** 2-D dHash over ONE raw 8-bit luma plane at `off` — the
    * [[pixelDHash]] grid math applied to an already-decoded frame
    * (AVI `00db` chunks carry bare planes; no codec in the loop).
    * None when the plane is smaller than the grid — sub-grid frames
    * carry no stable spatial signal, exactly the [[pixelDHash]] gate.
    */
  private[graft] def planeDHash(
      p: Array[Byte], off: Int, w: Int, h: Int): Option[(Long, Long)] =
    if (w < PxGridW || h < PxGridH || off < 0 || off.toLong + w.toLong * h > p.length) None
    else {
      val sums = Array.ofDim[Long](PxGridH, PxGridW)
      val cnts = Array.ofDim[Long](PxGridH, PxGridW)
      var y = 0
      while (y < h) {
        val by = ((y.toLong * PxGridH) / h).toInt
        var x = 0
        while (x < w) {
          val bx = ((x.toLong * PxGridW) / w).toInt
          sums(by)(bx) += (p(off + y * w + x) & 0xff).toLong
          cnts(by)(bx) += 1
          x += 1
        }
        y += 1
      }
      var lo = 0L
      var hi = 0L
      var b = 0
      while (b < 64) {
        val yy = b / (PxGridW - 1)
        val xx = b % (PxGridW - 1)
        val bit =
          sums(yy)(xx + 1) * cnts(yy)(xx) > sums(yy)(xx) * cnts(yy)(xx + 1)
        if (bit) {
          if (b < 32) lo |= 1L << b
          else hi |= 1L << (b - 32)
        }
        b += 1
      }
      Some((hi, lo))
    }

  /** Sampled per-frame spatial hashes of one clip: up to
    * [[PxVideoMaxSlots]] frames at even relative positions, each
    * through [[planeDHash]]. Clips whose geometry is under the grid
    * (the text stand-ins at 2-4 px, the temporal plants at 8 px wide)
    * emit nothing — spatial near-dup is for clips with real frames.
    */
  private[graft] def videoFrameDHashes(p: Array[Byte]): Seq[(Int, Long, Long)] =
    parseAvi(p).toSeq.flatMap { v =>
      val n = v.frames.length
      if (n == 0 || v.w < PxGridW || v.h < PxGridH) Seq.empty
      else {
        val slots = math.min(n, PxVideoMaxSlots)
        (0 until slots).flatMap { s =>
          val k = ((s.toLong * n) / slots).toInt
          val (offF, lenF) = v.frames(k)
          if (lenF < v.w * v.h) None
          else planeDHash(p, offF, v.w.toInt, v.h.toInt).map { case (hi, lo) =>
            (s, hi, lo)
          }
        }
      }
    }

  /** One sampled frame's spatial fingerprint. */
  case class MmFrameHash(doc_id: Long, slot: Int, ph_hi: Long, ph_lo: Long)

  /** Per-(clip, slot) spatial fingerprints — the registry face of the
    * spatial kernel (`mm_video_phash_px`).
    */
  def videoPxHashes(withPayloadDf: DataFrame): Dataset[MmFrameHash] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions(_.flatMap { r =>
      videoFrameDHashes(r.payload).map { case (s, hi, lo) =>
        MmFrameHash(r.doc_id, s, hi, lo)
      }
    })
  }

  /** SPATIAL video near-dup: band each sampled frame's 64-bit hash
    * into four 16-bit keys, candidate clips collide on any
    * (slot, band, key) — same-relative-position frames only, so the
    * bucket keyspace grows with both the corpus AND the clip length —
    * then verify by FRAME VOTE: a pair is a near-dup when a strict
    * majority of its common slots agree within [[MmHammingMax]].
    * Catches the crop/letterbox re-encode the temporal hash cannot
    * (see [[PxVideoEvery]] scaladoc); the candidate join rides the
    * same [[graft.operators.BandCap]] bound as every other modality.
    */
  def mmVideoNearDupPx(withPayloadDf: DataFrame): DataFrame = {
    val hashes = CacheScope.persist(videoPxHashes(withPayloadDf).toDF())
    val banded = BandCap.capBuckets(
      perceptualBanded(hashes), Seq("slot", "band", "key"), "doc_id")
    val cand = banded.as("a")
      .join(
        banded.as("b"),
        expr("a.slot = b.slot AND a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ham = expr("bit_count(ha.ph_lo ^ hb.ph_lo) + bit_count(ha.ph_hi ^ hb.ph_hi)")
    cand
      .join(hashes.as("ha"), col("doc_a") === col("ha.doc_id"))
      .join(
        hashes.as("hb"),
        col("doc_b") === col("hb.doc_id") && col("ha.slot") === col("hb.slot"))
      .groupBy("doc_a", "doc_b")
      .agg(
        count(lit(1)).as("n_slots"),
        sum(when(ham <= MmHammingMax, 1L).otherwise(0L)).as("votes"))
      .filter(col("votes") * 2 > col("n_slots"))
      .select(col("doc_a"), col("doc_b"), col("n_slots"), col("votes"))
  }

  /** One frame-true video resample result: the re-encoded AVI (a real
    * playable container at factor× the frame interval) plus
    * SQL-replayable proof columns — output frame interval and count,
    * the kept frames' integer luma-sum total, and an md5 over their
    * `_`-joined per-frame luma sums in time order (the
    * [[MmAudioResampled]] discipline: only formula-replayable values
    * participate in hashing, the playable payload rides the row).
    */
  case class MmVideoResampled(
      doc_id: Long,
      out_us_per_frame: Long,
      n_frames: Long,
      luma_sum: Long,
      frames_md5: String,
      payload: Array[Byte])

  /** Decimation factor for [[resampleVideo]]. */
  val VideoResampleFactor = 4

  /** FRAME-TRUE video resample — [[resampleAudio]]'s video sibling:
    * chunk-walk the container, keep every [[VideoResampleFactor]]-th
    * frame (temporal decimation, the frame-rate downsample a
    * transcoder performs), and re-encode through [[aviContainer]] at
    * factor× the frame interval — same duration, a quarter of the
    * frames. Non-AVI payloads drop (strict container discipline, as
    * the [[Video]] kernel). Per-frame luma sums are exact integers,
    * so the twin replays them from the synth formulas with no
    * container bytes.
    */
  def resampleVideo(
      withPayloadDf: DataFrame,
      factor: Int = VideoResampleFactor): Dataset[MmVideoResampled] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val p = r.payload
        parseAvi(p).map { v =>
          val kept = v.frames.indices.filter(_ % factor == 0)
          val frames = kept.map { k =>
            val (off, len) = v.frames(k)
            java.util.Arrays.copyOfRange(p, off, off + len)
          }.toArray
          var luma = 0L
          val parts = new StringBuilder
          frames.foreach { f =>
            var s = 0L
            var j = 0
            while (j < f.length) {
              s += (f(j) & 0xff)
              j += 1
            }
            luma += s
            if (parts.nonEmpty) parts.append('_')
            parts.append(s)
          }
          val framesMd5 = md.digest(parts.toString.getBytes("US-ASCII"))
            .map("%02x".format(_)).mkString
          MmVideoResampled(
            r.doc_id, v.usPerFrame * factor, frames.length.toLong, luma, framesMd5,
            aviContainer(
              (v.usPerFrame * factor).toInt, v.w.toInt, v.h.toInt, frames))
        }
      }
    }
  }

  /** Encoded-payload synth: a REAL container header (PNG for even
    * doc_ids, baseline JPEG for odd) carrying the metadata dimensions,
    * followed by the ASCII-projected text standing in for entropy data.
    * Header assembly is a typed partition stage — byte-level container
    * construction is imperative ingest work, not relational.
    */
  def withEncodedPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      (col("n_chars") % 64 + 16).as("width"),
      (col("n_chars") * 7 % 64 + 16).as("height"),
      encode(regexp_replace(col("text"), "[^\\x20-\\x7e]", "_"), "utf-8").as("body"))
      .as[(Long, Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, w, h, body) =>
        val header = if (id % 2 == 0) pngHeader(w.toInt, h.toInt) else jpegHeader(w.toInt, h.toInt)
        MmRow(id, "image", w, h, header ++ body)
      })
      .toDF()
  }

  /** Feature extraction: partition-batched typed stage. The decoder is
    * [[parseHeader]] — a real magic-byte + dimension-field parse; rows
    * stream through it in the mapPartitions shape a full codec needs so
    * per-image library setup isn't paid per row.
    */
  def extractFeatures(withPayloadDf: DataFrame): Dataset[MmFeatures] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions { rows =>
      // per-partition decoder init would go here
      rows.map { r =>
        val (format, dw, dh) = parseHeader(r.payload)
        MmFeatures(
          doc_id = r.doc_id,
          modality = r.modality,
          width = r.width,
          height = r.height,
          format = format,
          decoded_w = dw,
          decoded_h = dh,
          n_bytes = r.payload.length.toLong,
          // HALF_UP to match both Spark's round() and DuckDB's round()
          aspect = BigDecimal(r.width.toDouble / r.height)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
  }

  /** documents -> encoded payloads -> parsed features, the full
    * plumbing: `decoded_w/h` coming back equal to the metadata is the
    * round-trip proof the header parse reads the right bytes.
    */
  def features(docs: DataFrame): Dataset[MmFeatures] = extractFeatures(withEncodedPayload(docs))

  /** One sampled frame of a payload. */
  case class MmFrame(doc_id: Long, frame_idx: Long, n_bytes: Long, frame_md5: String)

  /** A stride-resampled ("resized") payload. */
  case class MmResized(doc_id: Long, n_bytes_resized: Long, resized_md5: String)

  val FrameBytes = 64
  val SampleEvery = 2
  val ResizeStride = 4

  private def hex(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString

  /** Frame sampling: chunk the payload into fixed-size frames, keep
    * every SampleEvery-th — the video-keyframe shape. A real decoder
    * would parse container frame boundaries; the chunking stands in for
    * that, and everything else (partition-batched iteration, one digest
    * instance reused per partition, per-frame rows out) is the real
    * plumbing.
    */
  def sampleFrames(withPayloadDf: DataFrame): Dataset[MmFrame] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        r.payload.grouped(FrameBytes).zipWithIndex.collect {
          case (frame, i) if i % SampleEvery == 0 =>
            MmFrame(r.doc_id, i.toLong, frame.length.toLong, hex(md.digest(frame)))
        }
      }
    }
  }

  // ------------------------------------------------ perceptual near-dup
  /** dHash grid: 65 buckets -> 64 adjacent-difference bits. */
  val PhashBuckets = 65

  /** Pairs at or under this Hamming distance (of 64 bits) are
    * perceptual near-dups.
    */
  val MmHammingMax = 8

  /** One perceptual fingerprint kernel: the payload hash every face of
    * its modality rides — registry fingerprint row, batch pairs,
    * clusters, and the ingest streams — and the Hamming gate its
    * pairs verify at. A None hash means the payload has no signature
    * under this kernel and drops.
    */
  final case class Kernel(hash: Array[Byte] => Option[(Long, Long)], gate: Int)

  /** The kernel table. Image: [[phashOf]] — pixel-true 2-D dHash when
    * the payload decodes, byte-stream fallback otherwise, so every
    * payload hashes. Audio / video: the PCM energy and temporal luma
    * dHashes ([[audioDHash]], [[videoDHash]]) — strict containers,
    * non-WAV / non-AVI payloads drop: opaque bytes still carry
    * image-like statistics, but PCM or frames read from arbitrary
    * bytes do not. The spectral pair: the lag-bank hashes
    * ([[audioSpectralHash]], [[videoSpectralHash]]) at their tighter
    * gates.
    */
  val Image = Kernel(p => Some(phashOf(p)), MmHammingMax)
  val Audio = Kernel(audioDHash, MmHammingMax)
  val Video = Kernel(videoDHash, MmHammingMax)
  val AudioSpectral = Kernel(audioSpectralHash, SpectralHammingMax)
  val VideoSpectral = Kernel(videoSpectralHash, VideoSpectralHammingMax)

  /** Per-payload fingerprints under `kernel`: one (doc_id, ph_hi,
    * ph_lo) row per payload the kernel hashes, the 64-bit hash split
    * into two 32-bit halves held in longs — the same sign-safe layout
    * SimHash uses ([[Dedup.simhash]]), so every downstream bit trick
    * (banding, xor-popcount Hamming) is identical in Spark and
    * DuckDB. An `event_ts` column, when the frame carries one, rides
    * through, so a TTL stream can watermark the banded rows
    * ([[perceptualBanded]] keeps it too).
    *
    * Scale: one pass over each payload, no shuffle.
    */
  def fingerprint(kernel: Kernel, withPayloadDf: DataFrame): DataFrame = {
    val rides = withPayloadDf.schema.filter(_.name == "event_ts")
    val out = StructType(
      Seq("doc_id", "ph_hi", "ph_lo").map(StructField(_, LongType, nullable = false)) ++ rides)
    withPayloadDf
      .select(col("doc_id").cast("long") +: col("payload") +: rides.map(f => col(f.name)): _*)
      .mapPartitions(_.flatMap { r =>
        kernel.hash(r.getAs[Array[Byte]](1)).map { case (hi, lo) =>
          Row.fromSeq(r.getLong(0) +: hi +: lo +: r.toSeq.drop(2))
        }
      })(Encoders.row(out))
  }

  /** The ONE perceptual-hash kernel every face rides (batch operator,
    * registry rows, streaming ingest): payloads that parse as real
    * images ([[parseHeader]]'s magic-byte classification, then an
    * actual `javax.imageio` pixel decode) hash as a TRUE 2-D dHash
    * over the decoded luma grid — robust to re-encoding, the common
    * case for web-archive duplicates (the same URL captured across
    * years of quality settings; reference context main.py:118) —
    * while anything else (text stand-ins, truncated headers, corrupt
    * bytes) falls back to the byte-stream dHash, so a payload is
    * always data, never a job failure.
    */
  private[graft] def phashOf(p: Array[Byte]): (Long, Long) =
    pixelDHash(p).getOrElse(byteDHash(p))

  /** The EXACT overflow predicate for the sign-of-delta cross-products:
    * BigInt compares are needed iff max(sums)·max(cnts) could exceed
    * Long. Gating on the actual accumulated magnitudes (not on frame
    * count or payload length) is what makes the dHash kernels safe
    * against crafted inputs whose PER-UNIT magnitude is pathological —
    * a 0xffff-channel WAV or a wide-frame AVI can overflow the product
    * far below any frame-count threshold, silently flipping hash bits.
    * (Accumulation itself cannot overflow: a payload is at most 2^31
    * bytes, bounding every sums/cnts entry well under 2^63.)
    */
  private[graft] def needsBigInt(sums: Array[Long], cnts: Array[Long]): Boolean = {
    var ms = 0L
    var mc = 0L
    var i = 0
    while (i < sums.length) {
      if (sums(i) > ms) ms = sums(i)
      if (cnts(i) > mc) mc = cnts(i)
      i += 1
    }
    mc > 0 && ms > Long.MaxValue / mc
  }

  /** 1-D dHash over the payload byte stream (the pre-decode
    * fallback of the [[Image]] kernel): resample into
    * [[PhashBuckets]] equal relative spans (the 1-D analogue of the
    * classic 9×8 downscale — the decode-to-pixels step is the stubbed
    * part, the hash over the decoded signal is the real algorithm),
    * then bit b = avg(bucket b+1) > avg(bucket b). Averages compare by
    * integer cross-multiplication — no division, no float, so the
    * DuckDB twin is bit-exact. Robustness property (the reason dHash
    * beats md5 for images): any resampling that preserves local
    * averages — the [[resize]] stride, re-encoding noise — moves few
    * bits, so near-dups land in a shared 16-bit band.
    *
    * Scale: one pass over each payload, no shuffle; the cross-multiply
    * compare switches to BigInt exactly when the accumulated
    * magnitudes could overflow Long ([[needsBigInt]] — identical
    * outcomes, pennies slower, only on rows that need it).
    */
  private[graft] def byteDHash(p: Array[Byte]): (Long, Long) = {
    val n = PhashBuckets
    val L = p.length
    val sums = new Array[Long](n)
    val cnts = new Array[Long](n)
    var i = 0
    while (i < L) {
      val b = ((i.toLong * n) / L).toInt
      sums(b) += (p(i) & 0xff).toLong
      cnts(b) += 1
      i += 1
    }
    val big = needsBigInt(sums, cnts) // byte magnitude is bounded, but one exact predicate beats three ad-hoc ones
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < n - 1) {
      val bit =
        if (big) BigInt(sums(b + 1)) * cnts(b) > BigInt(sums(b)) * cnts(b + 1)
        else sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1)
      if (bit) {
        if (b < 32) lo |= 1L << b
        else hi |= 1L << (b - 32)
      }
      b += 1
    }
    (hi, lo)
  }

  /** 2-D dHash grid: 9 x 8 luma blocks -> 64 horizontal-adjacent
    * difference bits (bit y*8+x = block (x+1, y) brighter than
    * block (x, y)).
    */
  val PxGridW = 9
  val PxGridH = 8

  /** TRUE 2-D dHash over decoded pixels: `javax.imageio` decode (the
    * standard-library codec — PNG, JPEG, GIF, BMP), box-sum the
    * BT.601 integer luma into the [[PxGridW]]x[[PxGridH]] grid, then
    * compare horizontally adjacent block averages by integer
    * cross-multiplication (no division, no float — the [[byteDHash]]
    * discipline, so a formula-replaying oracle twin is bit-exact).
    * None when the payload isn't a decodable raster at least
    * [[PxGridW]] x [[PxGridH]]: the magic-byte gate keeps ImageIO off
    * the non-image hot path, and a decode failure on a real-looking
    * header falls back rather than failing the job.
    */
  private[graft] def pixelDHash(p: Array[Byte]): Option[(Long, Long)] = {
    decodeRaster(p).flatMap { img =>
      if (img.getWidth < PxGridW || img.getHeight < PxGridH) None
      else Some(gridDHash(img, 0, 0, img.getWidth, img.getHeight))
    }
  }

  /** The shared decode gate: magic-byte classification keeps ImageIO
    * off the non-image hot path; a decode failure on a real-looking
    * header is None (dropped data), never a job failure.
    *
    * The decode reads through a heap-cached image stream: ImageIO's
    * default stream cache is a TEMP FILE PER call, and concurrent
    * decode tasks contending on one tmp dir made decode stages
    * measure the filesystem instead of the decode (profiled: 32-task
    * decode stages 96% idle). Passing the stream per call keeps that
    * choice local instead of flipping the JVM-global
    * `ImageIO.setUseCache`.
    */
  private def decodeRaster(p: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    val fmt = parseHeader(p)._1
    if (fmt != "png" && fmt != "jpeg") None
    else {
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(p))
      try {
        // read closes the stream once a reader has taken it; with no
        // reader for the bytes it returns null and leaves it open
        val img = javax.imageio.ImageIO.read(in)
        if (img == null) in.close()
        Option(img)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** PNG-encode a raster through a heap-cached image stream — the
    * write-side twin of [[decodeRaster]]'s per-call cache choice.
    */
  private def pngBytes(img: java.awt.image.RenderedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try javax.imageio.ImageIO.write(img, "png", out)
    finally out.close()
    baos.toByteArray
  }

  /** The [[pixelDHash]] grid kernel over an arbitrary REGION of a
    * decoded raster: BT.601 integer luma box-summed into the
    * [[PxGridW]]×[[PxGridH]] grid, adjacent-column cross-multiplied
    * comparisons — bit-identical to the whole-image hash when the
    * region IS the whole image, and the per-tile kernel of the
    * crop-robust face ([[pixelTileHashes]]).
    */
  private def gridDHash(
      img: java.awt.image.BufferedImage,
      x0: Int, y0: Int, w: Int, h: Int): (Long, Long) = {
    val sums = Array.ofDim[Long](PxGridH, PxGridW)
    val cnts = Array.ofDim[Long](PxGridH, PxGridW)
    var y = 0
    while (y < h) {
      val by = ((y.toLong * PxGridH) / h).toInt
      var x = 0
      while (x < w) {
        val bx = ((x.toLong * PxGridW) / w).toInt
        val rgb = img.getRGB(x0 + x, y0 + y)
        val lum = (299 * ((rgb >> 16) & 0xff) +
          587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
        sums(by)(bx) += lum
        cnts(by)(bx) += 1
        x += 1
      }
      y += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 64) {
      val yy = b / (PxGridW - 1)
      val xx = b % (PxGridW - 1)
      val bit =
        sums(yy)(xx + 1) * cnts(yy)(xx) > sums(yy)(xx) * cnts(yy)(xx + 1)
      if (bit) {
        if (b < 32) lo |= 1L << b
        else hi |= 1L << (b - 32)
      }
      b += 1
    }
    (hi, lo)
  }

  /** (doc_id, band, key) bucket rows: four 16-bit slices of the 64-bit
    * perceptual hash — [[Dedup.simhashBanded]]'s shape, so the
    * candidate keyspace (4 × 65,536) grows with the corpus instead of
    * capping bucket counts.
    */
  def perceptualBanded(hash: DataFrame): DataFrame =
    // col("*") passthrough: extra columns (an event_ts riding a
    // streaming frame) survive the banding untouched
    hash.select(
      col("*"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("key", expr(
        """CASE WHEN band < 2 THEN shiftright(ph_lo, band * 16) & 65535
          |ELSE shiftright(ph_hi, (band - 2) * 16) & 65535 END""".stripMargin))

  /** Planted "decoded image" signals for the near-dup registry row.
    * The documents table's text payloads are 50-550 bytes — far below
    * the 10KB+ where a 65-bucket signature is stable under resampling
    * (real images always are) — so the query plants realistic stand-in
    * signals alongside them: for every [[PlantEvery]]-th doc, a
    * piecewise-constant byte stream ([[PlantBlocks]] md5-keyed level
    * blocks over [[PlantMinLen]]+doc_id bytes — smooth locally, unique
    * per doc globally, exactly the statistics a downscaled photo has)
    * plus its [[ResizeStride]]-resampled copy under a second id. The
    * operator must pair each signal with its resample (measured
    * Hamming ≤ 3 of 64) and with nothing else (measured cross-doc
    * minimum 14) — the scale-invariance property that makes dHash a
    * near-dup hash, demonstrated on data where it mathematically can
    * hold, with the text payloads riding along as the realistic
    * negatives.
    */
  val PlantEvery = 10L
  val PlantMinLen = 2000L
  // ~one block per bucket for full 64-bit entropy — see
  // [[AudioPlantBlocks]]; at 32 blocks the within-block bucket ties
  // zero half the bits and 100k+ planted signals collide
  // quadratically, while 128 blocks leave stride-4 resample blocks so
  // narrow that boundary rounding drifts pairs past the Hamming gate
  val PlantBlocks = 64L
  val PlantIdBase = 100000L
  val PlantStrideIdBase = 200000L

  private[graft] def plantBlockValue(docId: Long, block: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$docId:$block".getBytes("UTF-8"))
    32 + (((h(0) & 0xff)) % 64)
  }

  /** The planted signal + strided-copy rows (see the scaladoc above).
    * Pure generation — one row pair per selected doc, no shuffle.
    */
  def plantedResampledPayloads(docs: DataFrame): DataFrame =
    plantedResampledPayloads(docs, PlantIdBase, PlantStrideIdBase)

  /** [[plantedResampledPayloads]] with caller-chosen id bases —
    * content is keyed by the base `doc_id`; the scale probe passes
    * spans sized to the corpus so plant ids never collide (see the
    * stretch generator's overload for the collision arithmetic).
    */
  def plantedResampledPayloads(
      docs: DataFrame, plantBase: Long, strideBase: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val lp = (PlantMinLen + d).toInt
        val body = new Array[Byte](lp)
        var j = 0
        var blk = -1L
        var v = 0
        while (j < lp) {
          val b = j.toLong * PlantBlocks / lp
          if (b != blk) { blk = b; v = plantBlockValue(d, b) }
          body(j) = v.toByte
          j += 1
        }
        val strided = Array.range(0, lp, ResizeStride).map(body(_))
        Seq(
          MmRow(d + plantBase, "image", 0L, 0L, body),
          MmRow(d + strideBase, "image", 0L, 0L, strided))
      })
      .toDF()
  }

  /** Planted REAL PNG payloads for the pixel-true registry row: every
    * [[PxPlantEvery]]-th doc gets a [[PxImgW]]x[[PxImgH]] grayscale
    * image whose every pixel derives from md5 METADATA
    * ([[pxPlantValue]]), encoded through the actual `javax.imageio`
    * PNG writer — so the Spark side must genuinely DECODE the
    * compressed bytes back to pixels to hash, while the DuckDB twin
    * replays the same grid from the formula with no codec at all.
    * Hash equality between the two is the proof the decode is real.
    * Dimensions divide the [[PxGridW]]x[[PxGridH]] grid exactly, so
    * block counts are equal and the twin compares plain integer sums.
    */
  val PxPlantEvery = 10L
  val PxImgW = 36
  val PxImgH = 32

  private[graft] def pxPlantValue(docId: Long, x: Int, y: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"${docId}_${x}_${y}".getBytes("UTF-8"))
    h(0) & 0xff
  }

  def plantedPngPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PxPlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val img = new java.awt.image.BufferedImage(
          PxImgW, PxImgH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < PxImgH) {
          var x = 0
          while (x < PxImgW) {
            val v = pxPlantValue(d, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        MmRow(d, "image", PxImgW.toLong, PxImgH.toLong, pngBytes(img))
      })
      .toDF()
  }

  // -------------------------------- crop-robust tiled image fingerprint
  /** The global [[pixelDHash]] normalizes its grid to the image
    * DIMENSIONS, so a crop — which changes the dimensions — shifts
    * every block boundary and scrambles the whole hash: resize-robust,
    * crop-fragile, by construction. The tiled face covers the crop/pad
    * class the way the spatial video tier covers re-edits with a
    * frame vote: the image splits into fixed-size [[TileW]]×[[TileH]]
    * tiles ANCHORED AT THE ORIGIN in absolute pixel coordinates, each
    * tile hashed independently by the same [[PxGridW]]×[[PxGridH]]
    * grid kernel, and two images pair when they share at least
    * [[TileMinVotes]] distinct tile hash VALUES — position-free, the
    * vote the frame vote runs over time run here over space, because
    * a crop renumbers the surviving tiles.
    *
    * INVARIANCE CLASS, stated precisely: crops and pads whose offsets
    * are multiples of the tile dimensions preserve every fully-
    * interior tile bit-for-bit (absolute anchoring — the pixels of a
    * surviving tile are untouched), so any crop keeping ≥
    * [[TileMinVotes]] tiles is caught. An arbitrary-offset crop
    * misaligns the tile grid and is OUT OF SCOPE for this tier — the
    * honest fix is overlapping tiles at half-stride (4× the rows, the
    * same join), not a weaker gate.
    *
    * Scale shape: tiles-per-image is bounded (area / (12·8)); the
    * candidate join is an equality join on the 64-bit tile hash
    * through [[graft.operators.BandCap]] caps — degenerate hashes
    * (flat regions: the all-zero no-greater-neighbor hash every
    * letterboxed image shares) hit the cap census and drop instead of
    * going quadratic, the same discipline every banded tier rides.
    */
  val TileW = 12
  val TileH = 8
  val TileMinVotes = 4

  /** Planted tile-aligned crop parameters: the cropped cousin keeps
    * the [[PxCropW]]×[[PxCropH]] window at offset
    * ([[PxCropX]], [[PxCropY]]) of the planted PNG — 6 of its 12
    * tiles survive bit-for-bit, while the global dHash re-normalizes
    * 36×32 → 24×24 and scrambles (spec-pinned miss).
    */
  val PxCropIdBase = 900000L
  val PxCropX = 12
  val PxCropY = 8
  val PxCropW = 24
  val PxCropH = 24

  case class MmTileHash(doc_id: Long, tile_x: Int, tile_y: Int, th_hi: Long, th_lo: Long)

  /** Per-tile hashes of every decodable raster payload — one row per
    * fully-contained origin-anchored tile; non-image payloads emit no
    * rows (the tile face is image-only; text stand-ins have the
    * byte-dHash tier).
    */
  def pixelTileHashes(withPayloadDf: DataFrame): Dataset[MmTileHash] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions(_.flatMap { r =>
      decodeRaster(r.payload).toSeq.flatMap { img =>
        for {
          ty <- 0 until img.getHeight / TileH
          tx <- 0 until img.getWidth / TileW
        } yield {
          val (hi, lo) = gridDHash(img, tx * TileW, ty * TileH, TileW, TileH)
          MmTileHash(r.doc_id, tx, ty, hi, lo)
        }
      }
    })
  }

  /** Tile-aligned cropped cousins of the planted PNGs, real
    * `javax.imageio` encode — pixel (x, y) of the crop is pixel
    * (x + [[PxCropX]], y + [[PxCropY]]) of the original by the same
    * md5 formula, so the twin replays it codec-free.
    */
  def plantedCroppedPngPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PxPlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val img = new java.awt.image.BufferedImage(
          PxCropW, PxCropH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < PxCropH) {
          var x = 0
          while (x < PxCropW) {
            val v = pxPlantValue(d, x + PxCropX, y + PxCropY)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        MmRow(d + PxCropIdBase, "image", PxCropW.toLong, PxCropH.toLong, pngBytes(img))
      })
      .toDF()
  }

  /** CROP-ROBUST image near-dup: position-free tile-hash vote — a
    * pair stands when the two images share ≥ [[TileMinVotes]]
    * distinct tile hash values (exact 64-bit equality; a surviving
    * tile is pixel-identical under the supported transform class, so
    * a Hamming gate would only let degenerate collisions in).
    */
  def mmImageNearDupTiles(withPayloadDf: DataFrame): DataFrame =
    tileVote(pixelTileHashes(withPayloadDf).toDF())

  /** The shared position-free vote: one row per DISTINCT hash value
    * per doc (flat regions repeat a hash within one image, and a
    * repeated value must count as one vote, not several), capped
    * buckets, equality self-join, ≥ [[TileMinVotes]].
    */
  private def tileVote(
      tileHashes: DataFrame, minVotes: Int = TileMinVotes): DataFrame = {
    val hashes = CacheScope.persist(
      tileHashes.select("doc_id", "th_hi", "th_lo").distinct())
    val buckets = BandCap.capBuckets(hashes, Seq("th_hi", "th_lo"), "doc_id")
    buckets.as("a")
      .join(
        buckets.as("b"),
        expr("a.th_hi = b.th_hi AND a.th_lo = b.th_lo AND a.doc_id < b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= minVotes)
      .select(col("doc_a"), col("doc_b"), col("votes"))
  }

  /** HALF-STRIDE OVERLAPPING tiles — the documented extension that
    * upgrades the supported invariance class from tile-aligned to
    * HALF-TILE-aligned crops/pads: tiles are emitted at every
    * ([[TileW]]/2, [[TileH]]/2) lattice position (4× the rows of the
    * aligned face, same join), so a crop whose offset is any multiple
    * of (6, 4) still finds each of its fully-contained tiles at an
    * emitted lattice position of the original. tile_x/tile_y number
    * lattice STEPS, not disjoint tiles — the tile at (tx, ty) covers
    * pixels from (tx·6, ty·4).
    */
  def pixelTileHashesOverlap(withPayloadDf: DataFrame): Dataset[MmTileHash] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    val (sx, sy) = (TileW / 2, TileH / 2)
    withPayloadDf.as[MmRow].mapPartitions(_.flatMap { r =>
      decodeRaster(r.payload).toSeq.flatMap { img =>
        for {
          ty <- 0 to (img.getHeight - TileH) / sy
          tx <- 0 to (img.getWidth - TileW) / sx
        } yield {
          val (hi, lo) = gridDHash(img, tx * sx, ty * sy, TileW, TileH)
          MmTileHash(r.doc_id, tx, ty, hi, lo)
        }
      }
    })
  }

  /** [[mmImageNearDupTiles]] over the overlapping lattice — same
    * distinct-value vote, same caps; covers crops at any half-tile
    * offset for 4× the hash rows.
    */
  def mmImageNearDupTilesOverlap(withPayloadDf: DataFrame): DataFrame =
    tileVote(pixelTileHashesOverlap(withPayloadDf).toDF())

  /** Planted HALF-STRIDE crop parameters: offset (6, 4) — a multiple
    * of the half-tile lattice but NOT of the tile size, so the
    * aligned tile face provably misses it while the overlap face
    * catches it (spec-pinned both ways).
    */
  val PxCrop2IdBase = 950000L
  val PxCrop2X = 6
  val PxCrop2Y = 4

  /** The (6,4)-offset cropped cousins — [[plantedCroppedPngPayloads]]
    * at the half-stride offset, ids at [[PxCrop2IdBase]].
    */
  def plantedHalfStrideCroppedPngPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PxPlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val img = new java.awt.image.BufferedImage(
          PxCropW, PxCropH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < PxCropH) {
          var x = 0
          while (x < PxCropW) {
            val v = pxPlantValue(d, x + PxCrop2X, y + PxCrop2Y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        MmRow(d + PxCrop2IdBase, "image", PxCropW.toLong, PxCropH.toLong, pngBytes(img))
      })
      .toDF()
  }

  /** Tile-vote of an arriving image batch AGAINST THE STORED BASE
    * ([[graft.sinks.Sinks.writeTileBase]]) — the batch decodes and
    * hashes (it is new bytes), the corpus side is one columnar scan
    * of the hash-bucketed signature table: no corpus decode, no
    * corpus exchange (the batch broadcasts into the bucketed scan).
    * Cap semantics mirror [[graft.operators.Dedup
    * .nearDupAgainstStored]]: the base is capped by its write-time
    * census (`kept`), the batch caps over its own census. Output
    * (doc_batch, doc_corpus, votes), votes ≥ [[TileMinVotes]].
    */
  def tilesAgainstStored(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      batch: DataFrame): DataFrame = {
    val batchTiles = BandCap.capBuckets(
      CacheScope.persist(
        pixelTileHashes(batch).toDF().select("doc_id", "th_hi", "th_lo").distinct()),
      Seq("th_hi", "th_lo"), "doc_id")
    graft.sinks.Sinks.readTileSigs(spark, table).as("c")
      .join(
        broadcast(batchTiles.as("b")),
        expr("c.th_hi = b.th_hi AND c.th_lo = b.th_lo"))
      .groupBy(col("b.doc_id").as("doc_batch"), col("c.doc_id").as("doc_corpus"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= TileMinVotes)
      .select(col("doc_batch"), col("doc_corpus"), col("votes"))
  }

  // --------------------- content-anchored (keypoint) image fingerprint
  /** The lattice faces cover crops whose offsets land ON the lattice —
    * the 96-phase measurement (MultimodalSpec) pins the overlap face
    * at exactly 8 of 96 tile phases, zero elsewhere. This face removes
    * the lattice entirely by anchoring descriptors at CONTENT instead
    * of coordinates, upgrading the supported class to crops at ANY
    * pixel offset that keep ≥ [[AnchorMinVotes]] eligible anchors.
    *
    * Anchor detection: integer gradient score
    * `s(x,y) = |lum(x+1,y) − lum(x−1,y)| + |lum(x,y+1) − lum(x,y−1)|`
    * on BT.601 luma; an anchor is a STRICT local maximum of `s` over
    * the (2·[[AnchorR]]+1)² Chebyshev window with
    * `s ≥ [[AnchorMinScore]]` (ties produce no anchor — a flat or
    * letterboxed region, all-equal scores, yields nothing, the
    * degenerate case the tile faces needed the cap census for).
    * Descriptor: the SAME [[gridDHash]] region kernel the tile faces
    * use, over the [[TileW]]×[[TileH]] window centered at the anchor.
    *
    * CROP STABILITY, the whole point: the score at (x, y) reads pixels
    * at distance ≤ 1, the strict-max decision reads scores at distance
    * ≤ [[AnchorR]], and the descriptor reads the centered window — so
    * every quantity depends only on pixels within the eligibility
    * margins ([[TileW]]/2, [[TileH]]/2), and eligibility itself is the
    * same margin test against each image's own bounds. A crop is a
    * pixel-identical subwindow, hence: anchors of the crop = anchors
    * of the original that fall inside the crop's eligible interior,
    * with BIT-IDENTICAL descriptors — at any offset, no lattice
    * (spec-pinned: the anchored face catches all 96 phases the overlap
    * face catches 8 of, and the anchors-of-crop ⊆ anchors-of-original
    * subset property is pinned directly).
    *
    * Scale shape: strict 3×3 maxima are ≥ 2 apart, so anchors are
    * bounded by area/4 and land near area/9 on textured content —
    * same O(pixels) row class as the lattice faces; [[AnchorCap]]
    * (deterministic score-desc, row-major tiebreak) is the busy-image
    * guardrail, and the vote rides the identical capped-census
    * equality join ([[BandCap]]), never all-pairs. Reference scope:
    * trendmachine identifies content by whole-specimen digest
    * (main.py:152 — full-digest map keys, 8-char display); the
    * crop-robust tiers are this engine's extension of that identity
    * notion to re-hosted/re-cropped training images.
    */
  val AnchorR = 1
  val AnchorMinScore = 16
  val AnchorCap = 512
  val AnchorMinVotes = 4

  /** Planted ARBITRARY-OFFSET crop parameters: offset (7, 3) is on
    * neither the tile lattice (12, 8) nor the half-stride lattice
    * (6, 4) — both tile faces provably miss it (spec-pinned) while
    * the anchored face catches it. Floor measured over all 500 sf0.1
    * plants: ≥ 14 shared anchors per planted pair at this offset,
    * 3.5× the [[AnchorMinVotes]] bar.
    */
  val PxCrop3IdBase = 975000L
  val PxCrop3X = 7
  val PxCrop3Y = 3

  case class MmAnchorHash(
      doc_id: Long, anchor_x: Int, anchor_y: Int, ah_hi: Long, ah_lo: Long)

  /** Content-anchored descriptor hashes of every decodable raster
    * payload — one row per retained anchor; images too small for any
    * eligible anchor (w < [[TileW]] or h < [[TileH]]) emit no rows.
    */
  def anchorHashes(withPayloadDf: DataFrame): Dataset[MmAnchorHash] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    val (mx, my) = (TileW / 2, TileH / 2)
    withPayloadDf.as[MmRow].mapPartitions(_.flatMap { r =>
      decodeRaster(r.payload).toSeq.flatMap { img =>
        val w = img.getWidth
        val h = img.getHeight
        val lum = Array.ofDim[Int](h, w)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            lum(y)(x) = (299 * ((rgb >> 16) & 0xff) +
              587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
            x += 1
          }
          y += 1
        }
        // gradient score, defined on the 1-pixel interior
        val sc = Array.ofDim[Int](h, w)
        y = 1
        while (y < h - 1) {
          var x = 1
          while (x < w - 1) {
            sc(y)(x) = math.abs(lum(y)(x + 1) - lum(y)(x - 1)) +
              math.abs(lum(y + 1)(x) - lum(y - 1)(x))
            x += 1
          }
          y += 1
        }
        // strict local maxima on the eligible interior
        val cands = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
        var ay = my
        while (ay <= h - my) {
          var ax = mx
          while (ax <= w - mx) {
            val c = sc(ay)(ax)
            if (c >= AnchorMinScore) {
              var isMax = true
              var dy = -AnchorR
              while (isMax && dy <= AnchorR) {
                var dx = -AnchorR
                while (isMax && dx <= AnchorR) {
                  if ((dx != 0 || dy != 0) && sc(ay + dy)(ax + dx) >= c)
                    isMax = false
                  dx += 1
                }
                dy += 1
              }
              if (isMax) cands += ((ax, ay, c))
            }
            ax += 1
          }
          ay += 1
        }
        val kept =
          if (cands.size <= AnchorCap) cands
          else cands.sortBy { case (ax, ay2, s) => (-s, ay2, ax) }.take(AnchorCap)
        kept.map { case (ax, ay2, _) =>
          val (hi, lo) = gridDHash(img, ax - mx, ay2 - my, TileW, TileH)
          MmAnchorHash(r.doc_id, ax, ay2, hi, lo)
        }
      }
    })
  }

  /** ARBITRARY-OFFSET crop-robust image near-dup: the position-free
    * vote ([[tileVote]]'s capped equality join) over content-anchored
    * descriptor values — ≥ [[AnchorMinVotes]] shared distinct values
    * pair two images, wherever the crop landed.
    */
  def mmImageNearDupAnchored(withPayloadDf: DataFrame): DataFrame =
    tileVote(
      anchorHashes(withPayloadDf).toDF()
        .select(col("doc_id"), col("ah_hi").as("th_hi"), col("ah_lo").as("th_lo")),
      AnchorMinVotes)

  /** The (7,3)-offset cropped cousins — [[plantedCroppedPngPayloads]]
    * at the off-lattice offset, ids at [[PxCrop3IdBase]].
    */
  def plantedArbitraryCroppedPngPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % PxPlantEvery === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val img = new java.awt.image.BufferedImage(
          PxCropW, PxCropH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < PxCropH) {
          var x = 0
          while (x < PxCropW) {
            val v = pxPlantValue(d, x + PxCrop3X, y + PxCrop3Y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        MmRow(d + PxCrop3IdBase, "image", PxCropW.toLong, PxCropH.toLong, pngBytes(img))
      })
      .toDF()
  }

  /** Anchored vote of an arriving image batch AGAINST THE STORED BASE
    * ([[graft.sinks.Sinks.writeAnchorBase]]) — [[tilesAgainstStored]]
    * with content-anchored descriptors: the batch decodes and anchors
    * (it is new bytes), the corpus side is one columnar scan of the
    * hash-bucketed signature table, the batch broadcasts into it. The
    * face a recrawl probes when re-uploads are re-cropped at
    * ARBITRARY offsets — off the lattice the tile base covers.
    * Output (doc_batch, doc_corpus, votes), votes ≥ [[AnchorMinVotes]].
    */
  def anchorsAgainstStored(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      batch: DataFrame): DataFrame = {
    val batchSigs = BandCap.capBuckets(
      CacheScope.persist(
        anchorHashes(batch).toDF().select("doc_id", "ah_hi", "ah_lo").distinct()),
      Seq("ah_hi", "ah_lo"), "doc_id")
    graft.sinks.Sinks.readAnchorSigs(spark, table).as("c")
      .join(
        broadcast(batchSigs.as("b")),
        expr("c.ah_hi = b.ah_hi AND c.ah_lo = b.ah_lo"))
      .groupBy(col("b.doc_id").as("doc_batch"), col("c.doc_id").as("doc_corpus"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= AnchorMinVotes)
      .select(col("doc_batch"), col("doc_corpus"), col("votes"))
  }

  /** Anchored duplicate clusters: the SIXTH modality through
    * [[graft.operators.Corpus.clustersFromEdges]]' one connected-
    * components engine — arbitrary-offset crop families resolve to
    * canonical representatives with exactly the machinery the text,
    * embedding, perceptual, audio and video tiers already use.
    * Membership universe = every payload that anchors (≥ 1 eligible
    * anchor), mirroring the video face's "every payload that
    * fingerprints".
    */
  def mmImageAnchoredClusters(withPayloadDf: DataFrame): DataFrame = {
    val hashes = CacheScope.persist(
      anchorHashes(withPayloadDf).toDF()
        .select(col("doc_id"), col("ah_hi").as("th_hi"), col("ah_lo").as("th_lo")))
    Corpus.clustersFromEdges(
      hashes.select(col("doc_id")).distinct(),
      tileVote(hashes, AnchorMinVotes).select(col("doc_a"), col("doc_b")))
  }

  /** One pixel-true resize result: the re-encoded payload (real
    * `javax.imageio` PNG write — consumers get actual image bytes)
    * plus SQL-replayable proof columns: the resized grid's integer
    * luma sum and an md5 over its `_`-joined values (codec output
    * bytes are JDK-dependent and never hashed).
    */
  case class MmResizedPx(
      doc_id: Long,
      out_w: Int,
      out_h: Int,
      n_bytes: Long,
      luma_sum: Long,
      luma_md5: String,
      payload: Array[Byte])

  /** [[resize]]'s PIXEL-TRUE sibling: decode the payload, box-average
    * the luma grid down to `outW`x`outH` with EXACT integer
    * arithmetic (per-cell floor(sum/count) — no float, so a
    * formula-replaying twin is bit-exact), and re-encode through the
    * real PNG writer. Payloads that don't decode are dropped (the
    * byte-stride [[resize]] remains the fallback for opaque bytes).
    * Same bounded-memory partition-batched shape as every payload
    * kernel; the resized PNG rides the row for downstream consumers
    * while only the replayable columns participate in hashing.
    */
  val ResizeOutW = 18
  val ResizeOutH = 16

  def resizePx(
      withPayloadDf: DataFrame,
      outW: Int = ResizeOutW,
      outH: Int = ResizeOutH): Dataset[MmResizedPx] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        decodeRaster(r.payload)
          .filter(img => img.getWidth >= outW && img.getHeight >= outH)
          .map { img =>
            val w = img.getWidth
            val h = img.getHeight
            val sums = Array.ofDim[Long](outH, outW)
            val cnts = Array.ofDim[Long](outH, outW)
            var y = 0
            while (y < h) {
              val by = ((y.toLong * outH) / h).toInt
              var x = 0
              while (x < w) {
                val bx = ((x.toLong * outW) / w).toInt
                val rgb = img.getRGB(x, y)
                val lum = (299 * ((rgb >> 16) & 0xff) +
                  587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
                sums(by)(bx) += lum
                cnts(by)(bx) += 1
                x += 1
              }
              y += 1
            }
            val out = new java.awt.image.BufferedImage(
              outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var lumaSum = 0L
            val parts = new StringBuilder
            var yy = 0
            while (yy < outH) {
              var xx = 0
              while (xx < outW) {
                val v = (sums(yy)(xx) / cnts(yy)(xx)).toInt
                out.setRGB(xx, yy, (v << 16) | (v << 8) | v)
                lumaSum += v
                if (parts.nonEmpty) parts.append('_')
                parts.append(v)
                xx += 1
              }
              yy += 1
            }
            val bytes = pngBytes(out)
            val lumaMd5 = md.digest(parts.toString.getBytes("US-ASCII"))
              .map("%02x".format(_)).mkString
            MmResizedPx(
              r.doc_id, outW, outH, bytes.length.toLong, lumaSum, lumaMd5, bytes)
          }
      }
    }
  }

  /** Perceptual near-dup pairs under `kernel`: band-bucket equi-join
    * (never all-pairs) over [[fingerprint]], Hamming verify over the
    * full 64 bits at the kernel's gate — [[Dedup.simhashPairs]]'
    * candidate shape with a signal hash instead of a token hash.
    * Image payloads that decode hash pixel-true ([[pixelDHash]]), so
    * two re-encodes of one photo pair even though their byte streams
    * share nothing; the spectral kernels pair the padded stretch /
    * re-edit their energy and temporal siblings provably miss.
    */
  def nearDupPairs(kernel: Kernel, withPayloadDf: DataFrame): DataFrame =
    hammingPairs(CacheScope.persist(fingerprint(kernel, withPayloadDf)), kernel.gate)

  /** Perceptual duplicate clusters under `kernel`: [[graft.operators
    * .Corpus.clustersFromEdges]]' one connected-components engine over
    * [[nearDupPairs]] — any similarity modality that produces a pair
    * stream resolves clusters through the engine its text already
    * uses. Membership universe = every payload that fingerprints, so
    * a cluster id exists for singletons too.
    */
  def dedupClusters(kernel: Kernel, withPayloadDf: DataFrame): DataFrame = {
    val hashed = CacheScope.persist(fingerprint(kernel, withPayloadDf))
    Corpus.clustersFromEdges(
      hashed.select(col("doc_id")),
      hammingPairs(hashed, kernel.gate).select(col("doc_a"), col("doc_b")))
  }

  private def hammingPairs(hashed: DataFrame, gate: Int): DataFrame = {
    val banded = BandCap.capBuckets(perceptualBanded(hashed), Seq("band", "key"), "doc_id")
    banded.as("a")
      .join(banded.as("b"), expr("a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        (expr("bit_count(a.ph_lo ^ b.ph_lo)") + expr("bit_count(a.ph_hi ^ b.ph_hi)"))
          .as("hamming"))
      .filter(col("hamming") <= gate)
      .distinct()
  }

  /** Resize stub: stride-resample the payload (every ResizeStride-th
    * byte) — a real image resize decodes, scales, re-encodes; the
    * stride keeps the operator deterministic for the oracle while the
    * plumbing (bounded memory, per-partition batching) is real.
    */
  def resize(withPayloadDf: DataFrame): Dataset[MmResized] = {
    val spark = withPayloadDf.sparkSession
    import spark.implicits._
    withPayloadDf.as[MmRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val sampled = Array.range(0, r.payload.length, ResizeStride).map(r.payload(_))
        MmResized(r.doc_id, sampled.length.toLong, hex(md.digest(sampled)))
      }
    }
  }
}
