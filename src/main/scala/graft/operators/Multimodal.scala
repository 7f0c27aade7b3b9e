package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride through
  * the engine as opaque `binary` columns plus typed metadata, and the
  * compute-heavy steps (decode, feature-extract, resize, frame-sample)
  * run as typed `mapPartitions` stages — the Scala analogue of a
  * pandas-batch UDF: one iterator per partition, so a real codec
  * library would amortize its per-batch setup exactly the same way.
  *
  * Decoding is a real dispatch: 8-bit PNG, 24-bit BMP and PCM WAV
  * payloads parse through hand-written byte-layout decoders
  * (`decodePng` with full zlib inflate + scanline-filter
  * reconstruction, `decodeBmp`, `decodeWav` — real headers, CRCs,
  * padding, chunk walks); GIF87a/89a and baseline and progressive
  * JPEG go through `Gif.decode` and `Jpeg.decode`, wrappers over the
  * JDK's `javax.imageio` codecs that give None on corrupt input,
  * and only OPAQUE payloads fall back to the deterministic
  * `decodeStub` (the documented stand-in for codecs this container
  * doesn't ship, e.g. H.264).
  * Everything Spark-side is real and tested either way: the schema, the
  * binary payload round-trip, the partition-iterator batch shape, and
  * the feature pipeline, which is what matters for the 100 TB plan
  * (payloads partition-parallel, features small, metadata prunable
  * without touching payload bytes thanks to parquet column pruning).
  */
object Multimodal {

  /** One media asset: opaque payload + typed metadata. */
  case class MediaRow(
      media_id: Long,
      kind: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      width: Int,
      height: Int,
      n_frames: Int)

  /** Fallback decode for OPAQUE payloads: the "samples" are the raw
    * payload bytes widened to int — a stand-in for codecs this
    * container doesn't ship, deterministic so tests and oracles pin it.
    * Real containers (PNG, BMP, WAV, GIF, JPEG) are parsed for real
    * by `decode`. */
  def decodeStub(payload: Array[Byte]): Array[Int] =
    payload.map(b => b.toInt & 0xff)

  // --- hand-written codecs -------------------------------------------
  // Byte-layout parsers for 24-bit uncompressed BMP, PCM WAV (8-bit
  // unsigned / 16-bit signed LE) and 8-bit PNG, kept because the JDK's
  // readers accept streams these reject (a PNG chunk CRC flip, a BMP one
  // byte short, a WAV tagged IEEE float). `decode` sniffs the
  // magic and falls back to `decodeStub` for anything else. Sniffing is
  // structural, not just magic bytes — the declared file size must
  // match the payload — so a text payload that happens to start with
  // "BM"/"RIFF" falls back instead of throwing.

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def i32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** 24-bit uncompressed (BI_RGB) BMP → channel samples (b,g,r per
    * pixel) in top-down row-major order, row padding stripped. Handles
    * both bottom-up (positive height, the common case) and top-down
    * (negative height) pixel arrays. None on anything structurally
    * non-BMP. */
  def decodeBmp(p: Array[Byte]): Option[Array[Int]] = {
    if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
    if (i32(p, 2) != p.length) return None // declared size must match
    val off = i32(p, 10)
    val w = i32(p, 18)
    val hRaw = i32(p, 22)
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    if (u16(p, 26) != 1 || u16(p, 28) != 24 || i32(p, 30) != 0) return None
    if (w <= 0 || h == 0 || w > (1 << 20) || h > (1 << 20)) return None
    val rowBytes = w * 3
    val stride = (rowBytes + 3) / 4 * 4
    if (off < 54 || off.toLong + stride.toLong * h > p.length) return None
    val out = new Array[Int](w * h * 3)
    var row = 0
    while (row < h) {
      val src = off + (if (topDown) row else h - 1 - row) * stride
      var i = 0
      while (i < rowBytes) { out(row * rowBytes + i) = p(src + i) & 0xff; i += 1 }
      row += 1
    }
    Some(out)
  }

  /** PCM RIFF/WAVE → samples: 8-bit unsigned as 0..255, 16-bit signed
    * LE as -32768..32767. Walks the chunk list (word-aligned) to the
    * fmt + data chunks; None on anything structurally non-WAV or
    * non-PCM. */
  def decodeWav(p: Array[Byte]): Option[Array[Int]] = {
    if (p.length < 44) return None
    if (!(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
          p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) return None
    if (i32(p, 4) + 8 != p.length) return None
    var o = 12
    var bits = -1
    var fmtOk = false
    while (o + 8 <= p.length) {
      val id = new String(p, o, 4, "US-ASCII")
      val sz = i32(p, o + 4)
      // Long arithmetic: a near-Int.MaxValue sz would overflow the Int
      // sum to negative and slip past the check, crashing the task on a
      // corrupt RIFF payload instead of falling back (structural-reject
      // contract). Once this passes, sz <= p.length - o - 8, so the
      // Int chunk advance below cannot overflow either.
      if (sz < 0 || o.toLong + 8L + sz > p.length) return None
      if (id == "fmt ") {
        if (sz < 16 || u16(p, o + 8) != 1) return None // PCM only
        bits = u16(p, o + 22)
        fmtOk = true
      } else if (id == "data") {
        if (!fmtOk) return None
        bits match {
          case 8 =>
            val out = new Array[Int](sz)
            var i = 0
            while (i < sz) { out(i) = p(o + 8 + i) & 0xff; i += 1 }
            return Some(out)
          case 16 =>
            val n = sz / 2
            val out = new Array[Int](n)
            var i = 0
            while (i < n) { out(i) = (u16(p, o + 8 + i * 2) << 16) >> 16; i += 1 }
            return Some(out)
          case _ => return None
        }
      }
      o += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    None
  }

  // PNG: 8-bit grayscale (color type 0), RGB (2), palette (3,
  // expanded through PLTE), gray+alpha (4) and RGBA (6),
  // non-interlaced, zlib IDAT via java.util.zip.Inflater, full
  // scanline-filter reconstruction (None/Sub/Up/Average/Paeth,
  // RFC 2083 §6). Chunk CRCs are VERIFIED — a corrupt chunk falls
  // back to the stub instead of decoding garbage. This covers the
  // real-corpus image case BMP can't (PNG is what web corpora
  // actually contain); H.264 stays stubbed (no dependency-free
  // route — JPEG decodes for real via `Jpeg`).

  private def i32be(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** 8-bit non-interlaced PNG (gray / RGB / palette / gray+alpha /
    * RGBA) → channel samples per pixel in top-down row-major order
    * (palette rows expand through PLTE to r,g,b), scanline filters
    * reconstructed. None on anything structurally non-PNG (bad
    * signature, chunk CRC mismatch, unsupported depth/interlace,
    * missing or overrun palette, truncated or over-long inflate). */
  def decodePng(p: Array[Byte]): Option[Array[Int]] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length < 8 + 25) return None
    var i = 0
    while (i < 8) { if ((p(i) & 0xff) != sig(i)) return None; i += 1 }
    var o = 8
    var w = 0; var h = 0; var channels = 0; var colorType = -1
    var palette: Array[Byte] = null
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (o + 8 <= p.length && !seenIend) {
      val len = i32be(p, o)
      if (len < 0 || o.toLong + 12L + len > p.length) return None
      val typ = new String(p, o + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(p, o + 4, 4 + len)
      if (crc.getValue.toInt != i32be(p, o + 8 + len)) return None
      typ match {
        case "IHDR" =>
          if (len != 13) return None
          w = i32be(p, o + 8); h = i32be(p, o + 12)
          val depth = p(o + 16) & 0xff; val ct = p(o + 17) & 0xff
          val comp = p(o + 18) & 0xff; val filt = p(o + 19) & 0xff
          val inter = p(o + 20) & 0xff
          if (depth != 8 || comp != 0 || filt != 0 || inter != 0) return None
          if (w <= 0 || h <= 0 || w > (1 << 16) || h > (1 << 16)) return None
          // allocation bomb guard: a ~100-byte chunk-valid header can
          // DECLARE 65536×65536×4 and would otherwise size multi-GB
          // buffers before inflate runs ((1+stride)*h also overflows
          // Int at that extreme). 2^24 pixels (16 MP) caps every
          // buffer comfortably Int-sized.
          if (w.toLong * h > (1L << 24)) return None
          channels = ct match {
            case 0 | 3 => 1
            case 4 => 2
            case 2 => 3
            case 6 => 4
            case _ => return None
          }
          colorType = ct
          seenIhdr = true
        case "PLTE" =>
          if (!seenIhdr || len % 3 != 0 || len > 256 * 3 || len == 0) return None
          palette = java.util.Arrays.copyOfRange(p, o + 8, o + 8 + len)
        case "IDAT" =>
          if (!seenIhdr) return None
          idat.write(p, o + 8, len)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks skipped
      }
      o += 12 + len
    }
    if (!seenIhdr || !seenIend) return None
    val stride = w * channels
    val raw = new Array[Byte]((1 + stride) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        off += n
      }
      if (off != raw.length) return None
      // an over-long stream is structural corruption too
      if (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0) return None
      // a stream that produced exactly raw.length bytes but ended
      // mid-block (needsInput without finish) is truncated, not valid
      if (!inf.finished()) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // unfilter in place, row by row (RFC 2083 §6.2-6.6)
    val out = new Array[Int](stride * h)
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride)
    var y = 0
    while (y < h) {
      val f = raw(y * (1 + stride)) & 0xff
      if (f > 4) return None
      var x = 0
      while (x < stride) {
        val v = raw(y * (1 + stride) + 1 + x) & 0xff
        val a = if (x >= channels) cur(x - channels) else 0
        val b = prev(x)
        val c = if (x >= channels) prev(x - channels) else 0
        cur(x) = (f match {
          case 0 => v
          case 1 => v + a
          case 2 => v + b
          case 3 => v + ((a + b) / 2)
          case 4 => v + paeth(a, b, c)
        }) & 0xff
        x += 1
      }
      System.arraycopy(cur, 0, out, y * stride, stride)
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    if (colorType != 3) Some(out)
    else { // palette rows expand to r,g,b through PLTE
      if (palette == null) return None
      val n = palette.length / 3
      val rgb = new Array[Int](w * h * 3)
      var i2 = 0
      while (i2 < w * h) {
        val idx = out(i2)
        if (idx >= n) return None // index past the palette: corrupt
        rgb(3 * i2) = palette(3 * idx) & 0xff
        rgb(3 * i2 + 1) = palette(3 * idx + 1) & 0xff
        rgb(3 * i2 + 2) = palette(3 * idx + 2) & 0xff
        i2 += 1
      }
      Some(rgb)
    }
  }

  /** Decode dispatch: a real container parse when the payload IS a
    * real container (PNG, BMP, WAV, GIF — see `Gif` — or baseline or
    * progressive JPEG — see `Jpeg`), the deterministic stub otherwise. */
  def decode(payload: Array[Byte]): Array[Int] =
    decodePng(payload).orElse(decodeBmp(payload)).orElse(decodeWav(payload))
      .orElse(Gif.decode(payload))
      .orElse(Jpeg.decode(payload))
      .getOrElse(decodeStub(payload))

  /** Encode grayscale bytes as a REAL 24-bit bottom-up BMP (r=g=b=v,
    * padded rows, full 54-byte header) — the fixture generator for the
    * real-decode path; `decodeBmp(encodeBmpGray(w,h,g))` returns each
    * gray byte three times in top-down order. */
  def encodeBmpGray(width: Int, height: Int, gray: Array[Byte]): Array[Byte] = {
    require(gray.length == width * height,
      s"need $width*$height bytes, got ${gray.length}")
    val stride = (width * 3 + 3) / 4 * 4
    val dataSize = stride * height
    val size = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var row = height - 1 // bottom-up
    while (row >= 0) {
      var x = 0
      while (x < width) {
        val v = gray(row * width + x)
        b.put(v).put(v).put(v)
        x += 1
      }
      var pad = stride - width * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      row -= 1
    }
    b.array()
  }

  /** Encode grayscale bytes as a REAL 8-bit RGB PNG (r=g=b=v). The
    * IDAT zlib stream is level 0: one STORED (uncompressed) deflate
    * block per input under 64 KiB, so the byte count follows from the
    * image size alone — which is what lets the DuckDB oracle pin
    * n_bytes.
    * `mixedFilters` cycles the scanline filter None/Sub/Up/Average/
    * Paeth by row, so decoding these fixtures exercises the full
    * filter reconstruction, not just the happy path. */
  def encodePngGray(width: Int, height: Int, gray: Array[Byte],
      mixedFilters: Boolean = false): Array[Byte] = {
    require(gray.length == width * height,
      s"need $width*$height bytes, got ${gray.length}")
    val stride = width * 3
    // filtered scanlines: filter byte + transformed row
    val flt = new Array[Byte]((1 + stride) * height)
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < stride) { cur(x) = gray(y * width + x / 3) & 0xff; x += 1 }
      val f = if (mixedFilters) y % 5 else 0
      flt(y * (1 + stride)) = f.toByte
      x = 0
      while (x < stride) {
        val a = if (x >= 3) cur(x - 3) else 0
        val b = prev(x)
        val c = if (x >= 3) prev(x - 3) else 0
        val enc = f match {
          case 0 => cur(x)
          case 1 => cur(x) - a
          case 2 => cur(x) - b
          case 3 => cur(x) - ((a + b) / 2)
          case 4 => cur(x) - paeth(a, b, c)
        }
        flt(y * (1 + stride) + 1 + x) = (enc & 0xff).toByte
        x += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    // zlib stream of stored (level 0) deflate blocks
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.NO_COMPRESSION)
    val zl = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(zl, deflater)
    z.write(flt); z.close(); deflater.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length)
      val tb = typ.getBytes("US-ASCII")
      b.put(tb).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      b.putInt(crc.getValue.toInt)
      b.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    val outb = new java.io.ByteArrayOutputStream()
    outb.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    outb.write(chunk("IHDR", ihdr))
    outb.write(chunk("IDAT", zl.toByteArray))
    outb.write(chunk("IEND", Array.empty[Byte]))
    outb.toByteArray
  }

  /** Encode 8-bit unsigned PCM mono as a real WAV. */
  def encodeWavPcm8(samples: Array[Byte], sampleRate: Int = 8000): Array[Byte] = {
    val size = 44 + samples.length
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(size - 8)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate).putShort(1).putShort(8)
    b.put("data".getBytes("US-ASCII")).putInt(samples.length).put(samples)
    b.array()
  }

  /** Fixed-width histogram feature (16 bins over 0..255) — the
    * stand-in for an embedding/feature-extractor head. Out-of-range
    * samples (16-bit PCM) clamp into the edge bins. */
  val FeatureBins = 16
  def featuresOf(samples: Array[Int]): Array[Double] = {
    val bins = new Array[Double](FeatureBins)
    samples.foreach { s =>
      bins(math.min(math.max(s * FeatureBins / 256, 0), FeatureBins - 1)) += 1.0
    }
    if (samples.nonEmpty) (0 until FeatureBins).foreach(i => bins(i) /= samples.length)
    bins
  }

  /** Audio spectral features: per-band energies of an 8-point
    * Walsh–Hadamard transform over fixed non-overlapping 8-sample
    * windows (trailing partial window dropped). The WHT is the
    * integer-exact spectral surrogate for a DFT — coefficients are
    * ±1-weighted sums (sign = parity of popcount(k AND i), the
    * natural-order Hadamard matrix), so band energies are EXACT Longs
    * both here and in a SQL replay, where a real-valued FFT would
    * drag cos/sin 1-ulp divergence into every oracle compare. Band 0
    * is the DC/loudness band; higher k responds to faster sign
    * alternation (sequency). Parseval holds exactly:
    * Σ_k energy_k = 8 · Σ_i s_i² per window. */
  def whtBandEnergies(samples: Array[Int], bands: Int = 8): Array[Long] = {
    require(bands > 0 && (bands & (bands - 1)) == 0, s"bands must be a power of 2: $bands")
    val out = new Array[Long](bands)
    var w = 0
    while (w + bands <= samples.length) {
      var k = 0
      while (k < bands) {
        var c = 0L
        var i = 0
        while (i < bands) {
          c += (if (java.lang.Integer.bitCount(k & i) % 2 == 0) 1 else -1) *
            samples(w + i)
          i += 1
        }
        out(k) += c * c
        k += 1
      }
      w += bands
    }
    out
  }

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      mean_sample: Double,
      features: Array[Double])

  /** Batch feature extraction: one partition = one iterator, codec
    * state would be initialized once per partition here. Decode is the
    * real dispatch: BMP/WAV payloads parse for real, opaque ones take
    * the stub. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init point (a real pipeline opens the codec here)
      rows.map { r =>
        val samples = decode(r.payload)
        val mean =
          if (samples.isEmpty) 0.0 else samples.map(_.toLong).sum.toDouble / samples.length
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, mean, featuresOf(samples))
      }
    }
  }

  case class AHash(media_id: Long, bands: Array[Int])

  /** 8×8 average-hash (aHash — the classic public perceptual-hash
    * recipe): decode for real, collapse interleaved channels, compare
    * each of the 64 pixels to the mean — bit_i = (64·p_i > Σp), all
    * integer so any replaying engine lands on the same bits — and
    * pack the 64 bits as FOUR 16-bit band ints (LSB-first within a
    * band). Four bands ⇒ any pair at hamming ≤ 3 shares an equal band
    * (pigeonhole), so image near-dup pair-finding bands EXACTLY like
    * simhash — no all-pairs comparison; 16-bit band values also keep
    * every downstream sum/xor far from 64-bit-integer edges. */
  /** The 64-bit aHash of one DECODED sample array, packed as four
    * 16-bit bands (LSB-first within a band) — factored out so the
    * per-image operator (`aHash`) and the per-FRAME path
    * (media_frame_dedup's animation dedup) compute the identical
    * bits from the identical arithmetic. */
  def aHashBits(samples: Array[Int], channels: Int = 3): Array[Int] = {
    require(samples.length >= 64 * channels,
      s"aHash needs an 8x8 image (${64 * channels} samples), got ${samples.length}")
    val px = Array.tabulate(64)(i => samples(i * channels))
    val tot = px.sum
    Array.tabulate(4) { j =>
      (0 until 16).foldLeft(0) { (acc, k) =>
        acc | ((if (px(j * 16 + k) * 64 > tot) 1 else 0) << k)
      }
    }
  }

  def aHash(media: Dataset[MediaRow], channels: Int = 3): Dataset[AHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      // image rows only: a WAV (or an opaque payload routed through the
      // decode stub) still yields samples, and hashing them at the
      // image channel stride would produce a syntactically valid but
      // meaningless "perceptual hash" that silently joins into the
      // near-dup band table — reject at the modality boundary instead
      require(r.kind == "image",
        s"aHash is an image operator; got kind='${r.kind}' for media_id=${r.media_id}")
      AHash(r.media_id, aHashBits(decode(r.payload), channels))
    })
  }

  /** "Resize": deterministic payload subsampling (every `factor`-th
    * byte) + metadata update — the shape of a thumbnailing pass. */
  def resize(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val kept = r.payload.zipWithIndex.collect { case (b, i) if i % factor == 0 => b }
      r.copy(payload = kept,
        width = math.max(r.width / factor, 1),
        height = math.max(r.height / factor, 1))
    })
  }

  /** Frame sampling for "video": keep every `stride`-th fixed-size
    * frame block of the payload. */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int, stride: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val frames = r.payload.grouped(frameBytes).toArray
      val kept = frames.zipWithIndex.collect { case (f, i) if i % stride == 0 => f }
      r.copy(payload = kept.flatten, n_frames = kept.length)
    })
  }

  /** Deterministic synthetic media table derived from `documents`: the
    * utf-8 text bytes stand in for an encoded payload (ascii corpus, so
    * byte values == char codes — which keeps the DuckDB oracle able to
    * replay feature math from the text itself). */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(typedLit(Seq("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      (col("doc_id") % 64 + 16).cast("int").as("width"),
      (col("doc_id") % 48 + 9).cast("int").as("height"),
      (col("doc_id") % 30 + 1).cast("int").as("n_frames"))
      .as[MediaRow]
  }
}
