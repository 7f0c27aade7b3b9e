package graft

import graft.operators.{Gif, Multimodal}
import graft.operators.Multimodal.MediaRow

/** Multimodal plumbing contracts: binary round-trip, batch decode,
  * resize/frame-sample math. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media(payloads: (Long, String)*): org.apache.spark.sql.Dataset[MediaRow] =
    payloads.map { case (id, s) =>
      MediaRow(id, Seq("image", "audio", "video")((id % 3).toInt),
        s.getBytes("UTF-8"), 32, 24, 10)
    }.toDS()

  test("decodeStub widens bytes unsigned-deterministically") {
    assert(Multimodal.decodeStub(Array(0.toByte, 127.toByte, 255.toByte))
      .sameElements(Array(0, 127, 255)))
  }

  test("bmp codec: gray encode → real header parse round-trips incl. row padding") {
    // width 3 → rowBytes 9, stride 12: padding is exercised
    val gray = Array[Byte](10, 20, 30, 40, 50, 60)
    val bmp = Multimodal.encodeBmpGray(3, 2, gray)
    assert(bmp(0) == 'B' && bmp(1) == 'M')
    assert(bmp.length == 54 + 12 * 2)
    val samples = Multimodal.decodeBmp(bmp).get
    // top-down row-major, each gray value in all 3 channels (b,g,r)
    assert(samples.toSeq === gray.flatMap(v => Seq.fill(3)(v.toInt)).toSeq)
    // truncated / size-mismatched payloads are structurally rejected
    assert(Multimodal.decodeBmp(bmp.dropRight(1)).isEmpty)
    assert(Multimodal.decodeBmp("BMfake-not-an-image-payload-with-enough-bytes-to-parse-header".getBytes).isEmpty)
  }

  test("wav codec: pcm8 encode → chunk-walk parse; hand-built pcm16 decodes signed") {
    val pcm = Array[Byte](0, 64, -128, -1) // unsigned: 0, 64, 128, 255
    val wav = Multimodal.encodeWavPcm8(pcm)
    assert(Multimodal.decodeWav(wav).get.toSeq === Seq(0, 64, 128, 255))
    // 16-bit: two samples, 1000 and -2
    val b = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(40).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(4).putShort(1000).putShort(-2)
    assert(Multimodal.decodeWav(b.array()).get.toSeq === Seq(1000, -2))
    // non-PCM format code rejected
    val bad = Multimodal.encodeWavPcm8(pcm)
    bad(20) = 3 // IEEE float format tag
    assert(Multimodal.decodeWav(bad).isEmpty)
    // corrupt chunk size near Int.MaxValue: the bounds check must run
    // in Long arithmetic and structurally REJECT (None), not overflow
    // past the check and crash the task mid-walk
    val huge = Multimodal.encodeWavPcm8(pcm)
    val hb = java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hb.putInt(16, Int.MaxValue - 4) // fmt chunk claims ~2^31 bytes
    assert(Multimodal.decodeWav(huge).isEmpty)
    assert(Multimodal.decode(huge).toSeq === huge.map(_ & 0xff).toSeq) // stub fallback
  }

  test("png codec: encode → inflate → unfilter round-trips every filter type") {
    // height 7 with mixedFilters cycles None/Sub/Up/Average/Paeth and
    // wraps back — every reconstruction path runs, and Paeth/Average
    // see non-trivial left/up/up-left neighbors
    val w = 5; val h = 7
    val gray = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val png = Multimodal.encodePngGray(w, h, gray, mixedFilters = true)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    // deterministic size: stored-block zlib, so sig + IHDR + IDAT + IEND
    val flt = h * (1 + w * 3)
    assert(png.length == 8 + 25 + (12 + 2 + 5 + flt + 4) + 12)
    val samples = Multimodal.decodePng(png).get
    assert(samples.toSeq === gray.flatMap(v => Seq.fill(3)(v.toInt & 0xff)).toSeq)
    // unfiltered encode decodes to the same values
    val plain = Multimodal.encodePngGray(w, h, gray)
    assert(Multimodal.decodePng(plain).get.toSeq === samples.toSeq)
    // structural rejection: flipped CRC, truncated stream, bad magic
    val corrupt = png.clone(); corrupt(png.length - 5) = (corrupt(png.length - 5) ^ 1).toByte
    assert(Multimodal.decodePng(corrupt).isEmpty)
    assert(Multimodal.decodePng(png.dropRight(13)).isEmpty)
    assert(Multimodal.decodePng("not a png but long enough to look at the header bytes".getBytes).isEmpty)
    // dispatch routes PNG to the real parse
    assert(Multimodal.decode(png).toSeq === samples.toSeq)
  }

  /** Hand-built 8-bit non-interlaced PNG: arbitrary color type,
    * unfiltered scanlines, stored-block zlib — the fixture the ct-0/3/4
    * decoder paths need (encodePngGray only emits color type 2). */
  private def rawPng(w: Int, h: Int, colorType: Int, channels: Int,
      rows: Array[Byte], plte: Option[Array[Byte]] = None,
      finalBlock: Boolean = true): Array[Byte] = {
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
    val stride = w * channels
    val flt = new Array[Byte]((1 + stride) * h)
    for (y <- 0 until h)
      System.arraycopy(rows, y * stride, flt, y * (1 + stride) + 1, stride)
    val zl = new java.io.ByteArrayOutputStream()
    zl.write(0x78); zl.write(0x01); zl.write(if (finalBlock) 1 else 0)
    zl.write(flt.length & 0xff); zl.write((flt.length >> 8) & 0xff)
    zl.write(~flt.length & 0xff); zl.write((~flt.length >> 8) & 0xff)
    zl.write(flt)
    val adler = new java.util.zip.Adler32(); adler.update(flt)
    val ad = adler.getValue
    zl.write(((ad >> 24) & 0xff).toInt); zl.write(((ad >> 16) & 0xff).toInt)
    zl.write(((ad >> 8) & 0xff).toInt); zl.write((ad & 0xff).toInt)
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.write(chunk("IHDR", ihdr))
    plte.foreach(pal => out.write(chunk("PLTE", pal)))
    out.write(chunk("IDAT", zl.toByteArray))
    out.write(chunk("IEND", Array.empty[Byte]))
    out.toByteArray
  }

  test("png codec: grayscale, gray+alpha and palette color types decode") {
    // ct 0: one channel per pixel, values pass through
    val gray = Array.tabulate(12)(i => (i * 19 + 5).toByte)
    val g = Multimodal.decodePng(rawPng(4, 3, 0, 1, gray)).get
    assert(g.toSeq === gray.map(_ & 0xff: Int).toSeq)
    // ct 4: gray+alpha, two channels per pixel
    val ga = Array.tabulate(8)(i => (40 + i).toByte)
    val g4 = Multimodal.decodePng(rawPng(2, 2, 4, 2, ga)).get
    assert(g4.toSeq === ga.map(_ & 0xff: Int).toSeq)
    // ct 3: indices expand through PLTE to r,g,b
    val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90) // 3 entries
    val idx = Array[Byte](0, 2, 1, 1, 0, 2, 2, 0)
    val p3 = Multimodal.decodePng(rawPng(4, 2, 3, 1, idx, Some(pal))).get
    assert(p3.toSeq === idx.flatMap(i =>
      Seq(pal(3 * i) & 0xff, pal(3 * i + 1) & 0xff, pal(3 * i + 2) & 0xff)).toSeq)
    // structural rejection: index past the palette, palette missing
    assert(Multimodal.decodePng(
      rawPng(4, 2, 3, 1, Array[Byte](0, 3, 1, 1, 0, 2, 2, 0), Some(pal))).isEmpty)
    assert(Multimodal.decodePng(rawPng(4, 2, 3, 1, idx, None)).isEmpty)
  }

  test("png codec: stream ending mid-block after exactly enough bytes is rejected") {
    // the r7 advisory: a deflate stream whose LAST block is non-final
    // produces raw.length bytes and then hits needsInput with
    // finished()=false — that is a truncated stream, not a valid image
    val gray = Array.tabulate(12)(i => (i * 19 + 5).toByte)
    assert(Multimodal.decodePng(rawPng(4, 3, 0, 1, gray)).isDefined)
    assert(Multimodal.decodePng(rawPng(4, 3, 0, 1, gray, finalBlock = false)).isEmpty)
  }

  test("decode dispatch: real containers parse, opaque payloads take the stub") {
    val gray = Array[Byte](1, 2, 3, 4)
    val bmp = Multimodal.encodeBmpGray(2, 2, gray)
    assert(Multimodal.decode(bmp).length == 12) // parsed, not stubbed bytes
    val text = "plain text payload".getBytes("UTF-8")
    assert(Multimodal.decode(text).toSeq === Multimodal.decodeStub(text).toSeq)
  }

  test("extractFeatures decodes a real BMP payload for real") {
    val gray = Array[Byte](0, 32, 64, 96) // bins 0,2,4,6
    val bmp = Multimodal.encodeBmpGray(2, 2, gray)
    val ds = Seq(MediaRow(5L, "image", bmp, 2, 2, 1)).toDS()
    val f = Multimodal.extractFeatures(ds).collect()(0)
    assert(f.n_bytes == bmp.length.toLong) // container size, not pixel count
    assert(math.abs(f.mean_sample - (0 + 32 + 64 + 96) / 4.0) < 1e-9)
    assert(math.abs(f.features(2) - 0.25) < 1e-9) // value 32 → bin 2
    assert(math.abs(f.features.sum - 1.0) < 1e-9)
  }

  test("extractFeatures: batch iterator yields histogram features summing to 1") {
    val out = Multimodal.extractFeatures(media((0L, "abcabc"), (1L, ""))).collect()
      .sortBy(_.media_id)
    assert(out(0).n_bytes == 6L)
    assert(math.abs(out(0).features.sum - 1.0) < 1e-9)
    assert(out(0).mean_sample == "abcabc".getBytes.map(_.toLong).sum.toDouble / 6)
    assert(out(1).n_bytes == 0L && out(1).mean_sample == 0.0)
  }

  test("resize subsamples payload and scales metadata with floor-1 guard") {
    val out = Multimodal.resize(media((0L, "abcdefghij")), 4).collect()(0)
    assert(new String(out.payload, "UTF-8") == "aei") // indices 0,4,8
    assert(out.width == 8 && out.height == 6)
    val tiny = Multimodal.resize(media((0L, "ab")), 100).collect()(0)
    assert(tiny.width == 1 && tiny.height == 1)
  }

  test("frameSample keeps every stride-th frame and updates n_frames") {
    // 10 bytes, 3-byte frames -> 4 frames (last is 1 byte); stride 2 keeps frames 0,2
    val out = Multimodal.frameSample(media((0L, "abcdefghij")), 3, 2).collect()(0)
    assert(new String(out.payload, "UTF-8") == "abcghi")
    assert(out.n_frames == 2)
  }

  test("mediaFromDocuments: payload round-trips text bytes through binary") {
    val docs = Seq((7L, "hello world")).toDF("doc_id", "text")
    val m = Multimodal.mediaFromDocuments(docs).collect()(0)
    assert(m.media_id == 7L && m.kind == "audio") // 7 % 3 = 1
    assert(new String(m.payload, "UTF-8") == "hello world")
  }

  // --- JPEG (lossy: closeness bounds, not bit equality — see Jpeg doc)

  /** Smooth 16×12 RGB gradient — quantization error stays small on it. */
  private def gradientRgb(w: Int, h: Int): Array[Byte] = {
    val b = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      b(o) = (40 + 10 * x).toByte
      b(o + 1) = (60 + 8 * y).toByte
      b(o + 2) = (90 + 4 * (x + y)).toByte
    }
    b
  }

  private def meanAbsDiff(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length, s"${a.length} vs ${b.length}")
    a.iterator.zip(b.iterator).map { case (x, y) => math.abs(x - y) }.sum.toDouble / a.length
  }

  /** `Jpeg.encode`'s writer settings (quality 0.5, baseline or
    * progressive) plus a DRI segment of one MCU, so even the three
    * 4:2:0 MCUs of a 48×16 frame carry RST0 and RST1. The codec writes
    * no restart markers itself; the stream is built here through the
    * JDK writer's `dri` metadata node. */
  private def jpegWithRestarts(w: Int, h: Int, rgb: Array[Byte],
      progressive: Boolean): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
    import javax.imageio.metadata.IIOMetadataNode
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    img.getRaster.setPixels(0, 0, w, h, rgb.map(_ & 0xff))
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.5f)
    if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val meta = writer.getDefaultImageMetadata(
      ImageTypeSpecifier.createFromRenderedImage(img), param)
    val format = "javax_imageio_jpeg_image_1.0"
    val root = new IIOMetadataNode(format)
    val markers = new IIOMetadataNode("markerSequence")
    val dri = new IIOMetadataNode("dri")
    dri.setAttribute("interval", "1")
    markers.appendChild(dri)
    root.appendChild(new IIOMetadataNode("JPEGvariety"))
    root.appendChild(markers)
    meta.mergeTree(format, root)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, meta), param)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("avi container: mux → demux returns the exact per-frame JPEG streams") {
    val frames = Seq(
      Array.tabulate(64)(i => (10 + 3 * i).toByte),
      Array.tabulate(64)(i => (200 - 2 * i).toByte),
      Array.tabulate(63)(i => (5 * i).toByte)) // ODD length: pad path
      .map(g => graft.operators.Jpeg.encode(8, 8, g.padTo(64, 0.toByte), gray = true))
    // force one odd-sized chunk through the even-padding path (a
    // trailing byte after EOI — demux must return it verbatim)
    val oddJpeg =
      if (frames(2).length % 2 == 1) frames(2) else frames(2) :+ 0x3a.toByte
    val muxed = frames.take(2) ++ Seq(oddJpeg) ++ Seq(frames(0))
    val avi = graft.operators.Avi.encodeMjpeg(8, 8, muxed)
    // container magic
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val got = graft.operators.Avi.decodeMjpegFrames(avi).get
    assert(got.length == muxed.length)
    got.zip(muxed).zipWithIndex.foreach { case ((a, e), i) =>
      assert(a.sameElements(e), s"frame $i bytes differ after demux")
    }
    // demuxed streams decode identically to the originals
    val d0 = graft.operators.Jpeg.decode(got.head).get
    val e0 = graft.operators.Jpeg.decode(muxed.head).get
    assert(d0.sameElements(e0))
    // non-AVI and truncated inputs fail soft
    assert(graft.operators.Avi.decodeMjpegFrames("not a riff".getBytes).isEmpty)
    assert(graft.operators.Avi.decodeMjpegFrames(avi.take(11)).isEmpty)
    val truncated = graft.operators.Avi.decodeMjpegFrames(avi.dropRight(40))
    assert(truncated.isDefined, "mid-stream truncation must fail soft, not throw")
  }

  test("avi demux never throws on corrupted containers (seeded byte mutations)") {
    // crawled-data honesty: a demuxer that throws on one flipped byte
    // kills the whole mapPartitions batch; every corruption must fail
    // soft (None or a partial frame list)
    val frames = (0 until 3).map(i =>
      graft.operators.Jpeg.encode(8, 8,
        Array.tabulate(64)(j => (i * 40 + j * 2).toByte), gray = true))
    val avi = graft.operators.Avi.encodeMjpeg(8, 8, frames)
    val rnd = new scala.util.Random(73)
    for (_ <- 1 to 200) {
      val mutated = avi.clone()
      val flips = 1 + rnd.nextInt(4)
      for (_ <- 1 to flips)
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      graft.operators.Avi.decodeMjpegFrames(mutated) // must not throw
      graft.operators.Avi.decodeMjpegFrames(
        mutated.take(rnd.nextInt(mutated.length))) // nor on truncation
    }
  }

  test("avi demux survives pathologically deep LIST nesting (stack-proof walker)") {
    // the shape the byte-flip fuzz cannot synthesize (r12 advisory): a
    // crafted container that is nothing but nested 12-byte LIST
    // headers would overflow a recursive walker's call stack long
    // before the JVM runs out of heap; the explicit-work-stack walker
    // must finish and still collect a frame planted at the bottom
    val depth = 200000
    val payload = Array[Byte](1, 2, 3, 4)
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    // innermost: one 00dc chunk
    val inner = 8 + payload.length
    cc("RIFF"); w32(4 + depth * 12 + inner); cc("AVI ")
    (0 until depth).foreach { i =>
      cc("LIST"); w32(4 + (depth - 1 - i) * 12 + inner); cc("movi")
    }
    cc("00dc"); w32(payload.length); out.write(payload, 0, payload.length)
    val got = graft.operators.Avi.decodeMjpegFrames(out.toByteArray)
    assert(got.isDefined && got.get.length == 1 &&
      got.get.head.sameElements(payload),
      "deep nesting must neither throw nor drop the planted frame")
  }

  test("declared media_video_frame_dedup: every cohort doc demuxes and finds its plant") {
    val rows = graft.queries.MultimodalQueries
      .queries("media_video_frame_dedup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 4L, s"media ${r.getLong(0)}: n_frames ${r.getLong(1)}")
      assert(r.getBoolean(2), s"media ${r.getLong(0)}: demux not exact")
      assert(r.getBoolean(3), s"media ${r.getLong(0)}: planted dup not found")
    }
  }

  test("jpeg codec: encode → decode round-trips a smooth gradient closely") {
    val (w, h) = (16, 12)
    val rgb = gradientRgb(w, h)
    val jpg = graft.operators.Jpeg.encode(w, h, rgb)
    val got = graft.operators.Jpeg.decode(jpg).get
    assert(got.length === w * h * 3)
    val want = rgb.map(_ & 0xff: Int)
    assert(meanAbsDiff(got, want) < 4.0) // Annex K quality-50 quant error
    assert(got.zip(want).map { case (x, y) => math.abs(x - y) }.max < 32)
  }

  test("jpeg codec: grayscale single-component round-trip") {
    val (w, h) = (10, 9)
    // smooth 2D ramp: quantization error stays small (a sawtooth that
    // wraps mid-block is legitimately lossy at quality-50 quant)
    val gray = Array.tabulate(w * h)(i => (30 + 3 * (i % w) + 5 * (i / w)).toByte)
    val jpg = graft.operators.Jpeg.encode(w, h, gray, gray = true)
    val got = graft.operators.Jpeg.decode(jpg).get
    assert(got.length === w * h)
    assert(meanAbsDiff(got, gray.map(_ & 0xff: Int)) < 4.0)
  }

  test("jpeg codec: our stream decodes identically-close in the JDK decoder") {
    // the wrapper's samples must match what ImageIO.read's RGB view
    // gives for the same stream, up to IDCT tolerance
    val (w, h) = (16, 12)
    val jpg = graft.operators.Jpeg.encode(w, h, gradientRgb(w, h))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(img != null, "JDK decoder rejected our stream")
    assert(img.getWidth === w && img.getHeight === h)
    val ours = graft.operators.Jpeg.decode(jpg).get
    val ref = new Array[Int](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val o = (y * w + x) * 3
      ref(o) = (p >> 16) & 0xff; ref(o + 1) = (p >> 8) & 0xff; ref(o + 2) = p & 0xff
    }
    assert(meanAbsDiff(ours, ref) < 2.0)
  }

  test("jpeg codec: decodes a JDK-encoded 4:2:0 stream (subsampling + standard tables)") {
    val (w, h) = (20, 14)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = gradientRgb(w, h)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      img.setRGB(x, y,
        ((rgb(o) & 0xff) << 16) | ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val jpg = bos.toByteArray
    val ours = graft.operators.Jpeg.decode(jpg).get
    assert(ours.length === w * h * 3)
    val ref = new Array[Int](w * h * 3)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    for (y <- 0 until h; x <- 0 until w) {
      val p = back.getRGB(x, y)
      val o = (y * w + x) * 3
      ref(o) = (p >> 16) & 0xff; ref(o + 1) = (p >> 8) & 0xff; ref(o + 2) = p & 0xff
    }
    // a stream written by plain ImageIO.write decodes close to
    // ImageIO.read's RGB view of it
    assert(meanAbsDiff(ours, ref) < 4.0)
  }

  test("jpeg codec: malformed and arithmetic payloads fall back, not throw") {
    assert(graft.operators.Jpeg.decode("not a jpeg".getBytes).isEmpty)
    assert(graft.operators.Jpeg.decode(Array(0xff, 0xd8, 0xff).map(_.toByte)).isEmpty)
    val jpg = graft.operators.Jpeg.encode(8, 8, gradientRgb(8, 8))
    assert(graft.operators.Jpeg.decode(jpg.take(jpg.length / 2)).isEmpty) // truncated
    // arithmetic-coded frame (SOF9): unsupported, must fall back
    val arith = jpg.clone()
    val sof = (0 until arith.length - 1)
      .find(i => (arith(i) & 0xff) == 0xff && (arith(i + 1) & 0xff) == 0xc0).get
    arith(sof + 1) = 0xc9.toByte
    assert(graft.operators.Jpeg.decode(arith).isEmpty)
    // a four-component frame is neither gray nor RGB
    val fourBand = {
      val raster = java.awt.image.Raster.createInterleavedRaster(
        java.awt.image.DataBuffer.TYPE_BYTE, 8, 8, 4, null)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(raster, null, null), null)
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    assert(fourBand.length > 100)
    assert(graft.operators.Jpeg.decode(fourBand).isEmpty)
    // the dispatcher routes real JPEG to the codec (not the stub)
    assert(Multimodal.decode(jpg).length === 8 * 8 * 3)
  }

  test("jpeg codec: restart intervals (DRI + RSTn) decode identically; JDK agrees") {
    val (w, h) = (48, 16) // 3 MCUs at 4:2:0, a restart after each
    val rgb = gradientRgb(w, h)
    val plain = graft.operators.Jpeg.encode(w, h, rgb)
    val rst = jpegWithRestarts(w, h, rgb, progressive = false)
    // the stream really carries DRI and at least one wrapped RSTn marker
    def hasMarker(p: Array[Byte], m: Int): Boolean =
      (0 until p.length - 1).exists(i =>
        (p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == m)
    assert(hasMarker(rst, 0xdd) && hasMarker(rst, 0xd0) && hasMarker(rst, 0xd1))
    // restart markers change the entropy framing, never the pixels
    assert(graft.operators.Jpeg.decode(rst).get.toSeq ===
      graft.operators.Jpeg.decode(plain).get.toSeq)
    // and the JDK accepts the restart-framed stream
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rst))
    assert(img != null && img.getWidth === w && img.getHeight === h)
  }

  test("jpeg codec: progressive encode → decode round-trips; agrees with baseline") {
    val (w, h) = (16, 12)
    val gray = Array.tabulate(w * h)(i => (30 + 3 * (i % w) + 5 * (i / w)).toByte)
    val prog = graft.operators.Jpeg.encodeProgressive(w, h, gray, gray = true)
    val got = graft.operators.Jpeg.decode(prog).get
    assert(got.length === w * h)
    assert(meanAbsDiff(got, gray.map(_ & 0xff: Int)) < 4.0)
    // same quant tables + FDCT as baseline: after full refinement the
    // progressive stream carries the SAME coefficients, so the decode
    // must be bit-identical to the baseline round-trip
    val base = graft.operators.Jpeg.decode(
      graft.operators.Jpeg.encode(w, h, gray, gray = true)).get
    assert(got.toSeq === base.toSeq)
    // 3-component progressive
    val rgb = gradientRgb(w, h)
    val progC = graft.operators.Jpeg.encodeProgressive(w, h, rgb)
    val gotC = graft.operators.Jpeg.decode(progC).get
    assert(gotC.length === w * h * 3)
    val baseC = graft.operators.Jpeg.decode(
      graft.operators.Jpeg.encode(w, h, rgb)).get
    assert(gotC.toSeq === baseC.toSeq)
    // the dispatcher routes progressive to the real codec too
    assert(Multimodal.decode(progC).toSeq === gotC.toSeq)
  }

  test("jpeg codec: progressive restart markers decode identically; JDK agrees") {
    val (w, h) = (48, 16)
    val rgb = gradientRgb(w, h)
    val plain = graft.operators.Jpeg.encodeProgressive(w, h, rgb)
    val rst = jpegWithRestarts(w, h, rgb, progressive = true)
    def hasMarker(p: Array[Byte], m: Int): Boolean =
      (0 until p.length - 1).exists(i =>
        (p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == m)
    assert(hasMarker(rst, 0xdd) && hasMarker(rst, 0xd0))
    assert(graft.operators.Jpeg.decode(rst).get.toSeq ===
      graft.operators.Jpeg.decode(plain).get.toSeq)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rst))
    assert(img != null && img.getWidth === w && img.getHeight === h)
  }

  test("jpeg codec: our progressive stream decodes identically-close in the JDK") {
    val (w, h) = (16, 12)
    val prog = graft.operators.Jpeg.encodeProgressive(w, h, gradientRgb(w, h))
    // pin that the stream really is SOF2
    assert((0 until prog.length - 1).exists(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc2))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(prog))
    assert(img != null, "JDK decoder rejected our progressive stream")
    assert(img.getWidth === w && img.getHeight === h)
    val ours = graft.operators.Jpeg.decode(prog).get
    val ref = new Array[Int](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val o = (y * w + x) * 3
      ref(o) = (p >> 16) & 0xff; ref(o + 1) = (p >> 8) & 0xff; ref(o + 2) = p & 0xff
    }
    assert(meanAbsDiff(ours, ref) < 2.0)
  }

  test("jpeg codec: decodes a JDK-encoded progressive stream (real scan script)") {
    // the JDK writer's progressive mode emits a libjpeg-style scan
    // script with successive approximation AND 4:2:0 sampling — the
    // shape of real crawled progressive JPEGs
    val (w, h) = (20, 14)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = gradientRgb(w, h)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      img.setRGB(x, y,
        ((rgb(o) & 0xff) << 16) | ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    val jpg = bos.toByteArray
    assert((0 until jpg.length - 1).exists(i =>
      (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == 0xc2),
      "JDK did not emit a progressive stream")
    val ours = graft.operators.Jpeg.decode(jpg).get
    assert(ours.length === w * h * 3)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    val ref = new Array[Int](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = back.getRGB(x, y)
      val o = (y * w + x) * 3
      ref(o) = (p >> 16) & 0xff; ref(o + 1) = (p >> 8) & 0xff; ref(o + 2) = p & 0xff
    }
    // close to ImageIO.read's RGB view of the same stream
    assert(meanAbsDiff(ours, ref) < 4.0)
  }

  test("jpeg codec: byte-flipped and truncated streams give None or a whole frame") {
    // crawled media is corrupt now and then; the codec runs inside the
    // decode mapPartitions stage, where one escaped exception fails
    // the whole stage, and a partial sample array would be read as a
    // frame of the declared size. The GIF streams (one interlaced
    // frame, a 3-frame animation) go through the all-frames decoder,
    // which needs the trailer
    val (w, h) = (16, 12)
    val rgb = gradientRgb(w, h)
    val gray = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val jpegFrames = (p: Array[Byte]) => graft.operators.Jpeg.decode(p).map(Seq(_))
    val gifFrames = (p: Array[Byte]) => Gif.decodeFrames(p).map(_.toSeq)
    val streams = Seq(
      graft.operators.Jpeg.encode(w, h, rgb) -> jpegFrames,
      graft.operators.Jpeg.encodeProgressive(w, h, rgb) -> jpegFrames,
      Gif.encodeGray(w, h, Seq(gray), interlaced = true) -> gifFrames,
      Gif.encodeGray(w, h, Seq(gray, gray.reverse, gray.map(v => (v ^ 0x55).toByte)))
        -> gifFrames)
    val rnd = new scala.util.Random(41)
    for ((stream, frames) <- streams; i <- 1 to 150) {
      if (i % 3 == 0) {
        // the first two cuts drop only the last one or two bytes (EOI;
        // a GIF's trailer and block terminator), the rest cut anywhere;
        // the JPEG reader warns on a cut stream and pads the frame, and
        // the padded frame must not pass as data
        val cut = stream.take(
          if (i < 9) stream.length - i / 3 else rnd.nextInt(stream.length))
        assert(frames(cut).isEmpty, s"cut at ${cut.length}")
        Multimodal.decode(cut) // must not throw
      } else {
        val bad = stream.clone()
        for (_ <- 1 to 1 + rnd.nextInt(4))
          bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte
        frames(bad).foreach(_.foreach { got =>
          assert(got.length == w * h * 3, s"copy $i: ${got.length} samples")
        })
        Multimodal.decode(bad) // must not throw
      }
    }
  }

  test("gif codec: gray encode → LZW decode round-trips bit-exactly, incl. interlace") {
    val (w, h) = (9, 13) // odd dims: all four interlace passes non-empty
    val gray = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val want = gray.flatMap(v => Seq(v & 0xff, v & 0xff, v & 0xff)).toSeq
    val plain = Gif.decode(Gif.encodeGray(w, h, Seq(gray))).get
    assert(plain.toSeq === want)
    // interlaced frame: physical row order differs, logical must not
    val inter = Gif.decode(Gif.encodeGray(w, h, Seq(gray), interlaced = true)).get
    assert(inter.toSeq === want)
    // structural rejections: truncated LZW, trailer-before-image, bad sig
    val gif = Gif.encodeGray(w, h, Seq(gray))
    assert(Gif.decode(gif.dropRight(20)).isEmpty)
    assert(Gif.decode("GIF87a then junk that is long enough".getBytes).isEmpty)
    // an LZW stream that ends before the last row, or (non-interlaced)
    // runs a row past it
    assert(Gif.decode(rawGif(2, 3, 1, literals(1, 2))).isEmpty)
    assert(Gif.decode(rawGif(2, 2, 1, literals(1, 2, 3, 0))).isEmpty)
    // code 261 when the next free entry is 260: the reader warns, then
    // still fills the row
    assert(Gif.decode(rawGif(2, 5, 1, Seq(256, 1, 2, 3, 261, 1, 2, 257))).isEmpty)
    // palette overrun: index 9 of an 8-entry table fits the reader's
    // 4-bit raster and gives None; index 200 of a 4-entry table does
    // not fit its 2-bit raster and is masked to in-range samples
    assert(Gif.decode(rawGif(3, 2, 1, literals(1, 9))).isEmpty)
    val masked = rawGif(2, 2, 1, literals(1, 200))
    Gif.decode(masked).foreach(got =>
      assert(got.length == 6 && got.forall(v => v >= 0 && v <= 255), got.toSeq))
    Multimodal.decode(masked) // must not throw
    // dispatch routes GIF to the real parse
    assert(Multimodal.decode(gif).toSeq === want)
  }

  /** Hand-built GIF89a: a global table of 2^`tableBits` gray entries
    * (entry i = 30·i) and one w×h frame of 9-bit LZW `codes` (minimum
    * code size 8: CLEAR = 256, END = 257), so any index up to 255 can be
    * coded whatever the table size. */
  private def rawGif(tableBits: Int, w: Int, h: Int, codes: Seq[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(w); w16(h); out.write(0x80 | (tableBits - 1)); out.write(0); out.write(0)
    for (i <- 0 until (1 << tableBits); _ <- 0 until 3) out.write(30 * i)
    out.write(0x2c); w16(0); w16(0); w16(w); w16(h); out.write(0)
    out.write(8)
    val data = new java.io.ByteArrayOutputStream()
    var (acc, nb) = (0L, 0)
    for (c <- codes) {
      acc |= c.toLong << nb; nb += 9
      while (nb >= 8) { data.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
    }
    if (nb > 0) data.write(acc.toInt)
    out.write(data.size); data.writeTo(out); out.write(0)
    out.write(0x3b)
    out.toByteArray
  }

  /** LZW codes for `pixels` with a CLEAR before each literal (the table
    * never grows), then END. */
  private def literals(pixels: Int*): Seq[Int] = pixels.flatMap(px => Seq(256, px)) :+ 257

  test("wht band energies: Parseval, DC purity, and wav round-trip") {
    val rnd = new scala.util.Random(7)
    val samples = Array.fill(64)(rnd.nextInt(256))
    val bands = Multimodal.whtBandEnergies(samples)
    // Parseval per 8-window: Σ_k energy_k = 8 · Σ_i s_i²
    assert(bands.sum === 8L * samples.map(s => s.toLong * s).sum)
    // a constant signal is pure DC: all energy in band 0
    val dc = Multimodal.whtBandEnergies(Array.fill(16)(100))
    assert(dc(0) === 2L * (800L * 800L) && dc.drop(1).forall(_ == 0L))
    // 200,0,200,0,… = DC 100 + 100·(−1)^i: energy splits exactly
    // between band 0 and band 1 (sign of band 1 is (−1)^bit0(i))
    val alt = Array.tabulate(8)(i => if (i % 2 == 0) 200 else 0)
    val ab = Multimodal.whtBandEnergies(alt)
    assert(ab(0) === 640000L && ab(1) === 640000L)
    assert(ab.drop(2).forall(_ == 0L))
    // trailing partial window dropped
    assert(Multimodal.whtBandEnergies(samples.take(12)).sum ===
      8L * samples.take(8).map(s => s.toLong * s).sum)
    // decode(encodeWavPcm8) is the identity on 0..255 samples
    val pcm = samples.map(_.toByte)
    assert(Multimodal.decodeWav(Multimodal.encodeWavPcm8(pcm)).get.toSeq
      === samples.toSeq)
  }

  test("gif codec: GIF89a GCE transparency composites to the screen background") {
    val (w, h) = (4, 3)
    val gray = Array.tabulate(w * h)(i => (i * 20 + 10).toByte) // 10,30,…,230
    val base = Gif.encodeGray(w, h, Seq(gray))
    // splice: background index 200 (gray 200), and a graphic-control
    // extension ahead of the image descriptor at 13+768 (the writer's
    // single frame is GIF89a with a 256-entry global table, no GCE)
    assert(new String(base, 0, 6, "US-ASCII") == "GIF89a" && base(13 + 768) == 0x2c)
    def withGce(flags: Int, transIdx: Int, bgIdx: Int): Array[Byte] = {
      val b = base.clone()
      b(11) = bgIdx.toByte
      val imgDesc = 13 + 768
      val gce = Array(0x21, 0xf9, 0x04, flags, 0, 0, transIdx, 0x00).map(_.toByte)
      b.take(imgDesc) ++ gce ++ b.drop(imgDesc)
    }
    // transparency armed on the pixel holding gray 50 → background 200
    val trans = Gif.decode(withGce(flags = 1, transIdx = 50, bgIdx = 200)).get
    for (i <- 0 until w * h; c <- 0 until 3) {
      val g = gray(i) & 0xff
      assert(trans(3 * i + c) === (if (g == 50) 200 else g), s"px $i ch $c")
    }
    // GCE present but transparency bit OFF → index 50 decodes as itself
    val opaque = Gif.decode(withGce(flags = 0, transIdx = 50, bgIdx = 200)).get
    for (i <- 0 until w * h; c <- 0 until 3)
      assert(opaque(3 * i + c) === (gray(i) & 0xff))
  }

  test("gif codec: decodes a JDK-written GIF bit-exactly (lossless cross-check)") {
    val (w, h) = (16, 11)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 16 + y * 7) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val gif = bos.toByteArray
    val ours = Gif.decode(gif).get
    assert(ours.length === w * h * 3)
    // against the source samples: the JDK reader is what Gif wraps
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 16 + y * 7) % 256
      val o = (y * w + x) * 3
      assert(ours(o) === v, s"r at $x,$y")
      assert(ours(o + 1) === v, s"g at $x,$y")
      assert(ours(o + 2) === v, s"b at $x,$y")
    }
  }

  test("image decoders reject allocation-bomb headers instead of OOMing the task") {
    // a tiny JPEG whose SOF0 DECLARES 40000×40000: must return None at
    // the header, never size the component planes
    val jpg = graft.operators.Jpeg.encode(8, 8, gradientRgb(8, 8))
    // locate SOF0 (FF C0) and patch its declared dims
    val sof = (0 until jpg.length - 1)
      .find(i => (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == 0xc0).get
    val bomb = jpg.clone()
    bomb(sof + 5) = 0x9c.toByte; bomb(sof + 6) = 0x40.toByte // h = 40000
    bomb(sof + 7) = 0x9c.toByte; bomb(sof + 8) = 0x40.toByte // w = 40000
    assert(graft.operators.Jpeg.decode(bomb).isEmpty)
    // 4097×4097 is just over 2^24 pixels yet small enough for the JDK
    // reader to size its 50 MB frame buffer: only the header check
    // keeps that buffer from being allocated
    val justOver = jpg.clone()
    justOver(sof + 5) = 0x10.toByte; justOver(sof + 6) = 0x01.toByte
    justOver(sof + 7) = 0x10.toByte; justOver(sof + 8) = 0x01.toByte
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val allocated = threads.getCurrentThreadAllocatedBytes
    assert(graft.operators.Jpeg.decode(justOver).isEmpty)
    assert(threads.getCurrentThreadAllocatedBytes - allocated < (8L << 20))
    // a GIF image descriptor (at 13+768) declaring 4097×4097: the JDK
    // reader would size an 84 MB raster and pad it without a warning
    val gifBomb = Gif.encodeGray(8, 8, Seq(Array.tabulate(64)(_.toByte)))
    for (o <- Seq(13 + 768 + 5, 13 + 768 + 7)) {
      gifBomb(o) = 0x01.toByte; gifBomb(o + 1) = 0x10.toByte
    }
    val gifAllocated = threads.getCurrentThreadAllocatedBytes
    assert(Gif.decode(gifBomb).isEmpty)
    assert(threads.getCurrentThreadAllocatedBytes - gifAllocated < (8L << 20))
    // same for PNG: chunk-valid header declaring 19000×19000 RGBA
    val png = rawPng(2, 2, 6, 4, Array.fill(16)(1.toByte))
    val ihdrData = 8 + 8 // sig + len/type of IHDR
    val pbomb = png.clone()
    def putInt(o: Int, v: Int): Unit = {
      pbomb(o) = (v >> 24).toByte; pbomb(o + 1) = (v >> 16).toByte
      pbomb(o + 2) = (v >> 8).toByte; pbomb(o + 3) = v.toByte
    }
    putInt(ihdrData, 19000); putInt(ihdrData + 4, 19000)
    // re-seal the IHDR CRC so only the dimension guard can reject it
    val crc = new java.util.zip.CRC32()
    crc.update(pbomb, 12, 4 + 13)
    putInt(12 + 4 + 13, crc.getValue.toInt)
    assert(Multimodal.decodePng(pbomb).isEmpty)
  }

  test("aHash: known bit layout, band packing, and single-pixel sensitivity") {
    import spark.implicits._
    // 32 dark then 32 bright pixels: tot = 32·10 + 32·200 = 6720;
    // 64·10 = 640 < tot → 0-bits; 64·200 = 12800 > tot → 1-bits
    val gray = (Array.fill(32)(10) ++ Array.fill(32)(200)).map(_.toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.encodeBmpGray(8, 8, gray), 8, 8, 1))
      .toDS()
    val h = Multimodal.aHash(media).collect()(0)
    assert(h.bands.toSeq == Seq(0, 0, 0xFFFF, 0xFFFF), h.bands.toSeq)
    // flipping ONE bright pixel dark moves exactly that bit (the mean
    // shifts but crosses no other pixel's 64·p threshold here)
    val gray2 = gray.clone(); gray2(40) = 10.toByte
    val media2 = Seq(
      Multimodal.MediaRow(2L, "image", Multimodal.encodeBmpGray(8, 8, gray2), 8, 8, 1))
      .toDS()
    val h2 = Multimodal.aHash(media2).collect()(0)
    val hamming = (0 until 4).map(j =>
      Integer.bitCount(h.bands(j) ^ h2.bands(j))).sum
    assert(hamming == 1, s"expected hamming 1, got $hamming")
    // and the changed bit is pixel 40 = band 2, bit 8
    assert((h.bands(2) ^ h2.bands(2)) == (1 << 8))
  }

  test("animated GIF round trip: every frame back, in order, tripled") {
    val f0 = Array.tabulate(64)(i => (i * 4).toByte)
    val f1 = Array.tabulate(64)(i => (255 - i * 4).toByte)
    val f2 = Array.fill(64)(77.toByte)
    val anim = Gif.encodeGray(8, 8, Seq(f0, f1, f2))
    val got = Gif.decodeFrames(anim)
    assert(got.isDefined && got.get.length == 3)
    got.get.zip(Seq(f0, f1, f2)).foreach { case (samples, src) =>
      assert(samples.length == 192)
      (0 until 64).foreach { i =>
        val v = src(i) & 0xff
        assert(samples(3 * i) == v && samples(3 * i + 1) == v &&
          samples(3 * i + 2) == v, s"pixel $i")
      }
    }
    // Gif.decode (first-frame surface) sees exactly frame 0
    val first = Gif.decode(anim)
    assert(first.isDefined && first.get.toSeq == got.get.head.toSeq)
  }

  test("cross-frame dedup finds the planted near-identical frame only") {
    // frame 3 = frame 0 with one mid-gray pixel moved one step: aHash
    // differs in ≤ a couple of bits → the band join + Hamming rerank
    // must pair (0, 3); frames 1 and 2 are structurally different
    // (half-split vs constant) and must not pair with frame 0 at ≤ 3
    val f0 = (Array.fill(32)(10) ++ Array.fill(32)(200)).map(_.toByte)
    val f3 = f0.clone(); f3(40) = 10.toByte
    val f1 = (Array.fill(32)(200) ++ Array.fill(32)(10)).map(_.toByte)
    val f2 = Array.tabulate(64)(i => if (i % 2 == 0) 250 else 0).map(_.toByte)
    val anim = Gif.encodeGray(8, 8, Seq(f0, f1, f2, f3))
    val frames = Gif.decodeFrames(anim).get
    val bands = frames.map(s => Multimodal.aHashBits(s, 3))
    def hamming(a: Array[Int], b: Array[Int]): Int =
      (0 until 4).map(j => Integer.bitCount(a(j) ^ b(j))).sum
    assert(hamming(bands(0), bands(3)) <= 3, "planted pair must band-match")
    assert(bands(0).indices.exists(j => bands(0)(j) == bands(3)(j)),
      "pigeonhole: some band must agree exactly at hamming <= 3")
    assert(hamming(bands(0), bands(1)) > 3, "inverted frame must not pair")
    assert(hamming(bands(0), bands(2)) > 3, "stripe frame must not pair")
  }
}
