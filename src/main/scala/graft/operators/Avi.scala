package graft.operators

import java.io.ByteArrayOutputStream

/** Hand-written RIFF/AVI container codec for MJPEG video.
  * MJPEG-in-AVI is pure byte layout (Microsoft's public AVI RIFF File
  * Reference) over per-frame JPEG streams, so demux + the [[Jpeg]]
  * decoder yields REAL video-frame decode end-to-end, no codec stubs.
  * H.264 and other entropy-coded inter-frame codecs remain out of scope
  * (documented in [[Multimodal]]); MJPEG is the intra-frame format
  * surveillance/capture pipelines actually emit, and it exercises the
  * same demux→decode→fingerprint plumbing any codec would ride.
  *
  * Layout written (all sizes little-endian u32; chunks pad to even):
  *   RIFF('AVI ') {
  *     LIST('hdrl'){ avih(56), LIST('strl'){ strh(56 'vids'/'MJPG'),
  *                                           strf(40 BITMAPINFOHEADER) } }
  *     LIST('movi'){ '00dc' <jpeg bytes> ... }
  *     idx1 { one 16-byte entry per frame }
  *   }
  * The parser walks the RIFF tree and collects '..dc'/'..db' payloads
  * from the movi list — tolerant of extra chunks/lists (JUNK, INFO),
  * as a real demuxer must be.
  */
object Avi {

  private def w32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def w16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def fourcc(out: ByteArrayOutputStream, s: String): Unit =
    out.write(s.getBytes("US-ASCII"), 0, 4)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    fourcc(out, id); w32(out, body.length); out.write(body, 0, body.length)
    if ((body.length & 1) == 1) out.write(0) // RIFF even padding
    out.toByteArray
  }
  private def list(typ: String, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    fourcc(out, "LIST"); w32(out, body.length + 4); fourcc(out, typ)
    out.write(body, 0, body.length)
    if ((body.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** Mux pre-encoded JPEG frame streams into a minimal valid AVI. */
  def encodeMjpeg(width: Int, height: Int, frames: Seq[Array[Byte]],
      fps: Int = 15): Array[Byte] = {
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = {
      val out = new ByteArrayOutputStream()
      w32(out, if (fps > 0) 1000000 / fps else 0) // dwMicroSecPerFrame
      w32(out, 0); w32(out, 0) // dwMaxBytesPerSec, dwPaddingGranularity
      w32(out, 0x10) // dwFlags: AVIF_HASINDEX
      w32(out, frames.length); w32(out, 0) // dwTotalFrames, dwInitialFrames
      w32(out, 1) // dwStreams
      w32(out, maxFrame) // dwSuggestedBufferSize
      w32(out, width); w32(out, height)
      (0 until 4).foreach(_ => w32(out, 0)) // dwReserved
      chunk("avih", out.toByteArray)
    }
    val strh = {
      val out = new ByteArrayOutputStream()
      fourcc(out, "vids"); fourcc(out, "MJPG")
      w32(out, 0); w16(out, 0); w16(out, 0) // flags, priority, language
      w32(out, 0) // dwInitialFrames
      w32(out, 1); w32(out, fps) // dwScale, dwRate
      w32(out, 0); w32(out, frames.length) // dwStart, dwLength
      w32(out, maxFrame) // dwSuggestedBufferSize
      w32(out, 0xFFFFFFFF) // dwQuality (default)
      w32(out, 0) // dwSampleSize
      w16(out, 0); w16(out, 0); w16(out, width); w16(out, height) // rcFrame
      chunk("strh", out.toByteArray)
    }
    val strf = {
      val out = new ByteArrayOutputStream()
      w32(out, 40); w32(out, width); w32(out, height)
      w16(out, 1); w16(out, 24) // biPlanes, biBitCount
      fourcc(out, "MJPG") // biCompression
      w32(out, width * height * 3) // biSizeImage
      w32(out, 0); w32(out, 0); w32(out, 0); w32(out, 0)
      chunk("strf", out.toByteArray)
    }
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val frameChunks = frames.map(f => chunk("00dc", f))
    val movi = list("movi", frameChunks.flatten.toArray)
    val idx1 = {
      val out = new ByteArrayOutputStream()
      var off = 4 // offsets are relative to the 'movi' fourcc
      frames.foreach { f =>
        fourcc(out, "00dc"); w32(out, 0x10) // AVIIF_KEYFRAME
        w32(out, off); w32(out, f.length)
        off += 8 + f.length + (f.length & 1)
      }
      chunk("idx1", out.toByteArray)
    }
    val body = hdrl ++ movi ++ idx1
    val out = new ByteArrayOutputStream()
    fourcc(out, "RIFF"); w32(out, body.length + 4); fourcc(out, "AVI ")
    out.write(body, 0, body.length)
    out.toByteArray
  }

  private def u32(p: Array[Byte], o: Int): Long =
    ((p(o) & 0xffL)) | ((p(o + 1) & 0xffL) << 8) |
      ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
  private def cc(p: Array[Byte], o: Int): String =
    new String(p, o, 4, "US-ASCII")

  /** Demux the video frame payloads ('..dc'/'..db' chunks inside the
    * movi list) from an AVI byte stream. None on anything that is not
    * a RIFF/AVI container; bounds-checked throughout so truncated
    * files fail soft (the crawled-data reality), never throw. */
  def decodeMjpegFrames(p: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (p.length < 12 || cc(p, 0) != "RIFF" || cc(p, 8) != "AVI ")
      return None
    val end = math.min(p.length.toLong, 8 + u32(p, 4))
    val frames = Seq.newBuilder[Array[Byte]]
    // walk chunks at [o, lim); descend into LISTs (movi or otherwise —
    // rec lists nest in some muxers), collect video-data payloads.
    // The descent uses an EXPLICIT work stack, not recursion: a LIST
    // header is 12 bytes, so a crafted/corrupt container of a few
    // hundred KB of nested LIST headers would drive call-stack depth
    // past the JVM limit and throw StackOverflowError — breaking the
    // never-throw fail-soft contract from inside the walker itself.
    // An ArrayDeque is depth-proof at any nesting.
    val work = new java.util.ArrayDeque[(Long, Long)]()
    work.push((12L, end))
    while (!work.isEmpty) {
      var (o, lim) = work.pop()
      var descended = false
      while (!descended && o + 8 <= lim) {
        val id = cc(p, o.toInt)
        val sz = u32(p, o.toInt + 4)
        val dataStart = o + 8
        val dataEnd = math.min(dataStart + sz, lim)
        val next = dataStart + sz + (sz & 1) // even padding
        if (id == "LIST" && sz >= 4) {
          // resume this level after the list, then walk the list body
          work.push((next, lim))
          work.push((dataStart + 4, dataEnd))
          descended = true
        } else {
          if (id.length == 4 && dataEnd <= lim &&
              (id.endsWith("dc") || id.endsWith("db")) &&
              id.take(2).forall(_.isDigit)) {
            frames += java.util.Arrays.copyOfRange(
              p, dataStart.toInt, dataEnd.toInt)
          }
          o = next
        }
      }
    }
    Some(frames.result())
  }
}
