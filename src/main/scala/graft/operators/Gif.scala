package graft.operators

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageWriteParam}
import javax.imageio.event.{IIOReadProgressListener, IIOReadWarningListener}
import javax.imageio.metadata.IIOMetadataNode
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** GIF codec over the JDK's `javax.imageio` GIF reader and writer, built
  * like `Jpeg`: it runs inside the `Multimodal.decode` mapPartitions
  * stage, so decoding must never throw, and each call makes and
  * disposes its own reader or writer over in-memory streams. GIF is
  * lossless: a gray frame written by `encodeGray` decodes to its own
  * samples exactly.
  */
object Gif {

  /** First frame of a GIF87a/GIF89a stream; see `decodeFrames`. A
    * stream cut after its first frame still decodes here. */
  def decode(p: Array[Byte]): Option[Array[Int]] =
    decodeFrames(p, maxFrames = 1).map(_.head)

  /** Up to `maxFrames` frames, each as r,g,b per pixel of the frame's
    * own w×h (top-down row-major, de-interlaced), expanded through the
    * frame's colour table. A GIF89a graphic-control transparency index
    * arms only its own frame: its pixels take the global table's
    * background colour, or black when there is no global table.
    *
    * None for non-GIF payloads, a frame declaring over 2^24 pixels
    * (checked from its descriptor, before any pixel buffer exists), any
    * reader warning (no colour table, an out-of-sequence LZW code) or
    * error (bad block, cut stream, no trailer once `maxFrames` is not
    * the limiter), an LZW stream that ends before the frame's last row
    * or, non-interlaced, fills a row past it, and an index past the
    * frame's colour table. Masked, with exactly w·h·3 in-range samples
    * per frame still returned: an index that does not fit the reader's
    * raster, which holds just enough bits for the table size rounded up
    * to 2, 4, 16 or 256 entries (index 200 in a 4-entry table reads as
    * 0), and LZW output past the last pixel short of a whole row. */
  def decodeFrames(p: Array[Byte], maxFrames: Int = 256): Option[Array[Array[Int]]] = {
    if (p.length < 13) return None
    val sig = new String(p, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(p))
    var warned = false
    var rowsPct = 0f // the reader reports 100 * rows filled / height
    reader.addIIOReadWarningListener(new IIOReadWarningListener {
      def warningOccurred(r: ImageReader, warning: String): Unit = warned = true
    })
    reader.addIIOReadProgressListener(new IIOReadProgressListener {
      def imageProgress(r: ImageReader, pct: Float): Unit = rowsPct = pct
      def imageStarted(r: ImageReader, i: Int): Unit = ()
      def imageComplete(r: ImageReader): Unit = ()
      def sequenceStarted(r: ImageReader, i: Int): Unit = ()
      def sequenceComplete(r: ImageReader): Unit = ()
      def thumbnailStarted(r: ImageReader, i: Int, t: Int): Unit = ()
      def thumbnailProgress(r: ImageReader, pct: Float): Unit = ()
      def thumbnailComplete(r: ImageReader): Unit = ()
      def readAborted(r: ImageReader): Unit = ()
    })
    try {
      reader.setInput(in, false, false)
      val global = element(reader.getStreamMetadata.getAsTree(
        "javax_imageio_gif_stream_1.0"), "GlobalColorTable")
      // transparent pixels' colour: the global table's background entry, else black
      val bg = global
        .flatMap(t => Option(t.item(t.getAttribute("backgroundColorIndex").toInt)))
        .map(e => Seq("red", "green", "blue").foldLeft(0)((c, a) =>
          (c << 8) | e.asInstanceOf[IIOMetadataNode].getAttribute(a).toInt))
        .getOrElse(0)
      val frames = ArrayBuffer.empty[Array[Int]]
      while (frames.length < maxFrames && hasFrame(reader, frames.length)) {
        val i = frames.length
        val (w, h) = (reader.getWidth(i), reader.getHeight(i))
        if (w.toLong * h > (1L << 24)) return None
        rowsPct = 0f
        val img = reader.read(i)
        if (warned || rowsPct != 100f) return None
        val meta = reader.getImageMetadata(i).getAsTree("javax_imageio_gif_image_1.0")
        val size = element(meta, "LocalColorTable").orElse(global)
          .map(_.getLength).getOrElse(0)
        val trans = element(meta, "GraphicControlExtension")
          .filter(_.getAttribute("transparentColorFlag") == "TRUE")
          .map(_.getAttribute("transparentColorIndex").toInt).getOrElse(-1)
        val cm = img.getColorModel.asInstanceOf[IndexColorModel]
        val idx = img.getRaster.getPixels(0, 0, w, h, null: Array[Int])
        val out = new Array[Int](w * h * 3)
        var k = 0
        while (k < idx.length) {
          if (idx(k) >= size) return None
          val c = if (idx(k) == trans) bg else cm.getRGB(idx(k))
          out(3 * k) = (c >> 16) & 0xff
          out(3 * k + 1) = (c >> 8) & 0xff
          out(3 * k + 2) = c & 0xff
          k += 1
        }
        frames += out
      }
      if (frames.isEmpty) None else Some(frames.toArray)
    } catch { case NonFatal(_) => None }
    finally { reader.dispose(); in.close() }
  }

  /** Whether frame `i` exists. The reader meets the trailer with an
    * IndexOutOfBoundsException; a full count confirms it is the trailer,
    * and throws itself on a cut or corrupt stream. */
  private def hasFrame(r: ImageReader, i: Int): Boolean =
    try { r.getWidth(i); true }
    catch { case _: IndexOutOfBoundsException if r.getNumImages(true) == i => false }

  /** The first element named `name` in a metadata tree. */
  private def element(tree: org.w3c.dom.Node, name: String): Option[IIOMetadataNode] =
    Option(tree.asInstanceOf[IIOMetadataNode].getElementsByTagName(name).item(0))
      .map(_.asInstanceOf[IIOMetadataNode])

  /** Encode gray frames (one byte per pixel, top-down row-major) of one
    * size: one frame through the writer's `write`, more as an animation
    * through `writeToSequence`. The writer gives each gray image a
    * 256-entry table with r=g=b=index, so `decodeFrames` returns each
    * gray byte three times in logical row order, also when `interlaced`
    * (through `ImageWriteParam.setProgressiveMode`). */
  def encodeGray(width: Int, height: Int, frames: Seq[Array[Byte]],
      interlaced: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty, "a GIF needs at least one frame")
    val images = frames.map { g =>
      require(g.length == width * height,
        s"need $width*$height bytes, got ${g.length}")
      val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setPixels(0, 0, width, height, g.map(_ & 0xff))
      new IIOImage(img, null, null)
    }
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(
        if (interlaced) ImageWriteParam.MODE_DEFAULT else ImageWriteParam.MODE_DISABLED)
      writer.setOutput(out)
      if (images.length == 1) writer.write(null, images.head, param)
      else {
        writer.prepareWriteSequence(null)
        images.foreach(writer.writeToSequence(_, param))
        writer.endWriteSequence()
      }
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }
}
