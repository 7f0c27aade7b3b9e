package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageWriteParam}
import javax.imageio.event.IIOReadWarningListener
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import scala.util.control.NonFatal

/** JPEG codec over the JDK's `javax.imageio` JPEG reader and writer.
  * The container stays an opaque `binary` column Spark-side; this
  * codec runs inside the `Multimodal.decode` mapPartitions stage, so
  * `decode` must never throw: an escaped exception fails the stage.
  *
  * Readers and writers are made per call over in-memory streams and
  * disposed, so no call touches ImageIO's temp-file cache or shares
  * codec state across tasks. JPEG is lossy: tests assert closeness to
  * the source samples, not equality.
  */
object Jpeg {

  /** Decode a baseline or progressive JPEG. 3-band output is r,g,b per
    * pixel (top-down row-major); 1-band output is one gray sample per
    * pixel. None for non-JPEG payloads, declared sizes over 2^24 pixels
    * (checked from the header, before any pixel buffer exists), any
    * reader warning (truncated or corrupt data), any reader error
    * (e.g. arithmetic-coded SOF9) and band counts other than 1 or 3. */
  def decode(p: Array[Byte]): Option[Array[Int]] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8 ||
      (p(2) & 0xff) != 0xff) return None
    val reader = ImageIO.getImageReadersByFormatName("jpeg").next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(p))
    var warned = false
    reader.addIIOReadWarningListener(new IIOReadWarningListener {
      def warningOccurred(r: ImageReader, warning: String): Unit = warned = true
    })
    try {
      reader.setInput(in, true, true)
      val (w, h) = (reader.getWidth(0), reader.getHeight(0))
      if (w.toLong * h > (1L << 24)) None
      else {
        val raster = reader.read(0).getRaster
        val bands = raster.getNumBands
        if (warned || (bands != 1 && bands != 3)) None
        else Some(raster.getPixels(0, 0, w, h, null: Array[Int]))
      }
    } catch { case NonFatal(_) => None }
    finally { reader.dispose(); in.close() }
  }

  /** Encode interleaved r,g,b bytes (top-down row-major) as a baseline
    * JPEG at quality 0.5 (the unscaled Annex K tables); `gray = true`
    * reads one sample per pixel and writes a single-component frame. */
  def encode(width: Int, height: Int, samples: Array[Byte],
      gray: Boolean = false): Array[Byte] =
    write(width, height, samples, gray, progressive = false)

  /** As `encode`, but a progressive (SOF2) stream with the writer's
    * spectral-selection and successive-approximation scan script. */
  def encodeProgressive(width: Int, height: Int, samples: Array[Byte],
      gray: Boolean = false): Array[Byte] =
    write(width, height, samples, gray, progressive = true)

  private def write(width: Int, height: Int, samples: Array[Byte],
      gray: Boolean, progressive: Boolean): Array[Byte] = {
    val nc = if (gray) 1 else 3
    require(samples.length == width * height * nc,
      s"need $width*$height*$nc bytes, got ${samples.length}")
    val img = new BufferedImage(width, height,
      if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR)
    img.getRaster.setPixels(0, 0, width, height, samples.map(_ & 0xff))
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(0.5f)
      if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, null), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }
}
