package graft.multimodal

import java.awt.Transparency
import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer,
  DataBufferByte, Raster}
import java.nio.ByteBuffer
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.{MemoryCacheImageInputStream,
  MemoryCacheImageOutputStream}

import scala.util.control.NonFatal

/** PNG (W3C/RFC 2083), the lossless half of the multimodal tier next
  * to [[Jpeg]]. Pixels go through the JDK's `javax.imageio` PNG reader
  * and writer (scanline filters, zlib, Adam7); what stays here is the
  * 8-bit gray / gray+alpha / RGB / RGBA [[Image]] layout and a
  * validating chunk walk in front of the reader, because ImageIO does
  * not check chunk CRCs.
  *
  * Decoder scope: 8-bit colour types 0/2/4/6, sequential or Adam7,
  * every chunk's CRC32 enforced, IEND required, at most 2^26 samples.
  * Streams are memory-cached explicitly, so no call spills to a temp
  * file whatever `ImageIO.getUseCache` says.
  *
  * Malformed input yields None, never an exception — the same
  * discipline as the other byte codecs.
  */
object Png {

  final case class Image(width: Int, height: Int, channels: Int,
                         pixels: Array[Byte])

  private val Signature =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private val MaxSamples = 1 << 26

  /** CRC32 over a chunk's type and body, which sit at `off`. */
  private def crc32(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue.toInt
  }

  /** Channels per color type (8-bit depth only). */
  private def channelsOf(colorType: Int): Int = colorType match {
    case 0 => 1 // gray
    case 2 => 3 // rgb
    case 4 => 2 // gray+alpha
    case 6 => 4 // rgba
    case _ => -1
  }

  /** Encode an 8-bit image; `interlaced` writes Adam7. ImageIO picks
    * each row's filter. */
  def encode(img: Image, interlaced: Boolean = false): Array[Byte] = {
    require(Seq(1, 2, 3, 4).contains(img.channels), "1..4 channels")
    require(img.pixels.length == img.width * img.height * img.channels)
    val ch = img.channels
    val alpha = ch % 2 == 0
    val cm = new ComponentColorModel(
      ColorSpace.getInstance(
        if (ch <= 2) ColorSpace.CS_GRAY else ColorSpace.CS_sRGB),
      alpha, false,
      if (alpha) Transparency.TRANSLUCENT else Transparency.OPAQUE,
      DataBuffer.TYPE_BYTE)
    val raster = Raster.createInterleavedRaster(
      new DataBufferByte(img.pixels, img.pixels.length), img.width,
      img.height, img.width * ch, ch, Array.range(0, ch), null)
    val writer = ImageIO.getImageWritersByFormatName("png").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(
      if (interlaced) ImageWriteParam.MODE_DEFAULT
      else ImageWriteParam.MODE_DISABLED)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(
        new BufferedImage(cm, raster, false, null), null, null), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  /** Decode a PNG byte stream. None outside the supported profile or on
    * any malformed structure (bad CRC, bad IHDR, missing IEND, short
    * or corrupt image data). */
  def decode(b: Array[Byte]): Option[Image] = {
    if (b.length < 8 + 25 || !Signature.indices.forall(i =>
      b(i) == Signature(i))) return None
    var pos = 8
    var width = 0
    var height = 0
    var channels = -1
    var seenIhdr = false
    var seenIend = false
    while (!seenIend) {
      if (pos + 8 > b.length) return None
      val len = ByteBuffer.wrap(b, pos, 4).getInt
      if (len < 0 || pos + 12 + len > b.length) return None
      if (crc32(b, pos + 4, 4 + len) !=
        ByteBuffer.wrap(b, pos + 8 + len, 4).getInt) return None
      new String(b, pos + 4, 4, "US-ASCII") match {
        case "IHDR" =>
          if (seenIhdr || len != 13) return None
          seenIhdr = true
          val h = ByteBuffer.wrap(b, pos + 8, 13)
          width = h.getInt(); height = h.getInt()
          val depth = h.get() & 0xff
          channels = channelsOf(h.get() & 0xff)
          val comp = h.get() & 0xff
          val filt = h.get() & 0xff
          val interlace = h.get() & 0xff
          if (width <= 0 || height <= 0 || depth != 8 || channels < 0 ||
            comp != 0 || filt != 0 || interlace > 1) return None
          if (width.toLong * height * channels > MaxSamples) return None
        case "IEND" => seenIend = true
        case _ =>
          if (!seenIhdr) return None // IDAT or ancillary before header
      }
      pos += 12 + len
    }
    if (!seenIhdr) return None
    val reader = ImageIO.getImageReadersByFormatName("png").next()
    val in = new MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      reader.setInput(in, true, true)
      val r = reader.read(0).getRaster
      // ImageIO widens gray/RGB with a tRNS chunk to an alpha band;
      // the image keeps the channels its colour type declares
      val nb = r.getNumBands
      if (r.getWidth != width || r.getHeight != height || nb < channels)
        return None
      val px = new Array[Byte](width * height * channels)
      val row = new Array[Int](width * nb)
      var y = 0
      while (y < height) {
        r.getPixels(0, y, width, 1, row)
        var x = 0
        while (x < width) {
          var c = 0
          while (c < channels) {
            px((y * width + x) * channels + c) = row(x * nb + c).toByte
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Some(Image(width, height, channels, px))
    } catch {
      case NonFatal(_) => None
    } finally { reader.dispose(); in.close() }
  }

  /** (width, height, channels) from IHDR alone — the metadata probe
    * [[MediaCodecs.decode]] rides (CRC of IHDR still enforced). */
  def dims(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 33 || !Signature.indices.forall(i =>
      b(i) == Signature(i))) return None
    val len = ByteBuffer.wrap(b, 8, 4).getInt
    if (len != 13 || new String(b, 12, 4, "US-ASCII") != "IHDR")
      return None
    if (crc32(b, 12, 17) != ByteBuffer.wrap(b, 29, 4).getInt) return None
    val h = ByteBuffer.wrap(b, 16, 13)
    val w = h.getInt(); val ht = h.getInt()
    h.get() // depth
    val nc = channelsOf(h.get() & 0xff)
    if (w <= 0 || ht <= 0 || nc < 0) None else Some((w, ht, nc))
  }
}
