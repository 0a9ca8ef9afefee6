package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{MediaCodecs, Png}

/** PNG gates. Pixels ride the JDK's ImageIO codec, so what is ours to
  * pin is the Image layout (every channel count, sequential and Adam7,
  * bit-exact on arbitrary pixels) and the validating chunk walk in
  * front of the reader: truncation, CRC, IHDR and size rejections.
  */
class PngSpec extends AnyFunSuite {

  private def noise(n: Int, seed: Long): Array[Byte] = {
    var s = seed
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33).toByte
    }
  }

  /** A reference PNG whose every row carries filter type `f`, with
    * the JDK's zlib for IDAT: ImageIO's writer emits filter 0 on every
    * row, so the decode side of Sub/Up/Average/Paeth is pinned here. */
  private def withFilter(img: Png.Image, f: Int,
                         level: Int = java.util.zip.Deflater.DEFAULT_COMPRESSION)
      : Array[Byte] = {
    val bpp = img.channels
    val stride = img.width * bpp
    def at(y: Int, x: Int): Int =
      if (y < 0 || x < 0) 0 else img.pixels(y * stride + x) & 0xff
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until img.height) {
      raw.write(f)
      for (x <- 0 until stride) {
        val (a, b, c) = (at(y, x - bpp), at(y - 1, x), at(y - 1, x - bpp))
        val p = a + b - c
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ =>
            val (pa, pb, pc) =
              (math.abs(p - a), math.abs(p - b), math.abs(p - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw.write((at(y, x) - pred) & 0xff)
      }
    }
    val idat = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(idat,
      new java.util.zip.Deflater(level))
    z.write(raw.toByteArray); z.close()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 13, 10, 26, 10).map(_.toByte))
    def chunk(tag: String, body: Array[Byte]): Unit = {
      val t = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(body)
      out.write(java.nio.ByteBuffer.allocate(12 + body.length)
        .putInt(body.length).put(t).put(body).putInt(crc.getValue.toInt)
        .array())
    }
    val colorType = Array(0, 4, 2, 6)(bpp - 1)
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(img.width)
      .putInt(img.height).put(Array[Byte](8, colorType.toByte, 0, 0, 0))
      .array())
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("PNG roundtrips arbitrary pixels across all five filters") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def cacheFiles: Set[String] = Option(tmp.list()).fold(Set.empty[String])(
      _.filter(_.startsWith("imageio")).toSet)
    val before = cacheFiles
    for (ch <- 1 to 4; (w, h) <- Seq((1, 1), (5, 7), (16, 16), (33, 9))) {
      val img = Png.Image(w, h, ch, noise(w * h * ch, ch * 100 + w))
      val bytes = Png.encode(img)
      val back = Png.decode(bytes).getOrElse(fail(s"decode $ch ${w}x$h"))
      assert(back.width == w && back.height == h && back.channels == ch)
      assert(back.pixels.sameElements(img.pixels), s"$ch ${w}x$h")
      // None/Sub/Up/Average/Paeth each reconstruct exactly on decode
      for (f <- 0 to 4)
        assert(Png.decode(withFilter(img, f))
          .exists(_.pixels.sameElements(img.pixels)), s"filter $f $ch ${w}x$h")
    }
    // memory-cached ImageIO streams: no round trip leaves a cache file
    assert(cacheFiles == before)
  }

  test("Adam7 interlace roundtrips bit-exact; ImageIO agrees") {
    // dims sweep covers empty passes (1x1 has only pass 1; 3x3 skips
    // pass 2; ragged dims exercise every ceil boundary)
    for (ch <- Seq(1, 3, 4);
         (w, h) <- Seq((1, 1), (3, 3), (5, 7), (8, 8), (17, 13))) {
      val img = Png.Image(w, h, ch, noise(w * h * ch, ch * 31 + w))
      val bytes = Png.encode(img, interlaced = true)
      val back = Png.decode(bytes)
        .getOrElse(fail(s"interlaced decode $ch ${w}x$h"))
      assert(back.pixels.sameElements(img.pixels), s"$ch ${w}x$h")
      // lossless + independent implementation: ImageIO must read our
      // interlaced file pixel-identically (RGB/RGBA only — its gray
      // reader is also exact but getRGB converts, so skip ch=1)
      if (ch >= 3) {
        val bi = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(bi != null, s"ImageIO rejected interlaced $ch ${w}x$h")
        for (y <- 0 until h; x <- 0 until w) {
          val i = (y * w + x) * ch
          val want = (if (ch == 4) (img.pixels(i + 3) & 0xff) << 24
            else 0xff000000) |
            ((img.pixels(i) & 0xff) << 16) |
            ((img.pixels(i + 1) & 0xff) << 8) | (img.pixels(i + 2) & 0xff)
          assert(bi.getRGB(x, y) == want, s"($x,$y) $ch ${w}x$h")
        }
      }
    }
    // a truncated interlaced stream (a whole missing pass) must fail
    val img = Png.Image(16, 16, 3, noise(16 * 16 * 3, 5L))
    val good = Png.encode(img, interlaced = true)
    for (n <- 0 until good.length)
      assert(Png.decode(good.take(n)).isEmpty)
  }

  test("dims probe and MediaCodecs dispatch") {
    val img = Png.Image(12, 5, 3, noise(12 * 5 * 3, 1L))
    val bytes = Png.encode(img)
    assert(Png.dims(bytes).contains((12, 5, 3)))
    val meta = MediaCodecs.decode(bytes)
    assert(meta.exists(m => m.format == "png" && m.width == 12 &&
      m.height == 5 && m.channels == 3))
  }

  test("malformed input returns None, never throws") {
    val img = Png.Image(9, 6, 3, noise(9 * 6 * 3, 5L))
    val good = Png.encode(img)
    // every truncation point fails cleanly (PNG requires IEND + CRCs)
    for (n <- 0 until good.length)
      assert(Png.decode(good.take(n)).isEmpty, s"truncated at $n decoded")
    // any single-byte corruption either fails cleanly or still decodes
    // to the exact image — never wrong pixels, because every chunk is
    // CRC-guarded (ImageIO's reader checks no CRC; the walk does)
    for (i <- good.indices) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x40).toByte
      val r = Png.decode(bad)
      assert(r.isEmpty || r.get.pixels.sameElements(img.pixels),
        s"corruption at $i produced wrong pixels")
    }
    // ImageIO's reader checks no chunk CRC, so the walk must: a bad
    // CRC alone is refused on every chunk, and a pixel flipped inside
    // a stored (uncompressed) IDAT, which ImageIO alone would read
    // back as a wrong pixel (it checks no adler32 either), is refused
    var pos = 8
    while (pos < good.length) {
      val len = java.nio.ByteBuffer.wrap(good, pos, 4).getInt
      val bad = good.clone()
      bad(pos + 8 + len) = (bad(pos + 8 + len) ^ 1).toByte
      assert(Png.decode(bad).isEmpty, s"bad CRC at chunk $pos decoded")
      pos += 12 + len
    }
    val stored = withFilter(img, 0, java.util.zip.Deflater.NO_COMPRESSION)
    assert(Png.decode(stored).exists(_.pixels.sameElements(img.pixels)))
    // IDAT body at 33 + 8; zlib header 2, stored-block header 5, then
    // row 0's filter byte and its first sample
    val flipped = stored.clone()
    flipped(33 + 8 + 2 + 5 + 1) = (flipped(33 + 8 + 2 + 5 + 1) ^ 1).toByte
    assert(Png.decode(flipped).isEmpty)
    // interlaced (Adam7) is rejected, not mis-decoded: patch IHDR
    val adam = good.clone()
    adam(28) = 1 // interlace byte within IHDR body
    assert(Png.decode(adam).isEmpty) // (CRC now fails — still rejected)
    assert(Png.decode(Array.emptyByteArray).isEmpty)
    assert(Png.decode("not a png at all, really".getBytes).isEmpty)
    // size guard: an IHDR claiming more than 2^26 samples is refused
    // by the chunk walk, before any pixel buffer exists
    def withIhdr(w: Int, h: Int): Array[Byte] = {
      val b = good.clone()
      java.nio.ByteBuffer.wrap(b, 16, 8).putInt(w).putInt(h)
      val c = new java.util.zip.CRC32()
      c.update(b, 12, 17)
      java.nio.ByteBuffer.wrap(b, 29, 4).putInt(c.getValue.toInt)
      b
    }
    val huge = withIhdr(8192, 2731) // 67,117,056 samples
    assert(Png.dims(huge).contains((8192, 2731, 3)))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    assert(Png.decode(huge).isEmpty)
    // a 64 MiB raster was never allocated
    assert(mx.getCurrentThreadAllocatedBytes - before < (8L << 20))
    assert(Png.decode(withIhdr(Int.MaxValue, Int.MaxValue)).isEmpty)
    // the same patch at the real size still decodes: the check above
    // failed on size, not on the rewritten header
    assert(Png.decode(withIhdr(9, 6)).exists(_.pixels.sameElements(img.pixels)))
  }
}
