package graft.multimodal

import scala.collection.mutable

/** ISO BMFF / MP4 box walk — container METADATA without any codec
  * decode (the H.26x/AAC payloads stay opaque, as the repo's
  * multimodal scope documents): box/size grammar incl. 64-bit
  * largesize and to-EOF boxes, the moov tree (mvhd timescale +
  * duration, per-trak tkhd dims + hdlr handler + stsd sample-entry
  * fourcc), bounds-checked and lenient — "how many hours of video and
  * in which codecs" over a 100 TB corpus of opaque blobs.
  */
object Mp4 {

  final case class Track(kind: String, fourcc: String,
                         width: Int, height: Int)
  final case class Meta(timescale: Long, duration: Long,
                        tracks: Seq[Track]) {
    def durationUs: Long =
      if (timescale <= 0) 0L else duration * 1000000L / timescale
  }

  private def u32(b: Array[Byte], o: Int): Long =
    if (o + 4 > b.length) -1L
    else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def u64(b: Array[Byte], o: Int): Long =
    if (o + 8 > b.length) -1L
    else (u32(b, o) << 32) | u32(b, o + 4)

  private def fourcc(b: Array[Byte], o: Int): String =
    if (o + 4 > b.length) ""
    else new String(b, o, 4, "ISO-8859-1")

  /** Walk the boxes of [from, until): (type, bodyFrom, bodyUntil). */
  private def boxes(b: Array[Byte], from: Int, until: Int)
      : Seq[(String, Int, Int)] = {
    val out = mutable.ArrayBuffer[(String, Int, Int)]()
    var at = from
    var ok = true
    while (ok && at + 8 <= until) {
      val size = u32(b, at)
      val typ = fourcc(b, at + 4)
      if (size == 1) { // 64-bit largesize
        val big = u64(b, at + 8)
        if (big < 16 || at + big > until) ok = false
        else { out += ((typ, at + 16, (at + big).toInt)); at += big.toInt }
      } else if (size == 0) { // to end of enclosing scope
        out += ((typ, at + 8, until)); at = until
      } else if (size < 8 || at + size > until) ok = false
      else { out += ((typ, at + 8, (at + size).toInt)); at += size.toInt }
    }
    out.toSeq
  }

  /** Parse the top-level metadata; None when no valid moov/mvhd. */
  def parse(b: Array[Byte]): Option[Meta] = {
    val top = boxes(b, 0, b.length)
    val moov = top.collectFirst { case ("moov", f, u) => (f, u) }
      .getOrElse(return None)
    val inMoov = boxes(b, moov._1, moov._2)
    val mvhd = inMoov.collectFirst { case ("mvhd", f, u) => (f, u) }
      .getOrElse(return None)
    val ver = b(mvhd._1) & 0xff
    val (timescale, duration) =
      if (ver == 1) (u32(b, mvhd._1 + 20), u64(b, mvhd._1 + 24))
      else (u32(b, mvhd._1 + 12), u32(b, mvhd._1 + 16))
    if (timescale <= 0) return None
    val tracks = inMoov.collect { case ("trak", f, u) =>
      val inTrak = boxes(b, f, u)
      val (w, h) = inTrak.collectFirst { case ("tkhd", _, tu) =>
        // width/height are the LAST 8 body bytes (16.16 fixed) in
        // both versions
        ((u32(b, tu - 8) >> 16).toInt, (u32(b, tu - 4) >> 16).toInt)
      }.getOrElse((0, 0))
      var kind = ""
      var fcc = ""
      inTrak.collectFirst { case ("mdia", mf, mu) => (mf, mu) }
        .foreach { case (mf, mu) =>
          val inMdia = boxes(b, mf, mu)
          inMdia.collectFirst { case ("hdlr", hf, _) =>
            kind = fourcc(b, hf + 8) // version/flags(4) predefined(4)
          }
          inMdia.collectFirst { case ("minf", nf, nu) => (nf, nu) }
            .foreach { case (nf, nu) =>
              boxes(b, nf, nu)
                .collectFirst { case ("stbl", sf, su) => (sf, su) }
                .foreach { case (sf, su) =>
                  boxes(b, sf, su)
                    .collectFirst { case ("stsd", df, _) =>
                      // version/flags(4) entry_count(4) then the
                      // first sample entry: size(4) fourcc(4)
                      fcc = fourcc(b, df + 12)
                    }
                }
            }
        }
      Track(kind, fcc, w, h)
    }
    Some(Meta(timescale, duration, tracks))
  }

  // ------------------------------------------------------------ build
  // Fixture-side writer: enough of the box grammar to synthesize real
  // files for the walk (the gate's other half, like Mp3's frames).

  def box(typ: String, body: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 + body.length)
    out.putInt(8 + body.length)
    out.put(typ.getBytes("ISO-8859-1")); out.put(body)
    out.array()
  }

  def fullBox(typ: String, version: Int, body: Array[Byte])
      : Array[Byte] =
    box(typ, Array[Byte](version.toByte, 0, 0, 0) ++ body)

  def mvhd(timescale: Long, duration: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(96)
    b.putInt(0); b.putInt(0)                // creation, modification
    b.putInt(timescale.toInt); b.putInt(duration.toInt)
    b.putInt(0x00010000); b.putShort(0x0100.toShort) // rate, volume
    b.position(b.position() + 10)           // reserved
    Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
      .foreach(b.putInt)                    // identity matrix
    b.position(b.position() + 24)           // predefined
    b.putInt(2)                             // next track id
    fullBox("mvhd", 0, b.array())
  }

  def tkhd(trackId: Int, duration: Long, w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(80)
    b.putInt(0); b.putInt(0)                // creation, modification
    b.putInt(trackId); b.putInt(0)          // id, reserved
    b.putInt(duration.toInt)
    b.position(b.position() + 8)            // reserved
    b.putShort(0); b.putShort(0); b.putShort(0); b.putShort(0)
    Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
      .foreach(b.putInt)
    b.putInt(w << 16); b.putInt(h << 16)
    fullBox("tkhd", 0, b.array())
  }

  def hdlr(kind: String): Array[Byte] = {
    val name = "graft\u0000".getBytes("ISO-8859-1")
    val b = java.nio.ByteBuffer.allocate(20 + name.length)
    b.putInt(0)                             // predefined
    b.put(kind.getBytes("ISO-8859-1"))
    b.position(b.position() + 12)           // reserved
    b.put(name)
    fullBox("hdlr", 0, b.array())
  }

  def stsd(fcc: String): Array[Byte] = {
    val entry = box(fcc, new Array[Byte](70)) // opaque sample entry
    val b = java.nio.ByteBuffer.allocate(4 + entry.length)
    b.putInt(1); b.put(entry)
    fullBox("stsd", 0, b.array())
  }

  def trak(trackId: Int, duration: Long, kind: String, fcc: String,
           w: Int, h: Int): Array[Byte] =
    box("trak", tkhd(trackId, duration, w, h) ++
      box("mdia", hdlr(kind) ++
        box("minf", box("stbl", stsd(fcc)))))

  def file(timescale: Long, duration: Long,
           tracks: Seq[Array[Byte]], mdatLen: Int): Array[Byte] =
    box("ftyp", "isom".getBytes ++ Array[Byte](0, 0, 2, 0) ++
        "isomiso2".getBytes) ++
      box("moov", mvhd(timescale, duration) ++
        tracks.reduceOption(_ ++ _).getOrElse(Array.emptyByteArray)) ++
      box("mdat", new Array[Byte](mdatLen))
}
