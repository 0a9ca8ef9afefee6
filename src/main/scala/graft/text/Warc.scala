package graft.text

import java.util.zip.{DataFormatException, Deflater, Inflater}

import scala.collection.mutable

/** WARC (ISO 28500 / WARC-1.1) + RFC 1952 gzip members — the container
  * a web-crawl training corpus actually arrives in (Common Crawl ships
  * `.warc.gz`: every record its own gzip member, so a reader can seek
  * to any member and inflate just that record). Pure-spec, lenient,
  * bounds-checked: a truncated or corrupted tail yields the records
  * that were decodable, never a throw — the posture every other codec
  * in this repo holds (a poisoned crawl shard must not kill a 100 TB
  * scan task).
  *
  * DEFLATE is the JDK's raw (`nowrap`) `Deflater`/`Inflater`, so the
  * gzip layer here is only the RFC 1952 member framing: header with
  * flag walk (FEXTRA/FNAME/FCOMMENT/FHCRC), raw deflate body, CRC32 +
  * ISIZE trailer — both enforced on decode.
  */
object Warc {

  final case class Record(headers: Map[String, String],
                          payload: Array[Byte]) {
    def warcType: String = headers.getOrElse("warc-type", "")
    def targetUri: String = headers.getOrElse("warc-target-uri", "")
  }

  // ------------------------------------------------------------ gzip

  private def crc32(b: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b)
    c.getValue.toInt
  }

  /** One RFC 1952 member: minimal header (no optional fields), a raw
    * deflate body, CRC32 + ISIZE trailer. */
  def gzip(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(0)
    (0 until 4).foreach(_ => out.write(0)) // MTIME unknown
    out.write(0); out.write(255)           // XFL, OS unknown
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(data); d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    } finally d.end()
    val c = crc32(data)
    (0 until 4).foreach(i => out.write((c >>> (8 * i)) & 0xff))
    val n = data.length
    (0 until 4).foreach(i => out.write((n >>> (8 * i)) & 0xff))
    out.toByteArray
  }

  /** Decode ONE member starting at `from`: (data, offset past the
    * member). None on bad magic/flags/stream/CRC/ISIZE, or once the
    * member inflates past `maxOut` bytes (decompression-bomb guard). */
  def gunzipMember(b: Array[Byte], from: Int,
                   maxOut: Int = 1 << 26): Option[(Array[Byte], Int)] = {
    if (from + 10 > b.length) return None
    if ((b(from) & 0xff) != 0x1f || (b(from + 1) & 0xff) != 0x8b ||
      (b(from + 2) & 0xff) != 8) return None
    val flg = b(from + 3) & 0xff
    if ((flg & 0xe0) != 0) return None // reserved bits must be zero
    var at = from + 10
    if ((flg & 4) != 0) { // FEXTRA: u16le length + bytes
      if (at + 2 > b.length) return None
      val xl = (b(at) & 0xff) | ((b(at + 1) & 0xff) << 8)
      at += 2 + xl
      if (at > b.length) return None
    }
    def skipZeroTerminated(): Boolean = {
      while (at < b.length && b(at) != 0) at += 1
      if (at >= b.length) false else { at += 1; true }
    }
    if ((flg & 8) != 0 && !skipZeroTerminated()) return None  // FNAME
    if ((flg & 16) != 0 && !skipZeroTerminated()) return None // FCOMMENT
    if ((flg & 2) != 0) { at += 2; if (at > b.length) return None }
    val (data, end) = inflateFrom(b, at, maxOut).getOrElse(return None)
    if (end + 8 > b.length) return None
    def u32le(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    if (u32le(end) != crc32(data)) return None
    if (u32le(end + 4) != data.length) return None
    Some((data, end + 8))
  }

  /** Raw inflate of the deflate stream at `from`: (data, offset just
    * past its final block). None on a corrupt or truncated stream or
    * past `maxOut` bytes; never inflates more than `maxOut` + 1. */
  private def inflateFrom(b: Array[Byte], from: Int, maxOut: Int)
      : Option[(Array[Byte], Int)] = {
    val inf = new Inflater(true)
    try {
      inf.setInput(b, from, b.length - from)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!inf.finished()) {
        val n = inf.inflate(buf, 0,
          math.min(buf.length.toLong, maxOut - total + 1).toInt)
        if (n == 0 && !inf.finished()) return None // truncated
        total += n
        if (total > maxOut) return None
        out.write(buf, 0, n)
      }
      Some((out.toByteArray, b.length - inf.getRemaining))
    } catch {
      case _: DataFormatException => None
    } finally inf.end()
  }

  /** Decode ALL concatenated members (the .warc.gz shape). Leniency:
    * members after a corrupt one are lost (the framing gives no resync
    * point), but everything before it survives. */
  def gunzipAll(b: Array[Byte], maxOut: Int = 1 << 26)
      : Seq[Array[Byte]] = {
    val out = mutable.ArrayBuffer[Array[Byte]]()
    var at = 0
    var ok = true
    while (ok && at < b.length) {
      gunzipMember(b, at, maxOut) match {
        case Some((data, next)) if next > at => out += data; at = next
        case _ => ok = false
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------------ warc

  private val Crlf = "\r\n".getBytes("ISO-8859-1")

  /** Serialize one WARC/1.1 record: version line, headers (with the
    * mandated Content-Length), blank line, payload, two CRLFs. */
  def record(headers: Seq[(String, String)],
             payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.1\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ")
      .append(v).append("\r\n") }
    sb.append("Content-Length: ").append(payload.length).append("\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes("ISO-8859-1")
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    System.arraycopy(Crlf, 0, out, head.length + payload.length, 2)
    System.arraycopy(Crlf, 0, out, head.length + payload.length + 2, 2)
    out
  }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' &&
        b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** Walk records in a PLAIN warc byte stream. Header names lowercase
    * (field names are case-insensitive per the spec); a record whose
    * version line, Content-Length or terminator is malformed ends the
    * walk (records before it survive). */
  def records(b: Array[Byte]): Seq[Record] = {
    val out = mutable.ArrayBuffer[Record]()
    var at = 0
    var ok = true
    while (ok && at < b.length) {
      // tolerate extra record separators
      while (at + 1 < b.length && b(at) == '\r' && b(at + 1) == '\n')
        at += 2
      if (at >= b.length) ok = false
      else {
        val hdrEnd = indexOfCrlfCrlf(b, at)
        if (hdrEnd < 0) ok = false
        else {
          val head = new String(b, at, hdrEnd - at, "ISO-8859-1")
          val lines = head.split("\r\n")
          if (lines.isEmpty || !lines(0).startsWith("WARC/")) ok = false
          else {
            val hs = lines.drop(1).flatMap { ln =>
              val c = ln.indexOf(':')
              if (c <= 0) None
              else Some((ln.substring(0, c).trim.toLowerCase,
                ln.substring(c + 1).trim))
            }.toMap
            hs.get("content-length").flatMap(s =>
              try Some(s.toLong) catch { case _: Exception => None }) match {
              case Some(len) if len >= 0 &&
                  hdrEnd + 4 + len + 4 <= b.length =>
                val payload = java.util.Arrays.copyOfRange(b,
                  hdrEnd + 4, (hdrEnd + 4 + len).toInt)
                out += Record(hs, payload)
                at = (hdrEnd + 4 + len).toInt
              case _ => ok = false
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** Records from either shape: `.warc.gz` (every record its own gzip
    * member — detected by the member magic) or plain warc bytes. */
  def readAuto(b: Array[Byte]): Seq[Record] =
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b)
      gunzipAll(b).flatMap(records)
    else records(b)

  /** Split an HTTP message payload (the WARC response record body)
    * into (status line, body bytes past the header block). None when
    * no header terminator exists. */
  def httpSplit(payload: Array[Byte]): Option[(String, Array[Byte])] = {
    val hdrEnd = indexOfCrlfCrlf(payload, 0)
    if (hdrEnd < 0) return None
    val head = new String(payload, 0, hdrEnd, "ISO-8859-1")
    val status = head.split("\r\n").headOption.getOrElse("")
    Some((status,
      java.util.Arrays.copyOfRange(payload, hdrEnd + 4, payload.length)))
  }
}
