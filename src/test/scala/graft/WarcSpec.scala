package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.text.Warc

/** WARC + gzip-member codec: our RFC 1952 framing cross-validated
  * against the JDK's GZIP streams in BOTH directions (our member decode
  * reads GZIPOutputStream's output; GZIPInputStream decodes our
  * members) with exact member end offsets, RFC 1952 flag-walk
  * coverage, the decompression-bomb cap, concatenated members, the
  * WARC record grammar, and truncation/corruption fuzz (decodable
  * prefix, never a throw). */
class WarcSpec extends AnyFunSuite {

  private def bytes(n: Int, seed: Long): Array[Byte] = {
    var s = seed
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      // text-ish content so LZ77 has matches to find
      ('a' + ((s >>> 33) % 17)).toByte
    }
  }

  test("gzip roundtrip + JDK cross-validation both directions") {
    for (n <- Seq(0, 1, 5, 300, 20000); seed <- Seq(1L, 9L)) {
      val data = bytes(n, seed)
      // ours -> ours
      val gz = Warc.gzip(data)
      val Some((back, end)) = Warc.gunzipMember(gz, 0): @unchecked
      assert(back.sameElements(data) && end == gz.length)
      // ours -> JDK
      val jdkIn = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gz))
      assert(jdkIn.readAllBytes().sameElements(data))
      // JDK -> ours
      val bo = new java.io.ByteArrayOutputStream()
      val jdkOut = new java.util.zip.GZIPOutputStream(bo)
      jdkOut.write(data); jdkOut.close()
      val Some((back2, end2)) = Warc.gunzipMember(bo.toByteArray, 0): @unchecked
      assert(back2.sameElements(data) && end2 == bo.size())
      // the deflate stream ends exactly where the CRC trailer starts:
      // cut there, or one byte into the trailer, the member is refused
      assert(Warc.gunzipMember(gz.dropRight(8), 0).isEmpty)
      assert(Warc.gunzipMember(gz.dropRight(1), 0).isEmpty)
      // trailing garbage and a non-zero start leave the end offset exact
      val garbage = Array(0x1f, 0x8b, 8, 0, 42, 42, 42).map(_.toByte)
      val Some((back3, end3)) =
        Warc.gunzipMember(garbage ++ gz ++ garbage, garbage.length): @unchecked
      assert(back3.sameElements(data) &&
        end3 == garbage.length + gz.length)
    }
  }

  test("gzip bomb guard: a member inflating past maxOut is refused") {
    val zeros = new Array[Byte](1 << 20)
    val gz = Warc.gzip(zeros)
    assert(gz.length < 4096) // a tiny member claiming 1 MiB
    assert(Warc.gunzipMember(gz, 0, maxOut = 1000).isEmpty)
    assert(Warc.gunzipMember(gz, 0, maxOut = (1 << 20) - 1).isEmpty)
    // exactly maxOut bytes is within the cap
    assert(Warc.gunzipMember(gz, 0, maxOut = 1 << 20)
      .exists(_._1.sameElements(zeros)))
    assert(Warc.gunzipAll(gz ++ gz, maxOut = 1000).isEmpty)
  }

  test("gzip header flag walk: FEXTRA, FNAME, FCOMMENT, FHCRC") {
    val data = bytes(500, 3L)
    val plain = Warc.gzip(data)
    // splice optional fields into the fixed header by rebuilding it
    def withFlags(flg: Int, extra: Array[Byte]): Array[Byte] =
      plain.take(3) ++ Array(flg.toByte) ++ plain.slice(4, 10) ++
        extra ++ plain.drop(10)
    val fextra = withFlags(4, Array[Byte](3, 0, 9, 9, 9))
    assert(Warc.gunzipMember(fextra, 0).get._1.sameElements(data))
    val fname = withFlags(8, "file.warc\u0000".getBytes("ISO-8859-1"))
    assert(Warc.gunzipMember(fname, 0).get._1.sameElements(data))
    val fcomment = withFlags(16, "hi\u0000".getBytes("ISO-8859-1"))
    assert(Warc.gunzipMember(fcomment, 0).get._1.sameElements(data))
    val fhcrc = withFlags(2, Array[Byte](0x12, 0x34))
    assert(Warc.gunzipMember(fhcrc, 0).get._1.sameElements(data))
    // reserved flag bits reject; unterminated name rejects
    assert(Warc.gunzipMember(withFlags(0x20, Array.empty), 0).isEmpty)
    assert(Warc.gunzipMember(
      plain.take(3) ++ Array(8.toByte) ++ plain.slice(4, 10) ++
        "noterm".getBytes, 0).isEmpty)
  }

  test("gzip trailer integrity: CRC and ISIZE enforced") {
    val gz = Warc.gzip(bytes(400, 5L))
    val badCrc = gz.clone(); badCrc(gz.length - 6) =
      (badCrc(gz.length - 6) ^ 1).toByte
    assert(Warc.gunzipMember(badCrc, 0).isEmpty)
    val badLen = gz.clone(); badLen(gz.length - 1) =
      (badLen(gz.length - 1) ^ 1).toByte
    assert(Warc.gunzipMember(badLen, 0).isEmpty)
  }

  test("concatenated members: all decode; corrupt one keeps prefix") {
    val parts = (0 until 5).map(i => bytes(200 + 37 * i, i + 11L))
    val cat = parts.map(Warc.gzip).reduce(_ ++ _)
    val all = Warc.gunzipAll(cat)
    assert(all.size == 5 &&
      all.zip(parts).forall { case (a, b) => a.sameElements(b) })
    // flip a byte inside member 3's deflate body: members 0-2 survive
    val m3at = parts.take(3).map(p => Warc.gzip(p).length).sum
    val hurt = cat.clone()
    hurt(m3at + 15) = (hurt(m3at + 15) ^ 0x40).toByte
    val partial = Warc.gunzipAll(hurt)
    assert(partial.size <= 3 && partial.zip(parts).forall {
      case (a, b) => a.sameElements(b) })
  }

  test("warc record grammar: roundtrip, case-insensitive headers") {
    val r1 = Warc.record(Seq(("WARC-Type", "warcinfo"),
      ("WARC-Record-ID", "<urn:uuid:1>")), "k: v\r\n".getBytes)
    val r2 = Warc.record(Seq(("WARC-Type", "response"),
      ("WARC-Target-URI", "https://x/9")), bytes(1000, 7L))
    val rs = Warc.records(r1 ++ r2)
    assert(rs.size == 2)
    assert(rs(0).warcType == "warcinfo")
    assert(rs(1).warcType == "response" && rs(1).targetUri == "https://x/9")
    assert(rs(1).payload.length == 1000)
    // .warc.gz auto-detect: every record its own member
    val auto = Warc.readAuto(Warc.gzip(r1) ++ Warc.gzip(r2))
    assert(auto.map(_.warcType) == Seq("warcinfo", "response"))
    // plain passthrough auto-detect
    assert(Warc.readAuto(r1 ++ r2).size == 2)
  }

  test("http split: status + body past the header block") {
    val body = bytes(333, 13L)
    val payload = ("HTTP/1.1 200 OK\r\nA: b\r\n\r\n")
      .getBytes("ISO-8859-1") ++ body
    val Some((status, b)) = Warc.httpSplit(payload): @unchecked
    assert(status == "HTTP/1.1 200 OK" && b.sameElements(body))
    assert(Warc.httpSplit("no terminator".getBytes).isEmpty)
  }

  test("fuzz: truncation and corruption never throw, prefix survives") {
    val recs = (0 until 4).map(i => Warc.record(Seq(
      ("WARC-Type", "response"), ("WARC-Target-URI", s"u:$i")),
      bytes(150 + i * 31, i + 1L)))
    val plain = recs.reduce(_ ++ _)
    val gz = recs.map(Warc.gzip).reduce(_ ++ _)
    for (file <- Seq(plain, gz); cut <- 0 until file.length by 7) {
      val got = Warc.readAuto(file.take(cut))
      assert(got.size <= 4) // never throws, never invents records
      got.foreach(r => assert(r.payload != null))
    }
    var s = 99L
    (0 until 300).foreach { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      val i = ((s >>> 33) % gz.length).toInt
      val flipped = gz.clone()
      flipped(i) = (flipped(i) ^ (1 << ((s >>> 17) & 7)).toByte).toByte
      Warc.readAuto(flipped) // must not throw
      val j = ((s >>> 21) % plain.length).toInt
      val fp = plain.clone()
      fp(j) = (fp(j) ^ (1 << ((s >>> 13) & 7)).toByte).toByte
      Warc.readAuto(fp)
    }
  }
}
