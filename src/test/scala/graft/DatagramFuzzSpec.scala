package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite

/** Corruption sweep over every DATAGRAM codec: a UDP collector drops a
  * malformed datagram and keeps running (the reference length-checks
  * and skips — e.g. `src/nfacctd.c` template/record length guards,
  * `src/sfacctd.c` sample bounds), so `decode` of arbitrary or
  * truncated bytes must NEVER throw out of the codec and kill the
  * task. Session codecs (BGP/BMP/AMQP/RESP byte streams) are allowed
  * to throw — the reference resets the session — but must return or
  * throw promptly on every mutation (no hangs, no unbounded
  * allocation); CodecPropertySpec covers rtr/zmtp/grpc/BGP-LS the
  * same way.
  *
  * Sweep: every truncation point of a valid wire image, plus a seeded
  * single-bit flip at every offset.
  */
class DatagramFuzzSpec extends AnyFunSuite {

  private def sweep(name: String, bytes: Array[Byte],
                    dec: Array[Byte] => Any,
                    mayThrow: Boolean = false): Unit = {
    (0 to bytes.length).foreach { n =>
      val cut = java.util.Arrays.copyOf(bytes, n)
      try dec(cut) catch {
        case e: Throwable if !mayThrow =>
          fail(s"$name threw on truncation at $n: $e")
        case _: Throwable => ()
      }
    }
    val r = new Random(43)
    bytes.indices.foreach { i =>
      val mut = bytes.clone()
      mut(i) = (mut(i) ^ (1 << r.nextInt(8))).toByte
      try dec(mut) catch {
        case e: Throwable if !mayThrow =>
          fail(s"$name threw on bit flip at $i: $e")
        case _: Throwable => ()
      }
    }
    // and pure noise, seeded, a few lengths
    Seq(0, 1, 3, 16, 64, 1400).foreach { len =>
      val noise = new Array[Byte](len)
      new Random(len * 31 + 7).nextBytes(noise)
      try dec(noise) catch {
        case e: Throwable if !mayThrow =>
          fail(s"$name threw on noise len=$len: $e")
        case _: Throwable => ()
      }
    }
  }

  test("NetFlow v5 decode never throws on corrupt datagrams") {
    import graft.sources.{NetFlowV5, V5Header, V5Record}
    val wire = NetFlowV5.encode(V5Header(5, 2, 1L, 2L, 3L, 4L, 0, 0, 1),
      Seq.fill(2)(V5Record(1, 2, 3, 1, 2, 3, 4, 5, 6, 7, 8, 9, 6,
        0, 0, 0, 0, 0)))
    sweep("nfv5", wire, NetFlowV5.decode)
  }

  test("NetFlow v9 template cache never throws on corrupt datagrams") {
    import graft.sources.NetFlowV9
    import NetFlowV9.IE
    val t = NetFlowV9.Template(500, Seq(IE.Protocol -> 1, IE.InBytes -> 4))
    val h = NetFlowV9.V9Header(0L, 0L, 0L, 42L)
    val wire = NetFlowV9.encodeTemplate(h, t) ++
      NetFlowV9.encodeData(h, t,
        Seq(Map(IE.Protocol -> 6L, IE.InBytes -> 10L)))
    // fresh cache per mutation: corrupt templates must not poison
    // later decodes either way, and observe must never throw
    sweep("nfv9", wire, b => {
      val c = new NetFlowV9.TemplateCache
      c.observe(b)
      c.observe(wire) // cache still serviceable after garbage
    })
  }

  test("sFlow v5 and v2/v4 decode never throw on corrupt datagrams") {
    import graft.sources._
    val v5 = SFlowV5.encode(SFlowDatagram(0x0A000001L, 1L, 2L, 3L,
      Seq(SFlowSample(1L, 2L, 1024L, 10L, 0L, 5L, 6L, 1L, 128L,
        Seq.fill(32)(3.toByte),
        gateway = Some(SFlowGateway(9L, 65000L, 65001L, 65002L,
          Seq(65003L, 65004L), Seq(0x10001L), 100L)),
        tagRec = Some((7L, 8L)), class2 = Some((1L, 2L)))),
      Seq(SFlowIfCounters(1L, 2L, 3L, 1000L, 10L, 11L, 12L, 13L))))
    sweep("sflow5", v5, SFlowV5.decode)
    val v2 = SFlowV5.encodeV2V4(SFlowV2V4Datagram(2L, 0x0A000002L, 1L,
      2L, Seq(SFlowV2V4Sample(1L, 2L, 1024L, 10L, 0L, 5L, 6L, 128L,
        6L, 0x0A000003L, 0x0A000004L, 1234L, 80L, 0x12L, 0L)),
      Seq(SFlowIfCounters(1L, 2L, 3L, 1000L, 10L, 11L, 12L, 13L))))
    sweep("sflow24", v2, SFlowV5.decodeV2V4)
  }

  test("NFLOG netlink decode never throws on corrupt streams") {
    import graft.sources.Nflog
    val wire = Nflog.encode(5, 2, 0x0800, 3, 7L, 1700000000000000L,
      1, 2, "pfx", Array.fill[Byte](48)(0x11),
      Some(Array.fill[Byte](14)(0x22)), 9L)
    sweep("nflog", wire, Nflog.decode)
  }

  test("UDP-notif decode and reassembly never throw on corrupt packets") {
    import graft.sources.UdpNotif
    val wire = UdpNotif.encode(UdpNotif.Packet(1L, 42L, 0,
      """{"a":1}""".getBytes)) ++
      UdpNotif.encode(UdpNotif.Packet(1L, 43L, 0,
        Array.fill[Byte](600)(7)))
    sweep("udpnotif", wire, b => {
      val pkts = UdpNotif.decodeStream(b)
      UdpNotif.reassemble(pkts)
    })
  }

  test("STUN attribute walk: padding, decoys, XOR decode, fuzz") {
    import graft.functions.L7
    // binding success: SOFTWARE (odd len -> padding), decoy
    // MAPPED-ADDRESS, then the real XOR-MAPPED-ADDRESS
    val ip = 0x0a0b0c0dL
    val port = 4321
    val b = java.nio.ByteBuffer.allocate(56)
    b.putShort(0x0101); b.putShort(36); b.putInt(0x2112a442)
    (0 until 3).foreach(_ => b.putInt(7))
    b.putShort(0x8022.toShort); b.putShort(5)
    b.put("graft".getBytes); b.put(Array[Byte](0, 0, 0))
    b.putShort(0x0001); b.putShort(8)
    b.put(0.toByte); b.put(1.toByte)
    b.putShort((port + 1).toShort); b.putInt((ip + 1).toInt)
    b.putShort(0x0020); b.putShort(8)
    b.put(0.toByte); b.put(1.toByte)
    b.putShort((port ^ 0x2112).toShort)
    b.putInt((ip ^ 0x2112a442L).toInt)
    val wire = b.array()
    val attrs = L7.stunAttrs(wire)
    assert(attrs.map(_._1) == Seq(0x8022, 0x0001, 0x0020))
    assert(L7.stunXorMapped(wire).contains((ip, port)))
    // the decoy alone (no XOR attr) yields None, not the wrong value
    assert(L7.stunXorMapped(wire.take(20 + 12 + 12) ++
      Array[Byte](0, 0, 0, 0)).isEmpty)
    // truncation / bit flips: never throw
    (0 until wire.length).foreach(n => L7.stunXorMapped(wire.take(n)))
    var s = 5L
    (0 until 200).foreach { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      val i = ((s >>> 33) % wire.length).toInt
      val f = wire.clone()
      f(i) = (f(i) ^ (1 << ((s >>> 17) & 7)).toByte).toByte
      L7.stunXorMapped(f)
    }
  }

  test("pcapng read + roundtrip: resolutions, BE section, fuzz") {
    import graft.sources.Pcap
    val tuples = (1 to 5).map(i => Pcap.FlowTuple(0x0A000000L + i,
      0x0B000000L + i, if (i % 2 == 0) 17 else 6, 1000 + i, 80,
      100L + i, 1710000000000000L + i))
    val pkts = tuples.map(Pcap.frame)
    // µs and ns resolutions roundtrip; auto-sniff picks ng vs classic
    for (nanos <- Seq(false, true)) {
      val sf = Pcap.readAuto(Pcap.writeNg(pkts, nanos = nanos))
      assert(sf.linkType == Pcap.LinkEthernet)
      assert(sf.packets == pkts, s"nanos=$nanos")
    }
    assert(Pcap.readAuto(Pcap.write(pkts)).packets == pkts)
    // a hand-built BIG-endian section: SHB + IDB + one EPB
    val data = pkts.head.data
    val pad = (4 - data.length % 4) % 4
    val total = 32 + data.length + pad
    val be = java.nio.ByteBuffer.allocate(28 + 20 + total)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    be.putInt(0x0a0d0d0a); be.putInt(28); be.putInt(0x1a2b3c4d)
    be.putShort(1); be.putShort(0); be.putLong(-1L); be.putInt(28)
    be.putInt(1); be.putInt(20); be.putShort(1); be.putShort(0)
    be.putInt(0); be.putInt(20)
    be.putInt(6); be.putInt(total); be.putInt(0)
    val units = pkts.head.tsUs
    be.putInt((units >>> 32).toInt); be.putInt(units.toInt)
    be.putInt(data.length); be.putInt(pkts.head.origLen.toInt)
    be.put(data); (0 until pad).foreach(_ => be.put(0.toByte))
    be.putInt(total)
    val beSf = Pcap.readNg(be.array())
    assert(beSf.packets == Seq(pkts.head), "big-endian section")
    // fuzz the ng reader
    sweep("pcapng", Pcap.writeNg(pkts, nanos = true), b => {
      val sf = Pcap.readAuto(b)
      sf.packets.foreach(p => Pcap.parse(p, sf.linkType))
    })
    // if_tsresol forms beyond the 10^-6..10^-9 band: coarse decimal
    // (multiplied up to µs), power-of-2 (exact rational), unsupported
    // (packets dropped rather than mis-scaled)
    def ngResol(resol: Int, units: Long): Pcap.Savefile = {
      val d = pkts.head.data
      val pad = (4 - d.length % 4) % 4
      val epbTot = 32 + d.length + pad
      val bb = java.nio.ByteBuffer.allocate(28 + 32 + epbTot)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x0a0d0d0a); bb.putInt(28); bb.putInt(0x1a2b3c4d)
      bb.putShort(1); bb.putShort(0); bb.putLong(-1L); bb.putInt(28)
      bb.putInt(1); bb.putInt(32); bb.putShort(1); bb.putShort(0)
      bb.putInt(0)                             // snaplen 0 = unlimited
      bb.putShort(9); bb.putShort(1)           // if_tsresol option
      bb.put(resol.toByte); bb.put(0.toByte); bb.putShort(0) // value+pad
      bb.putShort(0); bb.putShort(0)           // opt_endofopt
      bb.putInt(32)
      bb.putInt(6); bb.putInt(epbTot); bb.putInt(0)
      bb.putInt((units >>> 32).toInt); bb.putInt(units.toInt)
      bb.putInt(d.length); bb.putInt(pkts.head.origLen.toInt)
      bb.put(d); (0 until pad).foreach(_ => bb.put(0.toByte))
      bb.putInt(epbTot)
      Pcap.readNg(bb.array())
    }
    // 10^-3 (milliseconds): units multiply UP to µs
    assert(ngResol(3, 1710000000123L).packets.map(_.tsUs) ==
      Seq(1710000000123000L))
    // 10^0 (whole seconds)
    assert(ngResol(0, 1710000001L).packets.map(_.tsUs) ==
      Seq(1710000001000000L))
    // 2^-10: µs = floor(units·10^6 / 1024), exact under the two-part
    // rational (1025 → 1000976, not 1000977 or a µs-misread 1025)
    assert(ngResol(0x80 | 10, 1025L).packets.map(_.tsUs) == Seq(1000976L))
    assert(ngResol(0x80 | 20, 1L << 20).packets.map(_.tsUs) ==
      Seq(1000000L))
    // unsupported resolutions drop the interface's packets
    assert(ngResol(0x80 | 60, 123L).packets.isEmpty)
    assert(ngResol(20, 123L).packets.isEmpty)
  }

  test("pcap savefile read + parse chain never throws on corrupt files") {
    import graft.sources.Pcap
    val tuples = (1 to 5).map(i => Pcap.FlowTuple(0x0A000000L + i,
      0x0B000000L + i, if (i % 2 == 0) 17 else 6, 1000 + i, 80,
      100L + i, 1710000000000000L + i))
    val wire = Pcap.write(tuples.map(Pcap.frame))
    sweep("pcap", wire, b => {
      val sf = Pcap.read(b)
      sf.packets.foreach { p =>
        Pcap.parse(p, sf.linkType)
        Pcap.parseL2(p)
        Pcap.parseFrag(p)
        Pcap.parseFrag6(p)
        Pcap.parseVxlan(p)
        Pcap.parseGtp(p)
      }
    })
  }

  test("IS-IS LSP decode never throws on corrupt PDUs") {
    import graft.sources.IsisMsg
    val wire = IsisMsg.encode(IsisMsg.Lsp(2, 0x1234567890L, 0, 0,
      100L, 3600, "r1",
      Seq(IsisMsg.Reach(0x0A0B0C00L, 24, 10L))))
    sweep("isis", wire, IsisMsg.decode)
  }

  test("PROXY header decode never throws and honors its Option contract") {
    import graft.sources.ProxyHdr
    val wire = "PROXY TCP4 1.2.3.4 5.6.7.8 1234 80\r\npayload".getBytes
    sweep("proxyhdr", wire, b => ProxyHdr.decode(b))
  }

  test("template cache counts discarded datagrams (tot_bad_datagrams)") {
    import graft.sources.NetFlowV9
    import NetFlowV9.IE
    val c = new NetFlowV9.TemplateCache
    val t = NetFlowV9.Template(501, Seq(IE.Protocol -> 1, IE.InBytes -> 4))
    val h = NetFlowV9.V9Header(0L, 0L, 0L, 7L)
    val tpl = NetFlowV9.encodeTemplate(h, t)
    val data = NetFlowV9.encodeData(h, t,
      Seq(Map(IE.Protocol -> 6L, IE.InBytes -> 10L)))
    c.observe(tpl)
    assert(c.observe(data).nonEmpty && c.badDatagrams == 0L)
    c.observe(Array[Byte](1, 2))                // runt
    c.observe("not netflow at all".getBytes)    // wrong version
    c.observe(java.util.Arrays.copyOf(tpl, 25)) // cut mid-set
    assert(c.badDatagrams == 3L,
      "each discard must land in the health counter")
    // the cache stays serviceable and good datagrams still decode
    assert(c.observe(data).nonEmpty && c.badDatagrams == 3L)
  }

  test("mmdb reader stays bounded on corrupt databases (no stack death)") {
    import graft.maps.Mmdb
    val db = Mmdb.build(Seq(
      (0x0A000000L, 8, Map[String, Any]("id" -> 1L, "cc" -> "ZZ")),
      (0xC0A80000L, 16, Map[String, Any]("id" -> 2L, "cc" -> "YY"))))
    // a GeoIP enrich task reading a corrupt/crafted .mmdb may reject it
    // (the reference errors out on a bad db) but must fail ORDERLY —
    // never a StackOverflowError from a pointer cycle, never a hang
    val probes = Seq(0x0A000001L, 0xC0A80001L, 0x7F000001L)
    val r = new Random(19)
    (0 to db.length).foreach { n =>
      val cut = java.util.Arrays.copyOf(db, n)
      try { val rd = new Mmdb.Reader(cut); probes.foreach(rd.lookup) }
      catch { case _: Exception => () } // orderly exceptions only
    }
    db.indices.foreach { i =>
      val mut = db.clone()
      mut(i) = (mut(i) ^ (1 << r.nextInt(8))).toByte
      try { val rd = new Mmdb.Reader(mut); probes.foreach(rd.lookup) }
      catch { case _: Exception => () }
    }
    // and the valid db still resolves after the sweep
    val rd = new Mmdb.Reader(db)
    assert(rd.lookup(0x0A000001L).map(_("id")) == Some(1L))
  }

  test("session codecs stay bounded under corruption (may throw)") {
    import graft.sources.{BmpMsg, BgpMsg}
    import graft.sinks.{Amqp, Resp}
    val peer = BmpMsg.PeerHeader(0, 0, 0L, 0x0A000001L, 65001L,
      0x01010101L, 1700000000L, 0)
    val bmp = BmpMsg.encodeInitiation(Seq(1 -> "sys")) ++
      BmpMsg.encodePeerUp(peer,
        Some(BgpMsg.Open(65001L, 180, 0x01010101L)),
        Some(BgpMsg.Open(65002L, 180, 0x02020202L))) ++
      BmpMsg.encodeRouteMonitoring(peer, BgpMsg.Update(
        nlri = Seq(BgpMsg.Route(0x0A0B0C00L, 24)),
        nextHop = Some(9L), asPath = Seq(65001L)))
    sweep("bmp", bmp, BmpMsg.decodeStream, mayThrow = true)
    val amqp = Amqp.publishFrames(Amqp.Publish(1, "ex", "rk",
      "application/json", """{"b":1}""".getBytes), frameMax = 64)
      .reduce(_ ++ _)
    sweep("amqp", amqp, Amqp.decode, mayThrow = true)
    val resp = Resp.command(Seq("SETEX", "k", "60", "v")) ++
      Resp.command(Seq("PING"))
    sweep("resp", resp, Resp.decode, mayThrow = true)
  }
}
