package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Seeded randomized round-trip properties for every wire codec added in
  * round 2 — the edge cases (partial-byte NLRI, vlen 255-escapes,
  * multi-byte varints, record-size variants) get systematic coverage
  * beyond the hand-picked spec vectors. */
class CodecPropertySpec extends AnyFunSuite {

  test("BgpMsg: random UPDATEs round-trip (100 seeds)") {
    import graft.sources.BgpMsg
    for (seed <- 0 until 100) {
      val r = new Random(seed)
      def route(): BgpMsg.Route = {
        val plen = r.nextInt(33)
        val nBytes = (plen + 7) / 8
        val mask = if (nBytes == 0) 0L else 0xffffffffL << (32 - 8 * nBytes)
        BgpMsg.Route((r.nextLong() & Long.MaxValue) & mask & 0xffffffffL, plen)
      }
      val u = BgpMsg.Update(
        withdrawn = Seq.fill(r.nextInt(4))(route()),
        nlri = Seq.fill(r.nextInt(4))(route()),
        origin = if (r.nextBoolean()) Some(r.nextInt(3)) else None,
        asPath = Seq.fill(r.nextInt(5))((r.nextLong() & Long.MaxValue) % 4294967296L),
        nextHop = if (r.nextBoolean())
          Some((r.nextLong() & Long.MaxValue) % 4294967296L) else None,
        med = if (r.nextBoolean())
          Some((r.nextLong() & Long.MaxValue) % 4294967296L) else None,
        localPref = if (r.nextBoolean())
          Some((r.nextLong() & Long.MaxValue) % 4294967296L) else None,
        communities = Seq.fill(r.nextInt(4))((r.nextLong() & Long.MaxValue) % 4294967296L),
        aigp = if (r.nextBoolean()) Some(r.nextLong() & Long.MaxValue) else None,
        labelIndex = if (r.nextBoolean())
          Some((r.nextLong() & Long.MaxValue) % 4294967296L) else None)
      assert(BgpMsg.decodeStream(BgpMsg.encode(u)) == Seq(u), s"seed $seed")
    }
  }

  test("NetFlowV9 extended: random vlen/PEN templates round-trip") {
    import graft.sources.NetFlowV9
    import NetFlowV9.{FieldSpec, TemplateX, VarLen}
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      val fields = (1 to (1 + r.nextInt(5))).map { i =>
        if (r.nextInt(3) == 0) FieldSpec(100 + i, VarLen)
        else FieldSpec(100 + i, 1 + r.nextInt(8),
          if (r.nextBoolean()) 1L + r.nextInt(99999) else 0L)
      }
      val t = TemplateX(256 + r.nextInt(1000), fields)
      val recs: Seq[NetFlowV9.DecodedX] = (1 to 1 + r.nextInt(4)).map { _ =>
        fields.map { f =>
          if (f.isVlen)
            f.key -> Seq.fill(r.nextInt(400))(('a' + r.nextInt(26)).toChar).mkString
          else {
            val maxBits = math.min(62, 8 * f.len)
            f.key -> ((r.nextLong() & Long.MaxValue) % (1L << maxBits))
          }
        }.toMap
      }
      val h = NetFlowV9.V9Header(0L, 0L, 0L, seed.toLong)
      val cache = new NetFlowV9.TemplateCache
      cache.observeX(NetFlowV9.encodeTemplateIpfixX(h, t))
      val got = cache.observeX(NetFlowV9.encodeDataIpfixX(h, t, recs))
      assert(got == recs, s"seed $seed")
    }
  }

  test("NetFlowV9: observe is observeX's numeric view (300 seeds)") {
    import graft.sources.NetFlowV9
    import NetFlowV9.{FieldSpec, Template, TemplateX, V9Header, VarLen}
    // a small IE pool, so templates repeat IEs and carry IE 8/27 layers
    val pool = Seq(1, 2, 4, 7, 8, 11, 12, 27, 152)
    for (seed <- 0 until 300) {
      val r = new Random(seed)
      def spec(fixedOnly: Boolean): FieldSpec = {
        val tp = pool(r.nextInt(pool.size))
        r.nextInt(if (fixedOnly) 2 else 4) match {
          case 0 => FieldSpec(tp, 1 + r.nextInt(8))
          case 1 => FieldSpec(tp, 9 + r.nextInt(8))                // > 8 B
          case 2 => FieldSpec(tp, VarLen)
          case _ => FieldSpec(tp, if (r.nextBoolean()) VarLen           // PEN
            else 1 + r.nextInt(12), 1L + r.nextInt(99999))
        }
      }
      def record(fields: Seq[FieldSpec]): NetFlowV9.DecodedX =
        fields.map { f =>
          f.key -> (if (f.isVlen)     // 0..299 chars: crosses the 255 escape
            Seq.fill(r.nextInt(300))(('a' + r.nextInt(26)).toChar).mkString
          else r.nextLong())
        }.toMap
      def truncated(dg: Array[Byte]): Array[Byte] =
        if (r.nextInt(5) == 0) dg.take(r.nextInt(dg.length + 1)) else dg
      val dgs = (0 until 2 + r.nextInt(4)).flatMap { i =>
        val h = V9Header(0L, 0L, i.toLong, r.nextInt(2).toLong)
        val id = 256 + r.nextInt(3)
        val (tdg, data) = if (r.nextBoolean()) {
          val t = Template(id, Seq.fill(1 + r.nextInt(8))(spec(true))
            .map(f => f.tp -> f.len))
          val recs = Seq.fill(1 + r.nextInt(4))(t.toX.fields)
            .map(fs => NetFlowV9.numeric(record(fs)))
          (NetFlowV9.encodeTemplate(h, t), NetFlowV9.encodeData(h, t, recs))
        } else {
          val fields = Seq.fill(1 + r.nextInt(8))(spec(false))
          val t = TemplateX(id, fields,
            if (r.nextInt(4) == 0) 1 + r.nextInt(fields.size) else 0)
          val tdg = if (t.scopeCount > 0)
            NetFlowV9.encodeOptionsTemplateIpfix(h, t)
          else NetFlowV9.encodeTemplateIpfixX(h, t)
          (tdg, NetFlowV9.encodeDataIpfixX(h, t,
            Seq.fill(1 + r.nextInt(4))(record(fields))))
        }
        // data before its template as often as after it
        val pair = if (r.nextBoolean()) Seq(tdg, data) else Seq(data, tdg)
        pair.map(truncated)
      }
      val numeric, extended = new NetFlowV9.TemplateCache
      dgs.zipWithIndex.foreach { case (dg, i) =>
        assert(numeric.observe(dg) ==
          extended.observeX(dg).map(NetFlowV9.numeric), s"seed $seed dg $i")
      }
      assert(numeric.badDatagrams == extended.badDatagrams, s"seed $seed")
      assert(numeric.state.pending.map(_.key) ==
        extended.state.pending.map(_.key), s"seed $seed")
    }
  }

  test("TelemetryGpb: random flat messages round-trip") {
    import graft.sources.TelemetryGpb
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      val fields: Seq[(Int, Any)] = (1 to 1 + r.nextInt(6)).map { i =>
        r.nextInt(3) match {
          case 0 => i -> (r.nextLong() & Long.MaxValue)
          case 1 => i -> Seq.fill(r.nextInt(50))(('a' + r.nextInt(26)).toChar).mkString
          case _ => i -> r.nextDouble()
        }
      }
      val m = TelemetryGpb.decodeMsg(TelemetryGpb.encodeMsg(fields))
      fields.foreach { case (num, v) =>
        val got = m(num).head
        v match {
          case s: String => assert(TelemetryGpb.str(got) == s, s"seed $seed")
          case other => assert(got == other, s"seed $seed")
        }
      }
    }
  }

  test("Pcap: random packet sets round-trip") {
    import graft.sources.Pcap
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      val pkts = (1 to 1 + r.nextInt(6)).map { _ =>
        val data = new Array[Byte](14 + r.nextInt(200))
        r.nextBytes(data)
        Pcap.Packet((r.nextLong() & Long.MaxValue) % (4294967296L * 1000000L),
          data.length.toLong + r.nextInt(100), data)
      }
      assert(Pcap.read(Pcap.write(pkts)).packets == pkts, s"seed $seed")
    }
  }

  test("UdpNotif: random packets round-trip") {
    import graft.sources.UdpNotif
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      val pkts = (1 to 1 + r.nextInt(4)).map { _ =>
        val payload = new Array[Byte](r.nextInt(300))
        r.nextBytes(payload)
        val opts = (0 until r.nextInt(3)).map { i =>
          val v = new Array[Byte](r.nextInt(10))
          r.nextBytes(v)
          (i + 1, v)
        }
        UdpNotif.Packet((r.nextLong() & Long.MaxValue) % 4294967296L,
          (r.nextLong() & Long.MaxValue) % 4294967296L, r.nextInt(16), payload, opts)
      }
      val stream = pkts.map(UdpNotif.encode).reduce(_ ++ _)
      val got = UdpNotif.decodeStream(stream)
      assert(got.size == pkts.size, s"seed $seed")
      got.zip(pkts).foreach { case (g, p) =>
        assert(g.observationDomain == p.observationDomain &&
          g.messageId == p.messageId && g.mediaType == p.mediaType &&
          g.payload.toSeq == p.payload.toSeq &&
          g.options.map(o => (o._1, o._2.toSeq)) ==
            p.options.map(o => (o._1, o._2.toSeq)), s"seed $seed")
      }
    }
  }

  test("Mmdb: random prefix tables match brute-force LPM (24/28/32-bit)") {
    import graft.maps.Mmdb
    for (seed <- 0 until 30) {
      val r = new Random(seed)
      val recordSize = Seq(24, 28, 32)(seed % 3)
      val entries = (1 to 1 + r.nextInt(12)).map { i =>
        val plen = 1 + r.nextInt(24)
        val base = ((r.nextLong() & Long.MaxValue) & 0xffffffffL) &
          (0xffffffffL << (32 - plen))
        (base, plen, Map[String, Any]("id" -> i.toLong))
      }
      val reader = new Mmdb.Reader(
        Mmdb.build(entries, recordSize = recordSize))
      // reference LPM: longest prefix wins; among duplicates of the
      // same (matching) length the LAST inserted wins (builder
      // overwrite semantics)
      def brute(ip: Long): Option[Long] = {
        val cands = entries.zipWithIndex.filter { case ((b, l, _), _) =>
          (ip >>> (32 - l)) == (b >>> (32 - l))
        }
        if (cands.isEmpty) None
        else Some(cands.maxBy { case ((_, l, _), idx) => (l, idx) }
          ._1._3("id").asInstanceOf[Long])
      }
      (0 until 200).foreach { _ =>
        val ip = (r.nextLong() & Long.MaxValue) & 0xffffffffL
        val got = reader.lookup(ip).map(_("id").asInstanceOf[Long])
        assert(got == brute(ip), s"seed $seed ip $ip")
      }
    }
  }

  test("BgpMsg MP-BGP: random v6 UPDATEs round-trip (50 seeds)") {
    import graft.sources.BgpMsg
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      def r6(): BgpMsg.Route6 = {
        val plen = r.nextInt(129)
        // mask the 128-bit value down to plen bits (byte-truncated wire)
        val nBytes = (plen + 7) / 8
        val full = Array.fill[Byte](16)(0)
        (0 until nBytes).foreach(i => full(i) = r.nextInt(256).toByte)
        val hi = (0 until 8).foldLeft(0L)((a, i) =>
          (a << 8) | (full(i) & 0xffL))
        val lo = (8 until 16).foldLeft(0L)((a, i) =>
          (a << 8) | (full(i) & 0xffL))
        BgpMsg.Route6(hi, lo, plen)
      }
      val u = BgpMsg.Update(
        origin = Some(0),
        asPath = Seq(65000L + r.nextInt(100)),
        med = if (r.nextBoolean()) Some(r.nextInt(1000).toLong) else None,
        nlri6 = Seq.fill(1 + r.nextInt(3))(r6()),
        withdrawn6 = Seq.fill(r.nextInt(3))(r6()),
        nextHop6 = Some((r.nextLong(), r.nextLong())))
      // decode additionally reports the MP lane marker and the
      // MP_UNREACH presence flag; strip them before comparing
      assert(BgpMsg.decodeStream(BgpMsg.encode(u))
        .map(_.copy(mpAfiSafi = None, mpUnreach = false)) == Seq(u),
        s"seed $seed")
    }
  }

  test("BgpMsg VPN-IPv4: random SAFI-128 UPDATEs round-trip (50 seeds)") {
    import graft.sources.BgpMsg
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      def rv(): BgpMsg.RouteVpn = {
        val plen = r.nextInt(33)
        val nBytes = (plen + 7) / 8
        val mask = if (nBytes == 0) 0L else 0xffffffffL << (32 - 8 * nBytes)
        val rdType = r.nextInt(3)
        val (admin, value) =
          if (rdType == 0) (r.nextInt(65536).toLong,
            (r.nextLong() & Long.MaxValue) % 4294967296L)
          else ((r.nextLong() & Long.MaxValue) % 4294967296L,
            r.nextInt(65536).toLong)
        BgpMsg.RouteVpn(r.nextInt(1 << 20).toLong, rdType, admin, value,
          (r.nextLong() & Long.MaxValue) & mask & 0xffffffffL, plen)
      }
      val u = BgpMsg.Update(
        origin = Some(0),
        asPath = Seq(65000L + r.nextInt(100)),
        nlriVpn = Seq.fill(1 + r.nextInt(3))(rv()),
        withdrawnVpn = Seq.fill(r.nextInt(3))(rv()),
        nextHopVpn = Some(r.nextInt(1 << 30).toLong))
      // withdraws carry the 0x800000 compatibility label on the wire
      // (RFC 3107 §3) and decode label-less (0) — normalize the expected
      // side the same way before comparing
      val got = BgpMsg.decodeStream(BgpMsg.encode(u))
        .map(_.copy(mpAfiSafi = None, mpUnreach = false))
      val expect = u.copy(withdrawnVpn =
        u.withdrawnVpn.map(_.copy(label = 0L)))
      assert(got == Seq(expect), s"seed $seed")
    }
  }

  test("RTR: random PDU streams round-trip (50 seeds)") {
    import graft.sources.RtrMsg
    import RtrMsg._
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      def v4(): Pdu = {
        val plen = r.nextInt(33)
        val mlen = plen + r.nextInt(33 - plen)
        Ipv4Prefix(r.nextBoolean(), plen, mlen,
          (r.nextLong() & Long.MaxValue) % 4294967296L,
          (r.nextLong() & Long.MaxValue) % 4294967296L)
      }
      val pdus: Seq[Pdu] = Seq(CacheResponse(r.nextInt(65536))) ++
        Seq.fill(1 + r.nextInt(8))(v4()) ++
        Seq(EndOfData(1, r.nextInt(1000).toLong, 3600L, 600L, 7200L))
      val wire = pdus.map(RtrMsg.encode).reduce(_ ++ _)
      assert(RtrMsg.decodeStream(wire) == pdus, s"seed $seed")
    }
  }

  test("new wire codecs survive truncation and bit flips (never throw)") {
    import graft.sources.{RtrMsg, Zmtp, GrpcFrames}
    val rtr = Seq(RtrMsg.CacheResponse(1),
      RtrMsg.Ipv4Prefix(announce = true, 8, 16, 0x0A000000L, 65001L),
      RtrMsg.EndOfData(1, 5L, 3600L, 600L, 7200L))
      .map(RtrMsg.encode).reduce(_ ++ _)
    val zmtp = Zmtp.session(Seq(Seq("t".getBytes, "payload".getBytes),
      Seq("t2".getBytes, Array.fill[Byte](300)(1))))
    val grpc = GrpcFrames.connection(Seq(
      (1L, GrpcFrames.grpcMessage(Array.fill[Byte](40)(2)))), maxFrame = 16)
    val streams = Seq[(String, Array[Byte], Array[Byte] => Any)](
      ("rtr", rtr, RtrMsg.decodeStream),
      ("zmtp", zmtp, Zmtp.decodeSession),
      ("grpc", grpc, GrpcFrames.decode))
    streams.foreach { case (name, bytes, dec) =>
      // every truncation point
      (0 to bytes.length).foreach { n =>
        dec(java.util.Arrays.copyOf(bytes, n))
      }
      // seeded single-byte corruptions at every offset
      val r = new Random(7)
      bytes.indices.foreach { i =>
        val mut = bytes.clone()
        mut(i) = (mut(i) ^ (1 << r.nextInt(8))).toByte
        try dec(mut) catch {
          case e: Throwable => fail(s"$name threw on flip at $i: $e")
        }
      }
    }
  }

  test("BGP-LS/ecomm decode is bounded under truncation and bit flips") {
    // A BGP session stream may legitimately throw on corruption (the
    // reference NOTIFYs and drops the session), but the LS TLV walk
    // must never loop, over-allocate, or read past its buffers — every
    // mutation must return or throw promptly.
    import graft.sources.BgpMsg
    val link = BgpMsg.LsLink(2, 65001L, 11L, 65002L, 12L,
      0x0A000001L, 0x0A000002L)
    val pfx = BgpMsg.LsPrefix(3, 65001L, 11L, 0x0A0B0C00L, 24)
    val bytes = BgpMsg.encode(BgpMsg.Update(
      nlriLs = Seq(link, pfx), nextHop = Some(9L),
      extCommunities = Seq(BgpMsg.ExtCommunity(0, 2, 65001L, 7L)),
      lsAttr = Some(BgpMsg.LsAttr(nodeName = Some("edge-1"),
        adminGroup = Some(1L), teMetric = Some(2L),
        igpMetric = Some(3L), pfxMetric = Some(4L))))) ++
      BgpMsg.encode(BgpMsg.Update(withdrawnLs = Seq(link)))
    (0 to bytes.length).foreach { n =>
      try BgpMsg.decodeStream(java.util.Arrays.copyOf(bytes, n))
      catch { case _: Throwable => () }
    }
    val r = new Random(11)
    bytes.indices.foreach { i =>
      val mut = bytes.clone()
      mut(i) = (mut(i) ^ (1 << r.nextInt(8))).toByte
      try BgpMsg.decodeStream(mut) catch { case _: Throwable => () }
    }
  }

  test("SqlBulk: random rows round-trip both wire forms (100 seeds)") {
    import graft.sinks.SqlBulk
    for (seed <- 0 until 100) {
      val r = new Random(seed)
      val nCols = 2 + r.nextInt(4)
      val cols = (0 until nCols).map(i => s"c$i")
      def cell(): Any = r.nextInt(3) match {
        case 0 => r.nextLong()
        case 1 => r.nextInt(100000)
        // strings with quotes (escaped in INSERT) but no delimiter —
        // the COPY contract; spaces and unicode exercise the parsers
        case _ => Seq("plain", "it's", "two words", "uber", "x" * r.nextInt(9))(r.nextInt(5)) + r.nextInt(10)
      }
      val rows = Seq.fill(1 + r.nextInt(20))(Seq.fill(nCols)(cell()))

      // COPY: every line parses back to the rendered strings
      rows.foreach { row =>
        val line = SqlBulk.pgCopyLine(row)
        assert(SqlBulk.parsePgCopyLine(line) == row.map(_.toString),
          s"seed $seed")
      }

      // multi-values: regardless of the byte budget, the union of the
      // parsed tuples equals the input in order, every statement fits
      // the budget and bears the header
      val header = SqlBulk.mysqlInsertHeader("t", cols)
      val budget = header.length + 20 + r.nextInt(400)
      val canFit = rows.forall(row =>
        7 + row.map {
          case s: String => "'" + s.replace("'", "''") + "'"
          case x => x.toString
        }.mkString(" (", ", ", ")").length < budget - header.length)
      if (canFit) {
        val stmts = SqlBulk.mysqlMultiValues("t", cols, rows.iterator,
          budget).toSeq
        assert(stmts.forall(st => st.startsWith(header) &&
          st.length <= budget), s"seed $seed")
        val parsed = stmts.flatMap(SqlBulk.parseMysqlMultiValues)
        assert(parsed == rows.map(_.map(_.toString)), s"seed $seed")
      } else {
        // a row that can never fit is the documented hard error
        assertThrows[IllegalArgumentException] {
          SqlBulk.mysqlMultiValues("t", cols, rows.iterator, budget).toSeq
        }
      }
    }
  }
}
