package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Specs for the daemon-edge codecs (round 5): NFLOG netlink capture,
  * AMQP 0-9-1 framing, Redis RESP, and IS-IS LSPs — round trips,
  * semantic details each query relies on, and never-throw robustness
  * against truncation/bit flips (these paths eat raw socket bytes). */
class DaemonCodecSpec extends AnyFunSuite {
  import graft.sources.{IsisMsg, Nflog}
  import graft.sinks.{Amqp, Resp}

  private def ipv4(b: Byte): Array[Byte] = {
    val p = new Array[Byte](24)
    p(0) = 0x45.toByte; p(9) = b; p
  }

  // ---- NFLOG ---------------------------------------------------------

  test("Nflog: ethernet leg round-trips hwheader + payload + metadata") {
    val hw = Array.tabulate[Byte](14)(i => i.toByte)
    val pay = ipv4(6)
    val msg = Nflog.encode(group = 5, family = Nflog.AfInet,
      hwProto = 0x0800, hook = 3, mark = 42L, tsUs = 1234567L,
      ifIn = 7, ifOut = 9, prefix = "acct", ipPacket = pay,
      hwHeader = Some(hw))
    val out = Nflog.decode(msg)
    assert(out.size == 1)
    val m = out.head
    assert(m.group == 5 && m.family == Nflog.AfInet && m.hwProto == 0x0800)
    assert(m.hook == 3 && m.mark == 42L && m.tsUs == 1234567L)
    assert(m.ifIn == 7 && m.ifOut == 9 && m.prefix == "acct")
    assert(java.util.Arrays.equals(m.frame, hw ++ pay))
  }

  test("Nflog: raw-IP leg synthesizes an ethernet header (uacctd jumbo)") {
    val pay = ipv4(17)
    val m = Nflog.decode(Nflog.encode(2, Nflog.AfInet6, 0x86DD, 1, 0L,
      0L, 1, 2, "", pay)).head
    assert(m.frame.length == 14 + pay.length)
    // ethertype slot carries the family's ethertype, rest zeroed
    assert((m.frame(12) & 0xff) == 0x86 && (m.frame(13) & 0xff) == 0xDD)
    assert(m.frame.take(12).forall(_ == 0))
  }

  test("Nflog: non-INET families are skipped, stream continues") {
    val s = Nflog.encode(1, 0, 0, 0, 0L, 0L, 0, 0, "", ipv4(6)) ++
      Nflog.encode(1, Nflog.AfInet, 0x0800, 0, 0L, 0L, 0, 0, "", ipv4(6))
    assert(Nflog.decode(s).size == 1)
  }

  test("Nflog: truncation and bit flips never throw") {
    val full = (0 until 8).flatMap(i =>
      Nflog.encode(i, Nflog.AfInet, 0x0800, 2, i.toLong, i * 1000L,
        i + 1, i + 2, s"p$i", ipv4(6),
        if (i % 2 == 0) Some(new Array[Byte](14)) else None)).toArray
    for (cut <- 0 to full.length by 7) Nflog.decode(full.take(cut))
    val r = new Random(7)
    for (_ <- 0 until 300) {
      val b = full.clone()
      b(r.nextInt(b.length)) = r.nextInt(256).toByte
      Nflog.decode(b)
    }
  }

  // ---- AMQP ----------------------------------------------------------

  test("Amqp: multi-channel interleave reassembles bodies that span frames") {
    val pubs = (0 until 12).map { i =>
      Amqp.Publish(1 + i % 4, "pmacct", s"acct_$i", "application/json",
        (s"""{"i":$i,"pad":"""" + "x" * (i * 20) + "\"}").getBytes("UTF-8"))
    }
    val out = Amqp.decode(Amqp.connection(pubs, frameMax = 16))
    assert(out.size == pubs.size)
    val byKey = out.map(p => p.routingKey -> p).toMap
    pubs.foreach { p =>
      val got = byKey(p.routingKey)
      assert(got.channel == p.channel && got.exchange == "pmacct")
      assert(got.contentType == "application/json")
      assert(java.util.Arrays.equals(got.body, p.body))
    }
  }

  test("Amqp: empty body completes at the header frame") {
    val out = Amqp.decode(Amqp.connection(
      Seq(Amqp.Publish(1, "e", "rk", "t", Array.emptyByteArray)), 32))
    assert(out.size == 1 && out.head.body.isEmpty)
  }

  test("Amqp: bad protocol header, truncation, bit flips never throw") {
    assert(Amqp.decode("HTTP/1.1".getBytes("UTF-8")).isEmpty)
    val full = Amqp.connection((0 until 6).map(i =>
      Amqp.Publish(1 + i % 2, "ex", s"rk$i", "ct",
        Array.fill[Byte](40)(i.toByte))), frameMax = 13)
    for (cut <- 0 to full.length by 5) Amqp.decode(full.take(cut))
    val r = new Random(11)
    for (_ <- 0 until 300) {
      val b = full.clone()
      b(r.nextInt(b.length)) = r.nextInt(256).toByte
      Amqp.decode(b)
    }
  }

  // ---- RESP ----------------------------------------------------------

  test("Resp: pipeline round-trips, including binary-ish values") {
    val cmds = Seq(
      Seq("SETEX", "graft+0+process+nfacctd+core", "3", "1"),
      Seq("PING"),
      Seq("SET", "daemon_type", "nfacctd"),
      Seq("DEL", "k\r\nwith crlf"))
    assert(Resp.decode(Resp.pipeline(cmds)) == cmds)
  }

  test("Resp: healthKey matches the reference key shape") {
    assert(Resp.healthKey("c1", 2, "n", "core") == "c1+2+process+n+core")
    assert(Resp.healthKey("c1", 2, "n", "core", "bgp") ==
      "c1+2+process+n+core+bgp")
  }

  test("Resp: liveKeys applies SETEX expiry and DEL") {
    val log = Seq(
      (10L, Seq("SETEX", "a", "3", "1")),
      (11L, Seq("SETEX", "b", "3", "1")),
      (12L, Seq("DEL", "b")),
      (13L, Seq("SETEX", "c", "3", "1")),
      (14L, Seq("SET", "d", "x")))
    assert(Resp.liveKeys(log, atSec = 14L) == Seq("c", "d"))
  }

  test("Resp: truncation and garbage never throw") {
    val full = Resp.pipeline(Seq(Seq("SETEX", "k", "3", "1"), Seq("PING")))
    for (cut <- 0 to full.length) Resp.decode(full.take(cut))
    val r = new Random(3)
    for (_ <- 0 until 200) {
      val b = full.clone()
      b(r.nextInt(b.length)) = r.nextInt(256).toByte
      Resp.decode(b)
    }
  }

  // ---- IS-IS ---------------------------------------------------------

  test("IsisMsg: LSP round-trips hostname + reach entries") {
    val l = IsisMsg.Lsp(2, 0x490001000042L, 0, 1, seqNo = 7,
      lifetime = 1199, hostname = "edge-rtr",
      reach = Seq(IsisMsg.Reach(0x0a000000L, 8, 10),
        IsisMsg.Reach(0xc0a80000L, 16, 20, down = true)))
    assert(IsisMsg.decode(IsisMsg.encode(l)) == Seq(l))
  }

  test("IsisMsg: >255-byte reach sets split across TLV instances") {
    val reach = (0 until 60).map(i =>
      IsisMsg.Reach((i.toLong << 24), 8, i.toLong))
    val l = IsisMsg.Lsp(1, 1L, 0, 0, 1, 1199, "r", reach)
    assert(IsisMsg.decode(IsisMsg.encode(l)).head.reach == reach)
  }

  test("IsisMsg: rib applies seqno-wins and zero-lifetime purge") {
    val a1 = IsisMsg.Lsp(2, 1L, 0, 0, 1, 1199, "r1",
      Seq(IsisMsg.Reach(1L << 24, 8, 999)))
    val a2 = IsisMsg.Lsp(2, 1L, 0, 0, 2, 1199, "r1",
      Seq(IsisMsg.Reach(1L << 24, 8, 10)))
    val b1 = IsisMsg.Lsp(1, 1L, 0, 1, 1, 1199, "",
      Seq(IsisMsg.Reach(2L << 24, 8, 5)))
    val b2 = IsisMsg.Lsp(1, 1L, 0, 1, 2, 0, "", Nil)
    val rib = IsisMsg.rib(Seq(a1, a2, b1, b2))
    assert(rib == Seq((1L, "r1", IsisMsg.Reach(1L << 24, 8, 10))))
  }

  test("IsisMsg: truncation and bit flips never throw") {
    val full = (0 until 5).flatMap(i =>
      IsisMsg.encode(IsisMsg.Lsp(1 + i % 2, i.toLong, 0, i, i.toLong + 1,
        1199, s"r$i", Seq(IsisMsg.Reach(i.toLong << 24, 8 + i, i.toLong)))))
      .toArray
    for (cut <- 0 to full.length by 3) IsisMsg.decode(full.take(cut))
    val r = new Random(5)
    for (_ <- 0 until 300) {
      val b = full.clone()
      b(r.nextInt(b.length)) = r.nextInt(256).toByte
      IsisMsg.decode(b)
    }
  }

  test("Kafka Produce v9 wire: round-trip, CRC guard, garbage tail") {
    import graft.sinks.KafkaWire
    import graft.sinks.KafkaWire.{PartitionBatch, Record}
    val pbs = Seq(
      PartitionBatch("acct_click", 0,
        (0 until 5).map(i => Record(s"k$i", s"$i:${i * 7}".getBytes))),
      PartitionBatch("acct_click", 2,
        Seq(Record("k9", "9:63".getBytes))),
      PartitionBatch("acct_error", 1,
        (0 until 3).map(i => Record(s"e$i", s"$i:1".getBytes))))
    val wire = KafkaWire.encodeProduce(7, "graft_kafka", pbs, 1700000L)
    // two pipelined requests on one stream
    val stream = wire ++ KafkaWire.encodeProduce(8, "graft_kafka",
      pbs.take(1), 1700001L)
    val out = KafkaWire.decodeStream(stream)
    assert(out.map(_.correlationId).distinct == Seq(7, 8))
    assert(out.forall(_.clientId == "graft_kafka"))
    assert(out.count(_.correlationId == 7) == 3)
    val byTp = out.filter(_.correlationId == 7)
      .map(p => (p.topic, p.partition) -> p.records).toMap
    assert(byTp(("acct_click", 0)).map(_.key) ==
      (0 until 5).map(i => s"k$i"))
    assert(new String(byTp(("acct_click", 2)).head.value) == "9:63")
    assert(byTp(("acct_error", 1)).size == 3)
    // flip a byte inside the first record batch: that batch's CRC check
    // must reject it (empty records), not corrupt the walk
    val corrupt = stream.clone()
    corrupt(80) = (corrupt(80) ^ 0x5a).toByte
    val cOut = KafkaWire.decodeStream(corrupt)
    assert(cOut.exists(_.records.isEmpty) || cOut.size < out.size)
    // garbage tail stops the walk without throwing
    assert(KafkaWire.decodeStream(
      stream ++ Array[Byte](0, 0, 0, 99, 1, 2)).size == out.size)
    // batch-level round trip
    val b = KafkaWire.encodeBatch(Seq(Record("a", "1:2".getBytes)), 5L)
    assert(KafkaWire.decodeBatch(b).map(_.key) == Seq("a"))
    assert(KafkaWire.decodeBatch(b.dropRight(1)).isEmpty)
    // a crafted 57-60 byte batch whose CRC validates must return Nil,
    // not underflow in the fixed-header reads (header through the
    // record count is 61 bytes)
    (57 to 60).foreach { len =>
      val short = new Array[Byte](len)
      val sb = java.nio.ByteBuffer.wrap(short)
      sb.putLong(0L); sb.putInt(len - 12); sb.putInt(-1); sb.put(2.toByte)
      val crc = new java.util.zip.CRC32C
      crc.update(short, 21, len - 21)
      sb.putInt(crc.getValue.toInt)
      assert(KafkaWire.decodeBatch(short).isEmpty)
    }
    // a malformed INTERIOR frame (varint topic count pointing past the
    // buffer) stops the walk without throwing and contributes nothing
    val bad = java.nio.ByteBuffer.allocate(4 + 24)
    bad.putInt(24)
    bad.putShort(0); bad.putShort(9); bad.putInt(42)     // Produce v9
    bad.putShort(2); bad.put("ab".getBytes)              // clientId
    bad.put(0.toByte)                                    // header tags
    bad.put(0.toByte)                                    // txn id null
    bad.putShort(-1); bad.putInt(1000)                   // acks, timeout
    bad.put(0x7f.toByte)                                 // 126 topics (!)
    bad.put(0x7f.toByte); bad.put(0x7f.toByte)           // garbage varints
    assert(KafkaWire.decodeStream(bad.array() ++ stream).isEmpty)
    assert(KafkaWire.decodeStream(stream ++ bad.array()).size == out.size)
  }

  test("KafkaMiniBroker: live Produce/Fetch round trip, offsets, limits") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}
    import KafkaWire.{PartitionBatch, Record}
    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      val (sock, in, out) = KafkaMiniBroker.connect(port)
      try {
        // two produces to one partition: base offsets chain 0 -> 3
        val acks1 = KafkaWire.decodeProduceResponse(
          KafkaMiniBroker.exchange(in, out, KafkaWire.encodeProduce(
            0, "spec", Seq(PartitionBatch("t", 0, (0 until 3).map(i =>
              Record(s"k$i", s"v$i".getBytes)))), 1L)))
        val acks2 = KafkaWire.decodeProduceResponse(
          KafkaMiniBroker.exchange(in, out, KafkaWire.encodeProduce(
            1, "spec", Seq(
              PartitionBatch("t", 0, Seq(Record("k3", "v3".getBytes))),
              PartitionBatch("t", 1, Seq(Record("x", "y".getBytes)))), 2L)))
        assert(acks1 == Seq(("t", 0, 0.toShort, 0L)))
        assert(acks2.toSet ==
          Set(("t", 0, 0.toShort, 3L), ("t", 1, 0.toShort, 0L)))
        assert(broker.partitionEnds == Seq(("t", 0, 4L), ("t", 1, 1L)))
        // fetch from 0: both batches, absolute offsets from the rewrite
        val (hw, rs) = KafkaWire.decodeFetchResponse(
          KafkaMiniBroker.exchange(in, out,
            KafkaWire.encodeFetch(2, "spec", "t", 0, 0L, 1 << 20)))
        assert(hw == 4L)
        val batches = KafkaWire.decodeBatches(rs)
        assert(batches.map(_._1) == Seq(0L, 3L))
        assert(batches.flatMap(_._2).map(_.key) ==
          Seq("k0", "k1", "k2", "k3"))
        // CRC still verifies after the broker's baseOffset rewrite
        assert(batches.forall(_._2.nonEmpty))
        // fetch from mid-log: only the batch containing offset 3
        val (_, rs2) = KafkaWire.decodeFetchResponse(
          KafkaMiniBroker.exchange(in, out,
            KafkaWire.encodeFetch(3, "spec", "t", 0, 3L, 1 << 20)))
        assert(KafkaWire.decodeBatches(rs2).map(_._1) == Seq(3L))
        // tiny maxBytes: at least the first batch still returned
        val (_, rs3) = KafkaWire.decodeFetchResponse(
          KafkaMiniBroker.exchange(in, out,
            KafkaWire.encodeFetch(4, "spec", "t", 0, 0L, 1)))
        assert(KafkaWire.decodeBatches(rs3).map(_._1) == Seq(0L))
        // empty partition fetch: hw 0, no batches
        val (hw4, rs4) = KafkaWire.decodeFetchResponse(
          KafkaMiniBroker.exchange(in, out,
            KafkaWire.encodeFetch(5, "spec", "nope", 9, 0L, 64)))
        assert(hw4 == 0L && rs4.isEmpty)
      } finally sock.close()
      // consumer discovery: Metadata partition map + ListOffsets(latest)
      // agree with the broker's own view
      assert(KafkaMiniBroker.discoverEnds(port) ==
        Seq(("t", 0, 4L), ("t", 1, 1L)))
      assert(KafkaMiniBroker.discoverEnds(port, Seq("t")) ==
        Seq(("t", 0, 4L), ("t", 1, 1L)))
      assert(KafkaMiniBroker.discoverEnds(port, Seq("absent")).isEmpty)
      // a protocol the broker doesn't speak: connection drops, client sees
      // EOF instead of a hang
      val (sock2, in2, out2) = KafkaMiniBroker.connect(port)
      try {
        intercept[java.io.IOException] {
          KafkaMiniBroker.exchange(in2, out2,
            Array[Byte](0, 0, 0, 8, 0, 18, 0, 3, 0, 0, 0, 7))
        }
      } finally sock2.close()
      // stop(): held connections sever, new round trips die, the log
      // SURVIVES a start() on the same port — durable-log semantics
      broker.stop()
      intercept[java.io.IOException] {
        val (s3, i3, o3) = KafkaMiniBroker.connect(port)
        try KafkaMiniBroker.exchange(i3, o3,
          KafkaWire.encodeFetch(9, "spec", "t", 0, 0L, 64))
        finally s3.close()
      }
      assert(broker.start(port) == port)
      val (s4, i4, o4) = KafkaMiniBroker.connect(port)
      try {
        val (hwBack, _) = KafkaWire.decodeFetchResponse(
          KafkaMiniBroker.exchange(i4, o4,
            KafkaWire.encodeFetch(10, "spec", "t", 0, 0L, 1 << 20)))
        assert(hwBack == 4L)
      } finally s4.close()
    } finally broker.close()
  }

  test("KafkaMiniBroker: session-timeout eviction + generation fencing") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}
    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      KafkaMiniBroker.produceAll(port, "t", Iterator(Seq(
        KafkaWire.PartitionBatch("t", 0,
          Seq(KafkaWire.Record("k", "v".getBytes))))))
      broker.expectGroupMembers("g", 2)
      @volatile var a: (String, Int, Seq[Int]) = null
      val t = new Thread(() => {
        a = KafkaMiniBroker.groupAssign(port, "g", "t",
          sessionTimeoutMs = 30000)
      })
      t.start()
      val dl = System.currentTimeMillis() + 10000
      while (broker.groupSnapshot("g")._2.isEmpty &&
        System.currentTimeMillis() < dl) Thread.sleep(5)
      val b = KafkaMiniBroker.groupAssign(port, "g", "t",
        sessionTimeoutMs = 200)
      t.join(10000)
      assert(a._1 == "member-1" && b._1 == "member-2")
      assert(a._2 == 1 && b._2 == 1)
      // alive inside the window
      assert(KafkaMiniBroker.heartbeat(port, "g", 1, a._1) == 0)
      assert(KafkaMiniBroker.commitOffsetsFenced(port, "g", 1, a._1,
        "t", Seq((0, 1L))).forall(_._2 == 0))
      // b overdue: a's next heartbeat sweeps it out and signals 27
      Thread.sleep(350)
      assert(KafkaMiniBroker.heartbeat(port, "g", 1, a._1) == 27)
      broker.expectGroupMembers("g", 1)
      val (_, g2, parts2) = KafkaMiniBroker.groupAssign(port, "g", "t",
        memberId = a._1)
      assert(g2 == 2 && parts2 == Seq(0))
      assert(broker.groupSnapshot("g") ==
        ((2, Set(a._1), Set(b._1))))
      // fencing: evicted member 25 everywhere; stale generation 22;
      // rejected commits leave offsets untouched
      assert(KafkaMiniBroker.heartbeat(port, "g", 2, b._1) == 25)
      assert(KafkaMiniBroker.heartbeat(port, "g", 2, a._1) == 0)
      assert(KafkaMiniBroker.commitOffsetsFenced(port, "g", 2, b._1,
        "t", Seq((0, 9L))).forall(_._2 == 25))
      assert(KafkaMiniBroker.commitOffsetsFenced(port, "g", 1, a._1,
        "t", Seq((0, 9L))).forall(_._2 == 22))
      assert(KafkaMiniBroker.fetchCommitted(port, "g", "t",
        Seq(0)) == Map(0 -> 1L))
      assert(KafkaMiniBroker.commitOffsetsFenced(port, "g", 2, a._1,
        "t", Seq((0, 1L))).forall(_._2 == 0))
      // an evicted id that REJOINS is live again — the snapshot must
      // not report it as both live and evicted
      broker.expectGroupMembers("g", 2)
      @volatile var a2: (String, Int, Seq[Int]) = null
      val t2 = new Thread(() => {
        a2 = KafkaMiniBroker.groupAssign(port, "g", "t", memberId = a._1)
      })
      t2.start()
      val dl2 = System.currentTimeMillis() + 10000
      while (!broker.groupSnapshot("g")._2.contains(a._1) &&
        System.currentTimeMillis() < dl2) Thread.sleep(5)
      val bBack = KafkaMiniBroker.groupAssign(port, "g", "t",
        memberId = b._1)
      t2.join(10000)
      assert(a2._2 == 3 && bBack._2 == 3)
      val (g3, live3, evicted3) = broker.groupSnapshot("g")
      assert(g3 == 3 && live3 == Set(a._1, b._1))
      assert(evicted3.intersect(live3).isEmpty,
        s"rejoined ids still reported evicted: $evicted3")
    } finally broker.close()
  }

  test("KafkaMiniBroker: short batch refused at produce; early close") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}
    import KafkaWire.{PartitionBatch, Record}
    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      // Hand-rolled Produce v9 whose batch is 10 bytes — too short to
      // carry the v2 record count at byte 57. The broker must refuse it
      // (errorCode 2) and NOT store it: a stored runt would poison
      // every later fetch of the partition.
      val b = scala.collection.mutable.ArrayBuffer[Byte]()
      def i16(v: Int): Unit = { b += (v >> 8).toByte; b += v.toByte }
      def i32(v: Int): Unit =
        (24 to 0 by -8).foreach(s => b += (v >> s).toByte)
      i16(0); i16(9); i32(77)
      val cid = "runt".getBytes("UTF-8"); i16(cid.length); b ++= cid
      b += 0                                 // header tagged fields
      b += 0; i16(1); i32(30000)             // txn null, acks, timeout
      b += 2                                 // 1 topic (compact)
      val t = "t".getBytes("UTF-8"); b += (t.length + 1).toByte; b ++= t
      b += 2; i32(0)                         // 1 partition, id 0
      b += 11; b ++= Array.fill[Byte](10)(3) // 10-byte runt batch
      b += 0; b += 0; b += 0                 // tagged fields x3
      val (sock, in, out) = KafkaMiniBroker.connect(port)
      try {
        val wire = java.nio.ByteBuffer.allocate(4 + b.length)
          .putInt(b.length).put(b.toArray).array()
        val acks = KafkaWire.decodeProduceResponse(
          KafkaMiniBroker.exchange(in, out, wire))
        assert(acks == Seq(("t", 0, 2.toShort, -1L)))
        // partition untouched: a real produce then fetch-from-0 works
        // and starts at offset 0
        val acks2 = KafkaWire.decodeProduceResponse(
          KafkaMiniBroker.exchange(in, out, KafkaWire.encodeProduce(
            78, "runt", Seq(PartitionBatch("t", 0,
              Seq(Record("k", "v".getBytes)))), 1L)))
        assert(acks2 == Seq(("t", 0, 0.toShort, 0L)))
      } finally sock.close()
      // closeable range walk: closing early must release the broker
      // connection (conn count returns to baseline) without consuming
      KafkaMiniBroker.produceAll(port, "runt2", Iterator(Seq(
        PartitionBatch("t", 0, (0 until 50).map(i =>
          Record(s"k$i", s"$i".getBytes))))))
      val (it, closeFn) = KafkaMiniBroker.consumeRangeCloseable(
        port, "t", 0, 0L, 51L, maxBytes = 64)
      assert(it.hasNext)
      closeFn(); closeFn()                   // idempotent
      intercept[Exception] { while (it.hasNext) it.next() }
    } finally broker.close()
  }

  test("KafkaWire: broker-side parsers never throw on corrupt requests") {
    import graft.sinks.KafkaWire
    import KafkaWire.{PartitionBatch, Record}
    val produce = KafkaWire.encodeProduce(7, "fuzz", Seq(
      PartitionBatch("t", 0, Seq(Record("k", "v".getBytes)))), 1L).drop(4)
    val fetch = KafkaWire.encodeFetch(8, "fuzz", "t", 0, 5L, 64).drop(4)
    // truncation at every boundary
    (0 until produce.length).foreach { cut =>
      KafkaWire.parseProduce(produce.take(cut))
    }
    (0 until fetch.length).foreach { cut =>
      KafkaWire.parseFetch(fetch.take(cut))
    }
    // seeded bit flips: parse either succeeds or returns None — never
    // throws (the broker drops the connection on protocol error, it
    // must not die)
    val rnd = new scala.util.Random(0xfeed)
    (0 until 500).foreach { _ =>
      val p = produce.clone()
      p(rnd.nextInt(p.length)) =
        (p(rnd.nextInt(p.length)) ^ (1 << rnd.nextInt(8))).toByte
      KafkaWire.parseProduce(p)
      val f = fetch.clone()
      f(rnd.nextInt(f.length)) =
        (f(rnd.nextInt(f.length)) ^ (1 << rnd.nextInt(8))).toByte
      KafkaWire.parseFetch(f)
    }
    // round trips still hold on the clean payloads
    assert(KafkaWire.parseProduce(produce).exists(_.correlationId == 7))
    assert(KafkaWire.parseFetch(fetch).exists(r =>
      r.topic == "t" && r.offset == 5L))

    // the transaction APIs get the same treatment: truncations + flips
    val init = KafkaWire.encodeInitProducerId(9, "fuzz", "txn-x").drop(4)
    val endt = KafkaWire.encodeEndTxn(10, "fuzz", "txn-x", 5L, 1,
      commit = true).drop(4)
    (0 until init.length).foreach(c =>
      KafkaWire.parseInitProducerId(init.take(c)))
    (0 until endt.length).foreach(c => KafkaWire.parseEndTxn(endt.take(c)))
    (0 until 500).foreach { _ =>
      val a = init.clone()
      a(rnd.nextInt(a.length)) =
        (a(rnd.nextInt(a.length)) ^ (1 << rnd.nextInt(8))).toByte
      KafkaWire.parseInitProducerId(a)
      val e = endt.clone()
      e(rnd.nextInt(e.length)) =
        (e(rnd.nextInt(e.length)) ^ (1 << rnd.nextInt(8))).toByte
      KafkaWire.parseEndTxn(e)
    }
    assert(KafkaWire.parseInitProducerId(init)
      .exists(x => x._1 == 9 && x._3 == "txn-x"))
    assert(KafkaWire.parseEndTxn(endt)
      .exists(x => x._2 == "txn-x" && x._5))
    // a transactional produce from an unknown producer id must be
    // refused by the broker without touching the log — covered at the
    // state-machine level by the transactions test; here just prove the
    // txn fields survive the produce parse round trip
    val tp = KafkaWire.encodeProduce(11, "fuzz", Seq(
      PartitionBatch("t", 0, Seq(Record("k", "v".getBytes)))), 1L,
      txnId = Some("txn-x"), producerId = 99L, producerEpoch = 2).drop(4)
    val parsed = KafkaWire.parseProduce(tp)
    assert(parsed.exists(_.txnId.contains("txn-x")))
    assert(parsed.exists(p =>
      KafkaWire.batchTxnInfo(p.batches.head._3) == ((99L, 2, true))))

    // the consumer-group APIs too: truncations + flips on all five
    val cg = Seq(
      KafkaWire.encodeFindCoordinator(1, "fuzz", "g").drop(4),
      KafkaWire.encodeOffsetCommit(2, "fuzz", "g", "t",
        Seq((0, 1L))).drop(4),
      KafkaWire.encodeOffsetFetch(3, "fuzz", "g", "t", Seq(0, 1)).drop(4),
      KafkaWire.encodeJoinGroup(4, "fuzz", "g", "m", "t").drop(4),
      KafkaWire.encodeSyncGroup(5, "fuzz", "g", 1, "m",
        Seq(("m", KafkaWire.encodeAssignment("t", Seq(0))))).drop(4))
    def parseAny(b: Array[Byte]): Unit = {
      KafkaWire.parseFindCoordinator(b); KafkaWire.parseOffsetCommit(b)
      KafkaWire.parseOffsetFetch(b); KafkaWire.parseJoinGroup(b)
      KafkaWire.parseSyncGroup(b); ()
    }
    cg.foreach { req =>
      (0 until req.length).foreach(c => parseAny(req.take(c)))
      (0 until 200).foreach { _ =>
        val x = req.clone()
        x(rnd.nextInt(x.length)) =
          (x(rnd.nextInt(x.length)) ^ (1 << rnd.nextInt(8))).toByte
        parseAny(x)
      }
    }
    (0 until 64).foreach(c => KafkaWire.decodeAssignment(
      KafkaWire.encodeAssignment("t", Seq(0, 1)).take(c)))
  }

  // The sink's batch path: per-task transactions under a per-JOB txn
  // prefix (the write's queryId is folded in). Two separate batch jobs
  // with the same user prefix must both land — distinct queryIds mean
  // distinct txn ids, so the second job can never be swallowed by the
  // first job's commit-once markers (the silent-drop hazard of a fixed
  // epoch-0 prefix). Within-job retry dedup is q262's streaming leg;
  // here we pin the cross-job append semantics.
  test("KafkaMiniSink batch writes: distinct jobs never collide on txn ids") {
    import graft.sinks.KafkaMiniBroker
    val spark = SparkSuite.spark
    import spark.implicits._
    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      def writeOnce(): Unit =
        (1 to 10).map(i => (s"k$i", s"v$i".getBytes("UTF-8")))
          .toDF("key", "value").repartition(2)
          .write.format("graft.sinks.KafkaMiniSink")
          .option("port", port.toString).option("topic", "bt")
          .option("partitions", "2").option("txnprefix", "batch-x")
          .mode("append").save()
      writeOnce()
      def landed(): Seq[String] = broker.partitionEnds
        .filter(_._1 == "bt")
        .flatMap { case (t, p, hw) =>
          KafkaMiniBroker.consume(port, t, p, hw).map(_._2.key)
        }
      val first = landed()
      assert(first.sorted == (1 to 10).map(i => s"k$i").sorted.toSeq)
      writeOnce() // a NEW logical job: fresh queryId, fresh txn ids
      assert(landed().size == 20,
        "second batch job was silently dropped by txn-id collision")
      val (c, _, _) = broker.txnStats
      assert(c == 4) // one commit per nonempty partition per job
    } finally broker.close()
  }

  test("RespMiniServer: SETEX keyspace, down/up cycle, severed conns") {
    import graft.sinks.RespMiniServer
    val server = new RespMiniServer
    val port = server.start()
    try {
      val c = new RespMiniServer.Conn(port)
      assert(c.call(Seq("PING")) == "+PONG")
      assert(c.call(Seq("SETEX", "k1", "3", "v1")) == "+OK")
      assert(c.call(Seq("SETEX", "k1", "3", "v2")) == "+OK")
      // Conn.call is the simple-string health path: -ERR surfaces as an
      // exception (bulk GET replies are the server's other client's
      // concern; the health code never GETs)
      intercept[java.io.IOException] { c.call(Seq("FLUSHALL")) }
      val c2 = new RespMiniServer.Conn(port)
      assert(c2.call(Seq("SETEX", "k2", "3", "x")) == "+OK")
      server.stop()
      // held connection severed mid-air; new round trips die too
      intercept[java.io.IOException] { c2.call(Seq("PING")) }
      intercept[java.io.IOException] {
        new RespMiniServer.Conn(port).call(Seq("PING"))
      }
      // keyspace survives the restart; refresh counts kept
      assert(server.start(port) == port)
      val c3 = new RespMiniServer.Conn(port)
      assert(c3.call(Seq("SETEX", "k1", "3", "v3")) == "+OK")
      c3.close()
      assert(server.snapshot == Seq(("k1", "v3", 3L), ("k2", "x", 1L)))
    } finally server.close()
  }

  // Consumer-group subset: FindCoordinator v0 + OffsetCommit/Fetch v0 —
  // the broker-side offset store a restarted consumer recovers from.
  test("Kafka consumer groups: commit, fetch, restart survival") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}

    // wire round-trips (strip the 4-byte size prefix for the parses)
    val fc = KafkaWire.encodeFindCoordinator(3, "c", "g1")
    val Some((3, "g1")) = KafkaWire.parseFindCoordinator(
      java.util.Arrays.copyOfRange(fc, 4, fc.length)): @unchecked
    val oc = KafkaWire.encodeOffsetCommit(4, "c", "g1", "t",
      Seq((0, 17L), (2, 5L)))
    val Some((4, "g1", "t", Seq((0, 17L), (2, 5L)))) =
      KafkaWire.parseOffsetCommit(java.util.Arrays.copyOfRange(
        oc, 4, oc.length)): @unchecked
    val of = KafkaWire.encodeOffsetFetch(5, "c", "g1", "t", Seq(0, 1, 2))
    val Some((5, "g1", "t", Seq(0, 1, 2))) =
      KafkaWire.parseOffsetFetch(java.util.Arrays.copyOfRange(
        of, 4, of.length)): @unchecked

    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      // nothing committed yet: -1 per partition (auto.offset.reset lane)
      assert(KafkaMiniBroker.fetchCommitted(port, "g1", "t",
        Seq(0, 1)) == Map(0 -> -1L, 1 -> -1L))
      KafkaMiniBroker.commitOffsets(port, "g1", "t", Seq((0, 42L), (1, 7L)))
      assert(KafkaMiniBroker.fetchCommitted(port, "g1", "t",
        Seq(0, 1)) == Map(0 -> 42L, 1 -> 7L))
      // groups and topics are independent keyspaces
      assert(KafkaMiniBroker.fetchCommitted(port, "g2", "t",
        Seq(0))(0) == -1L)
      assert(KafkaMiniBroker.fetchCommitted(port, "g1", "u",
        Seq(0))(0) == -1L)
      // re-commit overwrites (latest wins, like __consumer_offsets)
      KafkaMiniBroker.commitOffsets(port, "g1", "t", Seq((0, 50L)))
      assert(KafkaMiniBroker.fetchCommitted(port, "g1", "t",
        Seq(0))(0) == 50L)
      // offsets survive a broker stop/start (durable-log semantics)
      broker.stop()
      intercept[Exception] {
        KafkaMiniBroker.fetchCommitted(port, "g1", "t", Seq(0))
      }
      broker.start(port)
      assert(KafkaMiniBroker.fetchCommitted(port, "g1", "t",
        Seq(0, 1)) == Map(0 -> 50L, 1 -> 7L))
    } finally broker.close()
  }

  // Group membership subset: JoinGroup/SyncGroup v0 — the broker-
  // coordinated partition-assignment half of the consumer-group story
  // (offsets half above). The broker elects the first joiner leader
  // and relays assignment bytes; policy is client-side, as in Kafka.
  test("Kafka group membership: join barrier, leader assign, rebalance") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}

    // wire round-trips
    val jg = KafkaWire.encodeJoinGroup(5, "c", "g", "", "t", 12345)
    val Some((5, "g", "", meta, 12345)) = KafkaWire.parseJoinGroup(
      java.util.Arrays.copyOfRange(jg, 4, jg.length)): @unchecked
    assert(meta.length > 0)
    val hb = KafkaWire.encodeHeartbeat(7, "c", "g", 3, "m1")
    assert(KafkaWire.parseHeartbeat(
      java.util.Arrays.copyOfRange(hb, 4, hb.length))
      .contains((7, "g", 3, "m1")))
    assert(KafkaWire.decodeHeartbeatResponse(java.util.Arrays.copyOfRange(
      KafkaWire.encodeHeartbeatResponse(7, 27), 4, 10)) == 27)
    val oc1 = KafkaWire.encodeOffsetCommitV1(8, "c", "g", 3, "m1", "t",
      Seq((0, 5L), (2, 9L)))
    assert(KafkaWire.parseOffsetCommitV1(
      java.util.Arrays.copyOfRange(oc1, 4, oc1.length))
      .contains((8, "g", 3, "m1", "t", Seq((0, 5L), (2, 9L)))))
    val asn = KafkaWire.encodeAssignment("t", Seq(0, 2, 3))
    assert(KafkaWire.decodeAssignment(asn).contains(("t", Seq(0, 2, 3))))
    // multi-topic subscription + assignment round-trips
    assert(KafkaWire.decodeSubscription(meta).contains(Seq("t")))
    val jg2 = KafkaWire.encodeJoinGroupTopics(5, "c", "g", "",
      Seq("ta", "tb"), 12345)
    val Some((_, _, _, meta2, _)) = KafkaWire.parseJoinGroup(
      java.util.Arrays.copyOfRange(jg2, 4, jg2.length)): @unchecked
    assert(KafkaWire.decodeSubscription(meta2).contains(Seq("ta", "tb")))
    val multiAsn = KafkaWire.encodeAssignment(
      Seq(("ta", Seq(0, 1)), ("tb", Seq(2))))
    assert(KafkaWire.decodeAssignmentAll(multiAsn)
      .contains(Seq(("ta", Seq(0, 1)), ("tb", Seq(2)))))
    assert(KafkaWire.decodeAssignment(multiAsn)
      .contains(("ta", Seq(0, 1))))
    // an empty assignment is valid (a member left with nothing)
    assert(KafkaWire.decodeAssignmentAll(
      KafkaWire.encodeAssignment(Seq.empty)).contains(Seq.empty))
    (0 until 40).foreach(c =>
      KafkaWire.decodeAssignmentAll(multiAsn.take(c)))
    val sg = KafkaWire.encodeSyncGroup(6, "c", "g", 1, "m1",
      Seq(("m1", asn)))
    val Some((6, "g", 1, "m1", Seq(("m1", back)))) =
      KafkaWire.parseSyncGroup(java.util.Arrays.copyOfRange(
        sg, 4, sg.length)): @unchecked
    assert(back.sameElements(asn))

    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      // seed a 4-partition topic so Metadata/ListOffsets see it
      KafkaMiniBroker.produceAll(port, "seed", Iterator(
        (0 until 4).map(p => KafkaWire.PartitionBatch("t", p,
          Seq(KafkaWire.Record(s"k$p", Array[Byte](1)))))))
      broker.expectGroupMembers("g", 3)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val futures = (0 until 3).map(_ => pool.submit(
          new java.util.concurrent.Callable[(String, Int, Seq[Int])] {
            def call() = KafkaMiniBroker.groupAssign(port, "g", "t")
          }))
        val rs = futures.map(_.get(20, java.util.concurrent.TimeUnit.SECONDS))
        assert(rs.map(_._2).distinct == Seq(1)) // one generation
        assert(rs.map(_._1).distinct.size == 3) // distinct member ids
        // assignment is a disjoint, complete cover of the partitions
        val all = rs.flatMap(_._3)
        assert(all.sorted == Seq(0, 1, 2, 3))
        // REBALANCE: a second full round bumps the generation and
        // re-covers the partitions
        val futures2 = (0 until 3).map(_ => pool.submit(
          new java.util.concurrent.Callable[(String, Int, Seq[Int])] {
            def call() = KafkaMiniBroker.groupAssign(port, "g", "t")
          }))
        val rs2 = futures2.map(_.get(20,
          java.util.concurrent.TimeUnit.SECONDS))
        assert(rs2.map(_._2).distinct == Seq(2))
        assert(rs2.flatMap(_._3).sorted == Seq(0, 1, 2, 3))
      } finally pool.shutdownNow()
    } finally broker.close()
  }

  test("Kafka group: per-topic range assignment, uneven subscriptions") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}
    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      // ta: 3 partitions, tb: 2 partitions
      KafkaMiniBroker.produceAll(port, "seed", Iterator(
        (0 until 3).map(p => KafkaWire.PartitionBatch("ta", p,
          Seq(KafkaWire.Record(s"a$p", Array[Byte](1))))) ++
        (0 until 2).map(p => KafkaWire.PartitionBatch("tb", p,
          Seq(KafkaWire.Record(s"b$p", Array[Byte](1)))))))
      // member 1 subscribes BOTH topics, member 2 only ta: the range
      // assignor is per-topic over each topic's OWN subscribers — tb
      // must land entirely on the sole subscriber
      broker.expectGroupMembers("g", 2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        type R = (String, Int, Seq[(String, Seq[Int])])
        val fBoth = pool.submit(new java.util.concurrent.Callable[R] {
          def call() = KafkaMiniBroker.groupAssignTopics(port, "g",
            Seq("ta", "tb"))
        })
        // wait until the first joiner is registered so member ids are
        // deterministic (member-1 = both-topics subscriber)
        val dl = System.currentTimeMillis() + 10000
        while (broker.groupSnapshot("g")._2.isEmpty &&
          System.currentTimeMillis() < dl) Thread.sleep(5)
        val fTa = pool.submit(new java.util.concurrent.Callable[R] {
          def call() = KafkaMiniBroker.groupAssignTopics(port, "g",
            Seq("ta"))
        })
        val both = fBoth.get(20, java.util.concurrent.TimeUnit.SECONDS)
        val taOnly = fTa.get(20, java.util.concurrent.TimeUnit.SECONDS)
        assert(both._1 == "member-1" && taOnly._1 == "member-2")
        // ta has 2 subscribers: 3 parts → member-1 gets 2 (the extra),
        // member-2 gets 1; tb's only subscriber takes both partitions
        assert(both._3 == Seq(("ta", Seq(0, 1)), ("tb", Seq(0, 1))))
        assert(taOnly._3 == Seq(("ta", Seq(2))))
      } finally pool.shutdownNow()
    } finally broker.close()
  }

  // KIP-98 subset: the transactional protocol the exactly-once sink
  // rides (KafkaMiniSink). Wire round-trips + the broker's coordinator
  // semantics: staging until commit, atomic visibility, abort discard,
  // zombie fencing on re-init, stale-epoch rejection, commit-once.
  test("Kafka transactions: fencing, atomic commit, commit-once") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}
    import graft.sinks.KafkaWire.{PartitionBatch, Record}

    // wire round-trips
    val ip = KafkaWire.encodeInitProducerId(7, "c", "txn-a")
    val Some((7, "c", "txn-a")) =
      KafkaWire.parseInitProducerId(java.util.Arrays.copyOfRange(
        ip, 4, ip.length)): @unchecked
    val et = KafkaWire.encodeEndTxn(8, "c", "txn-a", 55L, 3, commit = true)
    val Some((8, "txn-a", 55L, 3, true)) =
      KafkaWire.parseEndTxn(java.util.Arrays.copyOfRange(
        et, 4, et.length)): @unchecked
    val b = KafkaWire.encodeBatch(Seq(Record("k", Array[Byte](1))),
      1L, producerId = 42L, producerEpoch = 2, transactional = true)
    assert(KafkaWire.batchTxnInfo(b) == ((42L, 2, true)))
    assert(KafkaWire.decodeBatch(b).map(_.key) == Seq("k")) // CRC holds

    val broker = new KafkaMiniBroker
    val port = broker.start()
    try {
      def conn() = KafkaMiniBroker.connect(port)
      def produce(in: java.io.DataInputStream,
                  out: java.io.DataOutputStream, txn: String, pid: Long,
                  ep: Int, n: Int, tag: String) = {
        KafkaWire.decodeProduceResponse(KafkaMiniBroker.exchange(in, out,
          KafkaWire.encodeProduce(0, "spec", Seq(PartitionBatch(
            "t", 0, (1 to n).map(i => Record(s"$tag$i",
              s"$tag$i".getBytes)))), 1L, txnId = Some(txn),
            producerId = pid, producerEpoch = ep)))
      }
      // attempt 1 opens txn, stages 3 records, dies without commit
      val (s1, in1, out1) = conn()
      val (pid1, ep1) = KafkaMiniBroker.initProducer(in1, out1, "w-p0")
      assert(produce(in1, out1, "w-p0", pid1, ep1, 3, "dead").forall(_._3 == 0))
      // nothing visible before any commit
      assert(KafkaMiniBroker.discoverEnds(port).isEmpty)

      // attempt 2 re-inits the SAME id: epoch bumps, zombie txn dropped
      val (s2, in2, out2) = conn()
      val (pid2, ep2) = KafkaMiniBroker.initProducer(in2, out2, "w-p0")
      assert(pid2 != pid1 && ep2 == ep1 + 1)
      // the zombie's stale identity is now fenced on produce and commit
      assert(produce(in1, out1, "w-p0", pid1, ep1, 1, "z").forall(_._3 == 47))
      assert(KafkaMiniBroker.endTxn(in1, out1, "w-p0", pid1, ep1,
        commit = true) == 47)
      s1.close()

      // attempt 2 stages 2 records and commits: atomic visibility
      assert(produce(in2, out2, "w-p0", pid2, ep2, 2, "live").forall(_._3 == 0))
      assert(KafkaMiniBroker.discoverEnds(port).isEmpty) // still staged
      assert(KafkaMiniBroker.endTxn(in2, out2, "w-p0", pid2, ep2,
        commit = true) == 0)
      val keys = KafkaMiniBroker.consume(port, "t", 0, 2L)
        .map(_._2.key).toSeq
      assert(keys == Seq("live1", "live2")) // zombie rows never landed

      // replayed epoch: re-commit answers 48 (already committed), and a
      // produce into the committed txn is refused with 48 too
      assert(KafkaMiniBroker.endTxn(in2, out2, "w-p0", pid2, ep2,
        commit = true) == 48)
      val (s3, in3, out3) = conn()
      val (pid3, ep3) = KafkaMiniBroker.initProducer(in3, out3, "w-p0")
      assert(produce(in3, out3, "w-p0", pid3, ep3, 1, "re").forall(_._3 == 48))
      assert(KafkaMiniBroker.endTxn(in3, out3, "w-p0", pid3, ep3,
        commit = true) == 48)
      s3.close(); s2.close()

      // abort path: stage then abort leaves the log untouched
      val (s4, in4, out4) = conn()
      val (pid4, ep4) = KafkaMiniBroker.initProducer(in4, out4, "w-p1")
      assert(produce(in4, out4, "w-p1", pid4, ep4, 2, "ab").forall(_._3 == 0))
      assert(KafkaMiniBroker.endTxn(in4, out4, "w-p1", pid4, ep4,
        commit = false) == 0)
      s4.close()
      assert(KafkaMiniBroker.consume(port, "t", 0, 2L).size == 2)

      val (c, a, f) = broker.txnStats
      assert(c == 1 && a == 2 && f >= 2, s"stats=($c,$a,$f)")
    } finally broker.close()
  }

  test("SCRAM-SHA-256: RFC 7677 §3 official test vector") {
    import graft.sinks.Scram
    import java.util.Base64
    // the RFC's exchange: user/pencil, fixed nonces, salt, i=4096
    val cnonce = "rOprNGfwEbeRWgbNEkqO"
    val snonce = "%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0"
    val salt = Base64.getDecoder.decode("W22ZaJ0SNY7soEsUEjb6gQ==")
    val cred = Scram.credential("SCRAM-SHA-256", "pencil", salt, 4096)
    val cl = new Scram.Client("SCRAM-SHA-256", "user", "pencil", cnonce)
    assert(new String(cl.firstMessage, "UTF-8") ==
      "n,,n=user,r=rOprNGfwEbeRWgbNEkqO")
    val srv = new Scram.Server(
      u => if (u == "user") Some(cred) else None, snonce)
    val Right((serverFirst, false)) = srv.step(cl.firstMessage)
    assert(new String(serverFirst, "UTF-8") ==
      "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
        "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    val clientFinal = cl.finalMessage(serverFirst)
    assert(new String(clientFinal, "UTF-8") ==
      "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    val Right((serverFinal, true)) = srv.step(clientFinal)
    assert(new String(serverFinal, "UTF-8") ==
      "v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    assert(cl.verifyServerFinal(serverFinal))
  }

  test("SCRAM: wrong password, unknown user, tampered signature, 512") {
    import graft.sinks.Scram
    val salt = Array.tabulate[Byte](16)(_.toByte)
    for (mech <- Seq("SCRAM-SHA-256", "SCRAM-SHA-512")) {
      val cred = Scram.credential(mech, "right", salt, 1024)
      def srv() = new Scram.Server(
        u => if (u == "alice") Some(cred) else None, "SNONCE99")
      // good run
      val c1 = new Scram.Client(mech, "alice", "right", "CN1")
      val s1 = srv()
      val Right((sf1, false)) = s1.step(c1.firstMessage)
      val Right((fin1, true)) = s1.step(c1.finalMessage(sf1))
      assert(c1.verifyServerFinal(fin1))
      // wrong password: server refuses the proof
      val c2 = new Scram.Client(mech, "alice", "wrong", "CN2")
      val s2 = srv()
      val Right((sf2, false)) = s2.step(c2.firstMessage)
      assert(s2.step(c2.finalMessage(sf2)).isLeft)
      // unknown user refused at client-first
      val c3 = new Scram.Client(mech, "mallory", "right", "CN3")
      assert(srv().step(c3.firstMessage).isLeft)
      // tampered server-final signature detected client-side
      val c4 = new Scram.Client(mech, "alice", "right", "CN4")
      val s4 = srv()
      val Right((sf4, false)) = s4.step(c4.firstMessage)
      val Right((fin4, true)) = s4.step(c4.finalMessage(sf4))
      val bad = fin4.clone(); bad(bad.length - 5) =
        (bad(bad.length - 5) ^ 1).toByte
      assert(!c4.verifyServerFinal(bad))
      // a server nonce that fails to extend the client's is refused
      val c5 = new Scram.Client(mech, "alice", "right", "CN5")
      intercept[IllegalArgumentException] {
        c5.finalMessage("r=EVIL,s=AAAA,i=1024".getBytes("UTF-8"))
      }
    }
  }

  test("KafkaMiniBroker SCRAM: live challenge-response, PLAIN refused") {
    import graft.sinks.{KafkaMiniBroker, KafkaWire}
    val broker = new KafkaMiniBroker
    val port = broker.start()
    broker.requireScram("pmacct", "s3cret", "SCRAM-SHA-512")
    try {
      // PLAIN handshake refused with 33, SCRAM-SHA-512 advertised
      val (s1, in1, out1) = KafkaMiniBroker.connect(port)
      val (he, mechs) = KafkaWire.decodeSaslHandshakeResponse(
        KafkaMiniBroker.exchange(in1, out1,
          KafkaWire.encodeSaslHandshake(0, "c", "PLAIN")))
      assert(he == 33 && mechs == Seq("SCRAM-SHA-512"))
      s1.close()
      // full SCRAM login, then an authenticated produce works
      val (s2, in2, out2) = KafkaMiniBroker.connect(port)
      assert(KafkaMiniBroker.authenticateScram(in2, out2,
        "pmacct", "s3cret", "SCRAM-SHA-512") == 0)
      val acks = KafkaWire.decodeProduceResponse(
        KafkaMiniBroker.exchange(in2, out2,
          KafkaWire.encodeProduce(5, "c", Seq(KafkaWire.PartitionBatch(
            "t", 0, Seq(KafkaWire.Record("k", "v".getBytes)))), 0L)))
      assert(acks.forall(_._3 == 0))
      s2.close()
      // wrong password refused with 58; connection dead afterwards
      val (s3, in3, out3) = KafkaMiniBroker.connect(port)
      assert(KafkaMiniBroker.authenticateScram(in3, out3,
        "pmacct", "nope", "SCRAM-SHA-512") == 58)
      intercept[java.io.IOException] {
        KafkaMiniBroker.exchange(in3, out3,
          KafkaWire.encodeListGroups(9, "c"))
      }
      s3.close()
    } finally broker.close()
  }
}
