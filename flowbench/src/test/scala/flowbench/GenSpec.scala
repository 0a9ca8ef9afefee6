package flowbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NetFlowV9

class GenSpec extends AnyFunSuite {

  private def small(seed: Long) =
    Gen.replayCorpus(seed, nDgs = 300, ribSize = 3000, sampleKeys = 16)

  test("same seed gives byte-identical datagrams and records") {
    val a = small(11)
    val b = small(11)
    assert(a.datagrams.size == b.datagrams.size)
    a.datagrams.zip(b.datagrams).foreach { case (x, y) =>
      assert(x.exporter == y.exporter)
      assert(java.util.Arrays.equals(x.payload, y.payload))
    }
    assert(a.records == b.records)
    assert(a.rib == b.rib && a.rules == b.rules && a.sample == b.sample)
  }

  test("a different seed gives different datagrams and records") {
    val a = small(11)
    val b = small(12)
    assert(a.records != b.records)
    assert(!a.datagrams.zip(b.datagrams).forall { case (x, y) =>
      java.util.Arrays.equals(x.payload, y.payload)
    })
  }

  test("expected totals and sampled keys match a plain fold") {
    val c = small(5)
    val folded = c.records.foldLeft(Gen.Sums.Zero) { (s, r) =>
      s + Gen.Sums(r.bytes, r.pkts, 1L)
    }
    assert(c.totals == folded)
    assert(c.sample.nonEmpty)
    c.sample.foreach { case (k, sums) =>
      val matching = c.records.filter { r =>
        r.firstMs / 300000L * 300L == k.bin && r.src == k.src &&
          r.dst == k.dst && r.dport == k.dport && r.proto == k.proto &&
          Gen.tagOf(c.rules, r) == k.tag &&
          Gen.lpmScan(c.rib, r.dst) == k.dstAs
      }
      assert(matching.nonEmpty)
      assert(sums == Gen.Sums(matching.map(_.bytes).sum,
        matching.map(_.pkts).sum, matching.size.toLong))
    }
  }

  test("corpus shape: MTU-sized datagrams, mixed v9/IPFIX, early data") {
    val c = small(3)
    val data = c.datagrams.filter(_.payload.length > 200)
    assert(data.size == 300)
    assert(data.forall(_.payload.length <= 1500))
    val versions = data.map(d => ((d.payload(0) & 0xff) << 8) | (d.payload(1) & 0xff))
    assert(versions.toSet == Set(9, 10))
    assert(c.earlyDataDgs > 0)
    assert(c.templateDgs == c.datagrams.size - 300)
    // Zipf volume: the busiest exporter sends far more than the median
    val sorted = c.exporterDgs.sorted
    assert(sorted.last > 4 * sorted(sorted.size / 2))
  }

  test("every generated record decodes back from the datagrams") {
    val c = small(9)
    val caches = scala.collection.mutable.Map[String, NetFlowV9.TemplateCache]()
    val decoded = c.datagrams.flatMap { d =>
      caches.getOrElseUpdate(d.exporter, new NetFlowV9.TemplateCache)
        .observe(d.payload)
    }
    assert(decoded.size == c.records.size)
    assert(decoded.map(_(NetFlowV9.IE.InBytes)).sum == c.totals.bytes)
    assert(decoded.map(_(Gen.FlowId)).toSet == c.records.map(_.id).toSet)
  }

  test("longest-prefix scan picks the most specific prefix") {
    val t = IndexedSeq((0x0a000000L, 8, 1L), (0x0a010200L, 24, 2L),
      (0x0a010203L, 32, 3L))
    assert(Gen.lpmScan(t, 0x0a010203L) == 3L)
    assert(Gen.lpmScan(t, 0x0a010204L) == 2L)
    assert(Gen.lpmScan(t, 0x0a7f0000L) == 1L)
    assert(Gen.lpmScan(t, 0x0b000000L) == 0L)
  }

  test("pre_tag rules: first match wins and render as pre_tag_map") {
    val rules = IndexedSeq(
      Gen.TagRule(100, Some(3), Some(6), Some(443)),
      Gen.TagRule(101, None, Some(6), None))
    val r = Gen.Rec(0x0a000003L, 1L, 1000, 443, 6, 2, 0, 1, 1, 100, 1, 0, 0)
    assert(Gen.tagOf(rules, r) == 100L)
    assert(Gen.tagOf(rules, r.copy(dport = 80)) == 101L)
    assert(Gen.tagOf(rules, r.copy(proto = 17)) == 0L)
    assert(Gen.preTagMapConf(rules) ==
      "set_tag=100 ip=3 filter='proto 6 and dst port 443'; " +
        "set_tag=101 filter='proto 6'")
  }

  test("stream and IMT generators are deterministic per seed") {
    def stream(seed: Long) = {
      val t = new Gen.StreamTraffic(seed)
      (0 until 20).flatMap(i => t.records(i % 4, 1000L * i))
    }
    assert(stream(4) == stream(4))
    assert(stream(4) != stream(5))
    def imt(seed: Long) = {
      val g = new Gen.ImtBatches(seed)
      (g.next(500, 1.0), g.next(500, 0.1), g.pick())
    }
    assert(imt(4) == imt(4))
    assert(imt(4) != imt(5))
    val (first, second, _) = imt(4)
    assert(first.map(_._1).distinct.size == 500)
    // mostly updates of issued keys
    assert(second.count { case (k, _) => first.exists(_._1 == k) } > 400)
  }

  test("tail is the highest ladder percentile with ten samples beyond") {
    val s = Stats.summarize((1 to 100).map(_.toDouble))
    assert(s.tailPct == 90.0 && s.tail == 90.0 && s.beyond == 10)
    assert(s.p50 == 50.0)
    val few = Stats.summarize((1 to 8).map(_.toDouble))
    assert(few.tailPct == 50.0 && few.beyond == 4)
  }
}
