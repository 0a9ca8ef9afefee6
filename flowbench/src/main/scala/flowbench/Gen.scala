package flowbench

import java.util.SplittableRandom
import scala.collection.mutable

import graft.sources.NetFlowV9
import NetFlowV9.{IE, Template, V9Header}

/** Seeded traffic synthesis for the three workloads.
  *
  * Everything here is plain Scala: the same seed gives byte-identical
  * datagrams and rows, and the expected results are folded from the
  * generated records by code that shares nothing with the engine (own
  * longest-prefix scan, own first-match tag rules, own bin arithmetic).
  */
object Gen {

  /** One synthetic flow record, in the units NetFlow carries. */
  final case class Rec(src: Long, dst: Long, sport: Int, dport: Int,
                       proto: Int, flags: Int, tos: Int, inIf: Int,
                       outIf: Int, bytes: Long, pkts: Long,
                       firstMs: Long, lastMs: Long, id: Long = 0L) {
    def fields: Map[Int, Long] = Map(
      IE.Ipv4SrcAddr -> src, IE.Ipv4DstAddr -> dst,
      IE.L4SrcPort -> sport.toLong, IE.L4DstPort -> dport.toLong,
      IE.Protocol -> proto.toLong, IE.TcpFlags -> flags.toLong,
      SrcTos -> tos.toLong, InputSnmp -> inIf.toLong,
      OutputSnmp -> outIf.toLong, IE.InBytes -> bytes, IE.InPkts -> pkts,
      IE.FirstSwitchedMsec -> firstMs, IE.LastSwitchedMsec -> lastMs,
      FlowId -> id)
  }

  val SrcTos = 5
  val InputSnmp = 10
  val OutputSnmp = 14
  /** flowId, sent in a reduced 4-byte encoding: data datagram index << 8
    * | record index, so a traced run can tell which datagrams decoded. */
  val FlowId = 148

  /** The exporters' data template: 47-byte records, so 24-30 records
    * fill one MTU-sized datagram. */
  val Fields: Seq[(Int, Int)] = Seq(
    IE.Ipv4SrcAddr -> 4, IE.Ipv4DstAddr -> 4, IE.L4SrcPort -> 2,
    IE.L4DstPort -> 2, IE.Protocol -> 1, IE.TcpFlags -> 1, SrcTos -> 1,
    InputSnmp -> 2, OutputSnmp -> 2, IE.InBytes -> 4, IE.InPkts -> 4,
    IE.FirstSwitchedMsec -> 8, IE.LastSwitchedMsec -> 8, FlowId -> 4)

  /** Flow start of every corpus: 2023-11-14T22:00:00Z. */
  val EpochMs = 1700000000000L - 1700000000000L % 3600000L

  // ---- sampling helpers --------------------------------------------------

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  val CommonPorts: Array[Int] = Array(443, 80, 53, 8080, 123, 22, 25, 993,
    3389, 5060, 1935, 8443, 587, 110, 143, 3306, 5432, 6379, 9092, 27017,
    179, 161, 514, 2055)

  // ---- enrichment tables -------------------------------------------------

  /** RIB-like prefix table: (base, len, asn). Mostly /24s, like a full
    * IPv4 table; /8../32 all present, bases distinct per length. */
  def rib(seed: Long, n: Int): IndexedSeq[(Long, Int, Long)] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    // (len, weight) — the shape of a default-free-zone table
    val lens = Seq(8 -> 1, 12 -> 2, 14 -> 4, 16 -> 50, 18 -> 40, 19 -> 60,
      20 -> 90, 21 -> 90, 22 -> 150, 23 -> 120, 24 -> 550, 25 -> 4,
      26 -> 6, 27 -> 4, 28 -> 4, 29 -> 6, 30 -> 4, 32 -> 15)
    val total = lens.map(_._2).sum
    val seen = mutable.HashSet[(Long, Int)]()
    val out = mutable.ArrayBuffer[(Long, Int, Long)]()
    while (out.size < n) {
      var pick = r.nextInt(total)
      val len = lens.find { case (_, w) => pick -= w; pick < 0 }.get._1
      val base = mask(r.nextLong() & 0xffffffffL, len)
      if (seen.add(base -> len))
        out += ((base, len, 1L + r.nextInt(64511)))
    }
    out.toIndexedSeq
  }

  def mask(ip: Long, len: Int): Long =
    if (len == 0) 0L else (ip >>> (32 - len)) << (32 - len)

  /** Longest match by a full scan — slow, obviously right, and shares no
    * code with the engine's hash-per-length lookup. 0 on a miss. */
  def lpmScan(table: IndexedSeq[(Long, Int, Long)], ip: Long): Long = {
    var bestLen = -1
    var best = 0L
    var i = 0
    while (i < table.length) {
      val (base, len, asn) = table(i)
      if (len > bestLen && mask(ip, len) == base) { bestLen = len; best = asn }
      i += 1
    }
    best
  }

  /** One pre_tag_map rule: first match wins; `None` matches anything.
    * `exporter` is the low nibble of ip_src, the engine's model of
    * `ip=`. */
  final case class TagRule(tag: Long, exporter: Option[Int],
                           proto: Option[Int], dport: Option[Int]) {
    def matches(r: Rec): Boolean =
      exporter.forall(_ == (r.src & 15L).toInt) &&
        proto.forall(_ == r.proto) && dport.forall(_ == r.dport)
    def conf: String = {
      val f = (proto.map(p => s"proto $p").toSeq ++
        dport.map(p => s"dst port $p").toSeq).mkString(" and ")
      (Seq(s"set_tag=$tag") ++ exporter.map(e => s"ip=$e").toSeq ++
        (if (f.isEmpty) Nil else Seq(s"filter='$f'"))).mkString(" ")
    }
  }

  def tagRules(seed: Long, n: Int): IndexedSeq[TagRule] = {
    val r = new SplittableRandom(seed ^ 0x7a9L)
    (0 until n).map { i =>
      val kind = i % 4
      TagRule(100L + i,
        if (kind != 3) Some(r.nextInt(16)) else None,
        if (kind == 0 || kind == 3) Some(if (r.nextInt(4) == 0) 17 else 6)
        else None,
        if (kind != 1) Some(CommonPorts(r.nextInt(8))) else None)
    }
  }

  def tagOf(rules: IndexedSeq[TagRule], r: Rec): Long = {
    var i = 0
    while (i < rules.length) {
      if (rules(i).matches(r)) return rules(i).tag
      i += 1
    }
    0L
  }

  def preTagMapConf(rules: Seq[TagRule]): String =
    rules.map(_.conf).mkString("; ")

  // ---- record synthesis --------------------------------------------------

  /** Draws flow records for one exporter population. A `repeat` share of
    * records continues one of the recent conversations (same hosts, port
    * and protocol), Zipf-skewed, the way real flow caches see long-lived
    * talkers. */
  final class Traffic(seed: Long, table: IndexedSeq[(Long, Int, Long)],
                      hosts: Int, ports: Int, missShare: Double,
                      repeat: Double = 0.0) {
    private val r = new SplittableRandom(seed)
    private val dstPool =
      if (table.isEmpty) IndexedSeq.empty
      else IndexedSeq.fill(1024)(table(r.nextInt(table.length)))
    private val dstZipf = new Zipf(math.max(1, dstPool.size), 1.0)
    private val hostZipf = new Zipf(hosts, 1.1)
    private val portZipf = new Zipf(math.min(ports, CommonPorts.length), 1.0)
    private val Recent = 2048
    private val convs = mutable.ArrayBuffer[(Long, Long, Int, Int)]()
    private val convZipf = new Zipf(Recent, 1.0)

    private def conversation(exporter: Int): (Long, Long, Int, Int) = {
      val proto = r.nextInt(100) match {
        case x if x < 75 => 6
        case x if x < 97 => 17
        case _ => 1
      }
      val src = (0x0a000000L | (exporter.toLong << 16)) + hostZipf.draw(r)
      val dst =
        if (dstPool.isEmpty || r.nextDouble() < missShare)
          0xc0000000L + r.nextInt(1 << 20)
        else {
          val (base, len, _) = dstPool(dstZipf.draw(r))
          val span = if (len >= 32) 1L else 1L << (32 - len)
          base + (if (span > 16) r.nextInt(16) else r.nextLong(span))
        }
      val dport =
        if (proto == 1) 0
        else if (r.nextInt(10) == 0) 1024 + r.nextInt(64512)
        else CommonPorts(portZipf.draw(r))
      (src, dst, dport, proto)
    }

    def next(exporter: Int, firstMs: Long, lastMs: Long): Rec = {
      val (src, dst, dport, proto) =
        if (convs.size == Recent && r.nextDouble() < repeat)
          convs(convZipf.draw(r))
        else {
          val c = conversation(exporter)
          if (repeat > 0) {
            if (convs.size < Recent) convs += c
            else convs(r.nextInt(Recent)) = c
          }
          c
        }
      val pkts = 1L + (if (r.nextInt(4) == 0) r.nextInt(400) else r.nextInt(8))
      val bytes = pkts * (40L + r.nextInt(1460))
      Rec(src, dst, if (proto == 1) 0 else 1024 + r.nextInt(64512), dport,
        proto, if (proto == 6) 2 | r.nextInt(64) else 0, r.nextInt(4) * 32,
        1 + r.nextInt(48), 1 + r.nextInt(48), bytes, pkts, firstMs, lastMs)
    }
  }

  // ---- NetFlow encoding --------------------------------------------------

  final case class Datagram(exporter: String, payload: Array[Byte])

  /** Per-exporter encoder state: template id, protocol, sequence. */
  final class Exporter(val index: Int, val ipfix: Boolean) {
    val template: Template = Template(256 + index % 8, Fields)
    private var seq = 0L
    def header(unixMs: Long): V9Header = {
      seq += 1
      V9Header(unixMs - EpochMs + 1000L, unixMs / 1000L, seq, index.toLong)
    }
    def templateDg(unixMs: Long): Array[Byte] =
      if (ipfix) NetFlowV9.encodeTemplateIpfix(header(unixMs), template)
      else NetFlowV9.encodeTemplate(header(unixMs), template)
    def dataDg(unixMs: Long, recs: Seq[Rec]): Array[Byte] =
      if (ipfix)
        NetFlowV9.encodeDataIpfix(header(unixMs), template, recs.map(_.fields))
      else NetFlowV9.encodeData(header(unixMs), template, recs.map(_.fields))
  }

  // ---- nf-replay corpus --------------------------------------------------

  /** Aggregate key of the replay config
    * (`aggregate: src_host,dst_host,dst_port,proto,tag,dst_as`,
    * `kafka_history: 5m`). */
  final case class ReplayKey(bin: Long, src: Long, dst: Long, dport: Int,
                             proto: Int, tag: Long, dstAs: Long) {
    def frameKey: String = s"$bin|$src|$dst|$dport|$proto|$tag|$dstAs"
  }

  /** bytes, packets, flows */
  final case class Sums(bytes: Long, pkts: Long, flows: Long) {
    def +(o: Sums): Sums = Sums(bytes + o.bytes, pkts + o.pkts, flows + o.flows)
  }
  object Sums { val Zero: Sums = Sums(0L, 0L, 0L) }

  final case class ReplayCorpus(
      datagrams: IndexedSeq[Datagram],
      records: IndexedSeq[Rec],
      rib: IndexedSeq[(Long, Int, Long)],
      rules: IndexedSeq[TagRule],
      totals: Sums,
      sample: Map[ReplayKey, Sums],
      templateDgs: Int,
      earlyDataDgs: Int,
      exporterDgs: IndexedSeq[Int])

  val BinMs5m = 300000L

  /** `nDgs` data datagrams from `exporters` exporters with Zipf-skewed
    * volume, v9 and IPFIX alternating by exporter, a template refresh
    * every `refresh` data datagrams, and data before the first template
    * on every eighth exporter. */
  def replayCorpus(seed: Long, nDgs: Int, exporters: Int = 64,
                   ribSize: Int = 100000, rules: Int = 32,
                   refresh: Int = 16, sampleKeys: Int = 64): ReplayCorpus = {
    val table = rib(seed, ribSize)
    val tagTable = tagRules(seed, rules)
    val r = new SplittableRandom(seed)
    val traffic = new Traffic(seed * 31 + 7, table, hosts = 2048, ports = 24,
      missShare = 0.05, repeat = 0.6)
    val volume = new Zipf(exporters, 1.0)
    val exps = IndexedSeq.tabulate(exporters)(i => new Exporter(i, i % 2 == 1))
    val early = (0 until exporters).map(i => i % 8 == 5)
    val sent = Array.fill(exporters)(0)
    val templatesSent = Array.fill(exporters)(0)
    val dgs = mutable.ArrayBuffer[Datagram]()
    val recs = mutable.ArrayBuffer[Rec]()
    var nTemplates = 0
    var nEarly = 0
    val spanMs = 30 * 60 * 1000L // six 5-minute bins
    def name(i: Int) = s"10.255.${i / 256}.${i % 256}:2055"
    def sendTemplate(i: Int, ms: Long): Unit = {
      dgs += Datagram(name(i), exps(i).templateDg(ms))
      templatesSent(i) += 1
      nTemplates += 1
    }
    for (d <- 0 until nDgs) {
      val i = volume.draw(r)
      val nowMs = EpochMs + spanMs * d / nDgs
      val n = sent(i)
      // early exporters send their first data set before any template;
      // the template follows with their second datagram
      if (early(i) && n == 0) nEarly += 1
      else if (n % refresh == 0 || (early(i) && n == 1)) sendTemplate(i, nowMs)
      val batch = (0 until 24 + r.nextInt(7)).map { j =>
        val first = nowMs - r.nextInt(60000)
        traffic.next(i, first, first + r.nextInt(60000))
          .copy(id = (d.toLong << 8) | j)
      }
      recs ++= batch
      dgs += Datagram(name(i), exps(i).dataDg(nowMs, batch))
      sent(i) += 1
    }
    // an early exporter that only ever sent one datagram still gets its
    // template, so every record in the corpus is decodable
    for (i <- 0 until exporters if sent(i) > 0 && templatesSent(i) == 0)
      sendTemplate(i, EpochMs + spanMs)

    def keyOf(rec: Rec, dstAs: Long) = ReplayKey(
      rec.firstMs * 1000L / (BinMs5m * 1000L) * (BinMs5m / 1000L),
      rec.src, rec.dst, rec.dport, rec.proto, tagOf(tagTable, rec), dstAs)
    // sample: keys of seeded record picks, summed over every record
    val picks = Iterator.continually(recs(r.nextInt(recs.size)))
      .take(sampleKeys).toIndexedSeq
    val asOf = picks.map(_.dst).distinct
      .map(ip => ip -> lpmScan(table, ip)).toMap
    val wanted = picks.map(p => keyOf(p, asOf(p.dst))).toSet
    val sample = mutable.Map[ReplayKey, Sums]()
    var totals = Sums.Zero
    recs.foreach { rec =>
      val s = Sums(rec.bytes, rec.pkts, 1L)
      totals = totals + s
      asOf.get(rec.dst).foreach { as =>
        val k = keyOf(rec, as)
        if (wanted(k)) sample(k) = sample.getOrElse(k, Sums.Zero) + s
      }
    }
    ReplayCorpus(dgs.toIndexedSeq, recs.toIndexedSeq, table, tagTable,
      totals, sample.toMap, nTemplates, nEarly, sent.toIndexedSeq)
  }

  // ---- nf-stream traffic -------------------------------------------------

  /** Aggregate key of the stream config
    * (`aggregate: proto,dst_port,tag`, `kafka_history: 10s`). */
  final case class StreamKey(bin: Long, proto: Int, dport: Int, tag: Long)

  val BinMs10s = 10000L

  def streamKey(rules: IndexedSeq[TagRule], r: Rec): StreamKey =
    StreamKey(r.firstMs / BinMs10s * (BinMs10s / 1000L), r.proto, r.dport,
      tagOf(rules, r))

  /** Records for one live datagram: every record's LastSwitchedMsec is
    * the datagram's due time; flows started up to 2 s earlier. Small key
    * set: common ports only, so the aggregate stays narrow. */
  final class StreamTraffic(seed: Long) {
    private val r = new SplittableRandom(seed)
    private val traffic = new Traffic(seed * 17 + 3, IndexedSeq.empty,
      hosts = 256, ports = 12, missShare = 1.0)
    def records(exporter: Int, dueMs: Long): IndexedSeq[Rec] =
      (0 until 24 + r.nextInt(7)).map { _ =>
        val rec = traffic.next(exporter, dueMs - r.nextInt(2000), dueMs)
        if (rec.dport >= 1024) rec.copy(dport = 443) else rec
      }
  }

  // ---- imt-query batches -------------------------------------------------

  /** IMT key: `bin_start, src_host, dst_port, proto`. */
  final case class ImtKey(bin: Long, src: Long, dport: Int, proto: Int)

  /** Pre-aggregated batches for the memory table: each batch is mostly
    * updates of keys already sent (Zipf-skewed towards early keys) plus a
    * share of new keys; the generator keeps every key it has issued. */
  final class ImtBatches(seed: Long) {
    private val r = new SplittableRandom(seed)
    val keys: mutable.ArrayBuffer[ImtKey] = mutable.ArrayBuffer[ImtKey]()
    private val seen = mutable.HashSet[ImtKey]()
    private val protos = Array(6, 17, 1)

    private def freshKey(): ImtKey = {
      var k: ImtKey = null
      while (k == null || seen(k)) {
        val proto = protos(if (r.nextInt(10) < 7) 0 else 1 + r.nextInt(2))
        k = ImtKey(EpochMs / 1000L + 300L * r.nextInt(12),
          0x0a000000L + r.nextInt(1 << 16),
          if (proto == 1) 0 else CommonPorts(r.nextInt(CommonPorts.length)),
          proto)
      }
      seen += k
      keys += k
      k
    }

    def next(rows: Int, newShare: Double): IndexedSeq[(ImtKey, Sums)] =
      (0 until rows).map { _ =>
        val k =
          if (keys.isEmpty || r.nextDouble() < newShare) freshKey()
          else {
            // skewed towards older keys: heavy hitters keep updating
            val u = r.nextDouble()
            keys((u * u * keys.size).toInt)
          }
        val pkts = 1L + r.nextInt(50)
        k -> Sums(pkts * (40L + r.nextInt(1460)), pkts, 1L + r.nextInt(5))
      }

    /** Seeded pick of an issued key, for the exact-match query. */
    def pick(): ImtKey = keys(r.nextInt(keys.size))
    def pickPort(): Int = CommonPorts(r.nextInt(CommonPorts.length))
  }
}
