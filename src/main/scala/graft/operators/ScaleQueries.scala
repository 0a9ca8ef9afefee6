package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{FlowView, Graft, Q, Salt, Tables}
import graft.functions.{SigRules, SniApps}
import graft.maps.{Bloom, Dims}

/** Scale-mechanics operators: salted two-phase aggregation (hot-key
  * skew), bloom pre-filtering (exact-verified, so oracle-checkable), and
  * the L7 classification hook (SURVEY §2.10; nDPI's payload inspection is
  * pluggable — the port/proto heuristic here is the `class` primitive's
  * cheap path, cf. `src/classifier.c` first-k-packets giveup).
  */
object ScaleQueries {

  private def flows(s: org.apache.spark.sql.SparkSession, d: String) =
    FlowView.fromEvents(Tables.events(s, d))

  /** L7 class heuristic over (proto, ports). */
  def l7Class(proto: org.apache.spark.sql.Column,
              portSrc: org.apache.spark.sql.Column,
              portDst: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(proto === 6 && (portDst === 80 || portSrc === 80), "http")
      .when(proto === 6 && (portDst === 443 || portSrc === 443), "tls")
      .when(proto === 6 && (portDst === 8443 || portSrc === 8443), "tls-alt")
      .when(proto === 6 && (portDst === 25 || portSrc === 25), "smtp")
      .when(proto === 17 && (portDst === 53 || portSrc === 53), "dns")
      .otherwise("unknown")

  val all: Seq[Q] = Seq(

    // Conntrack L7 helpers with REAL control-channel parsers
    // (src/conntrack.c FTP/RTSP/SIP helpers, docs/INTERNALS:360-408):
    // control events render as protocol text (FTP 227 passive-mode
    // replies, RTSP SETUP client_port transports, SIP/SDP m=audio
    // lines), the parsers extract the (ip, port) expectation a tracker
    // would register, and data flows joining an expectation inherit the
    // parent class. The oracle derives expectations arithmetically —
    // regex or octet-math defects in any parser break parity.
    // STUN attribute walk (RFC 5389 §15, functions/L7.stunAttrs): per
    // flow a Binding Success response carries the flow's (ip_src,
    // port_src) as XOR-MAPPED-ADDRESS — port XORed with the magic's
    // high half, address with the full magic — behind a SOFTWARE
    // attribute with an odd length (the 32-bit padding walk) and a
    // DECOY plain MAPPED-ADDRESS holding a different address, so
    // reading the wrong attribute or mis-XORing flips the totals. The
    // NAT-reflexive extraction a traversal correlator runs.
    Q("q299_stun_reflexive",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.L7
        flows(s, d).select(
            (col("ip_src") % 0x100000000L).as("ip"),
            (col("port_src") % 65536).as("port"))
          .as[(Long, Long)]
          .mapPartitions(_.flatMap { case (ip, port) =>
            val b = java.nio.ByteBuffer.allocate(20 + 12 + 12 + 12)
            b.putShort(0x0101)        // binding success
            b.putShort(36)            // message length (3 attrs)
            b.putInt(0x2112a442)      // magic
            (0 until 3).foreach(_ => b.putInt((ip ^ port).toInt))
            b.putShort(0x8022.toShort); b.putShort(5)  // SOFTWARE
            b.put("graft".getBytes); b.put(0.toByte)
            b.put(0.toByte); b.put(0.toByte)
            b.putShort(0x0001); b.putShort(8)          // decoy MAPPED
            b.put(0.toByte); b.put(1.toByte)
            b.putShort(((port + 1) % 65536).toInt.toShort)
            b.putInt((ip + 1).toInt)
            b.putShort(0x0020); b.putShort(8)          // XOR-MAPPED
            b.put(0.toByte); b.put(1.toByte)
            b.putShort((port ^ 0x2112).toInt.toShort)
            b.putInt((ip ^ 0x2112a442L).toInt)
            L7.stunXorMapped(b.array()).iterator.map {
              case (rip, rport) => (rip, rport.toLong)
            }
          })
          .toDF("ip", "port")
          .groupBy((col("ip") % 256).as("net"))
          .agg(count(lit(1)).as("n"), sum("port").as("sum_port"),
            sum("ip").as("sum_ip"))
      },
      Some(FlowView.cte(
        """SELECT (ip_src % 4294967296) % 256 AS net, count(*) AS n,
           CAST(sum(port_src % 65536) AS BIGINT) AS sum_port,
           CAST(sum(ip_src % 4294967296) AS BIGINT) AS sum_ip
           FROM flows GROUP BY 1""")),
      doc = "STUN RFC 5389 attribute walk: XOR-MAPPED-ADDRESS " +
        "reflexive extraction past padded and decoy attributes"),

    Q("q98_conntrack_parse",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.L7
        val ev = Tables.events(s, d).select(
            col("event_id"), col("event_type"),
            (col("user_id") % 16).as("h4"),
            (lit(1024L) + col("event_id") % 64).as("port"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("b"))
        // control channel: every third event, rendered as protocol text
        val ctrlText = ev.filter(col("event_id") % 3 === 0).select(
            col("event_type"), col("h4"), col("port"),
            when(col("event_type") === "view", format_string(
              "SETUP rtsp://cam/track1 RTSP/1.0\r\nCSeq: 2\r\n" +
                "Transport: RTP/AVP;unicast;client_port=%d-%d\r\n",
              col("port"), col("port") + 1))
            .when(col("event_type") === "signup", format_string(
              "INVITE sip:b@c SIP/2.0\r\nContent-Type: application/sdp" +
                "\r\n\r\nv=0\r\nm=audio %d RTP/AVP 0\r\n", col("port")))
            .otherwise(format_string(
              "227 Entering Passive Mode (10,0,0,%d,%d,%d).",
              col("h4"), expr("port div 256"), col("port") % 256))
              .as("text"))
          .as[(String, Long, Long, String)]
        // the tracker: parse each control message into its expectation
        val expect = ctrlText.flatMap { case (kind, h4, _, text) =>
          kind match {
            case "view" => L7.rtspClientPort(text).map(p =>
              ((10L << 24) | h4, p.toLong, "rtsp-data"))
            case "signup" => L7.sipAudioPort(text).map(p =>
              ((10L << 24) | h4, p.toLong, "sip-rtp"))
            case _ => L7.ftpPassive(text).map { case (ip, p) =>
              (ip, p.toLong, "ftp-data") }
          }
        }.toDF("ip", "port", "class")
          .groupBy("ip", "port").agg(min("class").as("class"))
        // data flows inherit the class of a registered expectation
        ev.filter(col("event_id") % 3 =!= 0)
          .select((lit(10L << 24) + col("h4")).as("ip"), col("port"),
            col("b"))
          .join(broadcast(expect), Seq("ip", "port"), "left")
          .withColumn("class", coalesce(col("class"), lit("unknown")))
          .groupBy("class")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"))
      },
      Some("""WITH ctrl AS (SELECT
                CASE WHEN event_type = 'view' THEN 'rtsp-data'
                     WHEN event_type = 'signup' THEN 'sip-rtp'
                     ELSE 'ftp-data' END AS class,
                167772160 + user_id % 16 AS ip,
                1024 + event_id % 64 AS port
              FROM events WHERE event_id % 3 = 0),
            expect AS (SELECT ip, port, min(class) AS class
              FROM ctrl GROUP BY 1, 2),
            data AS (SELECT 167772160 + user_id % 16 AS ip,
                1024 + event_id % 64 AS port,
                CAST(floor(value * 100) AS BIGINT) AS b
              FROM events WHERE event_id % 3 != 0)
            SELECT coalesce(e.class, 'unknown') AS class,
              count(*) AS n, CAST(sum(b) AS BIGINT) AS bytes
            FROM data d LEFT JOIN expect e
              ON d.ip = e.ip AND d.port = e.port
            GROUP BY 1"""),
      doc = "conntrack FTP/RTSP/SIP parsers spawning data-flow classes"),

    // nDPI-shaped payload classification: first-bytes signatures over a
    // synthesized payload head (src/classifier.c:33 first-k-packets
    // inspection; q60 is the port-heuristic cheap path). The oracle maps
    // event kinds directly — signature or preamble defects break parity.
    Q("q99_l7_payload",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.L7
        val rows = Tables.events(s, d).select(
            col("event_type"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("b"))
          .as[(String, Long)]
        rows.mapPartitions(_.map { case (kind, b) =>
          val payload: Array[Byte] = kind match {
            case "click" => "GET /index.html HTTP/1.1\r\n".getBytes("UTF-8")
            case "purchase" => Array[Byte](0x16, 0x03, 0x03, 0x00, 0x40)
            case "signup" => "SSH-2.0-graft\r\n".getBytes("UTF-8")
            case "view" => "RTSP/1.0 200 OK\r\n".getBytes("UTF-8")
            case _ => Array[Byte](0x00, 0x01, 0x02)
          }
          (L7.classifyPayload(payload), b)
        }).toDF("class", "b")
          .groupBy("class")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"))
      },
      Some("""SELECT CASE event_type WHEN 'click' THEN 'http'
                WHEN 'purchase' THEN 'tls' WHEN 'signup' THEN 'ssh'
                WHEN 'view' THEN 'rtsp' ELSE 'unknown' END AS class,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes
              FROM events GROUP BY 1"""),
      doc = "payload first-bytes signature classification (nDPI shape)"),

    // nDPI-model flow classification: per-FLOW first-k-packets budget
    // (classifier giveup knobs, CONFIG-KEYS:3638-3681) over the widened
    // signature set (q99's six + SMTP/QUIC/DNS + TLS-SNI extraction).
    // Each flow (user) is a packet sequence in event order; only every
    // 7th packet carries a classifiable preamble, so classification must
    // walk packets under the budget=3 cap and give up honestly. TLS
    // flows additionally extract the ClientHello server_name — n_snis
    // gates the SNI parser (a broken parser yields 0, not 5).
    Q("q113_ndpi_budget",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.L7
        val rows = Tables.events(s, d).select(
            col("user_id").cast("long").as("uid"),
            col("event_id").cast("long"), col("event_type"))
          .as[(Long, Long, String)]
        // the giveup budget makes this the ideal lazy walk: the
        // classifier consumes at most 3 packets of the sorted run and
        // the rest drains untouched — no buffering at any group size
        val classified = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (uid, run) =>
            def mk(e: (Long, Long, String)): Array[Byte] =
              if (e._2 % 7 == 0) {
                val alt = (e._2 / 7) % 2 == 1 // alternate signature family
                e._3 match {
                  case "click" =>
                    "GET /index.html HTTP/1.1\r\n".getBytes("UTF-8")
                  case "purchase" =>
                    L7.clientHello(s"host${uid % 5}.example")
                  case "signup" =>
                    if (alt) { // STUN binding request + magic cookie
                      val b = new Array[Byte](20)
                      b(1) = 1; b(4) = 0x21; b(5) = 0x12
                      b(6) = 0xa4.toByte; b(7) = 0x42; b
                    } else Array[Byte](0xc3.toByte, 0, 0, 0, 1, 8, 0)
                  case "view" =>
                    if (alt) { // NTPv4 client packet
                      val b = new Array[Byte](48); b(0) = 0x23; b
                    } else Array[Byte](0x12, 0x34, 0x01, 0x00, 0, 1,
                      0, 0, 0, 0, 0, 0, 3, 'w', 'w', 'w', 0, 0, 1, 0, 1)
                  case _ =>
                    if (alt) { // DHCPDISCOVER: BOOTP + magic cookie
                      val b = new Array[Byte](244)
                      b(0) = 1; b(1) = 1; b(2) = 6
                      b(236) = 0x63; b(237) = 0x82.toByte
                      b(238) = 0x53; b(239) = 0x63; b
                    } else "220 mail.example ESMTP\r\n".getBytes("UTF-8")
                }
              } else Array[Byte](0, 1, 2, 3)
            var last: Array[Byte] = Array.emptyByteArray
            val packets = run.map { e => last = mk(e); last }
            val (cls, n) = L7.classifyFlow(packets, 3)
            val sni =
              if (cls == "tls") L7.tlsSni(last).orNull else null
            Seq((cls, n.toLong, sni))
          }
        }
        classified.toDF("class", "inspected", "sni")
          .groupBy("class")
          .agg(count(lit(1)).as("n_flows"),
            sum("inspected").as("sum_inspected"),
            countDistinct("sni").as("n_snis"))
      },
      Some("""WITH p AS (SELECT user_id, event_id, event_type,
                row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                  AS rn
              FROM events),
            m AS (SELECT user_id, rn,
                CASE WHEN event_id % 7 = 0 THEN
                  CASE event_type WHEN 'click' THEN 'http'
                    WHEN 'purchase' THEN 'tls'
                    WHEN 'signup' THEN
                      CASE WHEN (event_id // 7) % 2 = 1 THEN 'stun'
                           ELSE 'quic' END
                    WHEN 'view' THEN
                      CASE WHEN (event_id // 7) % 2 = 1 THEN 'ntp'
                           ELSE 'dns' END
                    ELSE
                      CASE WHEN (event_id // 7) % 2 = 1 THEN 'dhcp'
                           ELSE 'smtp' END END
                END AS cls
              FROM p WHERE rn <= 3),
            fl AS (SELECT user_id,
                min(CASE WHEN cls IS NOT NULL THEN rn || ':' || cls END)
                  AS mk,
                min(CASE WHEN cls IS NOT NULL THEN rn END) AS mrn,
                max(rn) AS maxrn
              FROM m GROUP BY user_id),
            fl2 AS (SELECT user_id,
                CASE WHEN mk IS NULL THEN 'giveup'
                     ELSE substr(mk, 3) END AS class,
                CASE WHEN mrn IS NULL THEN maxrn ELSE mrn END AS inspected,
                user_id % 5 AS snikey
              FROM fl)
            SELECT class, count(*) AS n_flows,
              CAST(sum(inspected) AS BIGINT) AS sum_inspected,
              count(DISTINCT CASE WHEN class = 'tls' THEN snikey END)
                AS n_snis
            FROM fl2 GROUP BY class"""),
      doc = "first-k-packets giveup budget + SMTP/QUIC/DNS/TLS-SNI"),

    // Salted two-phase aggregation: identical results to the direct
    // groupBy (the oracle IS the direct plan), different shuffle layout —
    // a hot port no longer lands on one reducer.
    Q("q59_salted_agg",
      (s, d) => Salt.aggregate(flows(s, d), Seq("port_dst"),
        col("event_id"), 8, Seq(
          Salt.sum2("bytes", col("bytes")),
          Salt.count2("n"),
          Salt.bitOr2("flags", col("tcp_flags")),
          Salt.min2("ts_min_us", col("t0u")))),
      Some(FlowView.cte(
        """SELECT port_dst, CAST(sum(bytes) AS BIGINT) AS bytes,
           count(*) AS n, bit_or(tcp_flags) AS flags,
           min(t0u) AS ts_min_us
           FROM flows GROUP BY port_dst""")),
      doc = "skew-tolerant salted aggregation (== direct plan results)"),

    // L7 classification primitive (class column) + per-class accounting.
    Q("q60_classify",
      (s, d) => flows(s, d)
        .withColumn("class",
          l7Class(col("ip_proto"), col("port_src"), col("port_dst")))
        .groupBy("class")
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(FlowView.cte(
        """SELECT CASE
             WHEN ip_proto = 6 AND (port_dst = 80 OR port_src = 80)
               THEN 'http'
             WHEN ip_proto = 6 AND (port_dst = 443 OR port_src = 443)
               THEN 'tls'
             WHEN ip_proto = 6 AND (port_dst = 8443 OR port_src = 8443)
               THEN 'tls-alt'
             WHEN ip_proto = 6 AND (port_dst = 25 OR port_src = 25)
               THEN 'smtp'
             WHEN ip_proto = 17 AND (port_dst = 53 OR port_src = 53)
               THEN 'dns'
             ELSE 'unknown' END AS class,
           count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
           FROM flows GROUP BY 1""")),
      doc = "L7 classification hook (port heuristic; payload pluggable)"),

    // Bloom pre-filter + exact verify: the production bloom pattern
    // (cheap codegen probe drops most non-members, exact semi-join
    // confirms). Results are exact, so the oracle checks that the sketch
    // produced NO false negatives over the whole fact table.
    Q("q61_bloom_prefilter",
      (s, d) => {
        val allowed = Dims.allowList(s)
        val sketch = Bloom.build(allowed, col("exporter"), 64L, 4096L)
        flows(s, d).withColumn("exporter", col("ip_src") % 16)
          .filter(Bloom.mightContain(sketch, col("exporter")))
          .join(broadcast(allowed), Seq("exporter"), "left_semi")
          .groupBy()
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""WITH flows AS (SELECT *, ip_src % 16 AS exporter
              FROM (${FlowView.sql})), ${Dims.allowSql}
            SELECT count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows WHERE exporter IN (SELECT exporter FROM allow_list)"""),
      doc = "bloom membership pre-filter with exact verify"),

    // Classify-then-reassign (docs/INTERNALS:360-408; classifier giveup
    // budget): a flow's class is decided from its first 3 records; counters
    // accumulated while the class was still unknown are retro-applied to
    // the final class. Keyed-state iteration in Spark; the oracle derives
    // the same first-3 decision with window functions.
    Q("q67_classify_retro",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val keyed = flows(s, d).select(
            ((col("ip_src") % 256) * 2048 + col("port_dst") * 2 +
              (col("ip_proto") % 2)).as("fkey"),
            col("t0u"), col("event_id"),
            l7Class(col("ip_proto"), col("port_src"), col("port_dst"))
              .as("cls"),
            col("bytes"))
          .as[(Long, Long, Long, String, Long)]
        // (t0u, event_id) is the in-flow order — sessionsAll sorts the
        // composite; the decision + counters fold in O(1) state
        SessionWalk.sessionsAll(keyed).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (fkey, run) =>
            var n = 0L; var bytes = 0L
            var decided = "unknown" // giveup after budget
            run.foreach { case (_, _, _, cls, b) =>
              n += 1; bytes += b
              if (n <= 3 && decided == "unknown" && cls != "unknown")
                decided = cls
            }
            Seq((decided, n, bytes))
          }
        }.toDF("class", "n_records", "bytes")
          .groupBy("class")
          .agg(count(lit(1)).as("n_flows"), sum("n_records").as("n_records"),
            sum("bytes").as("bytes"))
      },
      Some(FlowView.cte(
        """SELECT kclass AS class, count(*) AS n_flows,
           CAST(sum(nr) AS BIGINT) AS n_records,
           CAST(sum(b) AS BIGINT) AS bytes
           FROM (
             SELECT fkey,
               coalesce(arg_min(cls, rn)
                 FILTER (WHERE cls <> 'unknown' AND rn <= 3), 'unknown')
                 AS kclass,
               count(*) AS nr, sum(bytes) AS b
             FROM (
               SELECT fkey, cls, bytes, row_number() OVER
                   (PARTITION BY fkey ORDER BY t0u, event_id) AS rn
               FROM (
                 SELECT (ip_src % 256) * 2048 + port_dst * 2 +
                     (ip_proto % 2) AS fkey,
                   CASE
                     WHEN ip_proto = 6 AND (port_dst = 80 OR port_src = 80)
                       THEN 'http'
                     WHEN ip_proto = 6 AND (port_dst = 443 OR port_src = 443)
                       THEN 'tls'
                     WHEN ip_proto = 6 AND (port_dst = 8443 OR port_src = 8443)
                       THEN 'tls-alt'
                     WHEN ip_proto = 6 AND (port_dst = 25 OR port_src = 25)
                       THEN 'smtp'
                     WHEN ip_proto = 17 AND (port_dst = 53 OR port_src = 53)
                       THEN 'dns'
                     ELSE 'unknown' END AS cls,
                   t0u, event_id, bytes
                 FROM flows))
             GROUP BY fkey)
           GROUP BY 1""")),
      doc = "classification retro-applied to pre-decision counters"),

    // Distributed top-k per key: bounded-heap map-side pruning, shuffle
    // O(#keys x k) candidates, exact final pass — vs the window plan that
    // shuffles and sorts every row. Oracle is that window plan.
    Q("q70_topk_perkey",
      (s, d) => graft.plans.TopK.perKey(
        flows(s, d).select("port_dst", "event_id", "bytes"),
        Seq("port_dst"), "bytes", "event_id", 3)
        .orderBy(col("port_dst"), col("bytes").desc, col("event_id")),
      Some(FlowView.cte(
        """SELECT port_dst, event_id, bytes FROM (
             SELECT port_dst, event_id, bytes, row_number() OVER
               (PARTITION BY port_dst ORDER BY bytes DESC, event_id ASC)
               AS rn
             FROM flows)
           WHERE rn <= 3""")),
      doc = "two-phase bounded-heap top-k per key"),

    // SQL-surface function library: formatters + named-table LPM callable
    // from plain SQL text (registry/extension injection, SURVEY §2.11/§4).
    Q("q71_sql_functions",
      (s, d) => {
        graft.functions.GraftFunctions.registerLpmTable("networks",
          new graft.plans.Lpm.Table(16, Dims.networkPrefixes))
        graft.functions.GraftFunctions.register(s)
        flows(s, d).createOrReplaceTempView("flows_fn")
        s.sql("""SELECT graft_proto_name(ip_proto) AS proto,
                 graft_lpm(ip_src, 'networks') AS asn_src,
                 count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
                 FROM flows_fn GROUP BY 1, 2""")
      },
      Some(FlowView.cte(
        s"""SELECT CASE ip_proto WHEN 6 THEN 'tcp' WHEN 17 THEN 'udp'
              ELSE CAST(ip_proto AS VARCHAR) END AS proto,
            (SELECT n.asn FROM (SELECT * FROM (VALUES
              ${graft.maps.Dims.networkPrefixes.map { case (b, l, a) =>
                s"($a, $b, $l)" }.mkString(", ")})
              AS t(asn, base, len)) n
             WHERE ((f.ip_src >> (16 - n.len)) << (16 - n.len)) = n.base
             ORDER BY n.len DESC LIMIT 1) AS asn_src,
            count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows f GROUP BY 1, 2""")),
      doc = "SQL-registered function library incl. named-table LPM"),

    // nDPI breadth, round 5: IMAP / POP3 / RDP (TPKT + X.224 CR) / SSDP
    // — four more of the reference classifier's registered protocols
    // (src/ndpi/ndpi_util.c protocol registry; giveup budgets gated by
    // q113). Every flow's first payload carries one signature; the gate
    // locks each new matcher's behavior, including that SSDP's
    // HTTP-like verbs do NOT fall into the http class.
    Q("q142_ndpi_extra",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.L7
        val rows = Tables.events(s, d).select(
            col("user_id").cast("long").as("uid"), col("event_type"))
          .as[(Long, String)]
        val classified = rows.map { case (uid, et) =>
          val payload: Array[Byte] = et match {
            case "click" => "* OK IMAP4rev1 ready\r\n".getBytes("UTF-8")
            case "view" => "+OK POP3 ready\r\n".getBytes("UTF-8")
            case "purchase" => // TPKT v3 + X.224 Connection Request
              Array[Byte](3, 0, 0, 11, 6, 0xE0.toByte, 0, 0, 0, 0, 0)
            case "signup" =>
              "M-SEARCH * HTTP/1.1\r\nMAN: ssdp:discover\r\n".getBytes("UTF-8")
            case _ => "a001 LOGIN alice\r\n".getBytes("UTF-8")
          }
          (uid, L7.classifyPayload(payload))
        }
        classified.toDF("uid", "class")
          .groupBy("class")
          .agg(count(lit(1)).as("n"), countDistinct(col("uid")).as("n_uids"))
      },
      Some("""SELECT CASE event_type
                WHEN 'click' THEN 'imap' WHEN 'view' THEN 'pop3'
                WHEN 'purchase' THEN 'rdp' WHEN 'signup' THEN 'ssdp'
                ELSE 'imap' END AS class,
              count(*) AS n, count(DISTINCT user_id) AS n_uids
              FROM events GROUP BY 1"""),
      doc = "nDPI breadth: IMAP/POP3/RDP/SSDP signatures gated"),

    // nDPI-breadth widening (VERDICT r5 #3): the signature table is now
    // DATA — a broadcast Seq[SigRules.Rule] like a PreTagMap rule table,
    // 155 families (reference: the nDPI dissector registry, src/ndpi/
    // ndpi.c via src/classifier.c:33). The corpus cycles every family;
    // each event builds a valid seed-varied payload of its family and the
    // broadcast table must classify EVERY one back to its own label —
    // a single shadowing or malformed rule shifts two counts.
    Q("q200_l7_rule_table",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.SigRules
        val families = SigRules.sampleFamilies.toIndexedSeq
        val nf = families.size
        // route the table through its map-file text form (render→parse)
        // so the gated path proves the extend-by-editing-a-file contract
        val rules = s.sparkContext.broadcast(
          SigRules.parse(SigRules.render(SigRules.default)))
        val rows = Tables.events(s, d).select(
            col("event_id"), col("user_id"))
          .as[(Long, Long)]
        rows.mapPartitions { it =>
          val table = rules.value
          it.map { case (eid, uid) =>
            val family = families((eid % nf).toInt)
            val got = SigRules.classify(table,
              SigRules.sample(family, uid))
            (got, if (got == family) 1L else 0L)
          }
        }.toDF("class", "ok")
          .groupBy("class")
          .agg(count(lit(1)).as("n"), sum("ok").as("n_correct"))
      },
      Some(s"""SELECT ${SigRules.sampleFamilies.zipWithIndex.map {
              case (f, i) => s"WHEN ${i} THEN '$f'"
            }.mkString("CASE event_id % " +
              SigRules.sampleFamilies.size + " ", " ", " END")} AS class,
            count(*) AS n, count(*) AS n_correct
            FROM events GROUP BY 1"""),
      doc = "data-driven L7 signature table at nDPI breadth (155 families)"),

    // The extend-WITHOUT-recompiling contract, end-to-end through a
    // REAL FILE: a user adds a proprietary protocol by writing one
    // map line — the query renders the stock table to pmacct-map-style
    // lines, prepends a custom rule ("acme", a protocol SigRules knows
    // nothing about), round-trips the whole thing through a file on
    // disk, and the parsed table must classify a corpus interleaving
    // every stock family PLUS the custom one. User rules load FIRST:
    // first-match-wins makes prepend the deterministic way to extend
    // or override without auditing the stock order — the same contract
    // as pre_tag_map entries (maps/PreTagMap, reference
    // pretag_handlers.c first-match walk).
    Q("q242_l7_rule_file",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.SigRules
        val custom = SigRules.Rule("acme",
          Seq(SigRules.Pred.Ascii("ACME/1 ")))
        val loaded =
          Graft.withScratch("sigmap") { dir =>
            val path = dir.resolve("rules.map")
            val lines =
              "! user rules first: first-match-wins" +:
                (SigRules.render(Seq(custom)) ++
                  ("! stock table" +: SigRules.render(SigRules.default)))
            java.nio.file.Files.write(path,
              lines.mkString("\n").getBytes("UTF-8"))
            SigRules.parse(new String(
              java.nio.file.Files.readAllBytes(path), "UTF-8")
              .split("\n").toSeq)
          }
        val families = ("acme" +: SigRules.sampleFamilies).toIndexedSeq
        val nf = families.size
        val rules = s.sparkContext.broadcast(loaded)
        val rows = Tables.events(s, d).select(
            col("event_id"), col("user_id")).as[(Long, Long)]
        rows.mapPartitions { it =>
          val table = rules.value
          it.map { case (eid, uid) =>
            val family = families((eid % nf).toInt)
            val payload =
              if (family == "acme") s"ACME/1 ping $uid".getBytes
              else SigRules.sample(family, uid)
            val got = SigRules.classify(table, payload)
            (got, if (got == family) 1L else 0L)
          }
        }.toDF("class", "ok")
          .groupBy("class")
          .agg(count(lit(1)).as("n"), sum("ok").as("n_correct"))
      },
      Some(s"""SELECT ${("acme" +: SigRules.sampleFamilies).zipWithIndex
            .map { case (f, i) => s"WHEN ${i} THEN '$f'" }
            .mkString("CASE event_id % " +
              (SigRules.sampleFamilies.size + 1) + " ", " ", " END")}
              AS class,
            count(*) AS n, count(*) AS n_correct
            FROM events GROUP BY 1"""),
      doc = "user-extended L7 rules loaded from a map file on disk"),

    // QUIC deep inspection (VERDICT r10 #1's nDPI-depth sibling): the
    // rule table can only say "quic" — classifying WHICH application
    // rides the QUIC flow requires decrypting the Initial packet, which
    // is possible by design (keys derive from the destination connection
    // id with a published salt, RFC 9001 §5.2; upstream nDPI does
    // exactly this, reference src/classifier.c:33 → nDPI QUIC
    // dissector). Each event seals a spec-correct 1200-byte client
    // Initial (HKDF initial secrets → AES-128-GCM AEAD → header
    // protection, QuicCrypto — the RFC 9001 Appendix A vectors pin the
    // schedule in QuicSpec), then the inspection path must remove
    // header protection, open the AEAD, reassemble the CRYPTO stream,
    // and read SNI + ALPN out of the ClientHello. n_ok counts flows
    // whose recovered SNI matches the flow's own uid-derived hostname —
    // any drift in seal OR open breaks it. Per-flow work is O(1200 B)
    // crypto in a mapPartitions; the rollup is one partial agg — at
    // 100 TB this is a pure map lane like the media decodes.
    Q("q312_quic_inspect",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.QuicCrypto
        Tables.events(s, d).select(col("event_id"), col("user_id"))
          .as[(Long, Long)]
          .mapPartitions(_.map { case (eid, uid) =>
            val alpn = (eid % 3) match {
              case 0 => Seq("h3")
              case 1 => Seq("hq-interop", "h3") // preference order kept
              case _ => Seq("doq")
            }
            val sni = s"host${uid % 5}.example"
            val dcid = java.nio.ByteBuffer.allocate(8)
              .putLong(0x6772616674L ^ uid).array() // varies per flow
            // half the flows ride QUIC v2 (RFC 9369): same protocol,
            // different salt/labels/type bits — the classifier must
            // handle both on one wire without being told which
            val wireVer = if (eid % 2 == 0) QuicCrypto.VersionV1
              else QuicCrypto.VersionV2
            val dg = QuicCrypto.sealClientInitial(dcid,
              Array[Byte](1, 2), pn = eid % 0x3fffffff,
              QuicCrypto.clientHelloHs(sni, alpn), version = wireVer)
            QuicCrypto.inspectVer(dg) match {
              case Some((gotVer, gotSni, gotAlpn)) =>
                val app = gotAlpn.headOption match {
                  case Some("h3") => "http3"
                  case Some("hq-interop") => "hq"
                  case Some("doq") => "doq"
                  case _ => "quic"
                }
                (app, gotVer.toLong, gotSni.orNull,
                  if (gotSni.contains(sni)) 1L else 0L)
              case None => ("undecryptable", 0L, null, 0L)
            }
          })
          .toDF("app", "ver", "sni", "ok")
          .groupBy("app", "ver")
          .agg(count(lit(1)).as("n_flows"),
            countDistinct("sni").as("n_snis"),
            sum("ok").as("n_ok"))
      },
      Some("""SELECT CASE event_id % 3 WHEN 0 THEN 'http3'
                WHEN 1 THEN 'hq' ELSE 'doq' END AS app,
              CASE event_id % 2 WHEN 0 THEN 1 ELSE 2 END AS ver,
              count(*) AS n_flows,
              count(DISTINCT 'host' || CAST(user_id % 5 AS VARCHAR) ||
                '.example') AS n_snis,
              CAST(count(*) AS BIGINT) AS n_ok
              FROM events GROUP BY 1, 2"""),
      doc = "QUIC v1+v2 Initial decryption (RFC 9001/9369): HKDF " +
        "initial keys from the DCID, header-protection removal, AEAD " +
        "open, CRYPTO reassembly, ClientHello SNI+ALPN classification"),

    // Bucketed at-rest layout: the co-located fact-fact join. At 100 TB
    // the orders×lineitem join is THE dominant shuffle — both sides are
    // fact-scale, so neither broadcasts, and every ad-hoc join pays a
    // full exchange+sort of both tables. Bucketing both tables on the
    // join key at write time (16 buckets here; thousands at scale) moves
    // that cost to write time ONCE: every later join reads bucket i
    // against bucket i with ZERO exchange and, with sortBy, zero sort.
    // This is the archive layout the print/SQL sinks should use for any
    // key that gets re-joined (pmacct's SQL tables are keyed the same
    // way for UPDATE-then-INSERT locality, sql_common.c cache keys).
    // The merge hint pins a sort-merge join so the plan demonstrates
    // bucket co-location rather than degenerating to a broadcast at
    // this test SF; PlanSpec asserts no Exchange feeds the join.
    Q("q236_bucket_join",
      (s, d) => Graft.scratchLane("graft_bucketed", release = _ =>
        dropTables(s, "graft_b_orders", "graft_b_lineitem")) { wh =>
        import graft.core.AggregatePlanner.sumScaled
        def bucketed(name: String, df: org.apache.spark.sql.DataFrame,
                     key: String): org.apache.spark.sql.DataFrame = {
          val tbl = s"graft_b_$name"
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          df.write.format("parquet")
            .bucketBy(16, key).sortBy(key)
            .option("path", s"$wh/$name")
            .mode("overwrite").saveAsTable(tbl)
          s.table(tbl)
        }
        // the two bucketed table materializations are independent
        // sinks — write them CONCURRENTLY from driver threads (guide
        // §2.6; optimization r17 — the lane's cost IS the write-time
        // layout, so overlapping the two writes halves it)
        val (o, l) = {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          val fo = Future(bucketed("orders", Tables.orders(s, d)
            .select("o_orderkey", "o_orderpriority"), "o_orderkey"))
          val fl = Future(bucketed("lineitem", Tables.lineitem(s, d)
            .select("l_orderkey", "l_extendedprice"), "l_orderkey"))
          (Await.result(fo, scala.concurrent.duration.Duration.Inf),
            Await.result(fl, scala.concurrent.duration.Duration.Inf))
        }
        o.hint("merge")
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sumScaled(col("l_extendedprice"), 2).as("revenue_c"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1"""),
      doc = "bucketed at-rest layout: exchange-free fact-fact merge join"),

    // The archive MAINTENANCE loop for q236's layout: new data arrives
    // as a stream, each micro-batch appends INTO the bucketed table
    // (per-batch bucket files — correct immediately, just fragmenting),
    // and a periodic compaction rewrites the table to one sorted file
    // per bucket. The compaction pays the bucket shuffle once
    // (repartition on the bucket key = the same Murmur3 hash bucketing
    // uses, so every task holds exactly one bucket — NOTE it must read
    // the raw files, not the catalog table: against the bucketed table
    // the planner elides the repartition as already-satisfied while the
    // scan tasks still mix buckets); afterwards every join reads bucket
    // i against bucket i with no exchange — only the bounded per-bucket
    // sort remains (Spark does not yet exploit sortBy metadata in merge
    // joins). This is how the 100 TB archive absorbs a live feed
    // without ever re-shuffling history: the stream fragments only the
    // newest data, compaction folds it in, queries never re-exchange.
    Q("q239_bucket_stream_compact",
      (s, d) => Graft.scratchLane("graft_bstream",
        release = _ => dropTables(s, bucketStreamTables: _*))(
        bucketStreamCompact(s, d, _)),
      Some("""SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1"""),
      doc = "streaming append into bucketed archive + compaction"),

    // TLS-SNI application classification (VERDICT r12 #1: the tier-1
    // hostname disposition, gated): the reference resolves the big
    // consumer apps by HOSTNAME (src/classifier.c:33 → nDPI's hostname
    // engine), not by wire grammar — the ROADMAP disposition claims the
    // q99/q113 SNI path covers them, and this lane converts that claim
    // into evidence. Every event picks one of 42 vectors (39 real-shaped
    // hostnames over 30 tier-1 apps + 3 decoys), builds the actual TLS
    // ClientHello bytes, and the label must come back through the FULL
    // inspection path: first-bytes rule table says "tls" → SNI
    // extraction → longest-suffix hostname resolution. The decoys pin
    // the negative space: an unknown domain, a non-boundary embedding
    // (fakenetflix.com), and a prefix attack (netflix.com.evil.example)
    // must all stay bare "tls". Per-row O(hello bytes) map work + one
    // partial agg — a pure map lane at 100 TB, like q312.
    Q("q326_sni_apps",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.functions.{L7, SniApps}
        val vecs = SniApps.gateVectors
        val nv = vecs.size
        Tables.events(s, d).select(col("event_id").cast("long"))
          .as[Long]
          .mapPartitions(_.map { eid =>
            val hidx = (eid % nv).toInt
            val hello = L7.clientHello(vecs(hidx)._1)
            val base = L7.classifyPayload(hello)
            val label =
              if (base != "tls") "rule_miss_" + base
              else L7.tlsSni(hello) match {
                case None => "sni_parse_miss"
                case Some(sni) => SniApps.app(sni).getOrElse("tls")
              }
            (label, hidx.toLong)
          }).toDF("app", "hidx")
          .groupBy("app")
          .agg(count(lit(1)).as("n"),
            countDistinct("hidx").as("n_hosts"))
      },
      Some(s"""WITH m AS (SELECT event_id % ${SniApps.gateVectors.size}
                AS hidx,
              ${SniApps.gateVectors.zipWithIndex
                .map { case ((_, a), i) => s"WHEN $i THEN '$a'" }
                .mkString("CASE event_id % " +
                  SniApps.gateVectors.size + " ", " ", " END")} AS app
              FROM events)
            SELECT app, count(*) AS n,
              count(DISTINCT hidx) AS n_hosts
            FROM m GROUP BY 1"""),
      doc = "TLS-SNI hostname→app classification for the nDPI tier-1 " +
        "app list (30 apps, longest-suffix on label boundaries, " +
        "3 decoys that must not classify)"),

    // Partitioned-at-rest layout + PARTITION PRUNING, gated (VERDICT
    // r12 #7): SURVEY §9 prescribes partitioning the 100 TB flow
    // archive by (time-bin, exporter-hash) so time-bounded queries read
    // only matching directories — this lane WRITES that layout (day ×
    // ip_src%8: ~240 directories over the month of test data) and then
    // PROVES the pruning fired, not just that the answer is right:
    // after the time-bounded aggregation executes, the physical scan's
    // partitionFilters must be non-empty and its numFiles metric must
    // equal the file count under the matching tbin= directories and be
    // strictly below the table's total file count. The same evidence
    // check is wired into PlanAudit (pruningEvidence below) so a plan
    // regression fails the audit, not only this gate.
    Q("q329_partition_pruning",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val (aggRows, ev) = pruningEvidence(s, d)
        (aggRows.map { case (k, n, v) => ("agg", k, n, v) } ++ Seq(
          ("prune", "partition_filters_present", 1L,
            if (ev.pfPresent) 1L else 0L),
          ("prune", "scanned_lt_total", 1L,
            if (ev.filesScanned < ev.filesTotal) 1L else 0L),
          ("prune", "scanned_eq_matching", 1L,
            if (ev.filesScanned == ev.filesMatching) 1L else 0L)))
          .toDF("kind", "key", "n", "v")
      },
      Some(graft.core.FlowView.cte(
        """SELECT 'agg' AS kind, CAST(ip_src % 8 AS VARCHAR) AS key,
             count(*) AS n, CAST(sum(bytes) AS BIGINT) AS v
           FROM flows
           WHERE t0u // 86400000000 =
             (SELECT min(t0u // 86400000000) FROM flows)
           GROUP BY 2
           UNION ALL SELECT 'prune', 'partition_filters_present', 1, 1
           UNION ALL SELECT 'prune', 'scanned_lt_total', 1, 1
           UNION ALL SELECT 'prune', 'scanned_eq_matching', 1, 1""")),
      doc = "partitioned-at-rest (time-bin × exporter-hash) archive " +
        "write + gated proof that partition pruning fires on a " +
        "time-bounded read"),

    // DYNAMIC partition pruning, gated (VERDICT r13 #4): q329 proves
    // static pruning on a literal time bound; the 100 TB query that
    // matters equally arrives with the bound in a JOINED DIMENSION —
    // "the first day in the calendar table", not "tbin = 12345". The
    // optimizer cannot prune statically (the matching tbin is unknown
    // until the dim filter runs), so Spark must inject a
    // DynamicPruningExpression into the fact scan's partition filters:
    // the dim side executes first (broadcast), its tbin values feed
    // the fact's partition listing, and the scan touches ONLY the
    // matching directories. The gate proves all three legs from the
    // executed plan (q329's evidence path): a dynamic pruning filter
    // is PRESENT on the fact scan, numFiles == the files under the
    // matching tbin= dirs, and strictly < the archive's total. The
    // same check runs as a standing PlanAudit invariant.
    Q("q333_dpp_dim_prune",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val (aggRows, ev) = dppEvidence(s, d)
        (aggRows.map { case (k, n, v) => ("agg", k, n, v) } ++ Seq(
          ("dpp", "dynamic_filter_present", 1L,
            if (ev.dynPruned) 1L else 0L),
          ("dpp", "scanned_lt_total", 1L,
            if (ev.filesScanned < ev.filesTotal) 1L else 0L),
          ("dpp", "scanned_eq_matching", 1L,
            if (ev.filesScanned == ev.filesMatching) 1L else 0L)))
          .toDF("kind", "key", "n", "v")
      },
      Some(graft.core.FlowView.cte(
        """SELECT 'agg' AS kind, CAST(ip_src % 8 AS VARCHAR) AS key,
             count(*) AS n, CAST(sum(bytes) AS BIGINT) AS v
           FROM flows
           WHERE t0u // 86400000000 IN (
             SELECT tbin FROM (SELECT DISTINCT t0u // 86400000000
               AS tbin FROM flows)
             WHERE tbin = (SELECT min(t0u // 86400000000) FROM flows))
           GROUP BY 2
           UNION ALL SELECT 'dpp', 'dynamic_filter_present', 1, 1
           UNION ALL SELECT 'dpp', 'scanned_lt_total', 1, 1
           UNION ALL SELECT 'dpp', 'scanned_eq_matching', 1, 1""")),
      doc = "dynamic partition pruning: time bound arrives via a " +
        "joined dim table, the fact scan's dynamic filter is proven " +
        "from executed-plan metrics (scanned == matching < total)")
  )

  /** The catalog tables [[bucketStreamCompact]] registers. */
  val bucketStreamTables =
    Seq("graft_bs_orders", "graft_bs_lineitem", "graft_bs_lineitem_c")

  private def dropTables(s: org.apache.spark.sql.SparkSession,
                         names: String*): Unit =
    names.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))

  /** q239's archive loop with its files under `wh`: streams lineitem
    * into a bucketed table, compacts it to one sorted file per bucket,
    * registers [[bucketStreamTables]] over those files and returns the
    * merge join over the compacted table. PlanSpec runs it over a
    * directory of its own to count the tables' files. */
  def bucketStreamCompact(s: org.apache.spark.sql.SparkSession, d: String,
                          wh: java.nio.file.Path)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.AggregatePlanner.sumScaled
    import org.apache.spark.sql.streaming.Trigger
    // incoming feed: lineitem as 3 arrival files -> 3 micro-batches
    val src = s"$wh/incoming"
    Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
      .repartition(3).write.parquet(src)
    val schema = s.read.parquet(src).schema
    s.sql("DROP TABLE IF EXISTS graft_bs_orders")
    Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
      .write.format("parquet").bucketBy(16, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$wh/orders")
      .mode("overwrite").saveAsTable("graft_bs_orders")
    s.sql("DROP TABLE IF EXISTS graft_bs_lineitem")
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/part-*")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.format("parquet")
          .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$wh/lineitem")
          .mode("append").saveAsTable("graft_bs_lineitem")
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // compaction: one bucket per task -> one sorted file per bucket
    // (raw-path read, so the bucket shuffle really materializes)
    s.sql("DROP TABLE IF EXISTS graft_bs_lineitem_c")
    s.read.parquet(s"$wh/lineitem")
      .repartition(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.format("parquet").bucketBy(16, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$wh/lineitem_c")
      .mode("overwrite").saveAsTable("graft_bs_lineitem_c")
    val o = s.table("graft_bs_orders")
    val l = s.table("graft_bs_lineitem_c")
    o.hint("merge")
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sumScaled(col("l_extendedprice"), 2).as("revenue_c"))
  }

  /** Partition-pruning evidence for q329 and PlanAudit: writes the
    * (tbin, exp_h)-partitioned archive, runs the time-bounded
    * aggregation, and reports what the executed scan actually read.
    * Returns the aggregate rows (exporter-hash key, n, bytes) plus the
    * pruning evidence. */
  final case class PruneEvidence(filesScanned: Long, filesMatching: Long,
      filesTotal: Long, pfPresent: Boolean)
  def pruningEvidence(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[(String, Long, Long)], PruneEvidence) =
    Graft.withScratch("graft_part") { tmp =>
      val root = tmp.resolve("facts").toString
      flows(s, d)
        .selectExpr("ip_src % 8 AS exp_h",
          "t0u div 86400000000 AS tbin", "bytes")
        .write.partitionBy("tbin", "exp_h").parquet(root)
      val minTbin = flows(s, d)
        .selectExpr("min(t0u div 86400000000) AS m")
        .collect()(0).getLong(0)
      val agg = s.read.parquet(root)
        .where(col("tbin") === minTbin)
        .groupBy("exp_h")
        .agg(count(lit(1)).as("n"), sum("bytes").as("v"))
      val aggRows = agg.collect().toSeq
        .map(r => (r.get(0).toString,
          r.getLong(1), r.getLong(2)))
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scans(a.executedPlan)
          // after execution AQE materializes stages as leaf
          // QueryStageExec nodes — recurse into their plans
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scans(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f)
          case other => other.children.flatMap(scans)
        }
      val sc = scans(agg.queryExecution.executedPlan)
      val filesScanned = sc.map(_.metrics("numFiles").value).sum
      val pfPresent = sc.nonEmpty && sc.forall(_.partitionFilters.nonEmpty)
      import scala.jdk.CollectionConverters._
      val all = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(_.toString)
        .toVector
      val matching = all.count(_.contains(s"tbin=$minTbin/"))
      (aggRows, PruneEvidence(filesScanned, matching.toLong,
        all.size.toLong, pfPresent))
    }

  /** Dynamic-partition-pruning evidence for q333 and PlanAudit: writes
    * a tbin-partitioned archive plus a (tbin, tag) dim table, runs the
    * dim-bounded join aggregation, and reports what the executed fact
    * scan actually read — the dynamic filter's presence and the
    * post-pruning file count. */
  final case class DppEvidence(filesScanned: Long, filesMatching: Long,
      filesTotal: Long, dynPruned: Boolean)
  def dppEvidence(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[(String, Long, Long)], DppEvidence) =
    Graft.withScratch("graft_dpp") { tmp =>
      val root = tmp.resolve("facts").toString
      val dimP = tmp.resolve("dim").toString
      flows(s, d)
        .selectExpr("ip_src % 8 AS exp_h",
          "t0u div 86400000000 AS tbin", "bytes")
        .write.partitionBy("tbin").parquet(root)
      val minTbin = flows(s, d)
        .selectExpr("min(t0u div 86400000000) AS m")
        .collect()(0).getLong(0)
      // the calendar dim: one row per day, exactly one tagged 'first'
      // — written to parquet so the bound is NOT statically visible
      flows(s, d)
        .selectExpr("t0u div 86400000000 AS tbin").distinct()
        .selectExpr("tbin",
          s"CASE WHEN tbin = ${minTbin}L THEN 'first' ELSE 'rest' END" +
            " AS tag")
        .coalesce(1).write.parquet(dimP)
      val fact = s.read.parquet(root)
      val dim = s.read.parquet(dimP).where(col("tag") === "first")
      val agg = fact.join(broadcast(dim), Seq("tbin"))
        .groupBy("exp_h")
        .agg(count(lit(1)).as("n"), sum("bytes").as("v"))
      val aggRows = agg.collect().toSeq
        .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scans(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f)
          case other => other.children.flatMap(scans)
        }
      // the FACT scan is the partitioned one (the dim scan has no
      // partition filters — exclude it by root path)
      val sc = scans(agg.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains("facts")))
      val filesScanned = sc.map(_.metrics("numFiles").value).sum
      val dynPruned = sc.nonEmpty && sc.forall(_.partitionFilters
        .exists(_.toString.toLowerCase.contains("dynamicprun")))
      import scala.jdk.CollectionConverters._
      val all = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(_.toString)
        .toVector
      val matching = all.count(_.contains(s"tbin=$minTbin/"))
      (aggRows, DppEvidence(filesScanned, matching.toLong,
        all.size.toLong, dynPruned))
    }
}
