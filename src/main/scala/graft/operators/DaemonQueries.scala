package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{FlowView, Graft, Q, Tables}
import graft.maps.Dims
import graft.plans.Lpm

/** The four daemon-edge surfaces previously declared out of scope —
  * now first-class: NFLOG capture (uacctd's input), AMQP 0-9-1 publish
  * (the RabbitMQ sink's framing), Redis health keyspace (cluster
  * presence publishing), and IS-IS link-state → IGP route enrichment.
  * Each runs its real wire codec inside the pipeline with an oracle on
  * the underived rows, so codec defects break parity.
  */
object DaemonQueries {

  private def flows(s: org.apache.spark.sql.SparkSession, d: String) =
    FlowView.fromEvents(Tables.events(s, d))

  private val flowsSqlCte = s"WITH flows AS (${FlowView.sql})"

  // ---- IS-IS route fixture (16-bit flow space; wire carries the
  // prefix in the top 16 bits of an IPv4 prefix, len+16) --------------
  //
  // Router r∈[0,4): one /2 block (base r<<14, metric 10+r) plus four /6
  // specifics (base r<<14|k<<10, metric 100+4r+k). Two LSDB semantics
  // are exercised on top: router 0's /2 first appears with metric 999
  // at seqno 1 and is superseded at seqno 2 (highest-seqno-wins), and
  // router 3 advertises a bogus /6 in fragment 1 that a zero-lifetime
  // reissue purges (ISO 10589 §7.3.16.4).
  private val isisExpected: Seq[Seq[Any]] =
    (0 until 4).flatMap { r =>
      Seq[Seq[Any]](Seq((r.toLong << 14), 2L, 10L + r, s"isis-r$r")) ++
        (0 until 4).map { k =>
          Seq[Any]((r.toLong << 14) | (k.toLong << 10), 6L,
            100L + 4 * r + k, s"isis-r$r")
        }
    }

  private def isisLsdb(): Seq[graft.sources.IsisMsg.Lsp] = {
    import graft.sources.IsisMsg.{Lsp, Reach}
    def wire(base: Long, len: Int, metric: Long) =
      Reach(base << 16, len + 16, metric)
    (0 until 4).flatMap { r =>
      val sysId = 0x490001000000L + r
      val specifics = (0 until 4).map(k =>
        wire((r.toLong << 14) | (k.toLong << 10), 6, 100L + 4 * r + k))
      val stale =
        if (r == 0)
          Seq(Lsp(2, sysId, 0, 0, seqNo = 1, lifetime = 1199,
            hostname = s"isis-r$r", reach = Seq(wire(0L, 2, 999))))
        else Nil
      val main = Lsp(2, sysId, 0, 0, seqNo = 2, lifetime = 1199,
        hostname = s"isis-r$r",
        reach = wire(r.toLong << 14, 2, 10L + r) +: specifics)
      val purge =
        if (r == 3)
          Seq(
            Lsp(1, sysId, 0, 1, seqNo = 1, lifetime = 1199, hostname = "",
              reach = Seq(wire((3L << 14) | (1L << 10), 6, 77777))),
            Lsp(1, sysId, 0, 1, seqNo = 2, lifetime = 0, hostname = "",
              reach = Nil))
        else Nil
      stale ++ Seq(main) ++ purge
    }
  }

  val all: Seq[Q] = Seq(

    // NFLOG capture (uacctd.c:47-130): flows become logged kernel
    // packets — netlink NFULNL_MSG_PACKET messages over a socket stream,
    // half carrying the captured Ethernet header (HWTYPE/HWHEADER leg,
    // uacctd.c:99-103), half raw-IP with the header synthesized
    // (uacctd.c:104-116); one leg in seven is a non-INET family the
    // callback must skip (uacctd.c:62-66). Decode + jumbo reassembly +
    // the pcap parse path recover the tuples; netlink framing, attribute
    // walk, or reassembly defects break parity.
    Q("q145_nflog_capture",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{Nflog, Pcap}
        val rows = flows(s, d).select(
            col("event_id"), col("ip_src"), col("ip_dst"), col("ip_proto"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            (col("bytes") % 65536).as("iplen"), col("tcp_flags"),
            col("t0u"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(40).flatMap { batch =>
            val stream = new java.io.ByteArrayOutputStream()
            batch.foreach { case (eid, sa, da, pr, spp, dp, len, fl, t) =>
              val frame = Pcap.frame(Pcap.FlowTuple(
                sa, da, pr.toInt, spp.toInt, dp.toInt, len, t)).data
              val family = if (eid % 7 == 0) 0 else Nflog.AfInet
              val msg = Nflog.encode(
                group = (eid % 3).toInt, family = family,
                hwProto = 0x0800, hook = 3, mark = fl, tsUs = t,
                ifIn = (sa % 8 + 1).toInt, ifOut = (da % 8 + 1).toInt,
                prefix = "acct",
                ipPacket = java.util.Arrays.copyOfRange(
                  frame, 14, frame.length),
                hwHeader =
                  if (eid % 2 == 0)
                    Some(java.util.Arrays.copyOf(frame, 14))
                  else None,
                seq = eid)
              stream.write(msg, 0, msg.length)
            }
            Nflog.decode(stream.toByteArray).iterator.flatMap { m =>
              Pcap.parse(Pcap.Packet(m.tsUs, m.frame.length.toLong,
                m.frame)).map(t =>
                (m.group.toLong, m.mark, m.ifIn.toLong, t.proto.toLong,
                  t.ipLen))
            }
          }
        }
        decoded.toDF("grp", "mark", "if_in", "proto", "iplen")
          .groupBy("grp", "proto")
          .agg(count(lit(1)).as("n"), sum("iplen").as("ip_bytes"),
            sum("mark").as("sum_mark"),
            countDistinct("if_in").as("n_ifaces"))
      },
      Some(s"""$flowsSqlCte
            SELECT event_id % 3 AS grp, ip_proto AS proto, count(*) AS n,
              CAST(sum(bytes % 65536) AS BIGINT) AS ip_bytes,
              CAST(sum(tcp_flags) AS BIGINT) AS sum_mark,
              count(DISTINCT ip_src % 8 + 1) AS n_ifaces
            FROM flows WHERE event_id % 7 <> 0
            GROUP BY 1, 2"""),
      doc = "NFLOG netlink capture: encode, decode, jumbo reassembly"),

    // AMQP 0-9-1 publish (amqp_plugin.c; amqp_common.c:266
    // amqp_basic_publish): aggregate rows become JSON bodies published
    // to the 'pmacct' exchange under per-event-type routing keys
    // (amqp_plugin.c:343-363 dynamic rk), 4 channels multiplexed on one
    // connection, frame-max 48 so bodies SPAN body frames. The decoder
    // reassembles per channel like a broker; method/header/body framing
    // or channel-mux defects break parity with the raw-events oracle.
    Q("q146_amqp_publish",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.Amqp
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id as bigint) as uid", "event_type",
            "cast(floor(value * 100) as bigint) as b")
          .as[(Long, String, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(40).flatMap { batch =>
            val pubs = batch.map { case (uid, et, b) =>
              Amqp.Publish((1 + uid % 4).toInt, "pmacct", s"acct_$et",
                "application/json",
                s"""{"uid":$uid,"b":$b}""".getBytes("UTF-8"))
            }
            Amqp.decode(Amqp.connection(pubs, frameMax = 48))
              .iterator.map { p =>
                (p.exchange, p.routingKey, p.contentType,
                  new String(p.body, "UTF-8"))
              }
          }
        }.toDF("exchange", "rkey", "ctype", "payload")
        decoded
          .withColumn("j", from_json(col("payload"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "uid BIGINT, b BIGINT")))
          .groupBy("rkey")
          .agg(count(lit(1)).as("n"), sum("j.b").as("bytes"),
            sum("j.uid").as("sum_uid"),
            countDistinct("exchange").as("n_exchanges"))
      },
      Some("""SELECT 'acct_' || event_type AS rkey, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              CAST(sum(user_id) AS BIGINT) AS sum_uid,
              CAST(1 AS BIGINT) AS n_exchanges
              FROM events GROUP BY 1"""),
      doc = "AMQP 0-9-1 framing: publish, channel mux, body reassembly"),

    // Redis health keyspace (redis_common.c:281-335 core handler,
    // :171-232 SETEX with cluster+id+process+name+type keys, 3 s expiry
    // refreshed at exp/3): every event row is one daemon heartbeat;
    // heartbeats pipeline as RESP SETEX commands, decode back, and the
    // keyspace liveness rule — last refresh + expiry > horizon — is
    // evaluated relationally. The horizon is the global max heartbeat,
    // so daemons whose last refresh is older than 3 s read as dead,
    // exactly what the reference's monitoring consumers see via KEYS.
    Q("q147_redis_health",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.Resp
        val rows = Tables.events(s, d).selectExpr(
            "event_type", "cast(unix_seconds(ts) as bigint) as tss")
          .as[(String, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(40).flatMap { batch =>
            // arrival order carries the timestamps: commands are
            // pipelined in ts order and re-zipped post-decode, the way
            // a server timestamps arriving commands
            val sorted = batch.sortBy(_._2)
            val cmds = sorted.map { case (et, _) =>
              Resp.healthRefresh("graft", 0, s"nfacctd_$et", "core")
            }
            Resp.decode(Resp.pipeline(cmds)).iterator
              .zip(sorted.iterator.map(_._2)).collect {
                case (Seq("SETEX", key, exp, _), ts) =>
                  (key, exp.toLong, ts)
              }
          }
        }.toDF("key", "exp", "tss")
        val horizon = decoded.agg(max("tss").as("horizon"))
        decoded.groupBy("key", "exp")
          .agg(count(lit(1)).as("n_refresh"), max("tss").as("last_tss"))
          .crossJoin(broadcast(horizon))
          .select(col("key"), col("n_refresh"), col("last_tss"),
            (col("last_tss") + col("exp") > col("horizon"))
              .cast("long").as("alive"))
      },
      Some("""WITH hb AS (SELECT
                'graft+0+process+nfacctd_' || event_type || '+core' AS key,
                epoch_us(ts) // 1000000 AS tss
              FROM events),
            h AS (SELECT max(tss) AS horizon FROM hb)
            SELECT key, count(*) AS n_refresh, max(tss) AS last_tss,
              CAST((max(tss) + 3 > (SELECT horizon FROM h)) AS BIGINT)
                AS alive
            FROM hb GROUP BY key"""),
      doc = "Redis RESP health keyspace: SETEX heartbeats, liveness"),

    // IS-IS → IGP enrichment (docs/INTERNALS:45-48: route lookup vs the
    // IGP table, historically src/isis/isis.c): a 4-router L1/L2 LSP
    // database — highest-seqno-wins, a zero-lifetime purge, hostname
    // TLVs, multi-instance TLV 135 — encodes to wire, decodes back,
    // projects to the IGP RIB, and enriches flows by longest-prefix
    // match exactly like networks_file (one broadcast join per mask
    // length). Any LSP framing, TLV-walk, LSDB-compaction, or LPM
    // defect breaks parity with the intended route table.
    Q("q148_isis_igp",
      (s, d) => {
        import graft.sources.IsisMsg
        val sp = s
        import sp.implicits._
        val wire = new java.io.ByteArrayOutputStream()
        isisLsdb().foreach { l =>
          val b = IsisMsg.encode(l); wire.write(b, 0, b.length)
        }
        val rib = IsisMsg.rib(IsisMsg.decode(wire.toByteArray))
          .map { case (_, host, r) =>
            (r.prefix >> 16, (r.len - 16).toLong, r.metric, host)
          }
        val dim = rib.toDF("base", "len", "metric", "hostname")
        Lpm.joinLongestMatch(flows(s, d), dim, col("ip_dst"),
            Seq(2, 6), 16, Seq("metric", "hostname"))
          .groupBy("hostname")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"),
            sum("metric").as("sum_metric"))
      },
      Some(s"""$flowsSqlCte,
            ${Dims.values("igp", Seq("base", "len", "metric", "hostname"),
              isisExpected)}
            SELECT (SELECT n.hostname FROM igp n
                WHERE ((f.ip_dst >> (16 - n.len)) << (16 - n.len)) = n.base
                ORDER BY n.len DESC LIMIT 1) AS hostname,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes,
              CAST(sum((SELECT n.metric FROM igp n
                WHERE ((f.ip_dst >> (16 - n.len)) << (16 - n.len)) = n.base
                ORDER BY n.len DESC LIMIT 1)) AS BIGINT) AS sum_metric
            FROM flows f GROUP BY 1"""),
      doc = "IS-IS LSP database to IGP RIB, LPM flow enrichment"),

    // BGP Looking Glass server (docs/LOOKING_GLASS_FORMAT;
    // bgp_daemon_lg*, CONFIG-KEYS:3232-3260): a ZMQ REQ/REP JSON
    // protocol over the live RIB — type-1 requests carry a header
    // object plus one {ip_prefix, peer} object per lookup and are
    // answered with lglass result objects from a longest-prefix match;
    // type-2 requests enumerate connected peers. Requests ride ZMTP
    // multipart envelopes (the reference's ZMQ transport), the RIB is
    // the broadcast dimension, and replies aggregate per (type, peer).
    // Envelope, header-count, JSON, or LPM defects break parity.
    Q("q155_bgp_lg",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Zmtp
        val rows = flows(s, d).select(
            col("event_id"), (col("ip_src") % 16 % 2).as("peer"),
            col("ip_dst"))
          .as[(Long, Long, Long)]
        val requests = rows.mapPartitions { it =>
          it.grouped(20).flatMap { batch =>
            // one ZMTP session per slice; each request is a multipart
            // message: [topic, header JSON, query JSON...]
            val msgs: Seq[Seq[Array[Byte]]] = batch.map {
              case (eid, peer, ip) =>
                if (eid % 17 == 0)
                  Seq("lg".getBytes("UTF-8"),
                    """{"query_type":2,"queries":1}""".getBytes("UTF-8"))
                else
                  Seq("lg".getBytes("UTF-8"),
                    """{"query_type":1,"queries":1}""".getBytes("UTF-8"),
                    s"""{"ip_prefix":$ip,"peer":$peer}"""
                      .getBytes("UTF-8"))
            }
            Zmtp.decodeSession(Zmtp.session(msgs)).iterator.flatMap {
              parts =>
                val hdr = new String(parts(1), "UTF-8")
                val qt = if (hdr.contains("\"query_type\":2")) 2L else 1L
                if (qt == 2L) Iterator((2L, -1L, -1L))
                else parts.drop(2).iterator.map { q =>
                  val js = new String(q, "UTF-8")
                  val ip = js.split("\"ip_prefix\":")(1)
                    .takeWhile(_.isDigit).toLong
                  val peer = js.split("\"peer\":")(1)
                    .takeWhile(_.isDigit).toLong
                  (1L, peer, ip)
                }
            }
          }
        }.toDF("qtype", "peer", "ip")
        // type-1 replies: per-peer longest-prefix match over the RIB
        // dim, keyed into the 17-bit (peer, ip) product space so the
        // peer scoping rides the same broadcast probe chain as q26
        val keyedRib = Dims.rib(s).select(
          (col("peer") * 65536L + col("base")).as("base"),
          (col("len") + 1).as("len"), col("origin_as"), col("med"))
        val looked = Lpm.joinLongestMatch(
            requests.filter(col("qtype") === 1L), keyedRib,
            (col("peer") * 65536L + col("ip")),
            Dims.ribLens.map(_ + 1), 17, Seq("origin_as", "med"))
          .groupBy("qtype", "peer")
          .agg(count(lit(1)).as("n"),
            sum(when(col("origin_as").isNotNull, 1L).otherwise(0L))
              .as("n_matched"),
            coalesce(sum("med"), lit(0L)).as("sum_med"))
        val peersLeg = requests.filter(col("qtype") === 2L)
          .groupBy("qtype", "peer")
          .agg(count(lit(1)).as("n"),
            lit(2L).as("n_matched"), // two connected peers (fixture)
            lit(0L).as("sum_med"))
        looked.unionByName(peersLeg)
      },
      Some(s"""$flowsSqlCte, ${Dims.ribSql},
            reqs AS (SELECT event_id, ip_src % 16 % 2 AS peer,
                ip_dst AS ip,
                CASE WHEN event_id % 17 = 0 THEN 2 ELSE 1 END AS qtype
              FROM flows),
            t1 AS (SELECT qtype, peer, ip,
                (SELECT n.origin_as FROM rib n WHERE n.peer = reqs.peer
                  AND ((ip >> (16 - n.len)) << (16 - n.len)) = n.base
                  ORDER BY n.len DESC LIMIT 1) AS origin_as,
                (SELECT n.med FROM rib n WHERE n.peer = reqs.peer
                  AND ((ip >> (16 - n.len)) << (16 - n.len)) = n.base
                  ORDER BY n.len DESC LIMIT 1) AS med
              FROM reqs WHERE qtype = 1)
            SELECT qtype, peer, count(*) AS n,
              CAST(sum(CASE WHEN origin_as IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
              CAST(coalesce(sum(med), 0) AS BIGINT) AS sum_med
            FROM t1 GROUP BY 1, 2
            UNION ALL
            SELECT CAST(2 AS BIGINT) AS qtype, CAST(-1 AS BIGINT) AS peer,
              count(*) AS n, CAST(2 AS BIGINT) AS n_matched,
              CAST(0 AS BIGINT) AS sum_med
            FROM reqs WHERE qtype = 2"""),
      doc = "BGP Looking Glass: ZMTP JSON requests, RIB LPM replies"),

    // BGP/BMP high availability (docs/README_BGP_BMP_HA.md): routers
    // feed identical message streams to every collector in the HA
    // cluster; the ACTIVE collector — the one with the SMALLEST startup
    // timestamp among those alive — forwards messages, standbys enrich
    // their cache but drop. When the active crashes, the standby takes
    // over (its startup ts is now smallest among the living). Modeled
    // exactly as the dedup it is: collector A (startup 1000) dies at a
    // per-router cutover instant and never returns; collector B
    // (startup 2000) receives everything; each message is emitted ONCE,
    // from min-startup among the copies that exist. The per-message
    // min_by pick over the unioned feeds IS the HA gate.
    Q("q168_bgp_ha",
      (s, d) => {
        val f = flows(s, d).select(
          (col("ip_src") % 8).as("router"), col("event_id").as("seq"),
          col("t0u"))
        val bounds = f.groupBy("router").agg(
          min("t0u").as("tmin"), max("t0u").as("tmax"))
        val withTau = f.join(broadcast(bounds), Seq("router"))
          .withColumn("tau", expr(
            "tmin + ((tmax - tmin) * (router + 1)) div 16"))
        val feedA = withTau.filter(col("t0u") < col("tau"))
          .select(col("router"), col("seq"), lit("A").as("coll"),
            lit(1000L).as("startup"))
        val feedB = withTau
          .select(col("router"), col("seq"), lit("B").as("coll"),
            lit(2000L).as("startup"))
        feedA.union(feedB)
          .groupBy("router", "seq")
          .agg(expr("min_by(coll, startup)").as("emitted_by"))
          .groupBy("router")
          .agg(
            sum(when(col("emitted_by") === "A", 1L).otherwise(0L))
              .as("n_from_active"),
            sum(when(col("emitted_by") === "B", 1L).otherwise(0L))
              .as("n_from_standby"),
            count(lit(1)).as("n_total"),
            max(when(col("emitted_by") === "B", 1L).otherwise(0L))
              .as("failed_over"))
      },
      Some(s"""$flowsSqlCte,
            f AS (SELECT ip_src % 8 AS router, event_id AS seq, t0u
              FROM flows),
            b AS (SELECT router, min(t0u) AS tmin, max(t0u) AS tmax
              FROM f GROUP BY router),
            t AS (SELECT f.*, tmin + ((tmax - tmin) * (router + 1)) // 16
                AS tau
              FROM f JOIN b USING (router)),
            u AS (SELECT router, seq, 'A' AS coll, 1000 AS startup
                FROM t WHERE t0u < tau
              UNION ALL
              SELECT router, seq, 'B' AS coll, 2000 AS startup FROM t),
            picked AS (SELECT router, seq,
                arg_min(coll, startup) AS emitted_by
              FROM u GROUP BY 1, 2)
            SELECT router,
              CAST(sum(CASE WHEN emitted_by = 'A' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_from_active,
              CAST(sum(CASE WHEN emitted_by = 'B' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_from_standby,
              count(*) AS n_total,
              CAST(max(CASE WHEN emitted_by = 'B' THEN 1 ELSE 0 END)
                AS BIGINT) AS failed_over
            FROM picked GROUP BY router"""),
      doc = "BGP/BMP HA: min-startup active pick, standby failover dedup"),

    // Kafka sink wire proof (kafka_plugin.c via librdkafka; the broker
    // itself is env-blocked — no jar, no egress — so the PROTOCOL gets
    // the same byte-level treatment as AMQP q146 and RESP q147):
    // aggregate rows become per-(topic, partition) RecordBatch v2
    // payloads inside size-prefixed Produce v9 requests, pipelined like
    // a socket stream; the decoder walks the stream like the broker's
    // network thread — flexible varint framing, compact arrays, CRC32C
    // verification — and the per-topic rollup must reconcile with the
    // raw-events oracle. A framing, varint, or CRC defect breaks parity.
    Q("q203_kafka_produce_wire",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.KafkaWire
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id as bigint) as uid", "event_type",
            "cast(floor(value * 100) as bigint) as b")
          .as[(Long, String, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(60).zipWithIndex.flatMap { case (batch, corr) =>
            val byPart = batch.groupBy { case (uid, et, _) =>
              (s"acct_$et", (uid % 3).toInt)
            }.toSeq.sortBy(_._1)
            val pbs = byPart.map { case ((topic, p), recs) =>
              KafkaWire.PartitionBatch(topic, p, recs.map {
                case (uid, _, b) =>
                  KafkaWire.Record(s"k$uid", s"$uid:$b".getBytes("UTF-8"))
              })
            }
            val wire = KafkaWire.encodeProduce(corr, "graft_kafka",
              pbs, baseTs = 1700000000000L)
            KafkaWire.decodeStream(wire).iterator.flatMap { pr =>
              pr.records.map { r =>
                val Array(uid, b) = new String(r.value, "UTF-8").split(':')
                (pr.topic, pr.partition.toLong, uid.toLong, b.toLong)
              }
            }
          }
        }.toDF("topic", "partition", "uid", "b")
        decoded.groupBy("topic", "partition")
          .agg(count(lit(1)).as("n"), sum("b").as("sum_b"),
            countDistinct("uid").as("n_uids"))
      },
      Some("""SELECT 'acct_' || event_type AS topic,
              user_id % 3 AS partition, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_b,
              count(DISTINCT user_id) AS n_uids
            FROM events GROUP BY 1, 2"""),
      doc = "Kafka Produce v9 wire: batches, varints, CRC32C reconciled"),

    // Kafka LIVE end-to-end (kafka_plugin.c producer → broker → consumer;
    // the real broker stays env-blocked, so the q238-style live gate runs
    // against an in-process broker speaking the same public wire protocol
    // the q203 codec proved): executor tasks open real loopback sockets
    // and speak Produce v9 with acks (one connection per task, acks=1
    // librdkafka-style); the broker assigns base offsets by REWRITING the
    // batch header in place (legal exactly because RecordBatch CRC32C
    // excludes baseOffset) and serves Fetch v4 from the stored bytes
    // verbatim (the zero-copy path). The consumer side mirrors a consumer
    // group: the partition assignment comes from the broker's metadata
    // view, each task pages its partitions by offset with a LAZY unfold
    // (O(fetch page) memory, socket closed when the log is drained), and
    // the landed rows persist to a spill-store before the broker closes —
    // the returned plan reads the landed data, as a downstream job would.
    // The oracle checks offset CONTINUITY per partition (max_off = n-1)
    // on top of content parity: a lost batch, a double append, or an
    // offset-rewrite defect breaks it.
    Q("q248_kafka_live",
      (s, d) => Graft.scratchLane("q248_kafka") { scratch =>
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val store = scratch.resolve("landed").toString
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(user_id as bigint) as uid", "event_type",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, String, Long)]
          rows.repartition(8).foreachPartition {
            (it: Iterator[(Long, String, Long)]) =>
              KafkaMiniBroker.produceAll(port, "graft_live",
                it.grouped(60).map { batch =>
                  batch.groupBy { case (uid, et, _) =>
                    (s"acct_$et", (uid % 4).toInt)
                  }.toSeq.sortBy(_._1).map { case ((topic, p), recs) =>
                    KafkaWire.PartitionBatch(topic, p, recs.map {
                      case (uid, _, b) =>
                        KafkaWire.Record(s"k$uid",
                          s"$uid:$b".getBytes("UTF-8"))
                    })
                  }
                })
          }
          // consumer group: assignment = broker metadata, tasks page
          // their partitions by offset over their own connections
          val assign = broker.partitionEnds
          val landed = s.sparkContext
            .parallelize(assign, math.max(1, math.min(assign.size, 16)))
            .mapPartitions { parts =>
              parts.flatMap { case (topic, p, hw) =>
                KafkaMiniBroker.consume(port, topic, p, hw).map {
                  case (off, r) =>
                    val Array(uid, b) =
                      new String(r.value, "UTF-8").split(':')
                    (topic, p.toLong, off, uid.toLong, b.toLong)
                }
              }
            }.toDF("topic", "partition", "off", "uid", "b")
          landed.write.mode("overwrite").parquet(store)
        } finally broker.close()
        s.read.parquet(store)
          .groupBy("topic", "partition")
          .agg(count(lit(1)).as("n"), max("off").as("max_off"),
            sum("b").as("sum_b"), countDistinct("uid").as("n_uids"))
      },
      Some("""SELECT 'acct_' || event_type AS topic,
              user_id % 4 AS partition, count(*) AS n,
              count(*) - 1 AS max_off,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_b,
              count(DISTINCT user_id) AS n_uids
            FROM events GROUP BY 1, 2"""),
      doc = "Kafka live gate: socket Produce/Fetch, offset continuity"),

    // Reference test 900-kafka-connection-loss REPLAY (the last
    // env-blocked golden family, now replayable against the live
    // mini-broker): the kafka plugin keeps purging while the broker is
    // up, and when it goes away each purge attempt logs EXACTLY the two
    // golden error lanes from output-log-01.txt — the outq check, then
    // the producer close (src/kafka_common.c p_kafka_check_outq_len /
    // p_kafka_close) — drops that purge's data, and the daemon KEEPS
    // accounting (test 900's core assertion: connection loss never
    // kills nfacctd). When the broker returns (restart keeps the log —
    // the durable-log semantics of a real broker), purges resume on the
    // same partition offsets. Six purge cycles, broker down for cycles
    // 2-3; the driver plays the plugin's single writer (check-then-
    // purge, matching the reference's sequential purge timeline), the
    // purge itself is the distributed produce of q248. The oracle pins
    // (a) consumed flows = exactly the four up-cycles' data, and (b)
    // the log lanes: first-occurrence order (purge < outq < close) and
    // per-lane counts — a reconnect that double-logged, a purge that
    // silently lost an up-cycle, or a crash mid-loss breaks parity.
    Q("q249_kafka_conn_loss",
      (s, d) => Graft.scratchLane("q249_kafka") { scratch =>
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val store = scratch.resolve("landed").toString
        val log = scala.collection.mutable.Buffer[String]()
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(user_id as bigint) as uid", "event_type",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, String, Long)].cache()
          (0 until 6).foreach { epoch =>
            if (epoch == 2) broker.stop()
            if (epoch == 4) broker.start(port)
            // the plugin's pre-purge liveness check
            // (p_kafka_check_outq_len): a dead broker may still accept
            // the connect — only a ROUND TRIP proves it, so probe with a
            // fetch of a health partition the broker serves empty
            val up = try {
              val (sock, in, out) = KafkaMiniBroker.connect(port)
              try {
                KafkaWire.decodeFetchResponse(KafkaMiniBroker.exchange(
                  in, out, KafkaWire.encodeFetch(0, "health", "__health",
                    0, 0L, 64)))
                true
              } finally sock.close()
            } catch {
              // A downed broker can fail the round trip many ways —
              // refused/reset connect (IOException) or a garbled
              // response tripping a decode require
              // (IllegalArgumentException); ANY failed round trip
              // means down.
              case scala.util.control.NonFatal(_) => false
            }
            if (!up) {
              log += "Connection failed to Kafka: p_kafka_check_outq_len()"
              log += "Connection failed to Kafka: p_kafka_close()"
              // purge dropped; daemon continues (test 900's assertion)
            } else {
              log += "purge"
              rows.filter(_._1 % 6 == epoch).repartition(4)
                .foreachPartition { (it: Iterator[(Long, String, Long)]) =>
                  KafkaMiniBroker.produceAll(port, "graft_loss",
                    it.grouped(60).map { batch =>
                      batch.groupBy { case (uid, et, _) =>
                        (s"acct_$et", (uid % 4).toInt)
                      }.toSeq.sortBy(_._1).map { case ((topic, p), recs) =>
                        KafkaWire.PartitionBatch(topic, p, recs.map {
                          case (uid, _, b) =>
                            KafkaWire.Record(s"k$uid",
                              s"$uid:$b".getBytes("UTF-8"))
                        })
                      }
                    })
                }
            }
          }
          rows.unpersist()
          val assign = broker.partitionEnds
          val landed = s.sparkContext
            .parallelize(assign, math.max(1, math.min(assign.size, 16)))
            .mapPartitions { parts =>
              parts.flatMap { case (topic, p, hw) =>
                KafkaMiniBroker.consume(port, topic, p, hw).map {
                  case (_, r) =>
                    val Array(_, b) =
                      new String(r.value, "UTF-8").split(':')
                    (topic, p.toLong, b.toLong)
                }
              }
            }.toDF("topic", "partition", "b")
          landed.write.mode("overwrite").parquet(store)
        } finally broker.close()
        val logDf = log.toSeq.zipWithIndex
          .groupBy(_._1).toSeq
          .map { case (line, occ) =>
            ("log", line, occ.size.toLong, occ.map(_._2).min.toLong) }
          .toDF("kind", "key", "n", "v")
        s.read.parquet(store)
          .groupBy(concat(col("topic"), lit("/"), col("partition"))
            .as("key"))
          .agg(count(lit(1)).as("n"), sum("b").as("v"))
          .select(lit("flow").as("kind"), col("key"), col("n"), col("v"))
          .unionByName(logDf)
      },
      Some("""SELECT 'flow' AS kind,
              'acct_' || event_type || '/' || (user_id % 4) AS key,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
              FROM events WHERE user_id % 6 NOT IN (2, 3) GROUP BY 2
            UNION ALL SELECT 'log',
              'Connection failed to Kafka: p_kafka_check_outq_len()',
              CAST(2 AS BIGINT), CAST(2 AS BIGINT)
            UNION ALL SELECT 'log',
              'Connection failed to Kafka: p_kafka_close()',
              CAST(2 AS BIGINT), CAST(3 AS BIGINT)
            UNION ALL SELECT 'log', 'purge',
              CAST(4 AS BIGINT), CAST(0 AS BIGINT)"""),
      doc = "test 900 replay: broker loss logs golden lanes, purges resume"),

    // Consumer-GROUP recovery through the broker (the way pmacct's
    // librdkafka consumers actually restart — kafka_common.c configures
    // `group.id`, and a restarted consumer's first moves are
    // FindCoordinator + OffsetFetch, trusting the broker's committed
    // offsets over any local state): generation A drains wave-0 records
    // from offset 0 and commits its next-offsets per partition; the
    // broker then STOPS AND RESTARTS (committed offsets must ride the
    // durable log exactly like the records do); wave 1 lands; a FRESH
    // generation B — no checkpoint, no memory of A — OffsetFetches its
    // start and must read EXACTLY wave 1: a re-read (offset too low),
    // a skip (too high), or offsets lost in the restart all break the
    // per-(gen, partition) count/sum/offset-range parity. Each task
    // fetches and commits only ITS partition over its own connection —
    // the per-partition commit discipline a real consumer group runs.
    Q("q268_kafka_group_resume",
      (s, d) => Graft.scratchLane("q268_kafka") { scratch =>
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val store = scratch.resolve("landed").toString
        val group = "graft_cg"
        val nParts = 4
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(event_id as bigint) as eid",
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long, Long)].cache()
          def produceWave(parity: Int): Unit =
            rows.filter(_._1 % 2 == parity).repartition(8)
              .foreachPartition { (it: Iterator[(Long, Long, Long)]) =>
                KafkaMiniBroker.produceAll(port, "graft_group",
                  it.grouped(60).map { batch =>
                    batch.groupBy { case (_, uid, _) => (uid % 4).toInt }
                      .toSeq.sortBy(_._1).map { case (p, recs) =>
                        KafkaWire.PartitionBatch("acct", p, recs.map {
                          case (_, uid, b) =>
                            KafkaWire.Record(s"k$uid",
                              s"$uid:$b".getBytes("UTF-8"))
                        })
                      }
                  })
              }
          // one consumer generation: every task recovers its partition's
          // start from the coordinator, drains to the log end, commits
          // last+1 — then forgets everything
          def generation(gen: Int): org.apache.spark.sql.DataFrame =
            s.sparkContext.parallelize(0 until nParts, nParts)
              .mapPartitions { ps =>
                ps.flatMap { p =>
                  val committed = KafkaMiniBroker.fetchCommitted(
                    port, group, "acct", Seq(p))(p)
                  // -1 = nothing committed: auto.offset.reset=earliest
                  val start = math.max(committed, 0L)
                  val hw = KafkaMiniBroker.discoverEnds(port, Seq("acct"))
                    .collectFirst { case ("acct", `p`, end) => end }
                    .getOrElse(0L)
                  val got = KafkaMiniBroker.consumeRange(
                    port, "acct", p, start, hw).map { case (off, r) =>
                      val Array(uid, b) =
                        new String(r.value, "UTF-8").split(':')
                      (gen.toLong, p.toLong, off, uid.toLong, b.toLong)
                    }.toVector
                  KafkaMiniBroker.commitOffsets(port, group, "acct",
                    Seq((p, hw)))
                  got.iterator
                }
              }.toDF("gen", "partition", "off", "uid", "b")
          produceWave(0)
          val genA = generation(0)
          genA.write.mode("overwrite").parquet(s"$store/a")
          // the "restart": sever everything; committed offsets and the
          // log both survive, as on a real broker's disk
          broker.stop()
          broker.start(port)
          produceWave(1)
          val genB = generation(1)
          genB.write.mode("overwrite").parquet(s"$store/b")
          rows.unpersist()
        } finally broker.close()
        s.read.parquet(s"$store/a")
          .unionByName(s.read.parquet(s"$store/b"))
          .groupBy("gen", "partition")
          .agg(count(lit(1)).as("n"), sum("b").as("sum_b"),
            min("off").as("min_off"), max("off").as("max_off"))
      },
      Some("""WITH base AS (SELECT event_id % 2 AS gen,
                user_id % 4 AS part,
                CAST(floor(value * 100) AS BIGINT) AS b
              FROM events),
            agg AS (SELECT gen, part, count(*) AS n,
                CAST(sum(b) AS BIGINT) AS sum_b
              FROM base GROUP BY 1, 2)
            SELECT a.gen, a.part AS partition, a.n, a.sum_b,
              CASE WHEN a.gen = 0 THEN 0 ELSE z.n END AS min_off,
              CASE WHEN a.gen = 0 THEN a.n - 1
                   ELSE z.n + a.n - 1 END AS max_off
            FROM agg a LEFT JOIN agg z
              ON z.part = a.part AND z.gen = 0"""),
      doc = "consumer-group offset-commit recovery: FindCoordinator + " +
        "OffsetFetch resume across a broker restart, exactly-once"),

    // The OTHER half of consumer-group coordination: partition
    // ASSIGNMENT from the broker's membership protocol, not from
    // driver-side metadata. Two executor tasks JoinGroup concurrently
    // (the broker's join barrier holds until the declared round
    // fills), the broker elects the first joiner leader, the LEADER
    // TASK computes the range assignment client-side and SyncGroups it
    // back as real ConsumerProtocolAssignment bytes, and every member
    // consumes exactly its returned share. The gate's invariant is the
    // one consumer groups exist for: the union of what the members
    // read equals the topic exactly once — an assignment overlap
    // duplicates rows, a gap loses them, and n_members pins exactly
    // one owner per partition. generation rides the output so a
    // double-completed join round also breaks parity.
    Q("q275_kafka_group_assign",
      (s, d) => Graft.scratchLane("q275_kafka") { scratch =>
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val store = scratch.resolve("landed").toString
        val group = "graft_assign"
        try {
          Tables.events(s, d).selectExpr(
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long)].repartition(8)
            .foreachPartition { (it: Iterator[(Long, Long)]) =>
              KafkaMiniBroker.produceAll(port, "graft_assign",
                it.grouped(60).map { batch =>
                  batch.groupBy { case (uid, _) => (uid % 4).toInt }
                    .toSeq.sortBy(_._1).map { case (p, recs) =>
                      KafkaWire.PartitionBatch("acct", p, recs.map {
                        case (uid, b) =>
                          KafkaWire.Record(s"k$uid",
                            s"$uid:$b".getBytes("UTF-8"))
                      })
                    }
                })
            }
          broker.expectGroupMembers(group, 2)
          val landed = s.sparkContext.parallelize(0 until 2, 2)
            .mapPartitions { ms =>
              ms.flatMap { _ =>
                val (me, gen, parts) =
                  KafkaMiniBroker.groupAssign(port, group, "acct")
                parts.iterator.flatMap { p =>
                  val hw = KafkaMiniBroker.discoverEnds(port, Seq("acct"))
                    .collectFirst { case ("acct", `p`, end) => end }
                    .getOrElse(0L)
                  KafkaMiniBroker.consumeRange(port, "acct", p, 0L, hw)
                    .map { case (_, r) =>
                      val Array(uid, b) =
                        new String(r.value, "UTF-8").split(':')
                      (p.toLong, me, gen.toLong, uid.toLong, b.toLong)
                    }
                }
              }
            }.toDF("partition", "member", "gen", "uid", "b")
          landed.write.mode("overwrite").parquet(store)
        } finally broker.close()
        s.read.parquet(store)
          .groupBy("partition", "gen")
          .agg(count(lit(1)).as("n"), sum("b").as("sum_b"),
            countDistinct("member").as("n_members"))
      },
      Some("""SELECT user_id % 4 AS partition, CAST(1 AS BIGINT) AS gen,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_b,
              CAST(1 AS BIGINT) AS n_members
              FROM events GROUP BY 1"""),
      doc = "consumer-group ASSIGNMENT from the broker: JoinGroup " +
        "barrier + leader-computed range + SyncGroup, exactly-once"),

    // The FAILURE half of group coordination — the rebalance-storm
    // semantics real consumer fleets live with: a member that stops
    // heartbeating past its own session timeout is EVICTED by the
    // coordinator's sweep (liveness is judged on the heartbeat channel
    // only, like the real broker's timer — a slow consume/commit cycle
    // can't evict anyone), the survivor learns via heartbeat error 27,
    // re-forms the group as a bumped generation and inherits the dead
    // member's partitions from COMMITTED offsets; the zombie's
    // heartbeats and commits are fenced forever (25), and even a live
    // member's commit under a stale generation is rejected (22) — the
    // errors kafka protocol names REBALANCE_IN_PROGRESS,
    // UNKNOWN_MEMBER_ID, ILLEGAL_GENERATION. The flow lanes prove the
    // takeover is exactly-once (partition 1, never consumed by the
    // stalled member, is drained IN FULL by the survivor), and the
    // unpoisoned lane proves rejected commits never touched the
    // committed offsets.
    Q("q280_kafka_group_evict",
      (s, d) => Graft.scratchLane("q280_kafka") { scratch =>
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val store = scratch.resolve("landed").toString
        val group = "graft_evict"
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(event_id as bigint) as eid",
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long, Long)].cache()
          def produceWave(parity: Int): Unit =
            rows.filter(_._1 % 2 == parity).repartition(8)
              .foreachPartition { (it: Iterator[(Long, Long, Long)]) =>
                KafkaMiniBroker.produceAll(port, "graft_evict_src",
                  it.grouped(60).map { batch =>
                    batch.groupBy { case (_, uid, _) => (uid % 2).toInt }
                      .toSeq.sortBy(_._1).map { case (p, recs) =>
                        KafkaWire.PartitionBatch("acct", p, recs.map {
                          case (_, uid, b) =>
                            KafkaWire.Record(s"k$uid",
                              s"$uid:$b".getBytes("UTF-8"))
                        })
                      }
                  })
              }
          produceWave(0)
          // deterministic ids: the live member L joins FIRST (becomes
          // member-1 = leader = owner of partition 0), the stalled
          // member S joins once L is visible mid-round; S declares a
          // 300 ms session timeout and then never heartbeats again
          broker.expectGroupMembers(group, 2)
          @volatile var live: (String, Int, Seq[Int]) = null
          @volatile var stalled: (String, Int, Seq[Int]) = null
          val tL = new Thread(() => {
            live = KafkaMiniBroker.groupAssign(port, group, "acct",
              sessionTimeoutMs = 30000)
          })
          tL.start()
          val joinWait = System.currentTimeMillis() + 15000
          while (broker.groupSnapshot(group)._2.isEmpty &&
            System.currentTimeMillis() < joinWait) Thread.sleep(10)
          require(broker.groupSnapshot(group)._2.nonEmpty,
            "q280: L never registered")
          stalled = KafkaMiniBroker.groupAssign(port, group, "acct",
            sessionTimeoutMs = 300)
          tL.join(15000)
          require(live != null && live._2 == 1 && stalled._2 == 1,
            s"q280: bad generation 1 ($live, $stalled)")
          val (lId, _, lParts) = live
          val (sId, _, _) = stalled
          require(lId == "member-1" && lParts == Seq(0),
            s"q280: L must lead with partition 0, got $lId=$lParts")
          // phase 1: L drains ITS partition and fence-commits; S reads
          // nothing, ever
          def drain(phase: String, gen: Int, parts: Seq[Int])
              : org.apache.spark.sql.DataFrame =
            s.sparkContext.parallelize(parts, parts.size)
              .mapPartitions { ps =>
                ps.flatMap { p =>
                  val committed = KafkaMiniBroker.fetchCommitted(
                    port, group, "acct", Seq(p))(p)
                  val start = math.max(committed, 0L)
                  val hw = KafkaMiniBroker.discoverEnds(port, Seq("acct"))
                    .collectFirst { case ("acct", `p`, end) => end }
                    .getOrElse(0L)
                  val got = KafkaMiniBroker.consumeRange(
                    port, "acct", p, start, hw).map { case (_, r) =>
                      val Array(uid, b) =
                        new String(r.value, "UTF-8").split(':')
                      (phase, p.toLong, uid.toLong, b.toLong)
                    }.toVector
                  val acks = KafkaMiniBroker.commitOffsetsFenced(port,
                    group, gen, lId, "acct", Seq((p, hw)))
                  require(acks.forall(_._2 == 0),
                    s"q280: live commit rejected: $acks")
                  got.iterator
                }
              }.toDF("phase", "partition", "uid", "b")
          drain("p1", 1, lParts).write.mode("overwrite")
            .parquet(s"$store/p1")
          // S goes silent past its session timeout; the survivor's
          // next heartbeat runs the sweep, sees the rebalance (27),
          // and re-forms the group alone as generation 2
          Thread.sleep(500)
          broker.expectGroupMembers(group, 1)
          val hbRebalance = KafkaMiniBroker.heartbeat(port, group, 1, lId)
          val (_, gen2, lParts2) = KafkaMiniBroker.groupAssign(port,
            group, "acct", memberId = lId)
          val hbStable = KafkaMiniBroker.heartbeat(port, group, gen2, lId)
          val (genSnap, membersSnap, evictedSnap) =
            broker.groupSnapshot(group)
          // zombie lanes: the evicted member's heartbeat and commit,
          // and a stale-generation commit from the LIVE member
          val hbZombie = KafkaMiniBroker.heartbeat(port, group, 1, sId)
          val commitZombie = KafkaMiniBroker.commitOffsetsFenced(port,
            group, 1, sId, "acct", Seq((1, 999999L)))
          val commitStaleGen = KafkaMiniBroker.commitOffsetsFenced(port,
            group, 1, lId, "acct", Seq((0, 999999L)))
          produceWave(1)
          drain("p2", gen2, lParts2).write.mode("append")
            .parquet(s"$store/p1")
          // rejected commits must not have poisoned the offsets the
          // phase-2 drain started from
          val afterRejects = KafkaMiniBroker.fetchCommitted(port, group,
            "acct", Seq(0, 1))
          val poisoned = afterRejects.values.count(_ == 999999L)
          rows.unpersist()
          val lanes = Seq(
            ("gen", "phase1", 1L, 1L),
            ("gen", "phase2", 1L, gen2.toLong),
            ("gen", "snapshot", membersSnap.size.toLong, genSnap.toLong),
            ("evict", "count", 1L, evictedSnap.size.toLong),
            ("hb", "rebalance_signal", 1L, hbRebalance.toLong),
            ("hb", "stable", 1L, hbStable.toLong),
            ("hb", "evicted_member", 1L, hbZombie.toLong),
            ("commit", "evicted_member", 1L,
              commitZombie.map(_._2).max.toLong),
            ("commit", "stale_generation", 1L,
              commitStaleGen.map(_._2).max.toLong),
            ("commit", "poisoned", 1L, poisoned.toLong))
            .toDF("kind", "key", "n", "v")
          s.read.parquet(s"$store/p1")
            .groupBy(concat(col("phase"), lit("/"), col("partition"))
              .as("key"))
            .agg(count(lit(1)).as("n"), sum("b").as("v"))
            .select(lit("flow").as("kind"), col("key"), col("n"),
              col("v"))
            .unionByName(lanes)
        } finally broker.close()
      },
      Some("""WITH base AS (SELECT event_id % 2 AS wave,
                user_id % 2 AS part,
                CAST(floor(value * 100) AS BIGINT) AS b
              FROM events),
            agg AS (SELECT wave, part, count(*) AS n,
                CAST(sum(b) AS BIGINT) AS sum_b
              FROM base GROUP BY 1, 2)
            SELECT 'flow' AS kind, 'p1/0' AS key, n, sum_b AS v
              FROM agg WHERE wave = 0 AND part = 0
            UNION ALL SELECT 'flow', 'p2/0', n, sum_b
              FROM agg WHERE wave = 1 AND part = 0
            UNION ALL SELECT 'flow', 'p2/1', CAST(sum(n) AS BIGINT),
              CAST(sum(sum_b) AS BIGINT) FROM agg WHERE part = 1
            UNION ALL SELECT 'gen', 'phase1', 1, 1
            UNION ALL SELECT 'gen', 'phase2', 1, 2
            UNION ALL SELECT 'gen', 'snapshot', 1, 2
            UNION ALL SELECT 'evict', 'count', 1, 1
            UNION ALL SELECT 'hb', 'rebalance_signal', 1, 27
            UNION ALL SELECT 'hb', 'stable', 1, 0
            UNION ALL SELECT 'hb', 'evicted_member', 1, 25
            UNION ALL SELECT 'commit', 'evicted_member', 1, 25
            UNION ALL SELECT 'commit', 'stale_generation', 1, 22
            UNION ALL SELECT 'commit', 'poisoned', 1, 0"""),
      doc = "group liveness: session-timeout eviction, generation " +
        "fencing, exactly-once takeover of the dead member's partition"),

    // The CLEAN twin of q280: LeaveGroup (api 13) — a closing consumer
    // tells the coordinator it's gone NOW (the consumer-close path;
    // KafkaMiniSource.stop() runs it too), the group re-forms without
    // waiting out any session timeout, and because the leaver
    // COMMITTED before leaving, the survivor inherits its partition
    // with ZERO re-read — contrast with q280, where the evicted
    // member's never-committed partition replays from offset 0. The
    // departed id is fenced exactly like an evicted one (heartbeat 25,
    // stale commit 25, offsets unpoisoned).
    Q("q284_kafka_group_leave",
      (s, d) => Graft.scratchLane("q284_kafka") { scratch =>
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val store = scratch.resolve("landed").toString
        val group = "graft_leave"
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(event_id as bigint) as eid",
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long, Long)].cache()
          def produceWave(parity: Int): Unit =
            rows.filter(_._1 % 2 == parity).repartition(8)
              .foreachPartition { (it: Iterator[(Long, Long, Long)]) =>
                KafkaMiniBroker.produceAll(port, "graft_leave_src",
                  it.grouped(60).map { batch =>
                    // uid/2%2: wave-parity-independent (see q279)
                    batch.groupBy { case (_, uid, _) =>
                        (uid / 2 % 2).toInt }
                      .toSeq.sortBy(_._1).map { case (p, recs) =>
                        KafkaWire.PartitionBatch("acct", p, recs.map {
                          case (_, uid, b) =>
                            KafkaWire.Record(s"k$uid",
                              s"$uid:$b".getBytes("UTF-8"))
                        })
                      }
                  })
              }
          produceWave(0)
          broker.expectGroupMembers(group, 2)
          @volatile var live: (String, Int, Seq[Int]) = null
          val tL = new Thread(() => {
            live = KafkaMiniBroker.groupAssign(port, group, "acct")
          })
          tL.start()
          val joinWait = System.currentTimeMillis() + 15000
          while (broker.groupSnapshot(group)._2.isEmpty &&
            System.currentTimeMillis() < joinWait) Thread.sleep(10)
          require(broker.groupSnapshot(group)._2.nonEmpty,
            "q284: L never registered")
          val departing = KafkaMiniBroker.groupAssign(port, group, "acct")
          tL.join(15000)
          require(live != null && live._2 == 1 && departing._2 == 1,
            s"q284: bad generation 1 ($live, $departing)")
          val (lId, _, lParts) = live
          val (mId, _, mParts) = departing
          require(lId == "member-1" && lParts == Seq(0) &&
            mParts == Seq(1), s"q284: bad split $lParts/$mParts")
          def drain(phase: String, gen: Int, member: String,
                    parts: Seq[Int]): org.apache.spark.sql.DataFrame =
            s.sparkContext.parallelize(parts, parts.size)
              .mapPartitions { ps =>
                ps.flatMap { p =>
                  val committed = KafkaMiniBroker.fetchCommitted(
                    port, group, "acct", Seq(p))(p)
                  val start = math.max(committed, 0L)
                  val hw = KafkaMiniBroker.discoverEnds(port, Seq("acct"))
                    .collectFirst { case ("acct", `p`, end) => end }
                    .getOrElse(0L)
                  val got = KafkaMiniBroker.consumeRange(
                    port, "acct", p, start, hw).map { case (_, r) =>
                      val Array(uid, b) =
                        new String(r.value, "UTF-8").split(':')
                      (phase, p.toLong, uid.toLong, b.toLong)
                    }.toVector
                  val acks = KafkaMiniBroker.commitOffsetsFenced(port,
                    group, gen, member, "acct", Seq((p, hw)))
                  require(acks.forall(_._2 == 0),
                    s"q284: commit rejected: $acks")
                  got.iterator
                }
              }.toDF("phase", "partition", "uid", "b")
          // phase 1: BOTH members drain and commit their own shares
          drain("p1", 1, lId, lParts)
            .unionByName(drain("p1", 1, mId, mParts))
            .write.mode("overwrite").parquet(s"$store/p1")
          // M closes cleanly; the group re-forms immediately
          val leaveAck = KafkaMiniBroker.leaveGroup(port, group, mId)
          broker.expectGroupMembers(group, 1)
          val hbRebalance = KafkaMiniBroker.heartbeat(port, group, 1, lId)
          val (_, gen2, lParts2) = KafkaMiniBroker.groupAssign(port,
            group, "acct", memberId = lId)
          val hbStable = KafkaMiniBroker.heartbeat(port, group, gen2, lId)
          // departed-id fencing
          val hbDeparted = KafkaMiniBroker.heartbeat(port, group, 1, mId)
          val commitDeparted = KafkaMiniBroker.commitOffsetsFenced(port,
            group, 1, mId, "acct", Seq((1, 999999L)))
          val (genSnap, membersSnap, _) = broker.groupSnapshot(group)
          produceWave(1)
          drain("p2", gen2, lId, lParts2).write.mode("append")
            .parquet(s"$store/p1")
          val afterRejects = KafkaMiniBroker.fetchCommitted(port, group,
            "acct", Seq(0, 1))
          val poisoned = afterRejects.values.count(_ == 999999L)
          rows.unpersist()
          val lanes = Seq(
            ("gen", "phase1", 1L, 1L),
            ("gen", "phase2", 1L, gen2.toLong),
            ("gen", "snapshot", membersSnap.size.toLong, genSnap.toLong),
            ("leave", "ack", 1L, leaveAck.toLong),
            ("hb", "rebalance_signal", 1L, hbRebalance.toLong),
            ("hb", "stable", 1L, hbStable.toLong),
            ("hb", "departed_member", 1L, hbDeparted.toLong),
            ("commit", "departed_member", 1L,
              commitDeparted.map(_._2).max.toLong),
            ("commit", "poisoned", 1L, poisoned.toLong))
            .toDF("kind", "key", "n", "v")
          s.read.parquet(s"$store/p1")
            .groupBy(concat(col("phase"), lit("/"), col("partition"))
              .as("key"))
            .agg(count(lit(1)).as("n"), sum("b").as("v"))
            .select(lit("flow").as("kind"), col("key"), col("n"),
              col("v"))
            .unionByName(lanes)
        } finally broker.close()
      },
      Some("""WITH base AS (SELECT event_id % 2 AS wave,
                user_id // 2 % 2 AS part,
                CAST(floor(value * 100) AS BIGINT) AS b
              FROM events),
            agg AS (SELECT wave, part, count(*) AS n,
                CAST(sum(b) AS BIGINT) AS sum_b
              FROM base GROUP BY 1, 2)
            SELECT 'flow' AS kind,
              'p1/' || CAST(part AS VARCHAR) AS key, n, sum_b AS v
              FROM agg WHERE wave = 0
            UNION ALL SELECT 'flow', 'p2/' || CAST(part AS VARCHAR),
              n, sum_b FROM agg WHERE wave = 1
            UNION ALL SELECT 'gen', 'phase1', 1, 1
            UNION ALL SELECT 'gen', 'phase2', 1, 2
            UNION ALL SELECT 'gen', 'snapshot', 1, 2
            UNION ALL SELECT 'leave', 'ack', 1, 0
            UNION ALL SELECT 'hb', 'rebalance_signal', 1, 27
            UNION ALL SELECT 'hb', 'stable', 1, 0
            UNION ALL SELECT 'hb', 'departed_member', 1, 25
            UNION ALL SELECT 'commit', 'departed_member', 1, 25
            UNION ALL SELECT 'commit', 'poisoned', 1, 0"""),
      doc = "LeaveGroup: graceful-shutdown rebalance with clean " +
        "committed-offset handover — zero re-read, departed id fenced"),

    // DescribeGroups v0 (api 15) + ListGroups v0 (api 16): the
    // observability half of the consumer-group protocol — what
    // `kafka-consumer-groups.sh --describe` speaks. A two-member group
    // with UNEVEN subscriptions (member-1 both topics, member-2 one)
    // forms over the real wire, then the gate reads the coordinator
    // back through DescribeGroups: Stable state, range protocol, both
    // members with their subscription METADATA and assignment BYTES
    // (decoded and reconciled against the per-topic range split), an
    // unknown group answering Dead, and ListGroups enumerating the
    // group. High-water marks per partition come from the produced
    // events rows, so the data path stays oracle-derived.
    Q("q294_kafka_describe_groups",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val group = "graft_describe"
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(event_id as bigint) as eid",
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long, Long)].cache()
          rows.repartition(8).foreachPartition {
            (it: Iterator[(Long, Long, Long)]) =>
              KafkaMiniBroker.produceAll(port, "graft_desc_src",
                it.grouped(60).flatMap { batch =>
                  val acct = batch.groupBy { case (_, uid, _) =>
                    (uid % 4).toInt }.toSeq.sortBy(_._1).map {
                      case (p, recs) =>
                        KafkaWire.PartitionBatch("acct", p, recs.map {
                          case (_, uid, bb) => KafkaWire.Record(s"k$uid",
                            s"$uid:$bb".getBytes("UTF-8"))
                        })
                    }
                  val audit = batch.filter(_._1 % 2 == 1)
                    .groupBy { case (_, uid, _) => (uid % 2).toInt }
                    .toSeq.sortBy(_._1).map { case (p, recs) =>
                      KafkaWire.PartitionBatch("audit", p, recs.map {
                        case (_, uid, bb) => KafkaWire.Record(s"k$uid",
                          s"$uid:$bb".getBytes("UTF-8"))
                      })
                    }
                  Iterator(acct) ++ (if (audit.nonEmpty)
                    Iterator(audit) else Iterator.empty)
                })
          }
          rows.unpersist()
          // two members, deterministic ids: the both-topics subscriber
          // joins first (member-1 = leader)
          broker.expectGroupMembers(group, 2)
          type R = (String, Int, Seq[(String, Seq[Int])])
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          val (mBoth, mOne) =
            try {
              val fBoth = pool.submit(
                new java.util.concurrent.Callable[R] {
                  def call() = KafkaMiniBroker.groupAssignTopics(port,
                    group, Seq("acct", "audit"))
                })
              val dl = System.currentTimeMillis() + 15000
              while (broker.groupSnapshot(group)._2.isEmpty &&
                System.currentTimeMillis() < dl) Thread.sleep(5)
              val fOne = pool.submit(
                new java.util.concurrent.Callable[R] {
                  def call() = KafkaMiniBroker.groupAssignTopics(port,
                    group, Seq("acct"))
                })
              (fBoth.get(20, java.util.concurrent.TimeUnit.SECONDS),
                fOne.get(20, java.util.concurrent.TimeUnit.SECONDS))
            } finally pool.shutdownNow()
          require(mBoth._1 == "member-1" && mOne._1 == "member-2",
            s"q294: join order (${mBoth._1}, ${mOne._1})")
          // the wire reads
          val descs = KafkaMiniBroker.describeGroups(port,
            Seq(group, "ghost_group"))
          val listed = KafkaMiniBroker.listGroups(port)
          val hw = KafkaMiniBroker.discoverEnds(port,
            Seq("acct", "audit"))
          val desc = descs.head
          val ghost = descs(1)
          val assignRows = desc.members.flatMap { m =>
            val rank = m.memberId.stripPrefix("member-")
            KafkaWire.decodeAssignmentAll(m.assignment)
              .getOrElse(Seq.empty).map { case (t, ps) =>
                ("assign", s"$rank/$t", ps.size.toLong,
                  ps.map(_.toLong).sum)
              }
          }
          val metaRows = desc.members.map { m =>
            val subs = KafkaWire.decodeSubscription(m.metadata)
              .getOrElse(Seq.empty)
            ("meta", m.memberId.stripPrefix("member-"),
              subs.size.toLong, 1L)
          }
          val wire = Seq(
            ("desc", desc.state, 1L, 1L),
            ("desc", desc.protocolType, 1L, 1L),
            ("desc", desc.protocol, 1L, 1L),
            ("members", "n", desc.members.size.toLong, 1L),
            ("ghost", ghost.state, 1L,
              ghost.members.size.toLong),
            ("list", "has_group",
              listed.count(_._1 == group).toLong,
              listed.count { case (g, pt) =>
                g == group && pt == "consumer" }.toLong)) ++
            assignRows ++ metaRows ++
            hw.map { case (t, p, end) => ("hw", s"$t/$p", 1L, end) }
          wire.toDF("kind", "key", "n", "v")
        } finally broker.close()
      },
      Some("""WITH base AS (SELECT event_id,
                CAST(user_id % 4 AS INT) AS p4,
                CAST(user_id % 2 AS INT) AS p2
              FROM events),
            hw AS (SELECT 'acct/' || CAST(p4 AS VARCHAR) AS key,
                count(*) AS c FROM base GROUP BY 1
              UNION ALL
              SELECT 'audit/' || CAST(p2 AS VARCHAR), count(*)
              FROM base WHERE event_id % 2 = 1 GROUP BY 1)
            SELECT 'desc' AS kind, 'Stable' AS key,
              CAST(1 AS BIGINT) AS n, CAST(1 AS BIGINT) AS v
            UNION ALL SELECT 'desc', 'consumer', 1, 1
            UNION ALL SELECT 'desc', 'range', 1, 1
            UNION ALL SELECT 'members', 'n', 2, 1
            UNION ALL SELECT 'ghost', 'Dead', 1, 0
            UNION ALL SELECT 'list', 'has_group', 1, 1
            UNION ALL SELECT 'assign', '1/acct', 2, 1
            UNION ALL SELECT 'assign', '1/audit', 2, 1
            UNION ALL SELECT 'assign', '2/acct', 2, 5
            UNION ALL SELECT 'meta', '1', 2, 1
            UNION ALL SELECT 'meta', '2', 1, 1
            UNION ALL SELECT 'hw', key, 1, CAST(c AS BIGINT) FROM hw"""),
      doc = "DescribeGroups + ListGroups: coordinator state, " +
        "membership with metadata/assignment bytes, Dead for unknown"),

    // SASL/PLAIN (SaslHandshake v1 api 17 + SaslAuthenticate v0 api
    // 36): the auth path the reference's QUICKSTART documents for
    // Confluent Cloud (librdkafka `sasl.mechanisms PLAIN` +
    // sasl.username/password through kafka_config_file). The broker in
    // require-SASL mode severs any unauthenticated request (the real
    // broker's posture); the gate drives every lane over live
    // sockets: mechanism negotiation (PLAIN in, SCRAM refused 33),
    // wrong password 58 + the connection dead to further requests,
    // unauthenticated produce severed, and the full produce → fetch
    // data path on authenticated EXECUTOR connections reconciling the
    // events table.
    Q("q296_kafka_sasl",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        broker.requireSasl("pmacct", "arealpassword")
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long)]
          // authenticated EXECUTOR-side produce
          rows.repartition(8).foreachPartition {
            (it: Iterator[(Long, Long)]) =>
              val (sock, in, out) = KafkaMiniBroker.connect(port)
              try {
                require(KafkaMiniBroker.authenticate(in, out,
                  "pmacct", "arealpassword") == 0, "login refused")
                it.grouped(60).zipWithIndex.foreach { case (batch, i) =>
                  val byPart = batch.groupBy { case (uid, _) =>
                    (uid % 2).toInt }.toSeq.sortBy(_._1).map {
                      case (p, recs) =>
                        KafkaWire.PartitionBatch("acct", p, recs.map {
                          case (uid, bb) => KafkaWire.Record(s"k$uid",
                            s"$uid:$bb".getBytes("UTF-8"))
                        })
                    }
                  val acks = KafkaWire.decodeProduceResponse(
                    KafkaMiniBroker.exchange(in, out,
                      KafkaWire.encodeProduce(i, "graft_sasl", byPart,
                        0L)))
                  require(acks.forall(_._3 == 0), s"produce: $acks")
                }
              } finally sock.close()
          }
          // auth protocol lanes (driver side, one socket each)
          def lane[T](f: (java.io.DataInputStream,
              java.io.DataOutputStream) => T): T = {
            val (sock, in, out) = KafkaMiniBroker.connect(port)
            try f(in, out) finally sock.close()
          }
          val mechRefused = lane { (in, out) =>
            KafkaWire.decodeSaslHandshakeResponse(
              KafkaMiniBroker.exchange(in, out,
                KafkaWire.encodeSaslHandshake(0, "c", "SCRAM-SHA-256")))
          }
          val badPass = lane { (in, out) =>
            val e = KafkaMiniBroker.authenticate(in, out, "pmacct",
              "wrong")
            // the unauthenticated connection is DEAD to further use
            val severed =
              try {
                KafkaMiniBroker.exchange(in, out,
                  KafkaWire.encodeListGroups(9, "c"))
                false
              } catch { case _: java.io.IOException => true }
            (e, severed)
          }
          val unauthSevered = lane { (in, out) =>
            try {
              KafkaMiniBroker.exchange(in, out,
                KafkaWire.encodeListGroups(9, "c"))
              false
            } catch { case _: java.io.IOException => true }
          }
          // authenticated fetch-back of both partitions
          val fetched = lane { (in, out) =>
            require(KafkaMiniBroker.authenticate(in, out, "pmacct",
              "arealpassword") == 0)
            (0 until 2).flatMap { p =>
              var off = 0L
              var done = false
              val recs = scala.collection.mutable.Buffer[(Int, Long)]()
              while (!done) {
                val (hw, rs) = KafkaWire.decodeFetchResponse(
                  KafkaMiniBroker.exchange(in, out,
                    KafkaWire.encodeFetch(7, "c", "acct", p, off,
                      1 << 20)))
                val batches = KafkaWire.decodeBatches(rs)
                batches.foreach { case (base, rr) =>
                  rr.zipWithIndex.foreach { case (r, k) =>
                    if (base + k >= off) {
                      val v = new String(r.value, "UTF-8")
                      recs += ((p,
                        v.substring(v.indexOf(':') + 1).toLong))
                    }
                  }
                  off = math.max(off,
                    base + rr.size)
                }
                if (rs.isEmpty || off >= hw) done = true
              }
              recs
            }
          }
          val flowRows = fetched.toDF("partition", "b")
            .groupBy("partition")
            .agg(count(lit(1)).as("n"), sum("b").as("v"))
            .selectExpr("'flow' AS kind",
              "CAST(partition AS STRING) AS key", "n", "v")
          val lanes = Seq(
            ("sasl", "mech_refused", 1L, mechRefused._1.toLong),
            ("sasl", "mech_offered_plain",
              mechRefused._2.count(_ == "PLAIN").toLong, 1L),
            ("sasl", "bad_password", 1L, badPass._1.toLong),
            ("sasl", "bad_password_severed", 1L,
              if (badPass._2) 1L else 0L),
            ("sasl", "unauth_severed", 1L,
              if (unauthSevered) 1L else 0L))
            .toDF("kind", "key", "n", "v")
          flowRows.unionByName(lanes)
        } finally broker.close()
      },
      Some("""SELECT 'flow' AS kind,
              CAST(CAST(user_id % 2 AS INT) AS VARCHAR) AS key,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS v
            FROM events GROUP BY 2
            UNION ALL SELECT 'sasl', 'mech_refused', 1, 33
            UNION ALL SELECT 'sasl', 'mech_offered_plain', 1, 1
            UNION ALL SELECT 'sasl', 'bad_password', 1, 58
            UNION ALL SELECT 'sasl', 'bad_password_severed', 1, 1
            UNION ALL SELECT 'sasl', 'unauth_severed', 1, 1"""),
      doc = "SASL/PLAIN: mechanism negotiation, RFC 4616 token, " +
        "auth-failed 58, unauthenticated connections severed, " +
        "authenticated executor produce/fetch path"),

    // DeleteGroups v0 (api 42) — the admin tail of the group family:
    // a consumed-out group (all members left; committed offsets
    // retained) deletes cleanly and its offsets DIE with it (a
    // re-created group starts from earliest, not the ghost's
    // position); a live group refuses 68 (NON_EMPTY_GROUP) and keeps
    // its offsets; an unknown id answers 69. ListGroups reflects the
    // removal. The drained data itself reconciles the events table.
    Q("q301_kafka_delete_groups",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val gDone = "graft_del_done"
        val gLive = "graft_del_live"
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long)].cache()
          rows.repartition(8).foreachPartition {
            (it: Iterator[(Long, Long)]) =>
              KafkaMiniBroker.produceAll(port, "graft_del_src",
                it.grouped(60).map { batch =>
                  batch.groupBy { case (uid, _) => (uid % 2).toInt }
                    .toSeq.sortBy(_._1).map { case (p, recs) =>
                      KafkaWire.PartitionBatch("acct", p, recs.map {
                        case (uid, bb) => KafkaWire.Record(s"k$uid",
                          s"$uid:$bb".getBytes("UTF-8"))
                      })
                    }
                })
          }
          rows.unpersist()
          // gDone: one member drains both partitions, commits, leaves
          broker.expectGroupMembers(gDone, 1)
          val (mId, _, parts) =
            KafkaMiniBroker.groupAssign(port, gDone, "acct")
          val drained = parts.flatMap { p =>
            val hw = KafkaMiniBroker.discoverEnds(port, Seq("acct"))
              .collectFirst { case ("acct", `p`, end) => end }
              .getOrElse(0L)
            val got = KafkaMiniBroker.consumeRange(port, "acct", p,
              0L, hw).map { case (_, r) =>
                val v = new String(r.value, "UTF-8")
                (p.toLong, v.substring(v.indexOf(':') + 1).toLong)
              }.toVector
            KafkaMiniBroker.commitOffsets(port, gDone, "acct",
              Seq((p, hw)))
            got
          }
          val before = KafkaMiniBroker.fetchCommitted(port, gDone,
            "acct", 0 until 2).values.sum
          require(KafkaMiniBroker.leaveGroup(port, gDone, mId) == 0)
          // gLive: a member that stays
          broker.expectGroupMembers(gLive, 1)
          KafkaMiniBroker.groupAssign(port, gLive, "acct")
          val results = KafkaMiniBroker.deleteGroups(port,
            Seq(gDone, gLive, "ghost")).toMap
          val after = KafkaMiniBroker.fetchCommitted(port, gDone,
            "acct", 0 until 2).values.sum
          val listed = KafkaMiniBroker.listGroups(port).map(_._1).toSet
          val lanes = Seq(
            ("del", "done", 1L, results(gDone).toLong),
            ("del", "live", 1L, results(gLive).toLong),
            ("del", "ghost", 1L, results("ghost").toLong),
            ("offsets", "before", 2L, before),
            ("offsets", "after", 2L, after),
            ("list", "done_gone", 1L,
              if (listed.contains(gDone)) 1L else 0L),
            ("list", "live_kept", 1L,
              if (listed.contains(gLive)) 1L else 0L))
          drained.toDF("partition", "b")
            .groupBy("partition")
            .agg(count(lit(1)).as("n"), sum("b").as("v"))
            .selectExpr("'flow' AS kind",
              "CAST(partition AS STRING) AS key", "n", "v")
            .unionByName(lanes.toDF("kind", "key", "n", "v"))
        } finally broker.close()
      },
      Some("""SELECT 'flow' AS kind,
              CAST(CAST(user_id % 2 AS INT) AS VARCHAR) AS key,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS v
            FROM events GROUP BY 2
            UNION ALL SELECT 'del', 'done', 1, 0
            UNION ALL SELECT 'del', 'live', 1, 68
            UNION ALL SELECT 'del', 'ghost', 1, 69
            UNION ALL SELECT 'offsets', 'before', 2,
              (SELECT count(*) FROM events)
            UNION ALL SELECT 'offsets', 'after', 2, -2
            UNION ALL SELECT 'list', 'done_gone', 1, 0
            UNION ALL SELECT 'list', 'live_kept', 1, 1"""),
      doc = "DeleteGroups: empty-group removal kills its committed " +
        "offsets, live group 68, unknown 69, ListGroups reflects"),

    // Reference test 901-redis-connection-loss REPLAY (the other
    // env-blocked family, against the live RESP mini-server): TWO
    // channels hold their own connections — the core process and the
    // kafka plugin, exactly the two lanes the goldens name
    // (nfacctd_core/core/redis, nfacctd_kafka/kafka/redis) — and SETEX
    // their heartbeats each cycle (redis_common.c:171-232). When redis
    // goes away, each channel WARNs "Can't connect to redis server"
    // (output-log-01.txt, kafka lane first) and the daemon keeps
    // running; when it returns, channels log the reconnect INFO lane
    // from output-log-00.txt and heartbeats resume on the SAME keys.
    // The kafka channel's heartbeat value carries its purge-cycle row
    // count (a distributed count per cycle — the plugin heartbeats
    // alongside its purges), so the final keyspace reconciles against
    // the events table, not just literals: 4 refreshes per key, last
    // value = the last up-cycle's row count.
    Q("q250_redis_conn_loss",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.{Resp, RespMiniServer}
        val server = new RespMiniServer
        val port = server.start()
        val log = scala.collection.mutable.Buffer[String]()
        val coreKey = Resp.healthKey("graft", 0, "nfacctd_core", "core")
        val kafkaKey = Resp.healthKey("graft", 0, "nfacctd_kafka", "kafka")
        try {
          val rows = Tables.events(s, d)
            .selectExpr("cast(user_id as bigint) as uid")
            .as[Long].cache()
          // channel = held connection + the golden log lane names
          final class Chan(val tag: String) {
            var conn: Option[RespMiniServer.Conn] = None
            def connect(): Unit = {
              log += s"INFO $tag: connecting to redis server"
              conn = Some(new RespMiniServer.Conn(port))
            }
            def heartbeat(key: String, value: String): Boolean = {
              try {
                if (conn.isEmpty) conn = {
                  log += s"INFO $tag: connecting to redis server"
                  Some(new RespMiniServer.Conn(port))
                }
                conn.get.call(Seq("SETEX", key, "3", value))
                true
              } catch {
                case _: java.io.IOException =>
                  log += s"WARN $tag: Can't connect to redis server"
                  conn.foreach(_.close()); conn = None
                  false
              }
            }
          }
          val core = new Chan("nfacctd_core/core/redis")
          val kafka = new Chan("nfacctd_kafka/kafka/redis")
          core.connect(); kafka.connect()
          (0 until 6).foreach { epoch =>
            if (epoch == 2) server.stop()
            if (epoch == 4) server.start(port)
            // the kafka plugin heartbeats alongside its purge: the value
            // is this cycle's row count (distributed aggregation)
            val n = rows.filter(_ % 6 == epoch).count()
            kafka.heartbeat(kafkaKey, n.toString)
            core.heartbeat(coreKey, "0")
          }
          rows.unpersist()
        } finally server.close()
        val hbDf = server.snapshot
          .map { case (k, v, n) => ("hb", k, n, v.toLong) }
          .toDF("kind", "key", "n", "v")
        val logDf = log.toSeq.zipWithIndex
          .groupBy(_._1).toSeq
          .map { case (line, occ) =>
            ("log", line, occ.size.toLong, occ.map(_._2).min.toLong) }
          .toDF("kind", "key", "n", "v")
        hbDf.unionByName(logDf)
      },
      Some("""SELECT 'hb' AS kind,
              'graft+0+process+nfacctd_kafka+kafka' AS key,
              CAST(4 AS BIGINT) AS n,
              (SELECT count(*) FROM events WHERE user_id % 6 = 5) AS v
            UNION ALL SELECT 'hb', 'graft+0+process+nfacctd_core+core',
              4, 0
            UNION ALL SELECT 'log',
              'INFO nfacctd_core/core/redis: connecting to redis server',
              3, 0
            UNION ALL SELECT 'log',
              'INFO nfacctd_kafka/kafka/redis: connecting to redis server',
              3, 1
            UNION ALL SELECT 'log',
              'WARN nfacctd_kafka/kafka/redis: Can''t connect to redis server',
              2, 2
            UNION ALL SELECT 'log',
              'WARN nfacctd_core/core/redis: Can''t connect to redis server',
              2, 3"""),
      doc = "test 901 replay: redis loss WARN lanes, heartbeats resume"),

    // SCRAM-SHA-256 (RFC 5802/7677 over SaslHandshake/SaslAuthenticate;
    // reference CONFIG-KEYS:1966-1990 sasl.mechanisms SCRAM-SHA-256/512
    // via librdkafka — the Confluent-Cloud QUICKSTART path beyond
    // PLAIN). The broker is SCRAM-required and stores only the
    // password-DERIVED (salt, i, StoredKey, ServerKey); the gate
    // drives live sockets through: PLAIN handshake refused 33 (SCRAM
    // advertised), the un-enabled SCRAM-SHA-512 also 33, the full
    // two-round-trip challenge-response (client proof verified
    // server-side, server signature verified CLIENT-side — mutual
    // auth), wrong password failing the proof with 58 + the
    // connection dead, and the authenticated executor produce → fetch
    // data path reconciling the events table.
    Q("q302_kafka_scram",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        broker.requireScram("pmacct", "arealpassword", "SCRAM-SHA-256")
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long)]
          // SCRAM-authenticated EXECUTOR-side produce
          rows.repartition(8).foreachPartition {
            (it: Iterator[(Long, Long)]) =>
              val (sock, in, out) = KafkaMiniBroker.connect(port)
              try {
                require(KafkaMiniBroker.authenticateScram(in, out,
                  "pmacct", "arealpassword") == 0, "login refused")
                it.grouped(60).zipWithIndex.foreach { case (batch, i) =>
                  val byPart = batch.groupBy { case (uid, _) =>
                    (uid % 2).toInt }.toSeq.sortBy(_._1).map {
                      case (p, recs) =>
                        KafkaWire.PartitionBatch("acct", p, recs.map {
                          case (uid, bb) => KafkaWire.Record(s"k$uid",
                            s"$uid:$bb".getBytes("UTF-8"))
                        })
                    }
                  val acks = KafkaWire.decodeProduceResponse(
                    KafkaMiniBroker.exchange(in, out,
                      KafkaWire.encodeProduce(i, "graft_scram", byPart,
                        0L)))
                  require(acks.forall(_._3 == 0), s"produce: $acks")
                }
              } finally sock.close()
          }
          def lane[T](f: (java.io.DataInputStream,
              java.io.DataOutputStream) => T): T = {
            val (sock, in, out) = KafkaMiniBroker.connect(port)
            try f(in, out) finally sock.close()
          }
          // PLAIN is NOT an enabled mechanism on a SCRAM broker
          val plainRefused = lane { (in, out) =>
            KafkaWire.decodeSaslHandshakeResponse(
              KafkaMiniBroker.exchange(in, out,
                KafkaWire.encodeSaslHandshake(0, "c", "PLAIN")))
          }
          // ...nor is the un-configured SCRAM flavor
          val mech512Refused = lane { (in, out) =>
            KafkaWire.decodeSaslHandshakeResponse(
              KafkaMiniBroker.exchange(in, out,
                KafkaWire.encodeSaslHandshake(0, "c",
                  "SCRAM-SHA-512")))._1
          }
          // wrong password: the proof fails server-side with 58 and
          // the connection is dead to further requests
          val badPass = lane { (in, out) =>
            val e = KafkaMiniBroker.authenticateScram(in, out,
              "pmacct", "wrong")
            val severed =
              try {
                KafkaMiniBroker.exchange(in, out,
                  KafkaWire.encodeListGroups(9, "c"))
                false
              } catch { case _: java.io.IOException => true }
            (e, severed)
          }
          // authenticated fetch-back of both partitions (mutual auth:
          // authenticateScram returns 0 only after verifying the
          // broker's v= signature)
          val fetched = lane { (in, out) =>
            require(KafkaMiniBroker.authenticateScram(in, out,
              "pmacct", "arealpassword") == 0)
            (0 until 2).flatMap { p =>
              var off = 0L
              var done = false
              val recs = scala.collection.mutable.Buffer[(Int, Long)]()
              while (!done) {
                val (hw, rs) = KafkaWire.decodeFetchResponse(
                  KafkaMiniBroker.exchange(in, out,
                    KafkaWire.encodeFetch(7, "c", "acct", p, off,
                      1 << 20)))
                val batches = KafkaWire.decodeBatches(rs)
                batches.foreach { case (base, rr) =>
                  rr.zipWithIndex.foreach { case (r, k) =>
                    if (base + k >= off) {
                      val v = new String(r.value, "UTF-8")
                      recs += ((p,
                        v.substring(v.indexOf(':') + 1).toLong))
                    }
                  }
                  off = math.max(off, base + rr.size)
                }
                if (rs.isEmpty || off >= hw) done = true
              }
              recs
            }
          }
          val flowRows = fetched.toDF("partition", "b")
            .groupBy("partition")
            .agg(count(lit(1)).as("n"), sum("b").as("v"))
            .selectExpr("'flow' AS kind",
              "CAST(partition AS STRING) AS key", "n", "v")
          val lanes = Seq(
            ("scram", "plain_refused", 1L, plainRefused._1.toLong),
            ("scram", "mech_offered_scram256",
              plainRefused._2.count(_ == "SCRAM-SHA-256").toLong, 1L),
            ("scram", "sha512_refused", 1L, mech512Refused.toLong),
            ("scram", "bad_password", 1L, badPass._1.toLong),
            ("scram", "bad_password_severed", 1L,
              if (badPass._2) 1L else 0L))
            .toDF("kind", "key", "n", "v")
          flowRows.unionByName(lanes)
        } finally broker.close()
      },
      Some("""SELECT 'flow' AS kind,
              CAST(CAST(user_id % 2 AS INT) AS VARCHAR) AS key,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS v
            FROM events GROUP BY 2
            UNION ALL SELECT 'scram', 'plain_refused', 1, 33
            UNION ALL SELECT 'scram', 'mech_offered_scram256', 1, 1
            UNION ALL SELECT 'scram', 'sha512_refused', 1, 33
            UNION ALL SELECT 'scram', 'bad_password', 1, 58
            UNION ALL SELECT 'scram', 'bad_password_severed', 1, 1"""),
      doc = "SCRAM-SHA-256: RFC 5802/7677 challenge-response, mutual " +
        "auth, PLAIN/SHA-512 refused 33, wrong proof 58 + severed, " +
        "authenticated executor produce/fetch path"),

    // KIP-848 liveness + static membership (the depth behind q304's
    // protocol): the broker-side session timeout (group.consumer.
    // session.timeout.ms is a GROUP config) evicts a silent member on
    // the next sweep and the SURVIVOR absorbs the freed partitions on
    // its own next heartbeat — epoch bumps, nobody rejoins, nobody
    // pauses; the evicted identity answers 25 forever. Static
    // membership (KIP-345 on the new wire: group.instance.id travels
    // in the api-68 request) lets a member that crashed WITHOUT a
    // leave come back under the empty member id and resume its OLD
    // identity, assignment and epoch — zero rebalance for anyone. The
    // full choreography runs over live sockets; the survivor's final
    // whole-topic drain reconciles the events table.
    Q("q305_kafka_848_session",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.{KafkaMiniBroker, KafkaWire}
        val broker = new KafkaMiniBroker
        val port = broker.start()
        val g = "graft_848sess"
        val topics = Seq("acct")
        try {
          val rows = Tables.events(s, d).selectExpr(
              "cast(user_id as bigint) as uid",
              "cast(floor(value * 100) as bigint) as b")
            .as[(Long, Long)]
          rows.repartition(8).foreachPartition {
            (it: Iterator[(Long, Long)]) =>
              KafkaMiniBroker.produceAll(port, "graft_848s_src",
                it.grouped(60).map { batch =>
                  batch.groupBy { case (uid, _) => (uid % 4).toInt }
                    .toSeq.sortBy(_._1).map { case (p, recs) =>
                      KafkaWire.PartitionBatch("acct", p, recs.map {
                        case (uid, b) => KafkaWire.Record(s"k$uid",
                          s"$uid:$b".getBytes("UTF-8"))
                      })
                    }
                })
          }
          def hb(member: String, epoch: Int,
                 owned: Seq[(String, Seq[Int])],
                 iid: Option[String] = None) =
            KafkaMiniBroker.heartbeat848(port, g, member, epoch,
              topics, owned, iid)
          def nParts(a: Seq[(String, Seq[Int])]): Long =
            a.map(_._2.size).sum.toLong
          // A joins statically, owns everything
          val (ea, aId, aEp, aAsg) = hb("", 0, Nil, Some("repro-a"))
          require(ea == 0)
          // B joins: the incumbent still holds all 4 — the joiner's
          // first grant is EMPTY (incremental, no stop-the-world)
          val (eb, bId, bEp, bAsg0) = hb("", 0, Nil, Some("repro-b"))
          require(eb == 0)
          // A's next heartbeat revokes its surplus...
          val (_, _, aEp2, aAsg2) = hb(aId, aEp, aAsg)
          // ...and B's next heartbeat picks it up
          val (_, _, bEp2, bAsg2) = hb(bId, bEp, Nil)
          // static comeback: B crashes WITHOUT leaving and returns
          // under its instance id — same member id, same assignment,
          // same epoch (nobody rebalanced)
          val (es, bId2, bEp3, bAsg3) = hb("", 0, Nil, Some("repro-b"))
          require(es == 0)
          val staticSameId = bId2 == bId
          val staticEpochStable = bEp3 == bEp2
          // session timeout: B goes silent, A keeps heartbeating; the
          // sweep evicts B and A absorbs {2,3} on its OWN heartbeat
          broker.set848SessionTimeout(g, 250)
          var aEp3 = aEp2
          var aAsg3 = aAsg2
          val deadline = System.currentTimeMillis() + 30000
          while (nParts(aAsg3) < 4 &&
            System.currentTimeMillis() < deadline) {
            Thread.sleep(100)
            val r = hb(aId, aEp3, aAsg3)
            require(r._1 == 0, s"survivor fenced: ${r._1}")
            aEp3 = r._3; aAsg3 = r._4
          }
          // the evicted identity is UNKNOWN from here on
          val deadErr = hb(bId, bEp3, bAsg3)._1
          val epochBumped = aEp3 > bEp3
          // a live member reporting a STALE epoch is fenced on the
          // heartbeat channel itself (FENCED_MEMBER_EPOCH 110), and
          // the fenced probe must not have re-synced it: the next
          // correct-epoch heartbeat still answers 0
          val staleErr = hb(aId, aEp3 - 1, aAsg3)._1
          val aliveAfterFence = hb(aId, aEp3, aAsg3)._1
          // survivor's whole-topic drain reconciles the corpus
          val drained = (0 until 4).flatMap { p =>
            val hw = KafkaMiniBroker.discoverEnds(port, topics)
              .collectFirst { case ("acct", `p`, end) => end }
              .getOrElse(0L)
            KafkaMiniBroker.consumeRange(port, "acct", p, 0L, hw)
              .map { case (_, r) =>
                val v = new String(r.value, "UTF-8")
                (p.toLong, v.substring(v.indexOf(':') + 1).toLong)
              }
          }
          val flow = drained.toDF("partition", "b")
            .groupBy("partition")
            .agg(count(lit(1)).as("n"), sum("b").as("v"))
            .selectExpr("'flow' AS kind",
              "CAST(partition AS STRING) AS key", "n", "v")
          val lanes = Seq(
            ("848", "a_initial_parts", 1L, nParts(aAsg)),
            ("848", "b_join_grant", 1L, nParts(bAsg0)),
            ("848", "a_after_join_parts", 1L, nParts(aAsg2)),
            ("848", "b_after_release_parts", 1L, nParts(bAsg2)),
            ("848", "static_same_id", 1L, if (staticSameId) 1L else 0L),
            ("848", "static_same_parts", 1L, nParts(bAsg3)),
            ("848", "static_epoch_stable", 1L,
              if (staticEpochStable) 1L else 0L),
            ("848", "evict_epoch_bumped", 1L,
              if (epochBumped) 1L else 0L),
            ("848", "a_after_evict_parts", 1L, nParts(aAsg3)),
            ("848", "dead_member_fenced", 1L, deadErr.toLong),
            ("848", "stale_epoch_fenced", 1L, staleErr.toLong),
            ("848", "alive_after_fence", 1L, aliveAfterFence.toLong))
            .toDF("kind", "key", "n", "v")
          flow.unionByName(lanes)
        } finally broker.close()
      },
      Some("""SELECT 'flow' AS kind,
              CAST(CAST(user_id % 4 AS INT) AS VARCHAR) AS key,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS v
            FROM events GROUP BY 2
            UNION ALL SELECT '848', 'a_initial_parts', 1, 4
            UNION ALL SELECT '848', 'b_join_grant', 1, 0
            UNION ALL SELECT '848', 'a_after_join_parts', 1, 2
            UNION ALL SELECT '848', 'b_after_release_parts', 1, 2
            UNION ALL SELECT '848', 'static_same_id', 1, 1
            UNION ALL SELECT '848', 'static_same_parts', 1, 2
            UNION ALL SELECT '848', 'static_epoch_stable', 1, 1
            UNION ALL SELECT '848', 'evict_epoch_bumped', 1, 1
            UNION ALL SELECT '848', 'a_after_evict_parts', 1, 4
            UNION ALL SELECT '848', 'dead_member_fenced', 1, 25
            UNION ALL SELECT '848', 'stale_epoch_fenced', 1, 110
            UNION ALL SELECT '848', 'alive_after_fence', 1, 0"""),
      doc = "KIP-848 depth: broker-side session-timeout eviction " +
        "absorbed incrementally by the survivor, static membership " +
        "(group.instance.id) resuming identity with zero rebalance")
  )
}
